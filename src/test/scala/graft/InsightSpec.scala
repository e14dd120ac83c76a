package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ops.{Graph, Insight, TextFunctions}

/** Pins the corpus-insight operators (readability, PMI collocations,
  * z-outliers, Markov transitions) and the integer-exact PageRank. */
class InsightSpec extends SparkSpec {

  import spark.implicits._

  test("readability: hand-computed ARI/CLI, fragment guards, exact micro-units") {
    val d = Seq(
      // 9 words, 2 sentences, chars([A-Za-z0-9])=35, letters=35
      (1L, "The quick brown fox jumps. Over the lazy dog!"),
      (2L, "no terminator here"),     // sentences floors to 1
      (3L, "")                        // empty: words floors to 1
    ).toDF("doc_id", "text")
    val out = Insight.readability(d, "text", "doc_id")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    val (w1, s1, ari1, cli1) = out(1L)
    assert(w1 == 9 && s1 == 2)
    // ari = (471*35*2 + 50*81 - 2143*9*2)*1e4 div 18 / 1e6
    val ariU = (471L * 35 * 2 + 50 * 81 - 2143 * 9 * 2) * 10000L / 18
    assert(ari1 == ariU.toDouble / 1e6)
    val cliU = (588L * 35 - 2960 * 2 - 1580 * 9) * 10000L / 9
    assert(cli1 == cliU.toDouble / 1e6)
    assert(out(2L)._2 == 1L)                     // floored sentences
    assert(out(3L)._1 == 1L && out(3L)._2 == 1L) // floored words
  }

  test("pmiBigrams: frequent collocation outranks chance pairs; support floor holds") {
    // "deep learning" always adjacent (8x); filler words co-occur by chance
    val docs = (0 until 8).map(i =>
      s"deep learning the cat $i the dog $i the fish the bird")
      .toDF("text")
    val out = Insight.pmiBigrams(docs, "text", minCount = 5, topK = 10)
      .collect()
    assert(out.nonEmpty)
    out.foreach(r => assert(r.getLong(2) >= 5, "support floor violated"))
    val top = out.head
    assert((top.getString(0), top.getString(1)) == ("deep", "learning"))
    // PMI of a pair that always co-occurs with unique words: ln(Nbi/n... )
    // just pin positivity and monotone ordering
    val pmis = out.map(_.getDouble(3)).toSeq
    assert(pmis == pmis.sorted.reverse)
  }

  test("zOutliers flags only the planted spike, z sign and magnitude correct") {
    val base = (1 to 200).map(i => (i.toLong, "a", 10.0 + (i % 5)))
    val spiked = base :+ (999L, "a", 1000.0) :+ (1000L, "b", 5.0)
    val df = spiked.toDF("event_id", "event_type", "value")
    val out = Insight.zOutliers(df, "event_type", "value", 3.0)
      .select("event_id", "z").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(999L))
    assert(out.head.getDouble(1) > 3.0)
    // constant-valued key ("b" has one event): no div-by-zero rows
    val allB = Insight.zOutliers(
      Seq((1L, "b", 5.0), (2L, "b", 5.0)).toDF("event_id", "event_type", "value"),
      "event_type", "value", 3.0).count()
    assert(allB == 0)
  }

  test("transitions: lag pairs per user, probabilities sum to 1 per source") {
    def ts(m: Int) = new java.sql.Timestamp(1700000000000L + m * 1000L)
    val e = Seq(
      (1L, 1L, ts(0), "view"), (2L, 1L, ts(1), "click"), (3L, 1L, ts(2), "view"),
      (4L, 2L, ts(0), "view"), (5L, 2L, ts(1), "click"),
      (6L, 3L, ts(0), "buy")  // single event: no pair
    ).toDF("event_id", "user_id", "ts", "event_type")
    val out = Insight.transitions(e, "user_id", "ts", "event_type", "event_id")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    assert(out == Map(
      ("view", "click") -> (2L, 1.0),
      ("click", "view") -> (1L, 1.0)))
    // same-timestamp tie breaks on the tiebreak column, not arbitrarily
    val tie = Seq(
      (10L, 7L, ts(0), "a"), (11L, 7L, ts(0), "b")
    ).toDF("event_id", "user_id", "ts", "event_type")
    val got = Insight.transitions(tie, "user_id", "ts", "event_type", "event_id")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(got == Seq(("a", "b")))
  }

  test("rateChangepoint lands on the planted shift; short keys emit nothing") {
    def ts(m: Int) = new java.sql.Timestamp(1700000000000L + m * 60000L)
    // type "a": 2 events/min for 20 min, then 9/min for 20 min -> the
    // best split is at (or adjacent to) minute 19's bucket
    val a = (0 until 20).flatMap(m => Seq.fill(2)((1L, ts(m), "a"))) ++
      (20 until 40).flatMap(m => Seq.fill(9)((1L, ts(m), "a")))
    val b = (0 until 6).map(m => (2L, ts(m), "b")) // < 2*minSeg buckets
    val df = (a ++ b).toDF("user_id", "ts", "event_type")
    val out = Insight.rateChangepoint(df, "event_type", "ts")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(!out.contains("b"), "too-short series must not emit a split")
    val (n, split, before, after) = out("a")
    assert(n == 40)
    val base = 1700000000000L / 60000L
    assert(split == base + 19, s"split bucket $split vs expected ${base + 19}")
    assert(before == 2.0 && after == 9.0)
  }

  test("rateAutocorr: period-2 signal alternates sign by lag; constant rate is null") {
    def ts(m: Int, s: Int) =
      new java.sql.Timestamp(1700000000000L + m * 60000L + s * 1000L)
    // type "a": rates 1,5,1,5,... (period 2) over 40 minutes;
    // type "b": constant 3/min -> zero variance -> null r
    val events =
      (0 until 40).flatMap(m => (0 until (if (m % 2 == 0) 1 else 5)).map(s =>
        (1L, ts(m, s), "a"))) ++
      (0 until 40).flatMap(m => (0 until 3).map(s => (2L, ts(m, s), "b")))
    val df = events.toDF("user_id", "ts", "event_type")
    val out = Insight.rateAutocorr(df, "event_type", "ts")
      .collect().map(r => (r.getString(0), r.getInt(1)) ->
        (r.getLong(2), if (r.isNullAt(3)) None else Some(r.getDouble(3))))
      .toMap
    // alternating series: r(1) ~ -1, r(2) ~ +1
    assert(out(("a", 1))._2.get < -0.9, s"lag1 ${out(("a", 1))}")
    assert(out(("a", 2))._2.get > 0.9, s"lag2 ${out(("a", 2))}")
    assert(out(("a", 1))._1 == 39 && out(("a", 2))._1 == 38)
    (1 to 3).foreach(l => assert(out(("b", l))._2.isEmpty,
      "constant rate must yield null, not NaN"))
  }

  test("pagerank: integer units conserve mass, hub outranks spokes, sinks keep teleport") {
    // star: spokes 2..11 -> hub 1, hub -> 2 (so hub is not dangling).
    // The hub<->spoke-2 cycle makes ranks oscillate with period 2,
    // damped by d^2 per round — 20 iterations settle the ordering.
    val edges = ((2L to 11L).map(i => (i, 1L)) :+ (1L, 2L)).toDF("src", "dst")
    val pr = Graph.pagerank(edges, iterations = 20)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(pr(1L) > pr(2L) && pr(2L) > pr(3L)) // hub > fed spoke > others
    assert((3L to 11L).map(pr).distinct.size == 1) // symmetric spokes equal
    // teleport floor: every vertex holds at least (1-d)/N of the mass
    val n = pr.size
    val teleport = (Graph.Scale * 15 / 100) / n
    assert(pr.values.forall(_ >= teleport))
    // total mass stays within integer-truncation loss of 1.0
    val total = pr.values.sum
    assert(total <= Graph.Scale && total > Graph.Scale * 98 / 100)
  }

  test("hits: hand-exact first iteration; roles separate on a bipartite star") {
    // hubs 1..3 -> authorities 10..12: 1 links all three, 2 and 3 only
    // the top authority. Pure sources get auth 0, pure sinks hub 0.
    val edges = Seq((1L, 10L), (1L, 11L), (1L, 12L), (2L, 10L), (3L, 10L))
      .toDF("src", "dst")
    // One iteration by hand (n=6, s0 = Scale div 6 = 166666666666):
    //   h_raw = (1 -> 3 s0, 2 -> s0, 3 -> s0), total 5 s0
    //   h     = (1 -> 3*Scale div 5, 2,3 -> Scale div 5)
    //   a_raw = (10 -> Scale, 11,12 -> 6e11), total 22e11
    //   a     = (10 -> 454545454545, 11,12 -> 272727272727)
    val one = Graph.hits(edges, iterations = 1)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(one(1L) == ((600000000000L, 0L)))
    assert(one(2L) == ((200000000000L, 0L)) && one(2L) == one(3L))
    assert(one(10L) == ((0L, 454545454545L)))
    assert(one(11L) == ((0L, 272727272727L)) && one(11L) == one(12L))
    // Role separation and mass conservation persist at depth
    val four = Graph.hits(edges, iterations = 4)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(four(1L)._1 > four(2L)._1 && four(2L)._1 > 0)
    assert(four(10L)._2 > four(11L)._2 && four(11L)._2 > 0)
    assert(Seq(10L, 11L, 12L).forall(four(_)._1 == 0L))
    assert(Seq(1L, 2L, 3L).forall(four(_)._2 == 0L))
    val hubMass = four.values.map(_._1).sum
    val authMass = four.values.map(_._2).sum
    assert(hubMass <= Graph.Scale && hubMass > Graph.Scale * 98 / 100)
    assert(authMass <= Graph.Scale && authMass > Graph.Scale * 98 / 100)
  }

  test("degreeReport zero-fills missing sides; reciprocity counts both " +
      "directions, drops loops and dups") {
    val edges = Seq((1L, 2L), (1L, 2L), (2L, 1L), (1L, 3L), (4L, 4L))
      .toDF("src", "dst")
    val deg = Graph.degreeReport(edges.filter(col("src") =!= col("dst")))
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(deg(("out", 2L)) == 1 && deg(("out", 1L)) == 1 &&
      deg(("out", 0L)) == 1)            // vertex 3 has no out-edges
    assert(deg(("in", 1L)) == 3 && !deg.contains(("in", 0L)))
    val r = Graph.reciprocity(edges).head()
    // 3 distinct loop-free edges; 1<->2 reciprocated in BOTH rows
    assert(r.getLong(0) == 3 && r.getLong(1) == 2 &&
      r.getLong(2) == 666666L)
  }

  test("coOccurrenceEdges: within-group pairs only, symmetric, no self-loops") {
    val df = Seq((1L, "a"), (1L, "b"), (1L, "c"), (2L, "c"), (2L, "d"),
      (3L, "e")).toDF("g", "item")
    val e = Graph.coOccurrenceEdges(df, "g", "item")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val expected = Set(("a","b"),("b","a"),("a","c"),("c","a"),("b","c"),
      ("c","b"),("c","d"),("d","c"))
    assert(e == expected)
  }

  test("seasonalProfile: zero-filled moments over key-days, hand-computed") {
    // key A: day1 hod0 x3, day1 hod1 x1, day2 hod0 x1  (2 active days)
    // hod0: counts over key-days = [3, 1]   -> mean 2, var 1, sd 1
    // hod1: counts over key-days = [1, 0]   -> mean 0.5 (ZERO-FILLED day2)
    def ts(day: Int, h: Int, m: Int) =
      java.sql.Timestamp.valueOf(f"2024-01-0$day%d $h%02d:$m%02d:00")
    val df = Seq(
      ("A", ts(1, 0, 1)), ("A", ts(1, 0, 2)), ("A", ts(1, 0, 3)),
      ("A", ts(1, 1, 0)), ("A", ts(2, 0, 0))
    ).toDF("k", "ts")
    val out = Insight.seasonalProfile(df, "k", "ts")
      .collect().map(r => r.getInt(1) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5),
          r.getLong(6))).toMap
    assert(out(0) == ((2L, 2L, 2.0, 1.0, 3L)))
    // hod1 day2 has no events: observed-only mean would be 1.0; the
    // zero-filled mean is 0.5 and sd over [1, 0] is 0.5
    assert(out(1) == ((2L, 1L, 0.5, 0.5, 1L)))
  }

  test("coreness: K4-with-tail hand case; kCore peel agrees with coreness") {
    // K4 on 1..4 (coreness 3) + vertex 5 on {1,2} (coreness 2) +
    // vertex 6 hanging off 5 (coreness 1)
    val edges = (for { u <- 1 to 4; v <- 1 to 4 if u < v }
      yield (u.toLong, v.toLong)).toSeq ++
      Seq((5L, 1L), (5L, 2L), (6L, 5L))
    val df = edges.toDF("src", "dst")
    val c = Graph.coreness(Graph.undirected(df), iterations = 8)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(c == Map(1L -> 3, 2L -> 3, 3L -> 3, 4L -> 3, 5L -> 2, 6L -> 1))
    // k-core peel = induced subgraph on coreness >= k, for every k
    for (k <- 1 to 4) {
      val core = Graph.kCore(Graph.undirected(df), k)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val keep = c.filter(_._2 >= k).keySet
      val expected = edges.map { case (u, v) =>
        (math.min(u, v), math.max(u, v)) }
        .filter { case (u, v) => keep(u) && keep(v) }.toSet
      assert(core == expected, s"k=$k")
    }
    // a pure path is all coreness 1 and needs several h-index rounds
    val path = (1L to 5L).sliding(2).map(s => (s.head, s.last)).toSeq
      .toDF("src", "dst")
    val cp = Graph.coreness(Graph.undirected(path), iterations = 8)
      .collect().map(r => r.getInt(1)).toSet
    assert(cp == Set(1))
  }

  test("assortativity: star is -1, regular graphs are null, path-3 is -1") {
    // K1,3 star: hub degree 3, leaves 1 — perfectly disassortative
    val star = (1 to 3).map(i => (0L, i.toLong)).toDF("src", "dst")
    val r1 = Graph.assortativity(Graph.undirected(star)).head
    assert(r1.getLong(0) == 3L && r1.getDouble(1) == -1.0)
    // 4-cycle: degree-regular, zero variance -> null (not NaN)
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("src", "dst")
    val r2 = Graph.assortativity(Graph.undirected(cyc)).head
    assert(r2.getLong(0) == 4L && r2.isNullAt(1))
    // path 1-2-3: hand-computed r = -1 (ends meet only the middle)
    val path = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    assert(Graph.assortativity(Graph.undirected(path)).head.getDouble(1) == -1.0)
  }

  test("triangleStats: K4, star, and directed-input canonicalization") {
    // K4: 4 triangles, 6 edges, wedges = 4*C(3,2) = 12, transitivity 1
    val k4 = (for { u <- 0 to 3; v <- 0 to 3 if u != v }
      yield (u.toLong, v.toLong)).toDF("src", "dst")
    val r1 = Graph.triangleStats(Graph.undirected(k4)).head
    assert((r1.getLong(0), r1.getLong(1), r1.getLong(2), r1.getLong(3),
      r1.getDouble(4)) == ((4L, 6L, 4L, 12L, 1.0)))
    // star K1,4: no triangles, 4 edges, wedges = C(4,2) = 6
    val star = (1 to 4).flatMap(i => Seq((0L, i.toLong), (i.toLong, 0L)))
      .toDF("src", "dst")
    val r2 = Graph.triangleStats(Graph.undirected(star)).head
    assert((r2.getLong(0), r2.getLong(1), r2.getLong(2), r2.getLong(3),
      r2.getDouble(4)) == ((5L, 4L, 0L, 6L, 0.0)))
    // one-directional input with dup edges and a self-loop canonicalizes
    val messy = Seq((1L, 2L), (2L, 3L), (1L, 3L), (1L, 3L), (2L, 2L))
      .toDF("src", "dst")
    val r3 = Graph.triangleStats(Graph.undirected(messy)).head
    assert((r3.getLong(1), r3.getLong(2)) == ((3L, 1L)))
  }

  test("winsorize clamps exactly at the quantile band; MAD flags only the spike") {
    // key "a": 1..20 plus one wild 1000; key "b": constant (MAD 0)
    val rows = (1 to 20).map(i => ("a", i.toLong, i.toDouble)) ++
      Seq(("a", 21L, 1000.0)) ++ (1 to 9).map(i => ("b", 100L + i, 5.0))
    val df = rows.toDF("k", "id", "v")
    val w = graft.ops.Profile.winsorize(df, Seq("k"), "v", 0.25, 0.75)
      .collect().map(r => r.getLong(1) -> r.getDouble(3)).toMap
    // a: sorted n=21 -> p25 = index 5 exactly (rank .25*20) = 6,
    //    p75 = index 15 = 16; interior values untouched
    assert(w(1L) == 6.0 && w(21L) == 16.0 && w(10L) == 10.0)
    // b: constant key — band collapses to the constant, nothing clips
    assert(w(101L) == 5.0)
    val m = Insight.madOutliers(df, "k", "v", 3.5).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    // a: med 11, mad = median|x-11| = 5 -> only 1000 scores
    //    .6745*989/5 ≈ 133; b: mad 0 -> silent
    assert(m.toSeq == Seq(("a", 21L)))
  }

  test("percentRank: ties share min rank, endpoints 0 and 1, singleton is 0") {
    val df = Seq(("a", 1L, 10.0), ("a", 2L, 20.0), ("a", 3L, 20.0),
      ("a", 4L, 30.0), ("b", 5L, 7.0)).toDF("k", "id", "v")
    val out = graft.ops.Rank.percentRank(df, Seq(col("k")), col("v"))
      .collect().map(r => r.getLong(1) -> r.getDouble(3)).toMap
    assert(out(1L) == 0.0 && out(4L) == 1.0)
    assert(out(2L) == out(3L) && out(2L) == 1.0 / 3) // ties -> min rank
    assert(out(5L) == 0.0) // single-row group defines pr = 0
  }

  test("localClustering: K4+tail hand case, degree<2 is null, star is 0") {
    // K4 on 1..4 plus vertex 5 hanging off vertex 1
    val edges = ((for { u <- 1 to 4; v <- 1 to 4 if u < v }
      yield (u.toLong, v.toLong)) :+ (1L, 5L)).toDF("src", "dst")
    val out = Graph.localClustering(Graph.undirected(edges)).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3),
        if (r.isNullAt(4)) -1.0 else r.getDouble(4)))).toMap
    // vertex 1: deg 4, triangles C(3,2)=3, lcc = 6/12 = 0.5
    assert(out(1L) == ((4L, 3L, 500000L, 0.5)))
    // vertices 2..4: deg 3, triangles 3, lcc = 6/6 = 1
    (2L to 4L).foreach(v => assert(out(v) == ((3L, 3L, 1000000L, 1.0))))
    // vertex 5: deg 1 — no neighbour pair, lcc null
    assert(out(5L) == ((1L, 0L, -1L, -1.0)))
    // star hub: wedges but no triangles — lcc 0, not null
    val star = (1 to 4).map(i => (0L, i.toLong)).toDF("src", "dst")
    val hub = Graph.localClustering(Graph.undirected(star))
      .filter(col("id") === 0L).head
    assert((hub.getLong(1), hub.getLong(2), hub.getLong(3),
      hub.getDouble(4)) == ((4L, 0L, 0L, 0.0)))
  }

  test("applyChangelog: latest seq wins, deletes drop, inserts add, untouched pass") {
    import graft.ops.Diff
    val base = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0),
      (4L, "d", 40.0)).toDF("k", "name", "v")
    val changes = Seq(
      (1L, "a", 11.0, "U", 1L), (1L, "a2", 12.0, "U", 2L), // superseded
      (2L, "b", 20.0, "D", 1L), // delete
      (9L, "i", 90.0, "I", 1L), // insert
      (3L, "x", 0.0, "U", 1L), (3L, "c", 30.0, "D", 2L)) // update then delete
      .toDF("k", "name", "v", "op", "seq")
    val out = Diff.applyChangelog(base, changes, Seq("k"), "seq", "op")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .toSet
    assert(out == Set((1L, "a2", 12.0), (4L, "d", 40.0), (9L, "i", 90.0)))
  }

  test("trustRank: trust decays with seed distance; unreachable is exactly 0") {
    // chain seed(1) -> 2 -> 3; island 9 -> 10 unreachable from the seed
    val edges = Seq((1L, 2L), (2L, 3L), (9L, 10L)).toDF("src", "dst")
    val seeds = Seq(Tuple1(1L)).toDF("id")
    val tr = Graph.trustRank(edges, seeds, iterations = 10).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(tr(1L) > tr(2L) && tr(2L) > tr(3L), s"decay broken: $tr")
    assert(tr(9L) == 0L && tr(10L) == 0L, s"island must hold zero trust: $tr")
    // a seed absent from the graph is ignored; all-absent seeds throw
    val tr2 = Graph.trustRank(edges, Seq(1L, 77L).toDF("id"), 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(tr2(1L) > 0L)
    intercept[IllegalArgumentException] {
      Graph.trustRank(edges, Seq(Tuple1(77L)).toDF("id"), 2)
    }
  }

  test("weighted pagerank: heavy edge dominates rank flow; weight 1 equals unweighted") {
    // 1 -> 2 (weight 9), 1 -> 3 (weight 1), sinks feed back to 1
    val we = Seq((1L, 2L, 9L), (1L, 3L, 1L), (2L, 1L, 1L), (3L, 1L, 1L))
      .toDF("src", "dst", "w")
    val pr = Graph.pagerank(we, iterations = 10, weightCol = Some("w"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(pr(2L) > pr(3L) && pr(2L) > pr(1L) * 4 / 10,
      s"heavy-edge target must outrank: $pr")
    // weight 1 everywhere reproduces the unweighted integers exactly
    val e1 = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L)).toDF("src", "dst")
    val a = Graph.pagerank(e1, iterations = 6).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = Graph.pagerank(e1.withColumn("w", lit(1L)), iterations = 6,
        weightCol = Some("w")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == b)
  }

  test("labelPropagation: two cliques joined by a bridge separate into two communities") {
    // K3 {1,2,3} — K3 {4,5,6}, bridge 3-4; hand-traced 4 synchronous
    // min-tie iterations land {1,2,3}->1 and {4,5,6}->3
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L),
      (5L, 6L), (3L, 4L)).toDF("src", "dst")
    val out = Graph.labelPropagation(Graph.undirected(edges), iterations = 4)
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      4L -> 3L, 5L -> 3L, 6L -> 3L))
    // a clique alone collapses to its min label in one step
    val k3 = Seq((7L, 8L), (7L, 9L), (8L, 9L)).toDF("src", "dst")
    val c = Graph.labelPropagation(Graph.undirected(k3), iterations = 2).collect()
      .map(_.getLong(1)).toSet
    assert(c == Set(7L))
  }

  test("graph plan pins: no cartesian, no window; small-graph paths broadcast") {
    val edges = (for { u <- 1 to 30; v <- 1 to 30 if u < v && (u + v) % 3 == 0 }
      yield (u.toLong, v.toLong)).toDF("src", "dst")
    for ((tag, df) <- Seq(
        "triangleStats" -> Graph.triangleStats(Graph.undirected(edges)),
        "localClustering" -> Graph.localClustering(Graph.undirected(edges)),
        "commonNeighbors" -> Graph.commonNeighbors(Graph.undirected(edges)),
        "coreness" -> Graph.coreness(Graph.undirected(edges), iterations = 2))) {
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"$tag: cartesian in plan")
      assert(!plan.contains("WindowExec"), s"$tag: window in plan")
    }
    // below the caps the triangle/clustering joins are broadcast probes
    val triPlan = Graph.triangleStats(Graph.undirected(edges))
      .queryExecution.executedPlan.toString
    assert(triPlan.contains("BroadcastHashJoin"),
      "triangleStats small-graph path must broadcast the array tables")
  }

  test("co-partitioned graph loops plan iterations with zero shuffle exchanges") {
    // the r14 co-partitioning pin: the adjacency is repartitioned ONCE
    // on the aggregation key, so a single-iteration plan must contain
    // NO non-broadcast Exchange — the per-iteration aggregates ride
    // the checkpointed partitioning (HashPartitioning(id) satisfies
    // ClusteredDistribution(id, x)); a regression here re-adds an
    // exchange per iteration across the whole family
    val edges = (for { u <- 1 to 30; v <- 1 to 30 if u < v && (u + v) % 3 == 0 }
      yield (u.toLong, v.toLong)).toDF("src", "dst")
    val weighted = edges.withColumn("w", (col("src") + col("dst")) % 3 + 1)
    for ((tag, df) <- Seq(
        "coreness" -> Graph.coreness(Graph.undirected(edges), iterations = 1),
        "labelPropagation" ->
          Graph.labelPropagation(Graph.undirected(edges), iterations = 1),
        // the weighted iteration must ride the SAME declared hash(dst)
        // layout as the unweighted one — the r14 weak flag was the
        // suspicion that the weight projection erases it
        "pagerank" -> Graph.pagerank(edges, iterations = 1),
        "pagerankWeighted" ->
          Graph.pagerank(weighted, iterations = 1, weightCol = Some("w")))) {
      val shuffles = df.queryExecution.executedPlan.toString
        .linesIterator
        .count(l => l.contains("Exchange") && !l.contains("Broadcast"))
      assert(shuffles == 0,
        s"$tag: expected zero shuffle exchanges in the iteration plan, got $shuffles")
    }
  }

  test("coOccurrenceEdges generator build equals the join spelling (r15)") {
    // the r15 join-free emission (collect_set + tail generators) must
    // reproduce the old distinct + self-join + filter + distinct pair
    // set EXACTLY — including duplicate (g, item) rows, null items
    // (dropped on both spellings), singleton groups (no pairs), and
    // the weighted shared-group counts
    val rows = Seq[(java.lang.Long, java.lang.Long)](
      (1L, 10L), (1L, 20L), (1L, 30L), (1L, 10L), // dup (g,item)
      (2L, 20L), (2L, 10L),                       // reversed insert order
      (3L, 40L),                                  // singleton
      (4L, null), (4L, 50L), (4L, 60L),           // null item dropped
      (5L, 10L), (5L, 20L))                       // repeat pair (w=3 for 10-20)
      .toDF("g", "item")
    def oldCanonical(df: org.apache.spark.sql.DataFrame) = {
      val g = df.select(col("g"), col("item")).distinct()
      g.join(g.withColumnRenamed("item", "item2"), "g")
        .filter(col("item") < col("item2"))
        .select(col("item").as("src"), col("item2").as("dst"))
        .distinct()
    }
    val got = Graph.coOccurrenceEdgesCanonical(rows, "g", "item").df
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = oldCanonical(rows)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === want)
    assert(got === Set((10L, 20L), (10L, 30L), (20L, 30L), (50L, 60L)))
    val w = Graph.coOccurrenceEdgesWeighted(rows, "g", "item")
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2)))
      .toMap
    assert(w((10L, 20L)) === 3L && w((20L, 10L)) === 3L)
    assert(w((10L, 30L)) === 1L && w((50L, 60L)) === 1L)
    assert(w.size === 8) // 4 unordered pairs, both directions
  }

  test("typed edge builders: raw input gives the canonical builder's results") {
    // each operator reads the same graph twice: once built by
    // Graph.undirected / Graph.directed from a raw edge list that mixes
    // both orientations, duplicates and self-loops, once straight from
    // the co-occurrence builder; the rows must be identical
    val pairs = for { u <- 1 to 30; v <- 1 to 30
      if u < v && (u + v) % 3 == 0 } yield (u.toLong, v.toLong)
    val raw = (pairs.flatMap { case (u, v) =>
      if ((u + v) % 2 == 0) Seq((u, v), (v, u)) else Seq((v, u), (v, u))
    } ++ Seq((5L, 5L), (9L, 9L))).toDF("src", "dst")
    // one group per pair: the builder emits exactly those pairs
    val groups = pairs.zipWithIndex.flatMap { case ((u, v), g) =>
      Seq((g.toLong, u), (g.toLong, v)) }.toDF("g", "item")
    val canon = Graph.coOccurrenceEdgesCanonical(groups, "g", "item")
    val und = Graph.undirected(raw)
    def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.toString).toSet
    assert(rows(Graph.coreness(und, iterations = 3)) ===
      rows(Graph.coreness(canon, iterations = 3)))
    assert(rows(Graph.kCore(und, k = 3)) === rows(Graph.kCore(canon, k = 3)))
    assert(rows(Graph.localClustering(und)) ===
      rows(Graph.localClustering(canon)))
    assert(rows(Graph.triangleStats(und)) === rows(Graph.triangleStats(canon)))
    assert(rows(Graph.assortativity(und)) === rows(Graph.assortativity(canon)))
    assert(rows(Graph.commonNeighbors(und)) ===
      rows(Graph.commonNeighbors(canon)))
    assert(rows(Graph.ktruss(und, k = 4, iterations = 2)) ===
      rows(Graph.ktruss(canon, k = 4, iterations = 2)))
    assert(rows(Graph.walkCorpus(und, steps = 2)) ===
      rows(Graph.walkCorpus(canon, steps = 2)))
    // directed ops: the raw list in both directions, some edges once
    // more (uneven multiplicity changes betweenness path counts),
    // against both directions of the canonical set
    val dir = Graph.directed(raw.unionAll(raw.select(col("dst").as("src"),
      col("src").as("dst"))).unionAll(raw.filter(col("src") % 4 === 0)))
    val both = canon.directed
    val seeds = Seq(1L, 2L).toDF("id")
    assert(rows(Graph.bfsDistances(dir, seeds, maxHops = 3)) ===
      rows(Graph.bfsDistances(both, seeds, maxHops = 3)))
    assert(rows(Graph.harmonicCentrality(dir, seeds, maxHops = 3)) ===
      rows(Graph.harmonicCentrality(both, seeds, maxHops = 3)))
    assert(rows(Graph.betweennessPivots(dir, seeds, maxHops = 3)) ===
      rows(Graph.betweennessPivots(both, seeds, maxHops = 3)))
  }

  test("Graph.undirected / Graph.directed: exact rows on mixed input") {
    val raw = Seq((2L, 1L), (1L, 2L), (1L, 2L), (3L, 3L), (4L, 2L),
      (2L, 4L), (5L, 1L)).toDF("src", "dst")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    val und = Graph.undirected(raw).df
    assert(und.columns.toSeq === Seq("src", "dst"))
    assert(pairs(und) === Seq((1L, 2L), (1L, 5L), (2L, 4L)))
    val dir = Graph.directed(raw).df
    assert(dir.columns.toSeq === Seq("src", "dst"))
    assert(pairs(dir) ===
      Seq((1L, 2L), (2L, 1L), (2L, 4L), (3L, 3L), (4L, 2L), (5L, 1L)))
    assert(pairs(Graph.undirected(raw).directed.df) ===
      Seq((1L, 2L), (1L, 5L), (2L, 1L), (2L, 4L), (4L, 2L), (5L, 1L)))
  }

  test("graph operators take typed edges; only Graph builds them") {
    val df = Seq((1L, 2L)).toDF("src", "dst")
    assertDoesNotCompile("Graph.triangleStats(df)")
    assertDoesNotCompile("Graph.bfsDistances(df, df)")
    assertDoesNotCompile("Graph.bfsDistances(Graph.undirected(df), df)")
    assertDoesNotCompile("new graft.ops.Graph.Undirected(df)")
    assertDoesNotCompile("new graft.ops.Graph.Directed(df)")
  }

  test("r11 batch plan pins: no cartesian, no data-wide window, co-keyed shapes") {
    val docs = (1 to 40).map(i =>
      (i.toLong, s"alpha beta gamma delta tok$i epsilon")).toDF("id", "text")
    val pairs = docs.toDF("doc_id", "hyp")
      .withColumn("ref", col("hyp"))
    for ((tag, df) <- Seq(
        "ngramPrecision" ->
          Insight.ngramPrecision(pairs, "hyp", "ref", "doc_id"),
        "skipgramCounts" ->
          graft.ops.Phrases.skipgramCounts(docs, "text", "id", 3, 1L),
        "chiSquare" -> Insight.chiSquare(
          docs.select(col("id") % 3 as "a", col("id") % 2 as "b"), "a", "b"),
        "rankingMetrics" -> graft.ops.Classify.rankingMetrics(
          docs.select(col("id") % 5 as "q", col("id") as "d",
            col("id") % 7 as "s", (col("id") % 2 === 0) as "y"),
          "q", "d", "s", "y"))) {
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"$tag: cartesian in plan")
    }
    // rankingMetrics' only window is PARTITIONED by the query id
    val rmPlan = graft.ops.Classify.rankingMetrics(
        docs.select(col("id") % 5 as "q", col("id") as "d",
          col("id") % 7 as "s", (col("id") % 2 === 0) as "y"),
        "q", "d", "s", "y")
      .queryExecution.executedPlan.toString
    assert(!rmPlan.contains("Window [") ||
      rmPlan.contains("windowspecdefinition(__q"),
      "rankingMetrics window must be per-query, not data-wide")
    // mannWhitney / bhSelect ride the prefix-sum rail: the window in
    // their plans is the pid-partitioned range-local one, never global
    for ((tag, df) <- Seq(
        "mannWhitney" -> Insight.mannWhitney(
          docs.select(col("id").cast("double") as "v",
            (col("id") % 2 === 0) as "g"), "v", "g"),
        "bhSelect" -> Insight.bhSelect(
          docs.select(col("id"), (col("id") * 1000L) as "p"), "p", "id"))) {
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"$tag: cartesian in plan")
      assert(!plan.contains("windowspecdefinition()") ||
        plan.contains("__ps_pid"),
        s"$tag: unpartitioned window outside the prefix-sum rail")
    }
  }

  test("commonNeighbors: cycle/path hand cases, adjacency excluded, center cap") {
    // 4-cycle: the two diagonals each share both their neighbours —
    // jaccard = 2/(2+2-2) = 1 exactly
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("src", "dst")
    val r1 = Graph.commonNeighbors(Graph.undirected(cyc)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(5))).toSet
    assert(r1 == Set((1L, 3L, 2L, 1000000L), (2L, 4L, 2L, 1000000L)))
    // triangle: every pair adjacent — nothing to predict
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("src", "dst")
    assert(Graph.commonNeighbors(Graph.undirected(tri)).isEmpty)
    // star: all leaf pairs share exactly the hub; capping the hub's
    // degree out of the center set removes every wedge
    val star = (1 to 4).map(i => (0L, i.toLong)).toDF("src", "dst")
    val r2 = Graph.commonNeighbors(Graph.undirected(star)).collect()
    assert(r2.length == 6 && r2.forall(_.getLong(2) == 1L))
    assert(Graph.commonNeighbors(Graph.undirected(star),
      maxCenterDeg = Some(3L)).isEmpty)
  }

  test("bfsDistances: exact hop depths, hop cap, cycle safety, multi-seed min") {
    // chain 1 -> 2 -> 3 -> 4 -> 5: depth = position, 5 beyond maxHops=3
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("src", "dst")
    val seeds = Seq(Tuple1(1L)).toDF("id")
    def run(e: org.apache.spark.sql.DataFrame,
            s: org.apache.spark.sql.DataFrame, h: Int) =
      Graph.bfsDistances(Graph.directed(e), s, maxHops = h).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(run(chain, seeds, 3) == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L))
    assert(run(chain, seeds, 0) == Map(1L -> 0L)) // seeds only
    // 2-cycle terminates; revisits never shorten a recorded distance
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    assert(run(cyc, seeds, 9) == Map(1L -> 0L, 2L -> 1L, 3L -> 2L))
    // two seeds: each vertex takes the NEAREST seed's depth
    val two = Seq(1L, 4L).toDF("id")
    assert(run(chain, two, 3) ==
      Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 0L, 5L -> 1L))
    // an isolated seed (no edges touch it) still reports depth 0
    assert(run(chain, Seq(1L, 42L).toDF("id"), 1) ==
      Map(1L -> 0L, 2L -> 1L, 42L -> 0L))
  }

  test("bootstrapMeanCI: deterministic, ordered bounds, constant column collapses") {
    val d = (1 to 50).map(i => (i.toLong, i.toDouble)).toDF("id", "v")
    val r1 = Insight.bootstrapMeanCI(d, "v", "id", reps = 20).collect()(0)
    val r2 = Insight.bootstrapMeanCI(d, "v", "id", reps = 20).collect()(0)
    assert(r1 == r2, "hash-armed resampling must be run-to-run identical")
    val (n, mean, lo, hi) = (r1.getLong(0), r1.getLong(1),
      r1.getLong(2), r1.getLong(3))
    assert(n == 50L)
    assert(mean == (1 to 50).map(_ * 1000000L).sum / 50)
    assert(lo <= hi, s"order statistics inverted: $lo > $hi")
    assert(lo <= mean && mean <= hi, s"full mean outside CI: $lo $mean $hi")
    // constant column: every resample averages the same value
    val c = (1 to 30).map(i => (i.toLong, 2.5)).toDF("id", "v")
    val rc = Insight.bootstrapMeanCI(c, "v", "id", reps = 20).collect()(0)
    assert(rc.getLong(1) == 2500000L && rc.getLong(2) == 2500000L &&
      rc.getLong(3) == 2500000L)
    // null value/id rows are excluded from n
    val withNull = d.unionAll(Seq((null.asInstanceOf[java.lang.Long], 9.0))
      .toDF("id", "v").select(col("id").cast("long"), col("v")))
    assert(Insight.bootstrapMeanCI(withNull, "v", "id", reps = 20)
      .collect()(0).getLong(0) == 50L)
  }

  test("chiSquare: hand 2x2, perfect independence is 0, null is a level") {
    def rows(n: Int, a: String, b: String) = Seq.fill(n)((a, b))
    val dep = (rows(20, "x", "u") ++ rows(10, "x", "v") ++
      rows(10, "y", "u") ++ rows(20, "y", "v")).toDF("a", "b")
    val r = Insight.chiSquare(dep, "a", "b").collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((60L, 2L, 2L, 1L)))
    // e = 15 per cell, term = floor((o-15)^2/15 * 1e6 + .5) = 1666667
    assert(r.getLong(4) == 4 * 1666667L)
    val v = math.floor(math.sqrt((4 * 1666667L / 1.0e6) / 60.0) * 1e6
      + 0.5).toLong
    assert(r.getLong(5) == v)
    // exact independence: every (o - e) = 0
    val ind = (rows(10, "x", "u") ++ rows(10, "x", "v") ++
      rows(10, "y", "u") ++ rows(10, "y", "v")).toDF("a", "b")
    assert(Insight.chiSquare(ind, "a", "b").collect()(0).getLong(4) == 0L)
    // a null category participates as its own level
    val withNull = dep.unionAll(Seq.fill(5)((null.asInstanceOf[String], "u"))
      .toDF("a", "b"))
    val rn = Insight.chiSquare(withNull, "a", "b").collect()(0)
    assert(rn.getLong(0) == 65L && rn.getLong(1) == 3L)
  }

  test("welchT: hand case vs textbook, degenerate small groups null") {
    // g1 = {1,2,3} (mean 2, s2 = 1), g2 = {6,10} (mean 8, s2 = 8)
    val d = Seq((1L, true), (2L, true), (3L, true), (6L, false),
      (10L, false)).toDF("v", "g")
    val r = Insight.welchT(d, "v", "g").collect()(0)
    assert(r.getLong(0) == 3L && r.getLong(1) == 2L)
    assert(r.getLong(2) == 2000000L && r.getLong(3) == 8000000L)
    // t = (2-8)/sqrt(1/3 + 8/2) = -6/sqrt(13/3); df = (13/3)^2 /
    //     ((1/3)^2/2 + 16/1)
    val a = 1.0 / 3; val b = 4.0
    val tExp = math.floor(-6.0 / math.sqrt(a + b) * 1e6 + 0.5).toLong
    val dfExp = math.floor((a + b) * (a + b) /
      (a * a / 2 + b * b / 1) * 1e6 + 0.5).toLong
    assert(r.getLong(4) == tExp && r.getLong(5) == dfExp)
    // n2 = 1: variance undefined -> t/df null, means still reported
    val tiny = Seq((1L, true), (2L, true), (9L, false)).toDF("v", "g")
    val rt = Insight.welchT(tiny, "v", "g").collect()(0)
    assert(rt.isNullAt(4) && rt.isNullAt(5) && rt.getLong(3) == 9000000L)
  }

  test("concurrency: hand sweep, half-open touch, peak and integral exact") {
    def t(s: Int) = s"2024-01-01 00:00:${"%02d".format(s)}"
    // [0,10) [5,15) [10,20): depth 1,2,1,2,1 over 0-5-10-15-20;
    // at t=10 one ends as one starts -> NOT concurrent (depth stays 2->1->2? )
    val iv = Seq((t(0), t(10)), (t(5), t(15)), (t(10), t(20)))
      .toDF("st", "en")
    val r = graft.ops.RangeJoin.concurrency(iv, "st", "en").collect()(0)
    assert(r.getLong(0) == 3L)
    assert(r.getLong(1) == 2L, s"peak=${r.getLong(1)}") // never 3: touch at 10
    assert(r.getLong(2) == 20000000L)                   // busy the whole span
    // integral: 5s@1 + 5s@2 + 5s@2 + 5s@1 = 30 s·depth
    assert(r.getLong(3) == 30000000L)
    assert(r.getLong(4) == 1500000L)                    // avg depth 1.5
  }

  test("burstiness: cron-regular is 0, hand CV2, single event absent, tied ts null") {
    def t(s: Int) = s"2024-01-01 00:00:${"%02d".format(s)}"
    val ev = Seq(
      // bot: gaps exactly 10 s -> cv2 = 0
      ("bot", t(0), 1L), ("bot", t(10), 2L), ("bot", t(20), 3L),
      // human: gaps 1 s and 9 s -> var = 16, mean = 5 -> cv2 = 0.64
      ("hum", t(0), 4L), ("hum", t(1), 5L), ("hum", t(10), 6L),
      // single event: no gaps
      ("solo", t(0), 7L),
      // both events on one timestamp: gap 0 -> sg = 0 -> null cv2
      ("tied", t(3), 8L), ("tied", t(3), 9L)
    ).toDF("k", "ts", "id")
    val out = Insight.burstiness(ev, "k", "ts", "id").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3))).toMap
    assert(out("bot") == (2L, 10000000L, 0L))
    // (2*(1e12+81e12) - 100e12)*1e6 div 100e12 = 640000
    assert(out("hum") == (2L, 5000000L, 640000L))
    assert(!out.contains("solo"))
    assert(out("tied") == (1L, 0L, -1L))
  }

  test("olsByKey: exact line recovered, negative slope, zero-variance null") {
    // y = 3x + 7 exactly -> slope 3e6 ppm, intercept 7e6 micro, r2 = 1e6
    val line = (1 to 10).map(i => ("a", i.toLong, 3L * i + 7)).toDF("k", "x", "y")
    val a = Insight.olsByKey(line, "k", "x", "y").collect()(0)
    assert((a.getLong(2), a.getLong(3), a.getLong(4)) ==
      ((3000000L, 7000000L, 1000000L)))
    // y = -2x: negative slope truncates toward zero on BOTH engines
    val neg = (1 to 5).map(i => ("b", i.toLong, -2L * i)).toDF("k", "x", "y")
    val b = Insight.olsByKey(neg, "k", "x", "y").collect()(0)
    assert(b.getLong(2) == -2000000L && b.getLong(3) == 0L)
    // constant x: vertical fit -> all null
    val v = Seq(("c", 4L, 1L), ("c", 4L, 9L)).toDF("k", "x", "y")
    val c = Insight.olsByKey(v, "k", "x", "y").collect()(0)
    assert(c.isNullAt(2) && c.isNullAt(3) && c.isNullAt(4))
  }

  test("cupedAdjust: perfectly-correlated covariate equalizes arms; theta exact") {
    // y = x per unit; arm 1 drew larger x by luck — CUPED removes it all
    val d = Seq((0L, 10L, 10L), (0L, 20L, 20L), (1L, 30L, 30L),
      (1L, 40L, 40L)).toDF("arm", "y", "x")
    val out = Insight.cupedAdjust(d, "arm", "y", "x").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toMap
    assert(out(0L)._4 == 1000000L)              // theta = 1 exactly
    // adjusted means collapse to the pooled mean (25) for both arms
    assert(out(0L)._3 == 25000000L && out(1L)._3 == 25000000L)
    assert(out(0L)._2 == 15000000L && out(1L)._2 == 35000000L)
    // equal covariate means across arms: zero gap, adjustment no-op
    val u = Seq((0L, 10L, 5L), (0L, 20L, 7L), (1L, 30L, 5L), (1L, 40L, 7L))
      .toDF("arm", "y", "x")
    val ou = Insight.cupedAdjust(u, "arm", "y", "x").collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
    assert(ou(0L)._1 == ou(0L)._2 && ou(1L)._1 == ou(1L)._2)
  }

  test("sprt: exact integer LLR, both boundaries, continue band") {
    def mic(x: Double) = math.floor(x * 1e6 + 0.5).toLong
    val c1 = mic(math.log(0.3 / 0.2)); val c0 = mic(math.log(0.7 / 0.8))
    val d = (Seq.fill(40)(("hot", true)) ++ Seq.fill(10)(("hot", false)) ++
      Seq.fill(50)(("cold", false)) ++
      Seq.fill(2)(("new", true)) ++ Seq.fill(3)(("new", false)))
      .toDF("k", "y")
    val out = Insight.sprt(d, "k", "y", p0 = 0.2, p1 = 0.3)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))).toMap
    assert(out("hot") == (50L, 40L, 40 * c1 + 10 * c0, "accept_h1"))
    assert(out("cold") == (50L, 0L, 50 * c0, "accept_h0"))
    assert(out("new")._4 == "continue")
    // boundary literals: h1 needs LLR >= ln(0.8/0.05) in micro
    assert(40 * c1 + 10 * c0 >= mic(math.log(0.8 / 0.05)))
    assert(50 * c0 <= mic(math.log(0.2 / 0.95)))
  }

  test("mannWhitney: midrank ties, separation extreme, all-tied degenerate") {
    // interleaved with a tie: g1={1,3}, g2={2,2} -> U1 = U2 (no shift)
    val mixed = Seq((1.0, true), (3.0, true), (2.0, false), (2.0, false))
      .toDF("v", "g")
    val r = Insight.mannWhitney(mixed, "v", "g").collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((2L, 2L, 4L, 4L)))            // doubled units: U1 = U2 = 2
    assert(r.getLong(4) == 0L)       // centered -> z exactly 0
    // complete separation: U1 maxes at n1*n2, z hand-computed
    val sep = Seq((10.0, true), (20.0, true), (1.0, false), (2.0, false))
      .toDF("v", "g")
    val s = Insight.mannWhitney(sep, "v", "g").collect()(0)
    assert(s.getLong(2) == 8L && s.getLong(3) == 0L)
    val zExp = math.floor(4.0 / (2.0 * math.sqrt(2.0 * 2 * 5 / 12.0))
      * 1e6 + 0.5).toLong
    assert(s.getLong(4) == zExp)
    // every value identical: tie correction zeroes sigma -> null z
    val flat = Seq((5.0, true), (5.0, true), (5.0, false)).toDF("v", "g")
    val f = Insight.mannWhitney(flat, "v", "g").collect()(0)
    assert(f.isNullAt(4))
  }

  test("bhSelect: step-up keeps a row above its own line, exact cutoff, empty") {
    val d = Seq((1L, 1000L), (2L, 2000L), (3L, 900000L))
      .toDF("id", "p_micro")
    val out = Insight.bhSelect(d, "p_micro", "id", alphaMicro = 50000L)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
    assert(out.toSet == Set((1L, 1L, 3L), (2L, 2L, 3L)))
    // classic step-up: rank 1 fails its own line (30000*2 > 50000) but
    // rank 2 passes (33000*2 <= 100000), so BOTH are kept
    val su = Seq((1L, 30000L), (2L, 33000L)).toDF("id", "p_micro")
    assert(Insight.bhSelect(su, "p_micro", "id", 50000L).count() == 2L)
    // nothing under the line -> empty, not an error
    val none = Seq((1L, 999000L), (2L, 999999L)).toDF("id", "p_micro")
    assert(Insight.bhSelect(none, "p_micro", "id", 50000L).isEmpty)
  }

  test("ngramPrecision: clipping, short-hyp null, perfect and zero overlap") {
    val d = Seq(
      // hyp repeats "the" 4x; ref has it twice -> clipped p1 = 2/4
      (1L, "the the the the", "the cat the dog"),
      // exact match: p1 = p2 = 1.0
      (2L, "a b c", "a b c"),
      // zero overlap
      (3L, "x y", "p q r"),
      // hyp shorter than the order: n=2 row exists with n_hyp = 0
      (4L, "solo", "solo duo")
    ).toDF("id", "hyp", "ref")
    val out = Insight.ngramPrecision(d, "hyp", "ref", "id", maxN = 2)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1)) ->
        (r.getLong(2), r.getLong(3),
          if (r.isNullAt(4)) -1L else r.getLong(4))).toMap
    assert(out((1L, 1)) == (4L, 2L, 500000L))   // clipped at ref count
    assert(out((1L, 2)) == (3L, 0L, 0L))        // "the the" absent from ref
    assert(out((2L, 1)) == (3L, 3L, 1000000L))
    assert(out((2L, 2)) == (2L, 2L, 1000000L))
    assert(out((3L, 1)) == (2L, 0L, 0L))
    assert(out((3L, 2)) == (1L, 0L, 0L))
    assert(out((4L, 1)) == (1L, 1L, 1000000L))
    assert(out((4L, 2)) == (0L, 0L, -1L))       // no bigrams -> null ppm
  }

  test("timeWeightedMean: hold-duration weighting, zero-span null, tie order") {
    val ev = Seq(
      // key a: 10.0 held 2 s, 20.0 held 4 s, 40.0 terminal (weight 0)
      ("a", "2024-01-01 00:00:00", 10.0, 1L),
      ("a", "2024-01-01 00:00:02", 20.0, 2L),
      ("a", "2024-01-01 00:00:06", 40.0, 3L),
      // key b: single event — span 0, twap null
      ("b", "2024-01-01 00:00:00", 7.0, 4L)
    ).toDF("k", "ts", "v", "tie")
    val out = Insight.timeWeightedMean(ev, "k", "ts", "v", "tie")
      .collect().map(r => r.getString(0) -> r).toMap
    val a = out("a")
    assert(a.getLong(1) == 3L && a.getLong(2) == 6000000L)
    // (2e6*10e6 + 4e6*20e6) div 6e6 = 16_666_666 (truncating div)
    assert(a.getLong(3) == 16666666L)
    val b = out("b")
    assert(b.getLong(1) == 1L && b.getLong(2) == 0L && b.isNullAt(3))
    // equal timestamps: the tie column orders the lead deterministically
    val tied = Seq(("c", "2024-01-01 00:00:00", 1.0, 1L),
      ("c", "2024-01-01 00:00:00", 2.0, 2L),
      ("c", "2024-01-01 00:00:10", 3.0, 3L)).toDF("k", "ts", "v", "tie")
    val c = Insight.timeWeightedMean(tied, "k", "ts", "v", "tie")
      .collect()(0)
    // v=1 holds 0 µs (tie-next is same ts), v=2 holds the full 10 s
    assert(c.getLong(3) == 2000000L)
  }

  // ------------------------------------------------------------ CUSUM

  test("cusum: prefix-min identity replays the recursion; silence fills") {
    // 1-second buckets, warmup 2. Key a: x = [2, 1, 0(gap), 1],
    // mu0 = (2+1) div 2 = 1, k = 0, h = 8. Hand recursion
    // S+ = [1,1,0,0], S- = [0,0,1,1]. Key b: quiet warm-up (mu0 = 0,
    // h = 4) then a burst -> alarm_hi fires at the burst bucket.
    val rows = (Seq(("a", 0), ("a", 0), ("a", 1), ("a", 3), ("b", 0)) ++
      Seq.fill(5)(("b", 5)) ++ Seq.fill(5)(("b", 6)))
      .map { case (k, sec) => (k, s"2024-01-01 00:00:0$sec") }
    val df = rows.toDF("k", "ts")
      .select(col("k"), col("ts").cast("timestamp").as("ts"))
    val got = Insight.cusum(df, "k", "ts", bucketUs = 1000000L, warmup = 2)
      .orderBy("key", "bucket").collect()
    val a = got.filter(_.getString(0) == "a")
    assert(a.map(_.getLong(2)).toSeq == Seq(2L, 1L, 0L, 1L), "gap filled")
    assert(a.forall(_.getLong(3) == 1L), "mu0 = truncating warm-up mean")
    assert(a.map(_.getLong(4)).toSeq == Seq(1L, 1L, 0L, 0L), "S+ rail")
    assert(a.map(_.getLong(5)).toSeq == Seq(0L, 0L, 1L, 1L), "S- rail")
    assert(a.forall(r => !r.getBoolean(6) && !r.getBoolean(7)))
    val b = got.filter(_.getString(0) == "b")
    assert(b.forall(_.getLong(3) == 0L))
    // P(hi) = [1,1,1,1,1,6,11]; min prefix stays 0-capped -> S+ = P
    assert(b.map(_.getLong(4)).toSeq == Seq(1L, 1L, 1L, 1L, 1L, 6L, 11L))
    assert(b.map(_.getBoolean(6)).toSeq ==
      Seq(false, false, false, false, false, true, true), "burst alarms")
    assert(b.forall(r => r.getLong(5) == 0L && !r.getBoolean(7)))
  }

  // -------------------------------------------------------------- EWMA

  test("ewma: hand-replayed dyadic fold, baseline init, burst alarm") {
    // 1-second buckets, warmup 2. Key a: x = [4,2,6,2], mu0 = 3 ->
    // z = [3250000, 2937500, 3703125, 3277343] (trunc div each step).
    // Key b: quiet warm-up (mu0 = 0, band 500000) then a burst.
    val rows = (Seq.fill(4)(("a", 0)) ++ Seq.fill(2)(("a", 1)) ++
      Seq.fill(6)(("a", 2)) ++ Seq.fill(2)(("a", 3)) ++
      Seq(("b", 0)) ++ Seq.fill(20)(("b", 2)))
      .map { case (k, sec) => (k, s"2024-01-01 00:00:0$sec") }
    val df = rows.toDF("k", "ts")
      .select(col("k"), col("ts").cast("timestamp").as("ts"))
    val got = Insight.ewma(df, "k", "ts", bucketUs = 1000000L, warmup = 2)
      .orderBy("key", "bucket").collect()
    val a = got.filter(_.getString(0) == "a")
    assert(a.map(_.getLong(3)).toSeq ==
      Seq(3250000L, 2937500L, 3703125L, 3277343L))
    assert(a.map(_.getLong(4)).toSeq ==
      Seq(250000L, -62500L, 703125L, 277343L))
    assert(a.forall(!_.getBoolean(5)))
    val b = got.filter(_.getString(0) == "b")
    assert(b.map(_.getLong(3)).toSeq == Seq(250000L, 187500L, 5140625L))
    assert(b.map(_.getBoolean(5)).toSeq == Seq(false, false, true))
  }

  // ------------------------------------------------- Seasonal decompose

  test("seasonalDecompose: hand-replayed centered MA, slots, remainder") {
    // 1-second buckets, period 2 (half = 1): x = [4, 2, 6, 2, 6].
    // trend = (500000*(x_prev + x_next) + 1000000*x) div 2 at the three
    // interior points = [3.5e6, 4e6, 4e6]; d = [-1.5e6, 2e6, -2e6];
    // slot means 2e6 / -1.75e6, grand 125000 -> seasonal +-1875000
    val rows = Seq(4, 2, 6, 2, 6).zipWithIndex.flatMap { case (n, sec) =>
      Seq.fill(n)(("k", s"2024-01-01 00:00:0$sec"))
    }
    val df = rows.toDF("k", "ts")
      .select(col("k"), col("ts").cast("timestamp").as("ts"))
    val got = Insight.seasonalDecompose(df, "k", "ts",
        bucketUs = 1000000L, period = 2)
      .orderBy("bucket").collect()
    assert(got.map(_.getLong(2)).toSeq == Seq(4L, 2L, 6L, 2L, 6L))
    assert(got(0).isNullAt(3) && got(4).isNullAt(3), "MA edges are null")
    assert(got(1).getLong(3) == 3500000L && got(2).getLong(3) == 4000000L &&
      got(3).getLong(3) == 4000000L)
    assert(got(1).getLong(4) == -1875000L && got(2).getLong(4) == 1875000L &&
      got(3).getLong(4) == -1875000L)
    assert(got(1).getLong(5) == 375000L && got(2).getLong(5) == 125000L &&
      got(3).getLong(5) == -125000L)
    // decomposition identity holds exactly at interior points
    (1 to 3).foreach { i =>
      assert(got(i).getLong(2) * 1000000L ==
        got(i).getLong(3) + got(i).getLong(4) + got(i).getLong(5))
    }
  }

  // ------------------------------------------------------ Weighted kappa

  test("weightedKappa: quadratic weights, perfect, hand case, anti-rater") {
    def wk(pts: Seq[(Long, Long)]): org.apache.spark.sql.Row =
      Insight.weightedKappa(pts.toDF("a", "b"), "a", "b").head()
    val perfect = wk(Seq((0L, 0L), (1L, 1L), (4L, 4L)))
    assert(perfect.getLong(1) == 0L && perfect.getLong(3) == 1000000L)
    // O: w 0+1+0+4 = 5; E_n = 10 + 18 = 28 -> (28 - 20)e6 div 28
    val hand = wk(Seq((0L, 0L), (0L, 1L), (2L, 2L), (2L, 0L)))
    assert(hand.getLong(1) == 5L && hand.getLong(2) == 28L &&
      hand.getLong(3) == 285714L)
    // systematic opposite rater: exactly -1e6
    assert(wk(Seq((0L, 4L), (4L, 0L))).getLong(3) == -1000000L)
  }

  // ---------------------------------------------------- Pareto frontier

  test("paretoFrontier: strict dominance, ties, and duplicate survivors") {
    val pts = Seq((1L, 9L, 3L), (2L, 7L, 8L), (3L, 5L, 10L),
      (4L, 5L, 10L),  // duplicate frontier pair survives (non-strict)
      (5L, 5L, 9L),   // same x, lower y: dominated
      (6L, 3L, 10L),  // y tie with greater-x point: dominated
      (7L, 2L, 2L)).toDF("id", "x", "y")
    val got = Insight.paretoFrontier(pts, "id", "x", "y")
      .collect().map(_.getLong(0)).toSet
    assert(got == Set(1L, 2L, 3L, 4L))
  }

  // ------------------------------------------------------ Mann–Kendall

  test("mannKendall: exact S, tie-corrected var18, ppm z, trend calls") {
    // daily buckets: key up has counts [1,2,2,3] (S=5, one tie pair),
    // key down has [5,4,3,2,1] (S=-10, no ties, significant)
    def day(k: String, d: Int, n: Int) =
      Seq.fill(n)((k, f"2024-01-$d%02d 12:00:00"))
    val rows = day("up", 1, 1) ++ day("up", 2, 2) ++ day("up", 3, 2) ++
      day("up", 4, 3) ++
      day("down", 1, 5) ++ day("down", 2, 4) ++ day("down", 3, 3) ++
      day("down", 4, 2) ++ day("down", 5, 1)
    val df = rows.toDF("k", "ts")
      .select(col("k"), col("ts").cast("timestamp").as("ts"))
    val got = Insight.mannKendall(df, "k", "ts")
      .collect().map(r => r.getString(0) -> r).toMap
    val up = got("up")
    assert(up.getLong(1) == 4L && up.getLong(2) == 5L)
    assert(up.getLong(3) == 138L) // 4*3*13 - 2*1*9
    assert(up.getLong(4) == 1444630L && up.getString(5) == "none")
    val dn = got("down")
    assert(dn.getLong(1) == 5L && dn.getLong(2) == -10L)
    assert(dn.getLong(3) == 300L)
    assert(dn.getLong(4) == -2204541L && dn.getString(5) == "decreasing")
  }

  // ------------------------------------------------------ Holt–Winters

  test("holtWinters: hand-replayed integer recurrence, short-key nulls") {
    val pts = Seq(10L, 12L, 8L, 14L, 11L, 13L, 9L).zipWithIndex
      .map { case (x, i) => ("k", i.toLong, x) } ++
      Seq(("short", 0L, 5L), ("short", 1L, 6L))
    val got = Insight.holtWinters(pts.toDF("key", "b", "x"), "key", "b",
        "x", period = 3, alphaPpm = 300000L, betaPpm = 100000L,
        gammaPpm = 200000L)
      .orderBy("key").collect()
    val k = got(0)
    // hand fold (also DuckDB-probed): init l=10, s=[0,2,-2]; 4 steps ->
    // l=10, tr=0, s=[0,1,-1]; next slot (7 % 3 = 1, 0-based) -> s=1
    assert(k.getLong(1) == 7L)
    assert(k.getLong(2) == 10L && k.getLong(3) == 0L)
    assert(k.getLong(4) == 1L && k.getLong(5) == 11L)
    val sh = got(1)
    assert(sh.getLong(1) == 2L && sh.isNullAt(2) && sh.isNullAt(5),
      "keys shorter than one season carry null smoothing fields")
  }

  // ------------------------------------------------------------ ROUGE

  test("rougeN: exact ppm P/R/F1, F1 = 2m/(h+r) with no float anywhere") {
    val pairs = Seq((1L, "a b c", "a c d e")).toDF("id", "hyp", "ref")
    val got = Insight.rougeN(pairs, "hyp", "ref", "id", maxN = 2)
      .orderBy("n").collect()
    val n1 = got(0) // unigrams: h=3, r=4, m=2 (a, c)
    assert(n1.getLong(2) == 3L && n1.getLong(3) == 4L && n1.getLong(4) == 2L)
    assert(n1.getLong(5) == 666666L)  // 2e6 div 3
    assert(n1.getLong(6) == 500000L)  // 2e6 div 4
    assert(n1.getLong(7) == 571428L)  // 4e6 div 7
    val n2 = got(1) // bigrams: no overlap
    assert(n2.getLong(2) == 2L && n2.getLong(3) == 3L && n2.getLong(4) == 0L)
    assert(n2.getLong(7) == 0L)
  }

  // ------------------------------------------------------------- chrF

  test("chrF: whitespace-stripped char grams, effective orders, F2 rail") {
    val pairs = Seq(
      (1L, "ab cd", "ab ce"),  // partial overlap, P = R
      (2L, "xy z", "xyz"),     // whitespace-only difference -> exactly 1
      (3L, "aab", "ab"),       // clipped counts, P != R (beta=2 weighting)
      (4L, "", "ab")           // empty hyp: zero rails, no division blowup
    ).toDF("id", "hyp", "ref")
    val got = Insight.chrF(pairs, "hyp", "ref", "id")
      .orderBy("id").collect()
    // hand+python-replayed: orders_p, orders_r, p_ppm, r_ppm, chrf_ppm
    assert(got(0).getLong(1) == 4L && got(0).getLong(2) == 4L)
    assert(got(0).getLong(3) == 479166L && got(0).getLong(4) == 479166L)
    assert(got(0).getLong(5) == 479166L) // P = R -> F = P exactly
    assert(got(1).getLong(5) == 1000000L)
    assert(got(2).getLong(1) == 3L && got(2).getLong(2) == 2L)
    assert(got(2).getLong(3) == 388888L && got(2).getLong(4) == 1000000L)
    assert(got(2).getLong(5) == 760868L) // 5PR div (4P+R), beta=2
    assert(got(3).getLong(1) == 0L && got(3).getLong(3) == 0L &&
      got(3).getLong(5) == 0L)
  }

  test("chrF: native expression == composed fallback on real corpus pairs") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val pairs = d.as("h")
      .join(d.as("r"), col("r.doc_id") === col("h.doc_id") + 1)
      .select(col("h.doc_id").as("doc_id"), col("h.text").as("hyp"),
        col("r.text").as("ref"))
    assert(spark.catalog.functionExists("graft_chrf"))
    val native = Insight.chrF(pairs, "hyp", "ref", "doc_id")
    val composed = InsightSpec.chrFComposed(pairs, "hyp", "ref", "doc_id",
      maxN = 6, beta = 2)
    val diff = native.as("n").join(composed.as("c"), "id")
      .filter(not(col("n.p_ppm") <=> col("c.p_ppm")) ||
        not(col("n.r_ppm") <=> col("c.r_ppm")) ||
        not(col("n.chrf_ppm") <=> col("c.chrf_ppm")) ||
        not(col("n.orders_p") <=> col("c.orders_p")) ||
        not(col("n.orders_r") <=> col("c.orders_r")))
    assert(diff.count() == 0)
    assert(native.count() == composed.count())
  }

  // ------------------------------------------------------------- BLEU

  test("bleu: hand-computed rails — identity, brevity, smoothing, zero") {
    val pairs = Seq(
      (1L, "alpha beta gamma delta", "alpha beta gamma delta"), // identical
      (2L, "alpha beta gamma", "alpha beta gamma delta"),       // short hyp
      (3L, "alpha beta xx yy", "alpha beta"),                   // smoothing
      (4L, "qq rr ss tt", "alpha beta gamma delta")             // no overlap
    ).toDF("id", "hyp", "ref")
    val got = Insight.bleu(pairs, "hyp", "ref", "id", maxN = 4)
      .orderBy("id").collect()
    // identical: every order p=1 -> terms 0, bp 0 -> bleu exactly 1
    assert(got(0).getLong(4) == 0L && got(0).getLong(5) == 1000000L)
    // short hyp: all 3 live orders p=1; bp = floor((1-4/3)*1e6+0.5)
    assert(got(1).getLong(3) == 3L)
    assert(got(1).getLong(4) == -333333L)
    assert(got(1).getLong(5) == 716532L) // exp(-0.333333) micro-floored
    // smoothing: n1 ln(2/4), n2 ln(1/3), n3 (0+1)/(2+1), n4 (0+1)/(1+1)
    // terms -693147 -1098612 -1098612 -693147 = -3583518; div 4, bp 0
    assert(got(2).getLong(4) == -895879L)
    assert(got(2).getDouble(6) > 0.40 && got(2).getDouble(6) < 0.42)
    // zero unigram overlap: BLEU exactly 0, log null
    assert(got(3).isNullAt(4) && got(3).getLong(5) == 0L)
    assert(got(3).getDouble(6) == 0.0)
  }

  test("ngram metrics: native rails == composed fallback on corpus + edges") {
    assert(spark.catalog.functionExists("graft_ngram_rails"))
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val corpus = d.as("h")
      .join(d.as("r"), col("r.doc_id") === col("h.doc_id") + 1)
      .select(col("h.doc_id").as("doc_id"), col("h.text").as("hyp"),
        col("r.text").as("ref"))
    // edge rows: null / empty / whitespace-only / repeated tokens /
    // sub-n-gram lengths on both sides
    val edges = Seq(
      (100001L, null.asInstanceOf[String], "a b c"),
      (100002L, "a b c", null.asInstanceOf[String]),
      (100003L, null.asInstanceOf[String], null.asInstanceOf[String]),
      (100004L, "", ""),
      (100005L, "   ", "a"),
      (100006L, "the the the the", "the cat"),
      (100007L, "a", "a"),
      (100008L, "a b", "b a b a")).toDF("doc_id", "hyp", "ref")
    val pairs = corpus.unionAll(edges)
    def cols(df: org.apache.spark.sql.DataFrame) = df.columns.toSeq
    for (maxN <- Seq(2, 4)) {
      val np = Insight.ngramPrecision(pairs, "hyp", "ref", "doc_id", maxN)
      val cp = InsightSpec.ngramPrecisionComposed(pairs, "hyp", "ref",
        "doc_id", maxN)
      assert(cols(np) === cols(cp))
      val j = np.as("a").join(cp.as("b"), Seq("id", "n"))
        .filter(not(col("a.n_hyp") <=> col("b.n_hyp")) ||
          not(col("a.n_match") <=> col("b.n_match")) ||
          not(col("a.p_ppm") <=> col("b.p_ppm")))
      assert(j.count() == 0, s"ngramPrecision maxN=$maxN diverged")
      assert(np.count() == cp.count())
    }
    val nr = Insight.rougeN(pairs, "hyp", "ref", "doc_id", 2)
    val cr = InsightSpec.rougeNComposed(pairs, "hyp", "ref", "doc_id", 2)
    assert(cols(nr) === cols(cr))
    val jr = nr.as("a").join(cr.as("b"), Seq("id", "n"))
      .filter(not(col("a.n_hyp") <=> col("b.n_hyp")) ||
        not(col("a.n_ref") <=> col("b.n_ref")) ||
        not(col("a.n_match") <=> col("b.n_match")) ||
        not(col("a.p_ppm") <=> col("b.p_ppm")) ||
        not(col("a.r_ppm") <=> col("b.r_ppm")) ||
        not(col("a.f1_ppm") <=> col("b.f1_ppm")))
    assert(jr.count() == 0, "rougeN diverged")
    assert(nr.count() == cr.count())
    val nb = Insight.bleu(pairs, "hyp", "ref", "doc_id", 4)
    val cb = InsightSpec.bleuComposed(pairs, "hyp", "ref", "doc_id", 4)
    assert(cols(nb) === cols(cb))
    val jb = nb.as("a").join(cb.as("b"), Seq("id"))
      .filter(not(col("a.hyp_len") <=> col("b.hyp_len")) ||
        not(col("a.ref_len") <=> col("b.ref_len")) ||
        not(col("a.orders") <=> col("b.orders")) ||
        not(col("a.log_bleu_micro") <=> col("b.log_bleu_micro")) ||
        not(col("a.bleu_micro") <=> col("b.bleu_micro")) ||
        not(col("a.bleu") <=> col("b.bleu")))
    assert(jb.count() == 0, "bleu diverged")
    assert(nb.count() == cb.count())
    // the rails expression compiles into whole-stage codegen (no
    // CodegenFallback): the native bleu plan is a pure Project chain
    val plan = nb.queryExecution.executedPlan.toString
    assert(plan.contains("graft_ngram_rails"), "rails expr absent")
    assert(!plan.contains("SortMergeJoin"), "bleu native must not join")
  }
}

/** The composed spellings of the n-gram text metrics, kept as the
  * reference implementations the native [[graft.functions.NgramRails]]
  * and [[graft.functions.ChrfRails]] paths are pinned against. */
object InsightSpec {

  /** Composed ngramPrecision: explode each order's gram multisets,
    * count per (id, n, gram), LEFT JOIN hypothesis to reference on the
    * gram and sum the clipped matches. */
  def ngramPrecisionComposed(df: DataFrame, hypCol: String, refCol: String,
      idCol: String, maxN: Int): DataFrame = {
    // pure slices at every order (no empty-token filtering): the gram
    // multisets are a total function of the token arrays, so the oracle
    // replays them verbatim — an empty token counts identically on
    // both sides (only the degenerate empty-text row produces one)
    def grams(c: String, n: Int): Column =
      if (n == 1) col(c)
      else expr(s"CASE WHEN size($c) >= $n THEN transform(" +
        s"sequence(1, size($c) - ${n - 1}), " +
        s"i -> array_join(slice($c, i, $n), ' ')) " +
        "ELSE CAST(array() AS ARRAY<STRING>) END")
    val base = df.select(col(idCol).as("id"),
        TextFunctions.tokens(col(hypCol)).as("__h"),
        TextFunctions.tokens(col(refCol)).as("__r"))
      .localCheckpoint(true) // referenced once per order below
    val perN = (1 to maxN).map { n =>
      base.select(col("id"), lit(n).as("n"),
        grams("__h", n).as("__hg"), grams("__r", n).as("__rg"))
    }.reduce(_ unionAll _)
    val hc = perN.select(col("id"), col("n"), explode(col("__hg")).as("g"))
      .groupBy("id", "n", "g").agg(count(lit(1)).as("__ch"))
    val rc = perN.select(col("id"), col("n"), explode(col("__rg")).as("g"))
      .groupBy("id", "n", "g").agg(count(lit(1)).as("__cr"))
    val m = hc.join(rc, Seq("id", "n", "g"), "left")
      .groupBy("id", "n")
      .agg(sum("__ch").as("__nh"),
        sum(least(col("__ch"), coalesce(col("__cr"), lit(0L)))).as("__nm"))
    perN.select(col("id"), col("n"))
      .join(m, Seq("id", "n"), "left")
      .select(col("id"), col("n"),
        coalesce(col("__nh"), lit(0L)).as("n_hyp"),
        coalesce(col("__nm"), lit(0L)).as("n_match"),
        when(coalesce(col("__nh"), lit(0L)) > 0,
          expr("__nm * 1000000 div __nh")).as("p_ppm"))
  }

  /** Composed rougeN: the [[ngramPrecisionComposed]] gram counts with a
    * FULL OUTER join, so reference grams count too. */
  def rougeNComposed(df: DataFrame, hypCol: String, refCol: String,
      idCol: String, maxN: Int): DataFrame = {
    def grams(c: String, n: Int): Column =
      if (n == 1) col(c)
      else expr(s"CASE WHEN size($c) >= $n THEN transform(" +
        s"sequence(1, size($c) - ${n - 1}), " +
        s"i -> array_join(slice($c, i, $n), ' ')) " +
        "ELSE CAST(array() AS ARRAY<STRING>) END")
    val base = df.select(col(idCol).as("id"),
        TextFunctions.tokens(col(hypCol)).as("__h"),
        TextFunctions.tokens(col(refCol)).as("__r"))
      .localCheckpoint(true)
    val perN = (1 to maxN).map { n =>
      base.select(col("id"), lit(n).as("n"),
        grams("__h", n).as("__hg"), grams("__r", n).as("__rg"))
    }.reduce(_ unionAll _)
    val hc = perN.select(col("id"), col("n"), explode(col("__hg")).as("g"))
      .groupBy("id", "n", "g").agg(count(lit(1)).as("__ch"))
    val rc = perN.select(col("id"), col("n"), explode(col("__rg")).as("g"))
      .groupBy("id", "n", "g").agg(count(lit(1)).as("__cr"))
    val m = hc.join(rc, Seq("id", "n", "g"), "full_outer")
      .groupBy("id", "n")
      .agg(sum(coalesce(col("__ch"), lit(0L))).as("__nh"),
        sum(coalesce(col("__cr"), lit(0L))).as("__nr"),
        sum(least(coalesce(col("__ch"), lit(0L)),
          coalesce(col("__cr"), lit(0L)))).as("__nm"))
    perN.select(col("id"), col("n"))
      .join(m, Seq("id", "n"), "left")
      .select(col("id"), col("n"),
        coalesce(col("__nh"), lit(0L)).as("n_hyp"),
        coalesce(col("__nr"), lit(0L)).as("n_ref"),
        coalesce(col("__nm"), lit(0L)).as("n_match"),
        when(coalesce(col("__nh"), lit(0L)) > 0,
          expr("__nm * 1000000 div __nh")).as("p_ppm"),
        when(coalesce(col("__nr"), lit(0L)) > 0,
          expr("__nm * 1000000 div __nr")).as("r_ppm"),
        when(coalesce(col("__nh"), lit(0L)) + coalesce(col("__nr"), lit(0L)) > 0,
          expr("2 * __nm * 1000000 div (__nh + __nr)")).as("f1_ppm"))
  }

  /** Composed bleu: per-order smoothed log terms over
    * [[ngramPrecisionComposed]], one groupBy(id) and a lengths join. */
  def bleuComposed(df: DataFrame, hypCol: String, refCol: String,
      idCol: String, maxN: Int): DataFrame = {
    val prec = ngramPrecisionComposed(df, hypCol, refCol, idCol, maxN)
    val lens = df.select(col(idCol).as("id"),
      size(TextFunctions.tokens(col(hypCol))).cast("long").as("hyp_len"),
      size(TextFunctions.tokens(col(refCol))).cast("long").as("ref_len"))
    val t = prec.filter(col("n_hyp") > 0)
      .withColumn("__clip",
        when(col("n") === 1 || col("n_match") > 0, col("n_match"))
          .otherwise(lit(1L)))
      .withColumn("__tot",
        when(col("n") === 1 || col("n_match") > 0, col("n_hyp"))
          .otherwise(col("n_hyp") + 1))
      .withColumn("__term", when(col("__clip") > 0,
        floor(log(col("__clip").cast("double") /
          col("__tot").cast("double")) * 1e6 + 0.5).cast("long")))
    val agg = t.groupBy("id").agg(
      count(lit(1)).as("orders"),
      sum(when(col("__clip") === 0, 1L).otherwise(0L)).as("__zeros"),
      sum("__term").as("__s"))
    lens.join(agg, Seq("id"), "left")
      .withColumn("orders", coalesce(col("orders"), lit(0L)))
      .withColumn("__bp", when(col("hyp_len") >= col("ref_len"), 0L)
        .otherwise(floor((lit(1.0) - col("ref_len").cast("double") /
          col("hyp_len")) * 1e6 + 0.5).cast("long")))
      .withColumn("log_bleu_micro",
        when(col("orders") > 0 && col("__zeros") === 0,
          expr("__s div orders") + col("__bp")))
      .withColumn("bleu_micro",
        when(col("log_bleu_micro").isNotNull,
          floor(exp(col("log_bleu_micro").cast("double") / 1e6) * 1e6 + 0.5)
            .cast("long")).otherwise(lit(0L)))
      .select(col("id"), col("hyp_len"), col("ref_len"), col("orders"),
        col("log_bleu_micro"), col("bleu_micro"),
        (col("bleu_micro").cast("double") / 1e6).as("bleu"))
  }

  /** Composed chrF: per-pair character gram counting (one generator +
    * one groupBy per side) and one groupBy(id). */
  def chrFComposed(df: DataFrame, hypCol: String, refCol: String,
      idCol: String, maxN: Int, beta: Int): DataFrame = {
    val b2 = (beta.toLong * beta).toString
    def stripWs(c: Column): Column =
      regexp_replace(coalesce(c, lit("")), "\\s+", "")
    val base = df.select(col(idCol).as("id"),
        stripWs(col(hypCol)).as("__h"), stripWs(col(refCol)).as("__r"))
      .localCheckpoint(true)
    def grams(c: String, n: Int): Column =
      expr(s"CASE WHEN length($c) >= $n THEN transform(" +
        s"sequence(1, length($c) - ${n - 1}), " +
        s"i -> substring($c, i, $n)) " +
        "ELSE CAST(array() AS ARRAY<STRING>) END")
    val perN = (1 to maxN).map { n =>
      base.select(col("id"), lit(n).as("n"),
        grams("__h", n).as("__hg"), grams("__r", n).as("__rg"))
    }.reduce(_ unionAll _)
    val hc = perN.select(col("id"), col("n"), explode(col("__hg")).as("g"))
      .groupBy("id", "n", "g").agg(count(lit(1)).as("__ch"))
    val rc = perN.select(col("id"), col("n"), explode(col("__rg")).as("g"))
      .groupBy("id", "n", "g").agg(count(lit(1)).as("__cr"))
    val m = hc.join(rc, Seq("id", "n", "g"), "full_outer")
      .groupBy("id", "n")
      .agg(sum(coalesce(col("__ch"), lit(0L))).as("__nh"),
        sum(coalesce(col("__cr"), lit(0L))).as("__nr"),
        sum(least(coalesce(col("__ch"), lit(0L)),
          coalesce(col("__cr"), lit(0L)))).as("__nm"))
      .select(col("id"),
        when(col("__nh") > 0, expr("__nm * 1000000 div __nh")).as("__pn"),
        when(col("__nr") > 0, expr("__nm * 1000000 div __nr")).as("__rn"))
    val agg = m.groupBy("id").agg(
      count(col("__pn")).as("orders_p"), count(col("__rn")).as("orders_r"),
      sum(col("__pn")).as("__ps"), sum(col("__rn")).as("__rs"))
    base.select(col("id")).distinct()
      .join(agg, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("orders_p"), lit(0L)).as("orders_p"),
        coalesce(col("orders_r"), lit(0L)).as("orders_r"),
        when(col("orders_p") > 0, expr("__ps div orders_p"))
          .otherwise(lit(0L)).as("p_ppm"),
        when(col("orders_r") > 0, expr("__rs div orders_r"))
          .otherwise(lit(0L)).as("r_ppm"))
      .withColumn("chrf_ppm",
        when(expr(s"$b2 * p_ppm + r_ppm") > 0,
          expr(s"(1 + $b2) * p_ppm * r_ppm div ($b2 * p_ppm + r_ppm)"))
          .otherwise(lit(0L)))
  }
}
