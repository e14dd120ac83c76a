package graft

import org.apache.spark.sql.functions._
import graft.ops.{Classify, Graph, Insight, Report}

/** Pins the k-sample tests (ANOVA/Kruskal–Wallis/Brown–Forsythe), the
  * probabilistic-eval ops (Brier decomposition, split-conformal), the
  * Kaplan–Meier fold, the md5 sign-flip test, k-truss, modularity and
  * the Heaps vocab-growth curve against hand-computed fixtures. */
class StatSpec extends SparkSpec {

  import spark.implicits._

  test("anovaF: textbook two-group fixture, exact micro SS and F") {
    val d = Seq(("a", 1L), ("a", 2L), ("a", 3L),
      ("b", 4L), ("b", 5L), ("b", 6L)).toDF("g", "v")
    val r = Insight.anovaF(d, "v", "g").collect().head
    assert(r.getAs[Long]("n") == 6 && r.getAs[Long]("k") == 2)
    // means 2 vs 5: SSB = 13.5, SSW = 4 -> F = 13.5/(4/4) = 13.5
    assert(r.getAs[Long]("grand_mean_micro") == 3500000L)
    assert(r.getAs[Long]("f_micro") == 13500000L)
    // eta2 = 13.5/17.5
    assert(r.getAs[Long]("eta2_ppm") == 13500000L * 1000000L / 17500000L)
  }

  test("anovaF: identical groups report eta2 0 and null F") {
    val d = Seq(("a", 5L), ("a", 7L), ("b", 5L), ("b", 7L)).toDF("g", "v")
    val r = Insight.anovaF(d, "v", "g").collect().head
    assert(r.getAs[Long]("eta2_ppm") == 0L)
    assert(r.isNullAt(r.fieldIndex("f_micro")))
  }

  test("kruskalWallis: tie-free hand H; all-distinct tie_ppm = 1e6") {
    val d = Seq(("a", 1L), ("a", 2L), ("b", 3L), ("b", 4L)).toDF("g", "v")
    val r = Insight.kruskalWallis(d, "v", "g").collect().head
    // R1 = 3, R2 = 7: H = 12/(4*5) * (9/2 + 49/2) - 3*5 = 2.4
    assert(r.getAs[Long]("h_micro") == 2400000L)
    assert(r.getAs[Long]("tie_ppm") == 1000000L)
    assert(r.getAs[Long]("h_adj_micro") == 2400000L)
  }

  test("kruskalWallis: all-tied input collapses H to ~0 and tie_ppm to 0") {
    val d = Seq(("a", 5L), ("a", 5L), ("b", 5L), ("b", 5L)).toDF("g", "v")
    val r = Insight.kruskalWallis(d, "v", "g").collect().head
    assert(math.abs(r.getAs[Long]("h_micro")) <= 2L) // truncation only
    assert(r.getAs[Long]("tie_ppm") == 0L)           // C = 1 - 60/60
    assert(r.isNullAt(r.fieldIndex("h_adj_micro")))
  }

  test("brownForsythe: spread-only difference is detected via |v - median|") {
    val d = Seq(("a", 0L), ("a", 0L), ("a", 10L), ("a", 10L),
      ("b", 5L), ("b", 5L), ("b", 5L), ("b", 5L)).toDF("g", "v")
    val r = Insight.brownForsythe(d, "v", "g").collect().head
    // medians 0 and 5 -> z: (0,0,10,10) vs (0,0,0,0)
    // SSB = 50, SSW = 100, F = 50/(100/6) = 3
    assert(r.getAs[Long]("f_micro") == 3000000L)
  }

  test("kaplanMeier: hand curve with censoring, deaths-before-censors") {
    val d = Seq(("a", 1L, true), ("a", 2L, false), ("a", 3L, true),
      ("a", 3L, true), ("a", 5L, false)).toDF("g", "dur", "ev")
    val rows = Insight.kaplanMeier(d, "g", "dur", "ev")
      .orderBy("t").collect()
      .map(r => (r.getAs[Long]("t"), r.getAs[Long]("d"),
        r.getAs[Long]("n_risk"), r.getAs[Long]("s_ppm")))
    // t=1: risk 5, d 1 -> 800000; t=3: risk 3, d 2 -> 800000/3 = 266666
    assert(rows.toSeq == Seq((1L, 1L, 5L, 800000L), (3L, 2L, 3L, 266666L)))
  }

  test("logRank: separated cohorts hand chi2; identical cohorts chi2 = 0") {
    val sep = Seq((true, 1L, true), (true, 1L, true), (true, 1L, true),
      (false, 5L, true), (false, 5L, true), (false, 5L, true))
      .toDF("g", "dur", "ev")
    val r = Insight.logRank(sep, "g", "dur", "ev").collect().head
    assert(r.getAs[Long]("o1") == 3L)
    assert(r.getAs[Long]("e1_micro") == 1500000L) // 3*3/6 at t=1 only
    assert(r.getAs[Long]("v_micro") == 450000L)   // 81/180
    assert(r.getAs[Long]("chi2_micro") == 5000000L) // 1.5^2/0.45 = 5
    val same = Seq((true, 1L, true), (true, 2L, true),
      (false, 1L, true), (false, 2L, true)).toDF("g", "dur", "ev")
    val r2 = Insight.logRank(same, "g", "dur", "ev").collect().head
    assert(r2.getAs[Long]("chi2_micro") == 0L) // O1 = E1 exactly
  }

  test("cmh: single-stratum 2x2 with continuity correction, hand value") {
    val rows = Seq(
      ("a", true, true), ("a", true, true), ("a", true, true),
      ("a", true, false), ("a", false, true), ("a", false, false),
      ("a", false, false), ("a", false, false)).toDF("st", "x", "y")
    val r = Insight.cmh(rows, "st", "x", "y").collect().head
    assert(r.getAs[Long]("n_strata") == 1L)
    assert(r.getAs[Long]("a_sum") == 3L)
    assert(r.getAs[Long]("e_micro") == 2000000L)  // 4*4/8
    assert(r.getAs[Long]("v_micro") == 571429L)   // 4/7 rounded
    // ((|3-2| - .5)^2) / (4/7) = 0.4375 -> 437500 micro
    assert(r.getAs[Long]("cmh_micro") == 437500L)
    // single-row strata are excluded: adding one leaves the result alone
    val withSingleton = rows.unionAll(
      Seq(("z", true, true)).toDF("st", "x", "y"))
    val r2 = Insight.cmh(withSingleton, "st", "x", "y").collect().head
    assert(r2.getAs[Long]("n_strata") == 1L &&
      r2.getAs[Long]("cmh_micro") == 437500L)
  }

  test("signFlipTest: deterministic across runs; degenerate all-zero p = 1") {
    val d = (1 to 40).map(i => (i.toLong, (if (i % 3 == 0) 5L else -2L)))
      .toDF("pair", "diff")
    val a = Insight.signFlipTest(d, "pair", "diff", resamples = 50)
      .collect().head
    val b = Insight.signFlipTest(d, "pair", "diff", resamples = 50)
      .collect().head
    assert(a == b) // md5 flips, not RNG
    assert(a.getAs[Long]("n_pairs") == 40)
    assert(a.getAs[Long]("p_ppm") >= 0 && a.getAs[Long]("p_ppm") <= 1000000)
    val z = Seq((1L, 0L), (2L, 0L)).toDF("pair", "diff")
    val rz = Insight.signFlipTest(z, "pair", "diff", resamples = 10)
      .collect().head
    assert(rz.getAs[Long]("p_ppm") == 1000000L) // every |T_b| >= 0 = t_obs
  }

  test("ktruss: K4 survives k=4, pendant and lone triangle peel away") {
    val edges = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L), // K4
      (4L, 5L),                                                   // pendant
      (6L, 7L), (7L, 8L), (6L, 8L)                                // triangle
    ).toDF("src", "dst")
    val out = Graph.ktruss(Graph.undirected(edges), k = 4, iterations = 2).collect()
      .map(r => ((r.getAs[Long]("u"), r.getAs[Long]("v")),
        r.getAs[Long]("support"))).toMap
    assert(out.keySet == Set((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L),
      (2L, 4L), (3L, 4L)))
    assert(out.values.forall(_ == 2L)) // each K4 edge closes 2 triangles
  }

  test("mcnemar: hand-counted discordant pairs; agreement gives null chi2") {
    // 3 rows where A right / B wrong, 1 the reverse, 6 concordant
    val d = (Seq.fill(3)((true, false, true)) ++ Seq((false, true, true)) ++
      Seq.fill(6)((true, true, true))).toDF("a", "b", "y")
    val r = Classify.mcnemar(d, "a", "b", "y").collect().head
    assert(r.getAs[Long]("n") == 10 && r.getAs[Long]("n_b") == 3 &&
      r.getAs[Long]("n_c") == 1)
    assert(r.getAs[Long]("chi2_micro") == 250000L) // (|2|-1)^2/4
    val agree = Seq((true, true, true), (false, false, true)).toDF("a", "b", "y")
    val r2 = Classify.mcnemar(agree, "a", "b", "y").collect().head
    assert(r2.isNullAt(r2.fieldIndex("chi2_micro")))
  }

  test("holt: constant series is a fixed point; hand ramp step") {
    val flat = Seq(("k", 1L, 10000000L), ("k", 2L, 10000000L),
      ("k", 3L, 10000000L)).toDF("key", "t", "x")
    val r = Insight.holt(flat, "key", "t", "x").collect().head
    assert(r.getAs[Long]("level_micro") == 10000000L)
    assert(r.getAs[Long]("trend_micro") == 0L)
    assert(r.getAs[Long]("forecast_micro") == 10000000L)
    val ramp = Seq(("k", 1L, 0L), ("k", 2L, 1000000L)).toDF("key", "t", "x")
    val r2 = Insight.holt(ramp, "key", "t", "x").collect().head
    // l1 = 0.3e6, tr1 = 0.1*0.3e6 = 30000, forecast 330000
    assert(r2.getAs[Long]("level_micro") == 300000L)
    assert(r2.getAs[Long]("trend_micro") == 30000L)
    assert(r2.getAs[Long]("forecast_micro") == 330000L)
  }

  test("walkCorpus: every hop follows an edge; walks are deterministic") {
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))
      .toDF("src", "dst")
    val adj = Set((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val out = Graph.walkCorpus(Graph.undirected(edges), steps = 3,
        walksPerNode = 2)
      .collect().map(r => (r.getAs[Long]("start"),
        r.getAs[Long]("walk_id"), r.getAs[String]("path")))
    assert(out.length == 8) // 4 nodes x 2 walks
    out.foreach { case (start, _, path) =>
      val hops = path.split(" ").map(_.toLong).toSeq
      assert(hops.length == 4 && hops.head == start)
      hops.sliding(2).foreach { p =>
        assert(adj.contains((p(0), p(1))), s"non-edge hop in $path")
      }
    }
    val again = Graph.walkCorpus(Graph.undirected(edges), steps = 3,
        walksPerNode = 2)
      .collect().map(r => (r.getAs[Long]("start"),
        r.getAs[Long]("walk_id"), r.getAs[String]("path")))
    assert(out.toSet == again.toSet) // md5 steps, not RNG
  }

  test("modularity: two disjoint triangles labeled by component give Q = 1/2") {
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (4L, 5L), (5L, 6L), (4L, 6L)).toDF("src", "dst")
    val labels = Seq((1L, 10L), (2L, 10L), (3L, 10L),
      (4L, 20L), (5L, 20L), (6L, 20L)).toDF("id", "community")
    val r = Graph.modularity(edges, labels).collect().head
    assert(r.getAs[Long]("n_vertices") == 6)
    assert(r.getAs[Long]("m_edges") == 6)
    assert(r.getAs[Long]("n_communities") == 2)
    assert(r.getAs[Long]("q_ppm") == 500000L)
  }

  test("modularity: everything in one community gives Q = 0 exactly") {
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L)).toDF("id", "community")
    val r = Graph.modularity(edges, labels).collect().head
    assert(r.getAs[Long]("q_ppm") == 0L) // 4m*m - (2m)^2 = 0
  }

  test("brierDecomposition: perfect classifier and the Murphy identity") {
    val perfect = Seq((1.0, true), (1.0, true), (0.0, false), (0.0, false))
      .toDF("s", "y")
    val p = Classify.brierDecomposition(perfect, "s", "y").collect().head
    assert(p.getAs[Long]("brier_micro") == 0L)
    assert(p.getAs[Long]("rel_micro") == 0L)
    assert(p.getAs[Long]("res_micro") == 250000L)
    assert(p.getAs[Long]("unc_micro") == 250000L)
    assert(p.getAs[Long]("ece_micro") == 0L)
    // uninformative constant 0.5 on a balanced label: brier = 0.25,
    // rel = 0, res = 0, ece = 0
    val flat = Seq((0.5, true), (0.5, false)).toDF("s", "y")
    val f = Classify.brierDecomposition(flat, "s", "y").collect().head
    assert(f.getAs[Long]("brier_micro") == 250000L)
    assert(f.getAs[Long]("rel_micro") == 0L && f.getAs[Long]("res_micro") == 0L)
    // identity brier = rel - res + unc holds to micro truncation
    assert(math.abs(f.getAs[Long]("brier_micro") -
      (f.getAs[Long]("rel_micro") - f.getAs[Long]("res_micro") +
        f.getAs[Long]("unc_micro"))) <= 2L)
  }

  test("conformalCoverage: exact linear relation covers everything at q̂ = 0") {
    val d = (1 to 40).map(i => (i.toLong, i.toLong, 2L * i)).toDF("id", "x", "y")
    val r = Classify.conformalCoverage(d, "x", "y", "id", alphaPpm = 100000L)
      .collect().head
    assert(r.getAs[Long]("n_cal") == 20 && r.getAs[Long]("n_test") == 20)
    // k = ceil(21 * 0.9) = 19 <= 20; all residuals 0
    assert(r.getAs[Long]("k_rank") == 19L)
    assert(r.getAs[Long]("qhat_micro") == 0L)
    assert(r.getAs[Long]("coverage_ppm") == 1000000L)
  }

  test("vocabGrowth: hand curve at 2 checkpoints") {
    val docs = Seq((1L, Seq("a", "b")), (2L, Seq("a", "c")),
      (3L, Seq("a", "b")), (4L, Seq("d"))).toDF("id", "toks")
    val rows = Report.vocabGrowth(docs, "id", "toks", points = 2)
      .orderBy("point").collect()
      .map(r => (r.getAs[Long]("point"), r.getAs[Long]("n_docs"),
        r.getAs[Long]("vocab"), r.getAs[Long]("tokens")))
    assert(rows.toSeq == Seq((1L, 2L, 3L, 4L), (2L, 4L, 4L, 7L)))
  }

  test("vocabGrowth: points > N still emits every checkpoint row") {
    // 3 docs, 10 points: cutoffs 0,0,0,1,1,1,2,2,2,3 — the zero-prefix
    // checkpoints must appear with vocab = tokens = 0, not vanish.
    val docs = Seq((1L, Seq("a", "b")), (2L, Seq("a")), (3L, Seq("c")))
      .toDF("id", "toks")
    val rows = Report.vocabGrowth(docs, "id", "toks", points = 10)
      .orderBy("point").collect()
      .map(r => (r.getAs[Long]("point"), r.getAs[Long]("n_docs"),
        r.getAs[Long]("vocab"), r.getAs[Long]("tokens")))
    assert(rows.length == 10, s"expected all 10 checkpoints, got $rows")
    assert(rows.take(3).forall { case (_, n, v, t) =>
      n == 0L && v == 0L && t == 0L })
    assert(rows(9) == (10L, 3L, 3L, 4L))
  }

  test("brierDecomposition: miscalibrated fixture has nonzero micro-ECE") {
    // constant 0.8 score, half positive: |ȳ − p| = 0.3 → ece 300000;
    // guards the count×micro scale of the __ece rail (a div n·10⁶
    // regression truncates this to 0).
    val d = Seq((0.8, true), (0.8, false), (0.8, true), (0.8, false))
      .toDF("s", "y")
    val r = Classify.brierDecomposition(d, "s", "y").collect().head
    assert(r.getAs[Long]("ece_micro") == 300000L)
    assert(r.getAs[Long]("rel_micro") == 90000L) // 0.3² = 0.09
  }
}
