package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.ops.Sample

/** Property tests for the sampling family: the determinism, nesting and
  * budget CONTRACTS every training-data experiment relies on, checked
  * on random datasets and random parameters (deterministic ScalaCheck
  * seeds), across random repartitionings — the properties must be
  * functions of the DATA only, never of the physical layout. */
class SamplePropertySpec extends SparkSpec {

  import spark.implicits._

  private val genRows: Gen[List[(Long, String, Long)]] =
    Gen.listOfN(120, for {
      id <- Gen.choose(0L, 5000L)
      st <- Gen.oneOf("a", "b", "c")
      w <- Gen.choose(1L, 500L)
    } yield (id, st, w)).map(_.distinctBy(_._1))

  private def fromSeed(n: Long): List[(Long, String, Long)] =
    genRows(Gen.Parameters.default, Seed(n)).get

  test("deterministic sampling nests: pct% sample ⊆ (pct+k)% sample, any layout") {
    for (seed <- 1L to 5L) {
      val rows = fromSeed(seed)
      val df = rows.toDF("id", "st", "w")
      val lo = (seed % 50 + 10).toInt
      val hi = math.min(lo + 20, 100)
      val a = Sample.stratified(df, "id", "st", Map.empty, lo)
        .select("id").collect().map(_.getLong(0)).toSet
      val b = Sample.stratified(df.repartition(7), "id", "st", Map.empty, hi)
        .select("id").collect().map(_.getLong(0)).toSet
      assert(a.subsetOf(b), s"seed=$seed: $lo% must nest in $hi%")
      // and the selection is layout-independent
      val a2 = Sample.stratified(df.repartition(3, col("st")), "id", "st", Map.empty, lo)
        .select("id").collect().map(_.getLong(0)).toSet
      assert(a == a2, s"seed=$seed: layout changed the sample")
    }
  }

  test("priority sampling: budget, nesting and estimator floor on random data") {
    for (seed <- 1L to 5L) {
      val rows = fromSeed(seed)
      val df = rows.toDF("id", "st", "w")
      val n = (seed % 7 + 3).toInt
      val s1 = Sample.priorityPerStratum(df, "id", "st", "w", n)
      val s2 = Sample.priorityPerStratum(df.repartition(5), "id", "st", "w", n + 1)
      val counts = df.groupBy("st").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val got = s1.groupBy("st").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      counts.foreach { case (st, c) =>
        assert(got.getOrElse(st, 0L) == math.min(n.toLong, c), s"seed=$seed $st")
      }
      val ids1 = s1.select("id").collect().map(_.getLong(0)).toSet
      val ids2 = s2.select("id").collect().map(_.getLong(0)).toSet
      assert(ids1.subsetOf(ids2), s"seed=$seed: top-$n must nest in top-${n + 1}")
      assert(s1.filter(col("w_est") < col("w").cast("double")).count() == 0)
    }
  }

  test("mixture: proportions respected without upsampling on random weights") {
    for (seed <- 11L to 13L) {
      val rows = fromSeed(seed)
      val df = rows.toDF("id", "st", "w")
      val weights = Map("a" -> 0.5, "b" -> 0.25, "c" -> 0.25)
      val out = Sample.mixture(df, "id", "st", weights)
      val total = out.count().toDouble
      if (total >= 20) {
        val shares = out.groupBy("st").count().collect()
          .map(r => r.getString(0) -> r.getLong(1) / total).toMap
        weights.foreach { case (st, wt) =>
          val sh = shares.getOrElse(st, 0.0)
          assert(math.abs(sh - wt) < 0.25,
            s"seed=$seed $st share $sh vs target $wt")
        }
      }
      // no stratum upsampled beyond its population
      val pop = df.groupBy("st").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      out.groupBy("st").count().collect().foreach { r =>
        assert(r.getLong(1) <= pop(r.getString(0)))
      }
    }
  }

  test("negativeSamplingTable: 3/4-power weights, exact cum rail, minCount") {
    // counts: a=16 (w=8.0), b=4 (w=2.828427...), c=1 (pruned at minCount 2)
    val docs = (Seq.fill(16)("a") ++ Seq.fill(4)("b") ++ Seq("c"))
      .map(Tuple1(_)).toDF("text")
    val out = Sample.negativeSamplingTable(docs, "text", minCount = 2L)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(out.keySet == Set("a", "b"))
    // 16^0.75 = 8 exactly; 4^0.75 = 2*sqrt(2) -> floor micro of the
    // correctly-rounded double (JVM and oracle agree bit-for-bit)
    val wb = math.floor(math.sqrt(4.0 * math.sqrt(4.0)) * 1e6 + 0.5).toLong
    assert(out("a") == (16L, 8000000L,
      8000000L * 1000000000L / (8000000L + wb), 8000000L))
    assert(out("b")._2 == wb && out("b")._4 == 8000000L + wb)
    // cum under (weight DESC, token) is inclusive and gapless: the
    // last token's cum equals the weight total
    val full = Sample.negativeSamplingTable(docs, "text", minCount = 1L)
      .orderBy(col("cum_weight")).collect()
    val tot = full.map(_.getLong(2)).sum
    assert(full.last.getLong(4) == tot)
    assert(full.map(_.getLong(4)).toSeq ==
      full.map(_.getLong(2)).scanLeft(0L)(_ + _).tail.toSeq)
  }
}
