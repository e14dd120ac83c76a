package graft

import org.scalatest.funsuite.AnyFunSuite

/** Registry discipline guards — process misses promoted to test
  * failures. The r11 round shipped a query (`dedup_lsh_scurve`) in an
  * end-of-round commit with no floor and no verified oracle run; these
  * assertions make that class of landing fail `sbt test` instead of
  * surfacing as a red row in the next round's verdict. */
class RegistrySpec extends AnyFunSuite {

  private lazy val queries = SparkEntry.queries.keySet

  // A Query record carries its oracle, so a query without one cannot be
  // registered; what is left to check is that the SQL is not blank (or
  // null: an oracle val declared below its family's registry).
  test("every registered query has an oracle") {
    val blank = SparkEntry.registry
      .filter(q => q.oracle == null || q.oracle.trim.isEmpty).map(_.name)
    assert(blank.isEmpty, s"queries with a blank oracle: ${blank.sorted}")
  }

  test("every registered query has a recorded performance floor") {
    val floorsFile = new java.io.File("BASELINE_FLOORS.json")
    assume(floorsFile.exists(), "floors file present in repo root")
    val txt = scala.io.Source.fromFile(floorsFile, "UTF-8").mkString
    // one "name": value per line — parsed structurally, no JSON dep
    val keys = "\"([^\"]+)\"\\s*:".r.findAllMatchIn(txt)
      .map(_.group(1)).toSet
    val missing = queries -- keys
    assert(missing.isEmpty,
      s"queries without floors (run Bench with SPARK_GRAFT_ONLY and " +
        s"record min-of-reps): ${missing.toSeq.sorted}")
    val stale = keys -- queries
    assert(stale.isEmpty,
      s"floors for queries that no longer exist: ${stale.toSeq.sorted}")
  }

  // The derived maps keep the last of two equal names, so duplicates are
  // counted on the registry itself: within one family and across them.
  test("no duplicate query names across family files") {
    val dups = SparkEntry.registry.map(_.name)
      .groupBy(identity).filter(_._2.size > 1).keys
    assert(dups.isEmpty,
      s"query names registered more than once: ${dups.toSeq.sorted}")
  }

  test("SPARK_GRAFT_ONLY selects registered queries in registry order") {
    assert(SparkEntry.selectOnly(None).isEmpty)
    assert(SparkEntry.selectOnly(Some(" , ")).isEmpty)
    val e = intercept[IllegalArgumentException] {
      SparkEntry.selectOnly(Some("nosuch"))
    }
    assert(e.getMessage.contains("SPARK_GRAFT_ONLY matched zero queries: nosuch"))
    val picked = SparkEntry.selectOnly(Some("fn_sum, nosuch,pivot_flagship"))
    assert(picked.map(_.map(_.name)) == Some(Seq("pivot_flagship", "fn_sum")))
  }
}
