package graft

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.ops.{Graph, Profile, TextFunctions}
import graft.streaming.StreamingOps

/** Operators build graft's expressions directly, so they give the same
  * rows on a session whose function registry has no `graft_*` names
  * (no `spark.sql.extensions`) as on the configured test session. */
class UnconfiguredSessionSpec extends SparkSpec {

  /** A session sharing the test context, with every `graft_*` function
    * dropped from its own registry. */
  private lazy val bare: SparkSession = {
    val s = spark.newSession().asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val registry = s.sessionState.functionRegistry
    registry.listFunction().filter(_.funcName.startsWith("graft_"))
      .foreach(registry.dropFunction)
    s
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("the bare session has no graft_* functions") {
    assert(spark.catalog.functionExists("graft_deflate_size"))
    Seq("graft_deflate_size", "graft_kll_agg", "graft_sorted_intersect_count")
      .foreach(f => assert(!bare.catalog.functionExists(f), f))
  }

  test("deflateSize: same rows on the bare session") {
    def run(s: SparkSession) = s.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), TextFunctions.deflateSize(col("text")).as("r"))
    val got = rows(run(bare))
    assert(got.nonEmpty)
    assert(got == rows(run(spark)))
  }

  test("kllSketchStream: same sketches on the bare session, batch-driven") {
    // fewer than k = 200 values per slice: the sketches stay exact, so
    // both sessions must report identical counts and quantiles
    val events = (1 to 120).map(i =>
      (new Timestamp(1700000000000L + (i % 9) * 60000L),
        if (i % 2 == 0) "click" else "view", i.toDouble))
    def run(s: SparkSession, name: String): Seq[String] = {
      implicit val ctx = s.sqlContext
      import s.implicits._
      val input = MemoryStream[(Timestamp, String, Double)]
      val q = StreamingOps.kllSketchStream(
          input.toDF().toDF("ts", "event_type", "value"), Seq("event_type"),
          "value", window_ = "10 minutes", lateness = "5 minutes")
        .writeStream.format("memory").queryName(name).outputMode("append")
        .start()
      try {
        input.addData(events: _*)
        q.processAllAvailable()
        // advance the watermark past both windows so they are emitted
        input.addData((new Timestamp(1700000000000L + 3600000L), "click", 1.0))
        q.processAllAvailable()
      } finally q.stop()
      rows(Profile.kllQuantiles(s.table(name),
        Seq("window_start", "event_type"), Seq(0.1, 0.5, 0.9, 1.0)))
    }
    val got = run(bare, "kll_bare")
    assert(got.size == 4) // two 10-minute windows × two event types
    assert(got == run(spark, "kll_configured"))
  }

  test("triangleStats: same rows on the bare session") {
    def run(s: SparkSession) = {
      import s.implicits._
      val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L),
        (5L, 3L), (1L, 4L), (2L, 2L), (6L, 7L)).toDF("src", "dst")
      Graph.triangleStats(Graph.undirected(edges))
    }
    val got = rows(run(bare))
    assert(got.size == 1)
    assert(got == rows(run(spark)))
  }
}
