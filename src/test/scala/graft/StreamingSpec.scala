package graft

import java.sql.Timestamp

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.ops.Importance
import graft.streaming.StreamingOps

/** One event of the events stream shape, as MemoryStream rows. */
final case class UserEvent(user_id: Long, ts: Timestamp, event_type: String,
                           value: Double)

/** Structured-Streaming specs driven through MemoryStream: the windowed
  * operators and stateless per-row gates emit, micro-batched, what the
  * same transform gives on the batch table. */
class StreamingSpec extends SparkSpec {

  import spark.implicits._

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2026-01-01 10:$minute%02d:00")

  test("streaming pivot rejects an invalid spec before it starts") {
    implicit val ctx = spark.sqlContext
    val bad = graft.pivot.PivotSpec.parse("user_id", "event_type=click,view",
      "n:count(*), v:sum(missing)").toOption.get
    val e = intercept[IllegalArgumentException] {
      StreamingOps.pivotStream(MemoryStream[UserEvent].toDF(), bad)
    }
    assert(e.getMessage.startsWith("Invalid pivot spec:\n  "))
    assert(e.getMessage.contains(
      "Field name missing for function v does not exist in input schema."))
  }

  test("streaming pivot emits the batch cross-tab per closed window") {
    implicit val ctx = spark.sqlContext
    val spec = graft.pivot.PivotSpec.parse("user_id", "event_type=click,view",
      "n:count(*), v:sum(value)").toOption.get
    val input = MemoryStream[UserEvent]
    val q = StreamingOps.pivotStream(input.toDF(), spec,
        window_ = "10 minutes", lateness = "5 minutes")
      .writeStream.format("memory").queryName("pv").outputMode("append").start()
    try {
      val batch1 = Seq(
        UserEvent(1, ts(1), "click", 1.0), UserEvent(1, ts(2), "view", 2.0),
        UserEvent(1, ts(3), "click", 4.0), UserEvent(2, ts(4), "click", 8.0),
        UserEvent(2, ts(5), "scroll", 16.0)) // off-list: feeds no cell
      input.addData(batch1: _*)
      q.processAllAvailable()
      input.addData(UserEvent(3, Timestamp.valueOf("2026-01-01 11:30:00"), "click", 1.0))
      q.processAllAvailable() // watermark closes the 10:00 window
      val got = spark.table("pv")
        .select("user_id", "click_n", "view_n", "click_v", "view_v")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          Option(r.get(3)), Option(r.get(4)))).toSet
      // batch twin over the same window's events
      val batchPivot = graft.pivot.PivotOps.pivot(
        batch1.toDF(), spec).main
        .select("user_id", "click_n", "view_n", "click_v", "view_v")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          Option(r.get(3)), Option(r.get(4)))).toSet
      assert(got == batchPivot)
      assert(got == Set(
        (1L, 2L, 1L, Some(5.0), Some(2.0)),
        (2L, 1L, 0L, Some(8.0), None))) // off-list scroll fed no cell
    } finally q.stop()
  }

  test("streaming HLL sketches equal the one-shot batch sketches") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[UserEvent]
    val q = StreamingOps.hllSketchStream(input.toDF(), Seq("event_type"),
        "user_id", window_ = "10 minutes", lateness = "5 minutes")
      .writeStream.format("memory").queryName("hll").outputMode("append").start()
    val batch1 = (1 to 40).map(i =>
      UserEvent(i % 13, ts(i % 9), if (i % 2 == 0) "click" else "view", 1.0))
    val batch2 = (1 to 40).map(i =>
      UserEvent(i % 7, ts(i % 9), if (i % 3 == 0) "click" else "view", 1.0))
    try {
      // two micro-batches -> incremental register merges in the state store
      input.addData(batch1: _*)
      q.processAllAvailable()
      input.addData(batch2: _*)
      q.processAllAvailable()
      // close the 10:00 window
      input.addData(UserEvent(99, Timestamp.valueOf("2026-01-01 11:30:00"), "click", 1.0))
      q.processAllAvailable()
      val streamed = spark.table("hll")
        .filter(col("window_start") === "2026-01-01 10:00:00")
        .select(col("event_type"),
          hll_sketch_estimate(col("hll")).as("est"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      // one-shot batch run of the SAME declarative transform
      val batchDf = (batch1 ++ batch2).toDF()
      val expected = StreamingOps.hllSketchStream(batchDf, Seq("event_type"),
          "user_id", window_ = "10 minutes", lateness = "5 minutes")
        .select(col("event_type"), hll_sketch_estimate(col("hll")).as("est"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(streamed == expected)
      // exactness check well below 2^lgK distincts: estimates are exact
      assert(streamed("click") == batch1.filter(_.event_type == "click")
        .map(_.user_id).toSet.union(
          batch2.filter(_.event_type == "click").map(_.user_id).toSet).size)
      // live slices union with batch slices in one rollup (kappa mix)
      val rolled = graft.ops.Profile.hllRollup(
        spark.table("hll").select("event_type", "hll").unionAll(
          StreamingOps.hllSketchStream(batchDf, Seq("event_type"), "user_id",
            window_ = "10 minutes").select("event_type", "hll")),
        Seq("event_type"))
      assert(rolled.count() == 2) // click + view, sketches merged cleanly
    } finally q.stop()
  }

  test("streaming KLL sketches: cross-micro-batch quantiles within rank bound") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[UserEvent]
    val q = StreamingOps.kllSketchStream(input.toDF(), Seq("event_type"),
        "value", window_ = "10 minutes", lateness = "5 minutes")
      .writeStream.format("memory").queryName("kllw").outputMode("append").start()
    val batch1 = (1 to 60).map(i =>
      UserEvent(i, ts(i % 9), if (i % 2 == 0) "click" else "view", i.toDouble))
    val batch2 = (61 to 120).map(i =>
      UserEvent(i, ts(i % 9), if (i % 2 == 0) "click" else "view", i.toDouble))
    try {
      input.addData(batch1: _*)
      q.processAllAvailable()
      input.addData(batch2: _*)
      q.processAllAvailable()
      input.addData(UserEvent(999, Timestamp.valueOf("2026-01-01 11:30:00"), "click", 1.0))
      q.processAllAvailable()
      // live slices + a batch slice merge in ONE kllQuantiles rollup
      val live = spark.table("kllw")
        .filter(col("window_start") === "2026-01-01 10:00:00")
        .select(col("event_type"), col("kll"))
      val est = graft.ops.Profile.kllQuantiles(live, Seq.empty, Seq(0.5))
        .head()
      val vals = (batch1 ++ batch2).map(_.value).sorted
      assert(est.getLong(0) == vals.size.toLong, "KLL n is lossless")
      val eps = graft.ops.Profile.kllRankError(200) * 3
      val lo = vals(math.max(math.ceil((0.5 - eps) * vals.size).toInt - 1, 0))
      val hi = vals(math.min(math.ceil((0.5 + eps) * vals.size).toInt - 1,
        vals.size - 1))
      assert(est.getDouble(1) >= lo && est.getDouble(1) <= hi,
        s"p50=${est.getDouble(1)} not in [$lo, $hi]")
    } finally q.stop()
  }

  test("perplexityCol gates a stream statelessly (no watermark, no state)") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val model = Importance.bucketLogProbs(
      Seq(Tuple1("alpha beta alpha beta alpha")).toDF("text"), "text", 2, 1024)
    val arr = Importance.modelToArray(model)
    val src = input.toDF().toDF("doc_id", "text")
    val gated = src
      .select(col("doc_id"), col("text"),
        Importance.perplexityCol(src, "text", arr).as("s"))
      .filter(col("s.ppl") <= 1000)
    val q = gated.writeStream.format("memory").queryName("pplgate")
      .outputMode("append").start()
    try {
      input.addData((1L, "alpha beta alpha"), (2L, "delta epsilon zeta eta"))
      q.processAllAvailable()
      val kept = spark.table("pplgate").select("doc_id")
        .collect().map(_.getLong(0)).toSet
      assert(kept == Set(1L), s"only the in-distribution doc passes: $kept")
      // batch twin: identical scores for identical rows
      val batch = Seq((1L, "alpha beta alpha")).toDF("doc_id", "text")
      val b = batch.select(
        Importance.perplexityCol(batch, "text", arr).getField("ppl"))
        .head.getDouble(0)
      val s = spark.table("pplgate").filter(col("doc_id") === 1L)
        .select("s.ppl").head.getDouble(0)
      assert(b == s)
    } finally q.stop()
  }

  test("knPerplexityCol gates a stream statelessly, bit-equal to batch") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val m = Importance.trainKnBigram(
      Seq((0L, "alpha beta alpha beta alpha")).toDF("id", "text"),
      "text", "id", sampleN = 4)
    val src = input.toDF().toDF("doc_id", "text")
    val scored = src.select(col("doc_id"),
      Importance.knPerplexityCol(src, "text", m).as("s"))
    val q = scored.writeStream.format("memory").queryName("kngate")
      .outputMode("append").start()
    try {
      input.addData((1L, "alpha beta alpha"), (2L, "delta epsilon zeta"))
      q.processAllAvailable()
      val live = spark.table("kngate")
        .collect().map(r => r.getLong(0) ->
          r.getStruct(1).getDouble(1)).toMap
      // in-distribution beats OOV soup through the same gate
      assert(live(1L) < live(2L), s"kn gate ordering: $live")
      // batch twin scores bit-identically row for row
      val batch = Seq((1L, "alpha beta alpha"), (2L, "delta epsilon zeta"))
        .toDF("doc_id", "text")
      val b = batch.select(col("doc_id"),
          Importance.knPerplexityCol(batch, "text", m).getField("ppl"))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(b == live)
    } finally q.stop()
  }

  test("streaming windowed top-k equals the batch transform across micro-batches") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[UserEvent]
    val q = StreamingOps.topKStream(input.toDF(), Seq("event_type"),
        "value", "user_id", k = 2, window_ = "10 minutes",
        lateness = "5 minutes")
      .writeStream.format("memory").queryName("topk").outputMode("append").start()
    // values chosen so the final top-2 needs entries from BOTH batches
    // (the state buffer must merge across micro-batches, not reset)
    val batch1 = Seq(UserEvent(11, ts(1), "click", 5.0),
      UserEvent(12, ts(2), "click", 1.0), UserEvent(13, ts(3), "view", 9.0))
    val batch2 = Seq(UserEvent(14, ts(4), "click", 7.0),
      UserEvent(15, ts(5), "click", 0.5), UserEvent(16, ts(6), "view", 2.0))
    try {
      input.addData(batch1: _*)
      q.processAllAvailable()
      input.addData(batch2: _*)
      q.processAllAvailable()
      input.addData(UserEvent(99, Timestamp.valueOf("2026-01-01 11:30:00"), "click", 1.0))
      q.processAllAvailable() // close the 10:00 window
      val streamed = spark.table("topk")
        .filter(col("window_start") === "2026-01-01 10:00:00")
        .select("event_type", "rank", "id", "score")
        .collect().map(_.toString).sorted.toSeq
      val expected = StreamingOps.topKStream((batch1 ++ batch2).toDF(),
          Seq("event_type"), "value", "user_id", k = 2,
          window_ = "10 minutes", lateness = "5 minutes")
        .select("event_type", "rank", "id", "score")
        .collect().map(_.toString).sorted.toSeq
      assert(streamed == expected)
      // top-2 clicks: 14 (7.0) then 11 (5.0) — one from each micro-batch
      assert(streamed.contains(Row("click", 1, 14L, 7.0).toString))
      assert(streamed.contains(Row("click", 2, 11L, 5.0).toString))
    } finally q.stop()
  }

  test("batch sessionizer agrees with the session definition") {
    val events = Seq(
      (7L, ts(1), 1.0), (7L, Timestamp.valueOf("2026-01-01 10:01:30"), 2.0),
      (7L, ts(10), 5.0), (9L, ts(2), 4.0)
    ).toDF("user_id", "ts", "value")
    val out = StreamingOps.sessionizeBatch(events, 60 * 1000L)
      .orderBy("user_id", "start")
      .select("user_id", "n_events", "total_value")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.toSeq == Seq((7L, 2L, 3.0), (7L, 1L, 5.0), (9L, 1L, 4.0)))
  }
}
