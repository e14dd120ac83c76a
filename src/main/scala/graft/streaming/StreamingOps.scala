package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Windowed transforms for the events stream shape
  * (event_id, ts, user_id, event_type, value, props).
  *
  * Each transform takes a streaming OR batch DataFrame: the plan is
  * declarative, so the same code runs over `spark.readStream` and over
  * `spark.read`. The registered queries run them on the batch events
  * table, where Spark's optimizer drops the watermark; StreamingSpec runs
  * them micro-batched and pins the emitted rows to the batch run.
  *
  * Watermarks bound state: a windowed aggregation drops a window's state
  * once the watermark passes the window end, and events later than the
  * watermark are dropped rather than growing the state store.
  */
object StreamingOps {

  /** The pivot operator under a watermarked tumbling window: the batch
    * pivot's cell semantics as one-pass (cell × aggregate) conditional
    * aggregates ([[graft.pivot.PivotOps.cellColumns]] — a streaming
    * aggregation cannot chain the batch pivot's two phases), one
    * cross-tab row per (window, pivot-row key), emitted when the
    * watermark closes the window. Off-list values feed no cell
    * (skip-error semantics — error routing needs the whole group, which
    * append-mode streaming only has at window close, so the other
    * on-error modes stay batch-only).
    *
    * FIRST/LAST remain arrival-order-dependent, as in batch. */
  def pivotStream(events: DataFrame, spec: graft.pivot.PivotSpec,
                  tsCol: String = "ts", window_ : String = "1 hour",
                  lateness: String = "15 minutes"): DataFrame = {
    spec.validateOrThrow(events.schema)
    val cells = graft.pivot.PivotOps.cellColumns(spec, events.schema)
    events
      .withWatermark(tsCol, lateness)
      .groupBy((window(col(tsCol), window_).as("w") +:
        spec.pivotRows.map(col)): _*)
      .agg(cells.head, cells.tail: _*)
      .withColumn("window_start", col("w.start"))
      .drop("w")
  }

  /** Distinct-count sketches per watermarked (window × keys) slice: each
    * slice aggregates its values into ONE fixed-size DataSketches HLL
    * sketch row. The emitted table has the shape
    * [[graft.ops.Profile.hllSketches]] persists, and sketch union is
    * associative, so slices mix freely in one
    * [[graft.ops.Profile.hllRollup]]. State per open group is one HLL
    * register set (~2^lgK bytes), dropped at window close. */
  def hllSketchStream(events: DataFrame, keys: Seq[String], valueCol: String,
                      tsCol: String = "ts", window_ : String = "1 day",
                      lateness: String = "15 minutes",
                      lgK: Int = 12): DataFrame =
    events
      .withWatermark(tsCol, lateness)
      .groupBy((window(col(tsCol), window_).as("w") +: keys.map(col)): _*)
      .agg(hll_sketch_agg(col(valueCol), lgK).as("hll"))
      .withColumn("window_start", col("w.start"))
      .drop("w")

  /** Quantile sketches per watermarked (window × keys) slice: one
    * DataSketches KLL sketch row via the [[graft.functions.KllSketchAgg]]
    * TypedImperativeAggregate (streaming aggregation needs a true
    * incremental aggregate; a mapPartitions pre-pass cannot watermark).
    * Rows are byte-compatible with [[graft.ops.Profile.kllSketches]], so
    * slices mix freely in one [[graft.ops.Profile.kllQuantiles]] rollup.
    * State per open group is one ~KB sketch, dropped at window close. */
  def kllSketchStream(events: DataFrame, keys: Seq[String], valueCol: String,
                      tsCol: String = "ts", window_ : String = "1 day",
                      lateness: String = "15 minutes",
                      k: Int = 200): DataFrame = {
    events
      .withWatermark(tsCol, lateness)
      .groupBy((window(col(tsCol), window_).as("w") +: keys.map(col)): _*)
      .agg(graft.ops.Profile.kllAgg(col(valueCol), k).as("kll"))
      .withColumn("window_start", col("w.start"))
      .drop("w")
  }

  /** Windowed top-k, the windowed form of [[graft.ops.Rank.topNPerGroup]]:
    * per watermarked (window × keys) group, the k highest-`scoreCol` rows
    * (ties broken by ascending `idCol`), emitted when the watermark
    * closes the window. The ranking state is the bounded
    * [[graft.functions.TopKAggregator]] buffer — at most k (score, id)
    * entries per open group, merged incrementally across micro-batches
    * exactly like its batch map-side partials.
    * Returns (window_start, keys…, rank, id, score). */
  def topKStream(events: DataFrame, keys: Seq[String], scoreCol: String,
                 idCol: String, k: Int, tsCol: String = "ts",
                 window_ : String = "1 day",
                 lateness: String = "15 minutes"): DataFrame = {
    import graft.functions.TopKAggregator
    val topk = udaf(new TopKAggregator(k), TopKAggregator.inputEncoder)
    events
      .withWatermark(tsCol, lateness)
      .groupBy((window(col(tsCol), window_).as("w") +: keys.map(col)): _*)
      .agg(topk(col(scoreCol).cast("double"), col(idCol).cast("long")).as("top"))
      .withColumn("window_start", col("w.start"))
      .drop("w")
      .select(col("window_start") +: keys.map(col) :+
        posexplode(col("top")).as(Seq("r0", "s")): _*)
      .select(col("window_start") +: keys.map(col) :+
        (col("r0") + 1).cast("int").as("rank") :+
        col("s.id").as("id") :+ col("s.sim").as("score"): _*)
  }

  /** Gap-based sessionization over a batch events table: events of one
    * user belong to a session until a gap > `gapMs` (gap → new-session
    * flag → cumulative session id, via window functions). */
  def sessionizeBatch(events: DataFrame, gapMs: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy("user_id").orderBy("ts")
    val sess = events
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_sess",
        // cast only inside the gap arithmetic: unix_millis rejects
        // TIMESTAMP_NTZ (what parquet TIMESTAMP columns read as), and
        // the NTZ->TIMESTAMP cast is value-preserving in the UTC
        // session; start/end keep the input's own timestamp flavor
        (col("prev_ts").isNull ||
          unix_millis(col("ts").cast("timestamp")) -
            unix_millis(col("prev_ts").cast("timestamp")) > gapMs)
          .cast("long"))
      .withColumn("sess_id", sum("new_sess").over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    sess.groupBy("user_id", "sess_id")
      .agg(min("ts").as("start"), max("ts").as("end"),
        count(lit(1)).as("n_events"), sum("value").as("total_value"))
      .drop("sess_id")
  }
}
