package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graft.BusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, GraftShim}
import org.apache.spark.sql.GraftShim.Layout
import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
import org.apache.spark.sql.functions._
import graft.ops.BroadcastCap

/** [[GraftShim.materialize]], the one checkpoint primitive of the
  * iterative operators, and [[BroadcastCap]], the one broadcast rule. */
class MaterializeSpec extends SparkSpec {

  /** Jobs started while `body` runs. */
  private def jobs(body: => Unit): Int = {
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    BusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try { body; BusDrain(spark.sparkContext) }
    finally spark.sparkContext.removeSparkListener(listener)
    n.get
  }

  private def shuffles(df: DataFrame): Int =
    df.queryExecution.executedPlan.toString.linesIterator
      .count(l => l.contains("Exchange") && !l.contains("Broadcast"))

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  /** 1000 rows in 4 partitions, no exchange; `v` is null on every 7th
    * row, `i` is an INT. */
  private def frame: DataFrame = spark.range(0, 1000, 1, 4)
    .select(col("id"), (col("id") % 10).as("k"), (col("id") % 3).as("x"),
      when(col("id") % 7 === 0, lit(null)).otherwise(col("id") * 3).as("v"),
      col("id").cast("int").as("i"))

  private val byK = Layout.Hash(Seq("k"))

  test("one job per call: the statistics ride the checkpoint's own job") {
    assert(jobs(GraftShim.materialize(frame)) == 1)
    assert(jobs(GraftShim.materialize(frame, sumCol = Some("v"))) == 1)
    val pid = frame.withColumn("pid", spark_partition_id())
    assert(jobs(GraftShim.materialize(pid, Layout.PidClustered("pid"),
      Some("v"))) == 1)
    // a Hash layout shuffles first; it costs exactly what filling an
    // eager checkpoint of the same repartition costs, nothing more
    val n = spark.sessionState.conf.numShufflePartitions
    val checkpointOnly =
      jobs(frame.repartition(n, col("k")).localCheckpoint(true))
    assert(jobs(GraftShim.materialize(frame, byK, Some("v"))) ==
      checkpointOnly)
    // the spelling it replaces: an eager checkpoint, then a count
    assert(jobs { frame.localCheckpoint(true).count() } > 1)
  }

  test("counts and sums equal count() and sum(), null sum cells as 0") {
    val expectedRows = frame.count()
    val expectedSum = frame.agg(sum("v")).head().getLong(0)
    for (layout <- Seq(Layout.None, byK)) {
      val m = GraftShim.materialize(frame, layout, Some("v"))
      assert(m.rows == expectedRows, s"$layout rows")
      assert(m.sum == expectedSum, s"$layout sum")
      assert(m.counts.length == m.df.rdd.getNumPartitions, s"$layout")
      // every row is its own copy (scans reuse one unsafe-row buffer)
      assert(rows(m.df) == rows(frame), s"$layout contents")
    }
    val noSum = GraftShim.materialize(frame)
    assert(noSum.rows == expectedRows && noSum.sums.forall(_ == 0L))
    val empty =
      GraftShim.materialize(frame.filter(lit(false)), sumCol = Some("v"))
    assert(empty.rows == 0 && empty.sum == 0)
  }

  test("Hash(keys) feeds groupBy(key) and groupBy(key, x) with no exchange") {
    val m = GraftShim.materialize(frame, byK)
    val byKey = m.df.groupBy("k").agg(count(lit(1)).as("c"))
    val byKeyX = m.df.groupBy("k", "x").agg(sum("id").as("s"))
    assert(shuffles(byKey) == 0, byKey.queryExecution.executedPlan.toString)
    assert(shuffles(byKeyX) == 0, byKeyX.queryExecution.executedPlan.toString)
    assert(rows(byKeyX) == rows(frame.groupBy("k", "x").agg(sum("id").as("s"))))
    // without the declared layout the same aggregate re-exchanges
    assert(shuffles(GraftShim.materialize(frame).df.groupBy("k").count()) > 0)
  }

  test("PidClustered counts and sums are the spark_partition_id() groups") {
    val df = frame.repartitionByRange(4, col("id"))
      .withColumn("pid", spark_partition_id())
    val m = GraftShim.materialize(df, Layout.PidClustered("pid"), Some("v"))
    val byPid = m.df.groupBy("pid")
      .agg(count(lit(1)).as("c"), coalesce(sum("v"), lit(0L)).as("s"))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(m.counts.length == 4 && m.counts.count(_ > 0) > 1)
    for (p <- m.counts.indices)
      assert((m.counts(p), m.sums(p)) == byPid.getOrElse(p, (0L, 0L)),
        s"pid $p")
    // the declared clustering serves a pid-partitioned window as is
    val w = org.apache.spark.sql.expressions.Window.partitionBy("pid")
      .orderBy("id")
    assert(shuffles(m.df.withColumn("rn", row_number().over(w))) == 0)
  }

  test("non-BIGINT sum column and missing columns fail before any job") {
    val bad = Seq[(String, () => Any)](
      "must be BIGINT" -> (() =>
        GraftShim.materialize(frame, sumCol = Some("i"))),
      "no column nope" -> (() =>
        GraftShim.materialize(frame, sumCol = Some("nope"))),
      "no column nope" -> (() =>
        GraftShim.materialize(frame, Layout.PidClustered("nope"))),
      "partitioning key" -> (() => Layout.Hash(Nil)))
    for ((msg, call) <- bad) {
      var e: IllegalArgumentException = null
      assert(jobs { e = intercept[IllegalArgumentException](call()) } == 0, msg)
      assert(e.getMessage.contains(msg), e.getMessage)
    }
  }

  test("the broadcast cap: 4M rows broadcast, one more row does not") {
    assert(BroadcastCap.Rows == 4194304L)
    assert(BroadcastCap.fits(BroadcastCap.Rows))
    assert(!BroadcastCap.fits(BroadcastCap.Rows + 1))
    def hinted(df: DataFrame) = df.queryExecution.analyzed.collectFirst {
      case h: ResolvedHint => h.hints.strategy.map(_.toString)
    }.flatten
    assert(hinted(BroadcastCap.hint(frame, BroadcastCap.Rows))
      .contains("broadcast"))
    assert(hinted(BroadcastCap.hint(frame, BroadcastCap.Rows + 1)).isEmpty)
  }
}
