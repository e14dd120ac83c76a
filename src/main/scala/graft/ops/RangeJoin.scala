package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.GraftShim.materialize
import org.apache.spark.sql.functions._

/** Interval ("range") join: match each point row to the interval rows
  * [start, end] (closed) of the same key that contain its timestamp —
  * attribution windows, session containment, validity-period lookups.
  *
  * Spark plans a raw `ts BETWEEN start AND end` join as a broadcast
  * nested loop (or worse, a cartesian product) — quadratic per key. The
  * scalable shape is time-binning: intervals explode into the fixed-width
  * bins they cover, points map to their single bin, and the join becomes
  * an EQUI-join on (key, bin) that hash-partitions like any other —
  * followed by the exact range predicate. Interval fan-out is
  * ceil(len/binWidth)+1 rows; pick binWidth near the typical interval
  * length so the blow-up stays O(1) per interval. A degenerate
  * never-ending interval would explode — cap interval length upstream or
  * route open intervals to an as-of join instead.
  */
object RangeJoin {

  /** @param points      probe side with a timestamp column
    * @param intervals   interval side; [startTs, endTs] closed on both
    *                    ends, same-key semantics as a BETWEEN join
    * @param pointKey    join key on points
    * @param intervalKey join key on intervals
    * @param ptTs        timestamp column on points
    * @param startTs     interval start column (timestamp)
    * @param endTs       interval end column (timestamp)
    * @param intervalCols interval columns to attach
    * @param binWidthSec bin width in seconds
    */
  def pointInInterval(points: DataFrame, intervals: DataFrame,
                      pointKey: String, intervalKey: String,
                      ptTs: String, startTs: String, endTs: String,
                      intervalCols: Seq[String],
                      binWidthSec: Long): DataFrame = {
    require(binWidthSec > 0, "binWidthSec must be positive")
    val w = binWidthSec * 1000000L // microseconds
    // cast("timestamp") first: parquet TIMESTAMP_NTZ columns are not
    // accepted by unix_micros directly (numeric no-op in a UTC session)
    def micros(c: org.apache.spark.sql.Column) = unix_micros(c.cast("timestamp"))
    val i = intervals.select((Seq(
      col(intervalKey).as("__key"),
      col(startTs).as("__start"), col(endTs).as("__end")) ++
      intervalCols.map(col)): _*)
      // inverted intervals match nothing under BETWEEN — drop them here,
      // or sequence(hi, lo) would generate a DESCENDING bin range
      .filter(col("__start") <= col("__end"))
      .withColumn("__bin", explode(sequence(
        floor(micros(col("__start")) / w),
        floor(micros(col("__end")) / w))))
    val p = points
      .withColumn("__key", col(pointKey))
      .withColumn("__bin", floor(micros(col(ptTs)) / w))
    p.join(i, Seq("__key", "__bin"))
      .filter(col(ptTs) >= col("__start") && col(ptTs) <= col("__end"))
      .drop("__key", "__bin", "__start", "__end")
  }

  /** Interval × interval overlap join: pair interval rows of the same key
    * whose [start, end] ranges intersect (closed ends) — concurrent
    * sessions, campaign/visit attribution, validity-window reconciliation.
    *
    * Both sides explode into their covered bins and equi-join on
    * (key, bin); a pair sharing several bins is emitted ONLY in the first
    * bin both occupy (`bin == max(floor(leftStart/w), floor(rightStart/w))`),
    * so no distinct/dedup shuffle is ever needed. The exact overlap
    * predicate then removes same-bin non-overlaps. Same scalability
    * contract as [[pointInInterval]]: fan-out is ceil(len/binWidth)+1
    * per interval — cap open-ended intervals upstream. */
  def intervalOverlap(left: DataFrame, right: DataFrame,
                      leftKey: String, rightKey: String,
                      leftStart: String, leftEnd: String,
                      rightStart: String, rightEnd: String,
                      rightCols: Seq[String], binWidthSec: Long): DataFrame = {
    require(binWidthSec > 0, "binWidthSec must be positive")
    val w = binWidthSec * 1000000L
    def micros(c: org.apache.spark.sql.Column) = unix_micros(c.cast("timestamp"))
    val reserved = Set("__key", "__bin", "__rstart", "__rend")
    val used = left.columns.toSet ++ Seq(rightKey, rightStart, rightEnd) ++ rightCols
    require((used intersect reserved).isEmpty,
      s"intervalOverlap: ${(used intersect reserved).mkString(", ")} collide " +
        "with reserved internal names")
    // Attached right columns must not shadow left columns — the overlap
    // filter would hit AMBIGUOUS_REFERENCE (or the output would carry
    // duplicate names); same contract as AsOfJoin.asOf.
    val clash = rightCols.toSet intersect left.columns.toSet
    require(clash.isEmpty,
      s"intervalOverlap: rightCols ${clash.mkString(", ")} collide with " +
        "left columns; rename or alias the right side first")
    val l = left
      .filter(col(leftStart) <= col(leftEnd))
      .withColumn("__key", col(leftKey))
      .withColumn("__bin", explode(sequence(
        floor(micros(col(leftStart)) / w), floor(micros(col(leftEnd)) / w))))
    val r = right.select((Seq(
        col(rightKey).as("__key"),
        col(rightStart).as("__rstart"), col(rightEnd).as("__rend")) ++
        rightCols.map(col)): _*)
      .filter(col("__rstart") <= col("__rend"))
      .withColumn("__bin", explode(sequence(
        floor(micros(col("__rstart")) / w), floor(micros(col("__rend")) / w))))
    l.join(r, Seq("__key", "__bin"))
      .filter(col("__bin") === greatest(
        floor(micros(col(leftStart)) / w), floor(micros(col("__rstart")) / w)))
      .filter(col(leftStart) <= col("__rend") && col("__rstart") <= col(leftEnd))
      .drop("__key", "__bin", "__rstart", "__rend")
  }

  /** INTERVAL-UNION COVERAGE per key: total time covered by the UNION
    * of (possibly overlapping, possibly nested) intervals, plus the
    * count of disjoint merged runs — uptime from overlapping incident
    * windows, user active-time from overlapping sessions, effective
    * crawl coverage from retried fetches. The classic sweep, but
    * distributed: one per-key window ordered by (start, end) carries
    * the running max of PRIOR interval ends; each interval then
    * contributes exactly max(0, end − max(start, that running max))
    * µs, so overlap is never double-counted and nested intervals
    * contribute 0 — summing per key needs no second pass. A row
    * starting strictly past every prior end opens a new run. All
    * integer µs (unix_micros grid), exact on any engine.
    *
    * @return (key, n_intervals, n_runs, covered_us, span_us) — span is
    *         max(end) − min(start), so span − covered = the gap mass */
  def intervalCoverage(df: DataFrame, keyCol: String,
                       startCol: String, endCol: String): DataFrame = {
    def micros(c: org.apache.spark.sql.Column) = unix_micros(c.cast("timestamp"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__k").orderBy(col("__s"), col("__e"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        -1)
    df.select(col(keyCol).as("__k"),
        micros(col(startCol)).as("__s"), micros(col(endCol)).as("__e"))
      .filter(col("__k").isNotNull && col("__s").isNotNull &&
        col("__e").isNotNull && col("__s") <= col("__e"))
      .withColumn("__pmax", max("__e").over(w)) // null on the first row
      .withColumn("__cov",
        greatest(col("__e") - greatest(col("__s"),
          coalesce(col("__pmax"), col("__s"))), lit(0L)))
      .withColumn("__new",
        when(col("__pmax").isNull || col("__s") > col("__pmax"), 1L)
          .otherwise(0L))
      .groupBy(col("__k").as("key"))
      .agg(count(lit(1)).as("n_intervals"), sum("__new").as("n_runs"),
        sum("__cov").as("covered_us"),
        (max("__e") - min("__s")).as("span_us"))
  }

  /** CONCURRENCY SWEEP over a set of intervals: peak simultaneous
    * count, busy time, and the time-weighted average depth — the load
    * curve in three numbers (peak sessions, cluster-hour integral,
    * average parallelism). Half-open [s, e) semantics: a span ending
    * exactly when another starts is NOT concurrent with it (ends sort
    * before starts at equal t).
    *
    * Distributed sweep, never a single-partition sort: the ±1
    * boundary events go through [[graft.ops.Rank.rankedPrefixSum]]'s
    * range exchange (one shuffle — rank + running depth together),
    * each boundary finds its successor by a co-keyed self-join on
    * rank+1, and one aggregate folds the constant-depth segments.
    * depth·µs products ride DECIMAL(38,0) (a 10⁶-deep second is
    * already 10¹²; years × millions of spans pass BIGINT). All exact
    * integers.
    *
    * @return one row (n_intervals, peak, covered_us, depth_us_integral,
    *         avg_depth_ppm) — avg over BUSY time (depth > 0) */
  def concurrency(df: DataFrame, startCol: String,
                  endCol: String): DataFrame = {
    def micros(c: org.apache.spark.sql.Column) = unix_micros(c.cast("timestamp"))
    // two boundary projections read it; its job also counts the rows
    val im = materialize(df
      .select(micros(col(startCol)).as("__s"), micros(col(endCol)).as("__e"))
      .filter(col("__s").isNotNull && col("__e").isNotNull &&
        col("__s") <= col("__e")))
    val (iv, n) = (im.df, im.rows)
    val bounds = iv.select(col("__s").as("t"), lit(1L).as("d"))
      .unionAll(iv.select(col("__e").as("t"), lit(-1L).as("d")))
    // self-join both sides
    val ranked = materialize(Rank.rankedPrefixSum(bounds,
      Seq(col("t"), col("d")), "d", rankCol = "__r", cumCol = "depth")).df
    val seg = ranked.as("a")
      .join(ranked.as("b"), col("b.__r") === col("a.__r") + 1)
      .select(col("a.depth").as("depth"),
        (col("b.t") - col("a.t")).as("len"))
    seg
      .agg(max("depth").as("peak"),
        sum(when(col("depth") > 0, col("len")).otherwise(0L))
          .as("covered_us"),
        sum(expr("CAST(depth AS DECIMAL(38,0)) * len"))
          .as("__integral"))
      .select(lit(n).as("n_intervals"), col("peak"), col("covered_us"),
        col("__integral").cast("long").as("depth_us_integral"),
        when(col("covered_us") > 0,
          expr("CAST(__integral * 1000000 div covered_us AS BIGINT)"))
          .as("avg_depth_ppm"))
  }
}
