package graft.ops

import org.apache.spark.sql.{Column, DataFrame, GraftShim}
import org.apache.spark.sql.functions._
import graft.functions.KllSketchAgg

/** Column profiling for pipeline data-quality gates: one row per profiled
  * column with counts, null counts, range, moments and exact quantiles.
  *
  * Exact `percentile` is used (not approx_percentile) so results are
  * engine-portable and oracle-checkable; it aggregates a per-group sorted
  * buffer, which is fine for per-column profiling (one group per column).
  * For profiling at extreme cardinality swap in approx_percentile and
  * accept sketch-dependent output. All columns are profiled in ONE pass
  * over the table (a single aggregate, no shuffle beyond the 1-row
  * reduction).
  */
object Profile {

  /** Benford first-digit reference distribution, ppm, hardcoded so
    * both engines compare against the SAME integers (computing
    * log10(1+1/d) at runtime risks an ulp landing a rounding boundary
    * differently per libm). The nine values sum to exactly 10⁶. */
  val BenfordPpm: Map[Int, Long] = Map(
    1 -> 301030L, 2 -> 176091L, 3 -> 124939L, 4 -> 96910L, 5 -> 79181L,
    6 -> 66947L, 7 -> 57992L, 8 -> 51153L, 9 -> 45757L)

  /** BENFORD first-significant-digit audit of a numeric column — the
    * classic fabricated-data / unit-mixing signal: organically grown
    * magnitudes (prices, populations, file sizes) start with 1 ~30%
    * of the time; uniform or hand-typed numbers don't. Emits one row
    * per digit with exact counts, the observed share in integer ppm,
    * the hardcoded Benford reference, and the signed deviation — the
    * χ²-free spelling that stays engine-exact (the consumer applies
    * whatever test it likes to exact integers).
    *
    * The first significant digit comes from the value's string
    * rendering (both engines print doubles in shortest-round-trip
    * form, so the digit sequences agree; '-', '0.', and 'E' prefixes
    * are skipped by matching the first [1-9]). Zero/null rows carry no
    * significant digit and are excluded from the denominator. One
    * map-side-combinable count; the total is a window over ≤9 rows. */
  def benford(df: DataFrame, valueCol: String): DataFrame = {
    val digit = regexp_extract(col(valueCol).cast("string"), "[1-9]", 0)
    val counts = df.select(digit.as("d"))
      .filter(col("d") =!= "")
      .groupBy(col("d").cast("int").as("digit"))
      .agg(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy()
    counts
      .withColumn("__t", sum("n").over(w))
      .select(col("digit"), col("n"),
        expr("n * 1000000 DIV __t").as("observed_ppm"),
        element_at(typedlit(BenfordPpm), col("digit")).as("benford_ppm"))
      .withColumn("dev_ppm", col("observed_ppm") - col("benford_ppm"))
  }

  /** Pairwise PEARSON correlation matrix over numeric columns in ONE
    * aggregate pass: every Σx, Σx², Σxy partial is map-side
    * combinable, the single result row explodes into C(k,2) pair
    * rows — one scan and one 1-row shuffle regardless of row count,
    * never a pass per pair. r is computed from the raw-moment identity
    * (n·Σxy − ΣxΣy)/√(…); the sample/population factor cancels, and
    * the float-cast output absorbs sum-order ulps (the repo
    * convention). Rows where EITHER column is null are excluded
    * per-pair (pairwise deletion); a zero-variance side yields null. */
  def corrMatrix(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, "need at least two columns")
    val pairs = for {
      i <- cols.indices; j <- (i + 1) until cols.size
    } yield (cols(i), cols(j))
    val aggs = pairs.flatMap { case (a, b) =>
      val x = col(a).cast("double")
      val y = col(b).cast("double")
      val both = x.isNotNull && y.isNotNull
      val xv = when(both, x)
      val yv = when(both, y)
      Seq(
        count(when(both, 1)).as(s"n_${a}_$b"),
        sum(xv).as(s"sx_${a}_$b"), sum(yv).as(s"sy_${a}_$b"),
        sum(xv * xv).as(s"sxx_${a}_$b"), sum(yv * yv).as(s"syy_${a}_$b"),
        sum(xv * yv).as(s"sxy_${a}_$b"))
    }
    val row = df.agg(aggs.head, aggs.tail: _*)
    val pairStructs = pairs.map { case (a, b) =>
      val s = s"${a}_$b"
      val n = col(s"n_$s").cast("double")
      val num = n * col(s"sxy_$s") - col(s"sx_$s") * col(s"sy_$s")
      val dx = n * col(s"sxx_$s") - col(s"sx_$s") * col(s"sx_$s")
      val dy = n * col(s"syy_$s") - col(s"sy_$s") * col(s"sy_$s")
      struct(lit(a).as("col_x"), lit(b).as("col_y"),
        col(s"n_$s").as("n"),
        when(dx > 0 && dy > 0, (num / sqrt(dx * dy)).cast("float"))
          .as("corr"))
    }
    row.select(explode(array(pairStructs: _*)).as("p")).select("p.*")
  }

  /** Profile the given numeric columns; returns
    * (column, n, nulls, min, max, mean, p25, p50, p95). */
  def numeric(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = cols.flatMap { c =>
      Seq(
        count(col(c)).as(s"${c}__n"),
        // count-difference, not sum(isNull): stays 0 (not NULL) on an
        // empty input, matching the oracle's count(*) - count(col)
        (count(lit(1)) - count(col(c))).as(s"${c}__nulls"),
        min(col(c)).cast("double").as(s"${c}__min"),
        max(col(c)).cast("double").as(s"${c}__max"),
        avg(col(c)).as(s"${c}__mean"),
        // one buffering Percentile per column (array form), not three —
        // the exact percentile buffers every row on the single global-
        // aggregate reducer, so buffer count is the cost driver
        percentile(col(c), array(lit(0.25), lit(0.5), lit(0.95)))
          .as(s"${c}__ps"))
    }
    val wide = df.agg(aggs.head, aggs.tail: _*)
    // unpivot to one row per column
    val structs = cols.map { c =>
      struct(lit(c).as("column"),
        col(s"${c}__n").as("n"), col(s"${c}__nulls").as("nulls"),
        col(s"${c}__min").as("min"), col(s"${c}__max").as("max"),
        col(s"${c}__mean").as("mean"), col(s"${c}__ps")(0).as("p25"),
        col(s"${c}__ps")(1).as("p50"), col(s"${c}__ps")(2).as("p95"))
    }
    wide.select(explode(array(structs: _*)).as("p")).select("p.*")
  }

  /** Higher-moment profile: population skewness and excess kurtosis per
    * column — Spark's `skewness`/`kurtosis` built-ins, which is exactly
    * what the reference's dead `RunningStats` class computes (Welford +
    * third/fourth moments, reference:
    * src/main/java/io/cdap/plugin/aggregator/function/RunningStats.java:24-85
    * — never wired to the Pivot enum; surfaced here as an extension).
    * One pass, one 1-row reduction. */
  def moments(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = cols.flatMap { c =>
      Seq(skewness(col(c)).as(s"${c}__skew"),
        kurtosis(col(c)).as(s"${c}__kurt"))
    }
    val wide = df.agg(aggs.head, aggs.tail: _*)
    val structs = cols.map { c =>
      struct(lit(c).as("column"),
        col(s"${c}__skew").as("skew"), col(s"${c}__kurt").as("kurt"))
    }
    wide.select(explode(array(structs: _*)).as("p")).select("p.*")
  }

  /** Sketch-based profile — the 100 TB path. Exact quantiles/distincts
    * buffer per-group values; at extreme cardinality the profile must run
    * on mergeable fixed-size sketches instead: HyperLogLog++ for distinct
    * counts (`approx_count_distinct`, error ~rsd) and the Greenwald-Khanna
    * variant behind `approx_percentile` (rank error ~1/accuracy). Still
    * ONE pass / one 1-row reduction over any number of columns; output is
    * sketch-dependent, so it is spec-bounded against the exact profile
    * rather than oracle-hashed. Returns
    * (column, n, ndv, p25, p50, p95). */
  def sketch(df: DataFrame, cols: Seq[String], rsd: Double = 0.05,
             accuracy: Int = 10000): DataFrame = {
    val aggs = cols.flatMap { c =>
      Seq(
        count(col(c)).as(s"${c}__n"),
        approx_count_distinct(col(c), rsd).as(s"${c}__ndv"),
        approx_percentile(col(c), array(lit(0.25), lit(0.5), lit(0.95)),
          lit(accuracy)).as(s"${c}__q"))
    }
    val wide = df.agg(aggs.head, aggs.tail: _*)
    val structs = cols.map { c =>
      struct(lit(c).as("column"),
        col(s"${c}__n").as("n"), col(s"${c}__ndv").as("ndv"),
        col(s"${c}__q").getItem(0).cast("double").as("p25"),
        col(s"${c}__q").getItem(1).cast("double").as("p50"),
        col(s"${c}__q").getItem(2).cast("double").as("p95"))
    }
    wide.select(explode(array(structs: _*)).as("p")).select("p.*")
  }

  /** Mergeable distinct-count sketches — the incremental-aggregation
    * pattern for 100 TB: sketch each fine-grained slice (day, partition,
    * ingest batch) ONCE into a fixed-size binary DataSketches HLL sketch,
    * persist the tiny (keys…, sketch) table, and answer any coarser
    * rollup by UNIONING sketches instead of rescanning raw data. Sketch
    * union is exact w.r.t. the sketch (union-of-sketches ≡ sketch-of-
    * union, asserted in OpsSpec), so a year's ndv costs a scan of 365
    * sketch rows, not a year of raw logs. ~2^lgK bytes per sketch,
    * ~1.6%/sqrt(2^lgK /2^12) relative error. */
  def hllSketches(df: DataFrame, keys: Seq[String], valueCol: String,
                  lgK: Int = 12): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(hll_sketch_agg(col(valueCol), lgK).as("hll"))

  /** Roll persisted sketches up to a coarser key set and estimate the
    * distinct count per rolled-up group. */
  def hllRollup(sketches: DataFrame, keys: Seq[String],
                sketchCol: String = "hll"): DataFrame =
    sketches.groupBy(keys.map(col): _*)
      .agg(hll_sketch_estimate(hll_union_agg(col(sketchCol))).as("ndv_est"))

  /** Theta sketches: like [[hllSketches]] but supporting full SET ALGEBRA
    * on the sketches — union, INTERSECTION, and DIFFERENCE — so segment
    * overlap questions ("users who clicked AND purchased", "in A but not
    * B") are answered from persisted per-segment sketches without joining
    * raw data. Below ~2^lgK distinct values a theta sketch is in exact
    * mode (it holds every hash), so small-segment results are exact, not
    * estimates; beyond that it degrades gracefully to ~1/sqrt(2^lgK)
    * relative error. */
  def thetaSketches(df: DataFrame, keys: Seq[String], valueCol: String,
                    lgK: Int = 12): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(theta_sketch_agg(col(valueCol), lgK).as("theta"))

  /** Fixed-range histogram sketches — mergeable QUANTILES, the third leg
    * next to HLL (distincts) and theta (set algebra). Values bucket into
    * `bins` equal cells over the declared [lo, hi] range; the persisted
    * sketch is the SPARSE (keys…, bin, cnt) table, merged to any coarser
    * key set by summing counts — so a year of per-day slices answers a
    * yearly quantile from bins·365 tiny rows, with error bounded by one
    * bin width. Out-of-range values clamp into the edge bins (widen the
    * declared range if the bound must hold for them too). */
  def histSketches(df: DataFrame, keys: Seq[String], valueCol: String,
                   lo: Double, hi: Double, bins: Int): DataFrame = {
    require(bins > 0 && hi > lo, "need bins > 0 and hi > lo")
    val width = (hi - lo) / bins
    val bin = least(greatest(
      floor((col(valueCol) - lit(lo)) / lit(width)), lit(0.0)),
      lit((bins - 1).toDouble)).cast("int")
    df.filter(col(valueCol).isNotNull)
      .groupBy((keys.map(col) :+ bin.as("bin")): _*)
      .agg(count(lit(1)).as("cnt"))
  }

  /** Merge sparse histogram sketches to `keys` and read quantile
    * estimates (mid-bin rule): one row per rolled-up group with a
    * `p<q*100>` column per requested quantile. */
  def histQuantiles(sketches: DataFrame, keys: Seq[String],
                    qs: Seq[Double], lo: Double, hi: Double,
                    bins: Int): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q > 0 && q <= 1))
    val labels = qs.map(q => s"p${math.round(q * 100)}")
    require(labels.distinct.size == labels.size,
      s"histQuantiles: quantiles ${qs.mkString(", ")} collide to the same " +
        s"p<percent> output labels (${labels.mkString(", ")}) — space them " +
        "at least one percent apart")
    val width = (hi - lo) / bins
    val merged = sketches.groupBy((keys.map(col) :+ col("bin")): _*)
      .agg(sum("cnt").as("cnt"))
    val byKey = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*)
    val cum = merged
      .withColumn("cum", sum("cnt").over(byKey.orderBy("bin")
        .rowsBetween(Long.MinValue, 0)))
      .withColumn("total", sum("cnt").over(byKey))
    val quantileCols = qs.zip(labels).map { case (q, label) =>
      (lit(lo) + (min(when(col("cum") >= col("total") * q, col("bin"))) +
        lit(0.5)) * lit(width)).as(label)
    }
    cum.groupBy(keys.map(col): _*)
      .agg(quantileCols.head, quantileCols.tail: _*)
  }

  /** Per-group winsorization: clamp `valueCol` into its group's
    * [loQ, hiQ] exact-percentile band — the standard outlier treatment
    * before numeric features feed a model (score normalization, length
    * clipping). One percentile aggregation per group (group count rows)
    * broadcast back onto the data; the raw value rides along so the
    * clip is auditable. Exact interpolated percentiles keep the whole
    * operator engine-portable; at extreme group cardinality swap in
    * [[kllSketches]] bounds and accept sketch-dependent clamps. */
  def winsorize(df: DataFrame, keys: Seq[String], valueCol: String,
                loQ: Double, hiQ: Double): DataFrame = {
    require(loQ >= 0 && hiQ <= 1 && loQ < hiQ, "need 0 <= loQ < hiQ <= 1")
    val bounds = df.groupBy(keys.map(col): _*)
      .agg(percentile(col(valueCol), lit(loQ)).as("__lo"),
        percentile(col(valueCol), lit(hiQ)).as("__hi"))
    df.join(broadcast(bounds), keys)
      .withColumn(s"${valueCol}_w",
        least(greatest(col(valueCol).cast("double"), col("__lo")),
          col("__hi")))
      .drop("__lo", "__hi")
  }

  /** KLL quantile sketches — mergeable quantiles WITHOUT a declared
    * value range (the limitation of [[histSketches]]: its error is one
    * bin width over [lo, hi] and out-of-range values clamp). A KLL
    * sketch (Karnin–Lang–Liberty, FOCS 2016; DataSketches
    * `KllDoublesSketch`) guarantees |est_rank − true_rank| ≤ ε(k)·n
    * with ~99% confidence at a few KB regardless of the value
    * distribution, and sketches MERGE: per-slice sketches roll up to
    * any coarser grouping without rescanning raw data.
    *
    * Scale shape: the [[KllSketchAgg]] TypedImperativeAggregate builds
    * map-side partial sketches (serialized only at the shuffle
    * boundary), then merges ≤ numPartitions partials per slice — the
    * classic map-side-combine shape with a few-KB payload, planned by
    * Catalyst like any other aggregate. No driver state.
    *
    * Returns one row per slice: (keys…, kll BINARY). Compaction inside
    * KLL is randomized, so two builds of the same data may differ in
    * retained items while both honoring the rank-error bound — output
    * is contract-checked (rank-error bounds), not hash-pinned. */
  def kllSketches(df: DataFrame, keys: Seq[String], valueCol: String,
                  k: Int = 200): DataFrame =
    df.groupBy(keys.map(col): _*).agg(kllAgg(col(valueCol), k).as("kll"))

  /** The [[KllSketchAgg]] aggregate over `value` cast to double — one
    * serialized KLL sketch per group. */
  private[graft] def kllAgg(value: Column, k: Int): Column =
    GraftShim.column(KllSketchAgg(
      GraftShim.expression(value.cast("double")), k).toAggregateExpression())

  private def kllMergeUdf(k: Int) = udf { (parts: Seq[Array[Byte]]) =>
    import org.apache.datasketches.kll.KllDoublesSketch
    import org.apache.datasketches.memory.Memory
    val merged = KllDoublesSketch.newHeapInstance(k)
    parts.foreach(b => merged.merge(KllDoublesSketch.heapify(Memory.wrap(b))))
    merged.toByteArray
  }

  /** Merge persisted KLL sketches up to `keys` and read quantile
    * estimates: one row per rolled-up group with `n` (exact total count
    * — KLL tracks it losslessly) and a `p<q*100>` column per requested
    * quantile. */
  def kllQuantiles(sketches: DataFrame, keys: Seq[String],
                   qs: Seq[Double], k: Int = 200,
                   sketchCol: String = "kll"): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q > 0 && q <= 1))
    val labels = qs.map(q => s"p${math.round(q * 100)}")
    require(labels.distinct.size == labels.size,
      s"kllQuantiles: quantiles ${qs.mkString(", ")} collide to the same " +
        s"p<percent> labels — space them at least one percent apart")
    val quantUdf = udf { (b: Array[Byte]) =>
      import org.apache.datasketches.kll.KllDoublesSketch
      import org.apache.datasketches.memory.Memory
      val sk = KllDoublesSketch.heapify(Memory.wrap(b))
      sk.getN.toDouble +: qs.map(q => sk.getQuantile(q))
    }
    val merged = sketches.groupBy(keys.map(col): _*)
      .agg(kllMergeUdf(k)(collect_list(col(sketchCol))).as("__m"))
      .withColumn("__q", quantUdf(col("__m")))
    val cols = keys.map(col) ++
      (col("__q").getItem(0).cast("long").as("n") +:
        labels.zipWithIndex.map { case (l, i) =>
          col("__q").getItem(i + 1).as(l)
        })
    merged.select(cols: _*)
  }

  /** The sketch's two-sided normalized rank-error bound ε(k): estimated
    * quantiles sit within ±ε·n ranks of the true order statistic with
    * ~99% confidence. */
  def kllRankError(k: Int): Double = {
    import org.apache.datasketches.kll.KllSketch
    KllSketch.getNormalizedRankError(k, false)
  }

  /** Frequent-items (heavy-hitters) sketches — the fourth mergeable leg
    * next to HLL (distincts), theta (set algebra) and KLL (quantiles):
    * per-slice Misra-Gries-style ItemsSketch state (DataSketches
    * `frequencies.ItemsSketch`) answering "top items and their counts"
    * with error ≤ ~3.5·n/maxMapSize, NO false negatives above the
    * bound, and exact counts whenever a slice holds fewer than
    * ~0.75·maxMapSize distinct items (the common case for per-slice
    * heavy hitters). Sketches merge associatively, so per-day slices
    * answer any coarser "top hosts / top tokens" rollup without
    * rescanning raw data. ~maxMapSize entries per sketch.
    *
    * Scale shape: per-partition partial sketches via mapPartitions,
    * one merge aggregation of ≤ numPartitions partials per slice. */
  def freqSketches(df: DataFrame, keys: Seq[String], itemCol: String,
                   maxMapSize: Int = 256): DataFrame = {
    import org.apache.datasketches.frequencies.ItemsSketch
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types.{BinaryType, StructField, StructType}
    val proj = df.select((keys.map(col) :+
      col(itemCol).cast("string").as("__i")): _*)
    val nk = keys.length
    val schema = StructType(
      proj.schema.fields.dropRight(1).toSeq :+ StructField("freq", BinaryType))
    val partial = proj.mapPartitions { it =>
      // serde constructed per partition: it is not Serializable
      val serde = new org.apache.datasketches.common.ArrayOfStringsSerDe
      val m = scala.collection.mutable.HashMap[Seq[Any], ItemsSketch[String]]()
      it.foreach { r =>
        if (!r.isNullAt(nk)) {
          val key = (0 until nk).map(r.get)
          m.getOrElseUpdate(key, new ItemsSketch[String](maxMapSize))
            .update(r.getString(nk))
        }
      }
      m.iterator.map { case (key, sk) =>
        Row.fromSeq(key :+ sk.toByteArray(serde))
      }
    }(Encoders.row(schema))
    partial.groupBy(keys.map(col): _*)
      .agg(freqMergeUdf(maxMapSize)(collect_list(col("freq"))).as("freq"))
  }

  private def freqMergeUdf(maxMapSize: Int) = udf { (parts: Seq[Array[Byte]]) =>
    import org.apache.datasketches.frequencies.ItemsSketch
    import org.apache.datasketches.memory.Memory
    val serde = new org.apache.datasketches.common.ArrayOfStringsSerDe
    val merged = new ItemsSketch[String](maxMapSize)
    parts.foreach(b =>
      merged.merge(ItemsSketch.getInstance(Memory.wrap(b), serde)))
    merged.toByteArray(serde)
  }

  /** Merge persisted frequency sketches up to `keys` and read the top-k
    * items per rolled-up group: (keys…, rank, item, est, lb, ub) ranked
    * by (estimate desc, item). lb ≤ true count ≤ ub always; lb = ub =
    * exact count while the merged sketch never evicted. */
  def freqTopItems(sketches: DataFrame, keys: Seq[String], k: Int,
                   maxMapSize: Int = 256,
                   sketchCol: String = "freq"): DataFrame = {
    require(k > 0, "k must be positive")
    val topUdf = udf { (b: Array[Byte]) =>
      import org.apache.datasketches.frequencies.{ErrorType, ItemsSketch}
      import org.apache.datasketches.memory.Memory
      val serde = new org.apache.datasketches.common.ArrayOfStringsSerDe
      val sk = ItemsSketch.getInstance(Memory.wrap(b), serde)
      sk.getFrequentItems(ErrorType.NO_FALSE_NEGATIVES)
        .map(r => (r.getItem, r.getEstimate, r.getLowerBound, r.getUpperBound))
        .sortBy { case (item, est, _, _) => (-est, item) }
        .take(k).toSeq
    }
    sketches.groupBy(keys.map(col): _*)
      .agg(freqMergeUdf(maxMapSize)(collect_list(col(sketchCol))).as("__m"))
      .select((keys.map(col) :+
        posexplode(topUdf(col("__m"))).as(Seq("__p", "__t"))): _*)
      .select((keys.map(col) :+
        (col("__p") + 1).cast("int").as("rank")) ++ Seq(
        col("__t._1").as("item"), col("__t._2").as("est"),
        col("__t._3").as("lb"), col("__t._4").as("ub")): _*)
  }

  /** Pairwise segment-overlap matrix from persisted theta sketches:
    * for each unordered segment pair, the distinct counts of each side,
    * their intersection and union, and the Jaccard overlap. |segments|²/2
    * sketch pairs — KBs each — never the raw rows. */
  def thetaOverlap(sketches: DataFrame, segCol: String,
                   sketchCol: String = "theta"): DataFrame = {
    val a = sketches.select(col(segCol).as("seg_a"), col(sketchCol).as("th_a"))
    val b = sketches.select(col(segCol).as("seg_b"), col(sketchCol).as("th_b"))
    a.join(b, col("seg_a") < col("seg_b"))
      .select(col("seg_a"), col("seg_b"),
        theta_sketch_estimate(col("th_a")).as("n_a"),
        theta_sketch_estimate(col("th_b")).as("n_b"),
        theta_sketch_estimate(theta_intersection(col("th_a"), col("th_b")))
          .as("n_and"),
        theta_sketch_estimate(theta_union(col("th_a"), col("th_b")))
          .as("n_or"))
      .withColumn("jaccard", col("n_and").cast("double") / col("n_or"))
  }

  /** EXACT MEDIAN (and any fixed quantile) per group over an integer
    * column — without sorting rows: the value-frequency rail shared
    * with [[gini]]/[[Diff.ksPairwise]]. percentile_approx answers
    * "roughly where is the middle" with a sketch error bar; this
    * answers it exactly, because for discrete columns the cumulative
    * count table IS the quantile function: median = smallest v with
    * 2·cum(v) ≥ n (the lower statistical median — deterministic for
    * even n on any engine, no averaging of middles to drift).
    *
    * Scale: one count aggregate (map-side combinable — a trillion rows
    * collapse to the value vocabulary before shuffling), a group-
    * partitioned window over the VOCABULARY, one min-aggregate. Never
    * a sort of the data.
    *
    * @return (group, n, median) */
  def exactMedian(df: DataFrame, groupCol: String, valueCol: String):
      DataFrame = {
    val cnt = df.filter(col(valueCol).isNotNull)
      .groupBy(col(groupCol).as("group"), col(valueCol).cast("long").as("__v"))
      .agg(count(lit(1)).as("__c"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("group").orderBy("__v")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy("group")
    cnt.withColumn("__cum", sum("__c").over(w))
      .withColumn("__n", sum("__c").over(wAll))
      .groupBy("group")
      .agg(max("__n").as("n"),
        min(when(col("__cum") * 2 >= col("__n"), col("__v"))).as("median"))
  }

  /** DKW-BOUNDED QUANTILE per group: the exact q-quantile PLUS a
    * finite-sample confidence band from the Dvoretzky–Kiefer–Wolfowitz
    * inequality — with probability ≥ 1−δ the true quantile lies
    * between the order statistics at ranks r ∓ ⌈√(ln(2/δ)/2 · n)⌉
    * (ε = √(ln(2/δ)/2n), rank width = εn). The honest answer to "the
    * p95 is 412 ms — plus or minus WHAT?" that a point
    * percentile_approx can never give, and the band is distribution-
    * free (no normality assumption — latencies aren't normal).
    *
    * Rails: counts-first ([[exactMedian]]'s shape — per-(group, value)
    * frequency table, cum window over the VALUE VOCABULARY), target
    * rank ⌈q·n⌉ in exact ppm integer arithmetic, and the single
    * transcendental ln(2/δ) is a DRIVER literal (the PoissonT
    * discipline) so the half-width ⌈√(C·n)⌉ is an identical-tree
    * double both engines ceil identically. All three selections are
    * exact order statistics from one aggregate.
    *
    * @param qPpm quantile in ppm (500000 = median); rank products stay
    *             in BIGINT to ~9·10¹² rows per group
    * @return (group, n, half_rank, v_lo, v_mid, v_hi) */
  def quantileBand(df: DataFrame, groupCol: String, valueCol: String,
                   qPpm: Long, delta: Double = 0.05): DataFrame = {
    require(qPpm >= 1 && qPpm <= 1000000, "qPpm must be in [1, 1000000]")
    require(delta > 0 && delta < 1, "delta must be in (0, 1)")
    val cLit = graft.ops.Classify.dlit(math.log(2.0 / delta) / 2.0)
    val cnt = df.filter(col(valueCol).isNotNull)
      .groupBy(col(groupCol).as("group"), col(valueCol).cast("long").as("__v"))
      .agg(count(lit(1)).as("__c"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("group").orderBy("__v")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy("group")
    cnt.withColumn("__cum", sum("__c").over(w))
      .withColumn("__n", sum("__c").over(wAll))
      .withColumn("__r", expr(s"($qPpm * __n + 999999) div 1000000"))
      .withColumn("__h", expr(s"ceil(sqrt($cLit * __n))"))
      .withColumn("__rl", greatest(col("__r") - col("__h"), lit(1L)))
      .withColumn("__ru", least(col("__r") + col("__h"), col("__n")))
      .groupBy("group")
      .agg(max("__n").as("n"), max("__h").as("half_rank"),
        min(when(col("__cum") >= col("__rl"), col("__v"))).as("v_lo"),
        min(when(col("__cum") >= col("__r"), col("__v"))).as("v_mid"),
        min(when(col("__cum") >= col("__ru"), col("__v"))).as("v_hi"))
  }

  /** Exact GINI COEFFICIENT of a non-negative integer column per group
    * — the one-number inequality read on a corpus ("are this source's
    * tokens spread across many documents or concentrated in a few
    * giants"), the scalar companion to a Lorenz curve. For sorted
    * values x₍₁₎…x₍ₙ₎: G = (2·Σi·x₍ᵢ₎ − (n+1)·Σx) / (n·Σx).
    *
    * Computed from the per-(group, value) FREQUENCY table, never a
    * per-row sort: a tie-block at value v with count c and C rows
    * before it contributes ranks C+1…C+c, so
    * Σi·x₍ᵢ₎ = Σ_v v·(c·C + c(c+1)/2) — cumulative counts come from a
    * window partitioned by GROUP over the VALUE VOCABULARY (state
    * bounded by distinct values, not rows). All integer arithmetic in
    * DECIMAL(38,0) with a `div` floor quotient (v·rank products pass
    * BIGINT near 10⁹·10⁴-token rows), engine-bit-identical.
    *
    * @return (group, n, total, gini_ppm) — gini_ppm in [0, 10⁶) */
  def gini(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val cnt = df.filter(col(valueCol).isNotNull && col(valueCol) >= 0)
      .groupBy(col(groupCol).as("group"), col(valueCol).cast("long").as("__v"))
      .agg(count(lit(1)).as("__c"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("group").orderBy("__v")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    cnt.withColumn("__cum", sum("__c").over(w))
      .groupBy("group")
      .agg(sum("__c").as("n"),
        sum(expr("cast(__v as decimal(38,0)) * cast(__c as decimal(38,0))"))
          .as("__s"),
        sum(expr("cast(__v as decimal(38,0)) * " +
          "(cast(__c as decimal(38,0)) * cast(__cum - __c as decimal(38,0)) + " +
          "cast(__c as decimal(38,0)) * cast(__c + 1 as decimal(38,0)) / 2)"))
          .as("__r"))
      .select(col("group"), col("n"),
        col("__s").cast("long").as("total"),
        when(col("__s") === 0, lit(0L)).otherwise(
          expr("(2 * __r - (n + 1) * __s) * 1000000 div " +
            "(cast(n as decimal(38,0)) * __s)")).as("gini_ppm"))
  }

  /** COUNT-MIN sketch of a key column: a depth×width grid of counters
    * where row j buckets each occurrence at md5(j:key) mod width, and
    * a key's estimate is the MINIMUM of its depth counters — the
    * fixed-memory frequency summary that answers "how often does any
    * key occur" in O(depth) reads with a one-sided error (estimates
    * never undercount; collisions only inflate). The practical role in
    * a 100 TB pipeline: a depth·width grid of BIGINTs is kilobytes —
    * shippable to every executor or a stream processor — while the
    * exact key-count table it approximates is corpus-cardinality.
    *
    * Engine-portable by construction: the hash is the repo's md5-hex
    * convention (first 8 hex digits of md5("j:key") as an integer, mod
    * width — any engine replays it), counters are exact BIGINT sums,
    * and the grid is built in ONE aggregate over a depth-way explode
    * (rows × depth intermediate, map-side combinable to ≤ depth·width
    * counter cells).
    *
    * @return (row_j 0-based, bucket, cnt) — at most depth·width rows */
  def countMinSketch(df: DataFrame, keyCol: String, depth: Int = 4,
                     width: Int = 256): DataFrame = {
    require(depth >= 1 && width >= 2, "countMin: bad depth/width")
    df.filter(col(keyCol).isNotNull)
      .select(explode(array((0 until depth).map(lit): _*)).as("row_j"),
        col(keyCol).cast("string").as("__k"))
      .withColumn("bucket",
        pmod(conv(substring(md5(concat_ws(":", col("row_j"), col("__k"))),
          1, 8), 16, 10).cast("long"), lit(width.toLong)))
      .groupBy("row_j", "bucket")
      .agg(count(lit(1)).as("cnt"))
  }

  /** Shannon entropy of a categorical column in micro-nats, plus the
    * evenness ratio H/ln(d) — the key-skew read that predicts shuffle
    * hot spots and stratification quality BEFORE paying for the
    * shuffle (evenness → 0: one value dominates; → 10⁶ ppm: uniform).
    *
    * Rails (the text_entropy convention): per distinct value, the only
    * transcendental ln(N/c) is floored to micro at the value boundary;
    * H = Σ c·t_v div N is then exact integer arithmetic, and evenness
    * = H·10⁶ div ln(d)_micro one more exact division (null for d = 1,
    * where evenness is undefined). One map-side-combinable value-count
    * aggregate + one tiny re-aggregate.
    *
    * @return one row: (col_name, n, d, h_micro, evenness_ppm) */
  def entropy(df: DataFrame, valueCol: String, colName: String): DataFrame = {
    val counts = df.filter(col(valueCol).isNotNull)
      .groupBy(col(valueCol).as("__v"))
      .agg(count(lit(1)).as("__c"))
    val tot = counts.agg(sum("__c").as("n"), count(lit(1)).as("d"))
    counts.crossJoin(tot)
      .select(col("n"), col("d"),
        expr("__c * CAST(floor(ln(CAST(n AS DOUBLE) / " +
          "CAST(__c AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)").as("__ct"))
      .groupBy("n", "d").agg(sum("__ct").as("__hs"))
      .withColumn("h_micro", expr("__hs div n"))
      .withColumn("__lnd",
        expr("CAST(floor(ln(CAST(d AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)"))
      .withColumn("evenness_ppm",
        when(col("d") > 1, expr("h_micro * 1000000 div __lnd")))
      .select(lit(colName).as("col_name"), col("n"), col("d"),
        col("h_micro"), col("evenness_ppm"))
  }

  /** Chao1 distinct-count estimation FROM A SAMPLE — the profiling
    * read for when the full scan is the thing you cannot afford: a
    * deterministic p% row sample (stable md5 bucket of the row key, so
    * every engine and every run draws the SAME sample) yields abundance
    * counts, and the Chao1 lower-bound estimator
    *
    *   D̂ = d + f₁²/(2f₂)          (f₂ > 0)
    *   D̂ = d + f₁(f₁−1)/2         (f₂ = 0, bias-corrected form)
    *
    * extrapolates total NDV from the singleton/doubleton profile
    * (f₁ = values seen once, f₂ = twice). Everything is exact integers
    * on the micro rail — counts are integers and the estimator is one
    * truncating div.
    *
    * The exact-NDV audit columns (d_exact, err_ppm) are computed here
    * for estimator-quality reporting at test scale; at 100 TB the whole
    * point is to DROP them and pay only the sample scan (pushed-down
    * bucket filter) plus a sample-sized aggregate.
    *
    * @return one row per call: (col_name, n_rows, n_sample, d_sample,
    *         f1, f2, chao1_micro, d_exact, err_ppm) */
  def chao1(df: DataFrame, valueCol: String, rowKey: Column, pct: Int,
            colName: String): DataFrame = {
    require(pct >= 1 && pct <= 100, "chao1 needs 1 <= pct <= 100")
    val base = df.filter(col(valueCol).isNotNull)
    val sampled = base.filter(
      Sample.bucket32(rowKey) % 100 < pct)
    val ab = sampled.groupBy(col(valueCol).as("__v"))
      .agg(count(lit(1)).as("__c"))
    val prof = ab.agg(count(lit(1)).as("d_sample"), sum("__c").as("n_sample"),
      sum(when(col("__c") === 1, 1L).otherwise(0L)).as("f1"),
      sum(when(col("__c") === 2, 1L).otherwise(0L)).as("f2"))
    val exact = base.agg(count(lit(1)).as("n_rows"),
      countDistinct(col(valueCol)).as("d_exact"))
    // BIGINT bound: f1²·10⁶ must fit 2⁶³ ⇒ f1 ≲ 3·10⁶ singletons in the
    // sample — pick pct to respect it (the estimator needs no more)
    prof.crossJoin(exact)
      .withColumn("chao1_micro",
        when(col("f2") > 0,
          expr("d_sample * 1000000 + f1 * f1 * 1000000 div (2 * f2)"))
          .otherwise(expr("d_sample * 1000000 + " +
            "f1 * (f1 - 1) * 1000000 div 2")))
      .withColumn("err_ppm",
        expr("(chao1_micro - d_exact * 1000000) div d_exact"))
      .select(lit(colName).as("col_name"), col("n_rows"),
        col("n_sample"), col("d_sample"), col("f1"), col("f2"),
        col("chao1_micro"), col("d_exact"), col("err_ppm"))
  }

  /** Approximate FUNCTIONAL-DEPENDENCY audit over a declared candidate
    * set — the schema-discovery pass (TANE/g3 family) that tells a
    * pipeline which "A determines B" rules actually hold before it
    * keys state, dedups, or partitions on them. For each candidate
    * lhs → rhs the g3 error is the minimum fraction of rows to delete
    * for the FD to hold exactly:
    *
    *   g3 = (N − Σ_lhs max_rhs count(lhs, rhs)) / N
    *
    * kept EXACT on the ppm rail (counts are integers; one truncating
    * div at the end). NULL is a value on both sides (groupBy
    * semantics, same as the SQL oracle's GROUP BY).
    *
    * Scale: one (lhs, rhs) aggregate + one lhs re-aggregate per
    * candidate — both map-side combinable, both keyed by the lhs so
    * the second pass rides the first's layout; candidates are a
    * declared handful, never a column-pair cross product (profile
    * TOP-candidates explicitly rather than mining n² pairs blind).
    *
    * @return one row per candidate: (tbl, lhs, rhs, n_rows, n_lhs,
    *         n_pairs, err_ppm, holds) */
  def fdAudit(df: DataFrame, tbl: String,
              candidates: Seq[(String, String)]): DataFrame = {
    require(candidates.nonEmpty, "fdAudit needs at least one candidate")
    candidates.map { case (lhs, rhs) =>
      val pairs = df.groupBy(col(lhs).as("__l"), col(rhs).as("__r"))
        .agg(count(lit(1)).as("__c"))
      val perL = pairs.groupBy("__l")
        .agg(max("__c").as("__keep"), sum("__c").as("__n"),
          count(lit(1)).as("__p"))
      perL.agg(sum("__n").as("n_rows"), count(lit(1)).as("n_lhs"),
          sum("__p").as("n_pairs"), sum("__keep").as("__kept"))
        .select(lit(tbl).as("tbl"), lit(lhs).as("lhs"), lit(rhs).as("rhs"),
          col("n_rows"), col("n_lhs"), col("n_pairs"),
          expr("(n_rows - __kept) * 1000000 div n_rows").as("err_ppm"),
          (col("n_rows") === col("__kept")).as("holds"))
    }.reduce(_ unionAll _)
  }

  /** INCLUSION-DEPENDENCY audit of one candidate "every a.aCol value
    * appears in b.bCol" — the foreign-key discovery read that decides
    * whether a join is lossless, a dimension is complete, or a CDC
    * feed dropped parents. Coverage is exact ppm over DISTINCT lhs
    * values (row multiplicity is the fan-out audit's job, not this
    * one's); NULL lhs values are excluded (SQL FK semantics — a NULL
    * reference is not a violation).
    *
    * Scale: distinct() on both sides first (map-side partial
    * aggregates), then one left join on the value — AQE broadcasts
    * the dimension side when it fits, and the fact side's distinct
    * set is the join's own key layout. Nothing row-scale crosses the
    * exchange twice.
    *
    * @return one row: (lhs, rhs, n_lhs, n_matched, coverage_ppm,
    *         contained) */
  def inclusion(a: DataFrame, aCol: String, b: DataFrame, bCol: String,
                lhsName: String, rhsName: String): DataFrame = {
    val av = a.filter(col(aCol).isNotNull)
      .select(col(aCol).cast("string").as("__v")).distinct()
    val bv = b.filter(col(bCol).isNotNull)
      .select(col(bCol).cast("string").as("__v")).distinct()
      .withColumn("__hit", lit(1L))
    av.join(bv, Seq("__v"), "left")
      .agg(count(lit(1)).as("n_lhs"), sum(coalesce(col("__hit"), lit(0L)))
        .as("n_matched"))
      .select(lit(lhsName).as("lhs"), lit(rhsName).as("rhs"),
        col("n_lhs"), col("n_matched"),
        when(col("n_lhs") > 0,
          expr("n_matched * 1000000 div n_lhs")).otherwise(lit(1000000L))
          .as("coverage_ppm"),
        (col("n_matched") === col("n_lhs")).as("contained"))
  }

  /** Point-query the [[countMinSketch]] grid for every key in `keys`:
    * est = min over depth rows of the key's bucket counter (0 if a
    * bucket row is absent — width cells nobody hashed into emit no
    * row). The sketch side is ≤ depth·width rows, so the probe join
    * broadcasts the SKETCH, never shuffles the key table.
    *
    * @return (key, est) */
  def countMinEstimate(sketch: DataFrame, keys: DataFrame, keyCol: String,
                       depth: Int = 4, width: Int = 256): DataFrame = {
    require(depth >= 1 && width >= 2, "countMin: bad depth/width")
    val probes = keys.select(col(keyCol).cast("string").as("key")).distinct()
      .select(col("key"),
        explode(array((0 until depth).map(lit): _*)).as("row_j"))
      .withColumn("bucket",
        pmod(conv(substring(md5(concat_ws(":", col("row_j"), col("key"))),
          1, 8), 16, 10).cast("long"), lit(width.toLong)))
    probes.join(broadcast(sketch), Seq("row_j", "bucket"), "left")
      .groupBy("key")
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est"))
  }
}
