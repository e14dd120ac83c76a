package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.GraftShim.materialize
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** FastText/CCNet-style LINEAR quality classifier: logistic regression
  * over hashed bag-of-words frequencies plus two cheap dense stats,
  * trained on WEAK labels (a rule battery like
  * [[TextFunctions.gopherRules]], or "is it wiki-referenced" in CCNet)
  * and then applied to the whole corpus. This is the classifier tier of
  * a pretraining pipeline (CCNet, LLaMA, RedPajama all gate on one):
  * rules are cheap but brittle; a model trained on the rules' verdicts
  * generalizes their signal smoothly and yields a RANKABLE score where
  * rules only give a boolean.
  *
  * Scale shape: training collects only a CAPPED lowest-id sample
  * (`sampleN` rows — the same deterministic-sample contract as
  * `Quantize.pqTrain`); the model is `buckets + 2` doubles (~8 KB),
  * broadcast to a shuffle-free per-row scoring function — no explode,
  * no aggregation, runs in a plain `select` on a batch or a stream.
  * Nothing about the corpus size reaches the driver.
  *
  * Determinism: the sample is id-ordered, gradient descent is batch
  * (full-sample gradients accumulated in sample order) from a zero
  * init with fixed epochs/learning rate — no RNG anywhere — and
  * scoring builds the SAME dense feature vector as training and dots
  * it in index order, so train and score are bit-consistent and the
  * model is identical on every run, engine, and partitioning.
  */
object Classify {

  /** `weights` covers the `buckets` hashed-vocab slots plus the two
    * dense stats (log-length, mean token length) at indices `buckets`
    * and `buckets + 1`. */
  case class LinearModel(weights: Array[Double], bias: Double,
                         buckets: Int) {
    require(weights.length == buckets + 2,
      s"weights must have buckets + 2 = ${buckets + 2} entries")
  }

  /** Dense feature vector of a document: normalized hashed-unigram
    * frequencies (so length does not leak into every vocab slot) and
    * two dense stats that capture what a bag of frequencies cannot —
    * document LENGTH (log1p(n)/10; Gopher-style word-count rules are
    * thresholds on exactly this) and mean token length (/10). The same
    * md5 bucket family as `Importance.gramBucket`; null/empty text is
    * the zero vector. */
  private[graft] def featurize(text: String, buckets: Int): Array[Double] = {
    val x = new Array[Double](buckets + 2)
    if (text == null) return x
    val toks = TextFunctions.tokensJvm(text)
    val n = toks.length
    if (n == 0 || (n == 1 && toks(0).isEmpty)) return x
    val md = java.security.MessageDigest.getInstance("MD5")
    var i = 0
    var chars = 0L
    while (i < n) {
      val d = md.digest(toks(i).getBytes("UTF-8"))
      val h = (((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)) % buckets
      x(h.toInt) += 1.0 / n
      chars += toks(i).length
      i += 1
    }
    x(buckets) = math.log1p(n.toDouble) / 10.0
    x(buckets + 1) = chars.toDouble / n / 10.0
    x
  }

  private def sigmoid(z: Double): Double = 1.0 / (1.0 + math.exp(-z))

  /** Fit the logistic model on a bounded deterministic sample: the
    * `sampleN` LOWEST-`idCol` rows (never the corpus — same contract as
    * PQ/k-means training), labeled by the caller's weak-label column.
    * Full-batch gradient descent, zero init, fixed `epochs`/`lr`. */
  def trainQualityClassifier(df: DataFrame, textCol: String, idCol: String,
                             label: Column, buckets: Int = 1024,
                             sampleN: Int = 2048, epochs: Int = 300,
                             lr: Double = 2.0): LinearModel = {
    require(sampleN > 0 && epochs > 0 && lr > 0, "bad hyperparameters")
    // TakeOrdered the raw sample FIRST, evaluate the (often expensive —
    // rule batteries are regex/HOF-heavy) label expression only on the
    // sampleN survivors, never the corpus. Null-labeled rows are
    // dropped after capping, so the sample may come up short of
    // sampleN — acceptable for weak labels.
    val rows = df.orderBy(col(idCol)).limit(sampleN)
      .select(col(textCol).cast("string").as("__t"),
        label.cast("boolean").as("__y"))
      .filter(col("__y").isNotNull)
      .collect()
    require(rows.nonEmpty, "trainQualityClassifier: empty sample")
    // sparse views of the feature vectors: a doc touches ~|distinct
    // tokens| + 2 of the buckets+2 slots, so the GD inner loops run
    // over nnz, not dim (≈10× — keeps sf0.1 training in ~seconds).
    // Index order is preserved, so sums match the dense dot bit-exactly.
    val sparse = rows.map { r =>
      val x = featurize(r.getString(0), buckets)
      val idx = Array.newBuilder[Int]
      var j = 0
      while (j < x.length) { if (x(j) != 0.0) idx += j; j += 1 }
      val ix = idx.result()
      (ix, ix.map(x))
    }
    val ys = rows.map(r => if (r.getBoolean(1)) 1.0 else 0.0)
    val dim = buckets + 2
    val m = sparse.length
    val w = new Array[Double](dim)
    var b = 0.0
    var epoch = 0
    while (epoch < epochs) {
      val gw = new Array[Double](dim)
      var gb = 0.0
      var i = 0
      while (i < m) {
        val (ix, xv) = sparse(i)
        var z = b
        var j = 0
        while (j < ix.length) { z += w(ix(j)) * xv(j); j += 1 }
        val err = sigmoid(z) - ys(i)
        j = 0
        while (j < ix.length) { gw(ix(j)) += err * xv(j); j += 1 }
        gb += err
        i += 1
      }
      var j = 0
      while (j < dim) { w(j) -= lr * gw(j) / m; j += 1 }
      b -= lr * gb / m
      epoch += 1
    }
    LinearModel(w, b, buckets)
  }

  /** Persist a trained model as a one-row (weights, bias, buckets)
    * parquet table — the train-once/score-many artifact of the
    * classifier tier: CCNet-style pipelines fit the gate on one
    * curated sample and score every later corpus drop under the SAME
    * weights; retraining would shift
    * the score distribution and silently move the quality threshold.
    * Doubles round-trip parquet bit-exactly, so a reloaded model
    * scores bit-identically (oracle `quality_classifier_reload`). */
  def saveModel(spark: org.apache.spark.sql.SparkSession,
                model: LinearModel, path: String): Unit = {
    import spark.implicits._
    Seq((model.weights.toSeq, model.bias, model.buckets))
      .toDF("weights", "bias", "buckets").coalesce(1)
      .write.mode("overwrite").parquet(path)
  }

  /** Load a persisted [[LinearModel]] (one-row collect). */
  def loadModel(spark: org.apache.spark.sql.SparkSession,
                path: String): LinearModel = {
    val rows = spark.read.parquet(path)
      .select("weights", "bias", "buckets").collect()
    require(rows.length == 1, s"expected one model row at $path")
    LinearModel(rows(0).getSeq[Double](0).toArray, rows(0).getDouble(1),
      rows(0).getInt(2))
  }

  /** EXACT AUC (Mann–Whitney rank-sum with midrank tie handling) in
    * pure integer arithmetic — the evaluation number every quality
    * scorer ships with, computed so any engine reproduces it
    * bit-for-bit: group rows by exact score, one small window over the
    * GROUP table (distinct-score cardinality, not row cardinality) for
    * the cumulative count, then
    *
    *   2·Σ_pos midrank = Σ_g n_pos(g) · (2·cum_before(g) + n(g) + 1)
    *
    * is an order-free BIGINT sum and
    *
    *   auc_ppm = (2Σ − 2·nPos·(nPos+1)/2) · 10⁶ div (2·nPos·nNeg).
    *
    * No per-row global sort (the classic AUC spelling) — rows collapse
    * to their score groups map-side first; the window's partition is
    * as wide as the number of DISTINCT scores. Ties across classes are
    * handled by midranks (the standard correction). Returns one row
    * (n_pos, n_neg, auc_ppm, auc); degenerate single-class input
    * yields auc_ppm null.
    *
    * Overflow rail (mirrors the hits() renorm in Graph.scala): s2 ≈
    * 2·n_pos·N wraps BIGINT silently at N ≈ 2-3e9 rows under non-ANSI
    * Spark while DuckDB promotes — a cross-engine divergence exactly at
    * corpus scale. Both the rank-sum accumulation and the ·10⁶ numerator
    * therefore run in DECIMAL(38,0) (exact to 10³⁸, i.e. N up to ~10¹⁶);
    * IntegralDivide on decimals returns the BIGINT quotient directly. */
  /** LIFT / CAPTURE curve by score decile — the business-facing
    * companion to [[aucExact]]: rank rows best-score-first into
    * `buckets` equal-count bins and report each bin's positive rate,
    * cumulative capture (what share of ALL positives the top-k bins
    * hold) and lift vs the base rate. "The top decile captures 38% of
    * positives at 3.1× base rate" is the sentence a threshold decision
    * actually uses.
    *
    * Ranking is [[Rank.globalRank]] on (score desc, id) — never a
    * single-partition window over the data; the only unpartitioned
    * window left runs over the BUCKET AGGREGATE (`buckets` rows, a
    * driver-fit-class frame bounded by construction). Every output is
    * exact-integer ppm: rate = pos·10⁶ div n, capture = cum_pos·10⁶
    * div total_pos, lift = pos·N·10⁶ div (n·total_pos), products in
    * DECIMAL(38,0).
    *
    * @return (bucket 1..buckets best-first, n, n_pos, rate_ppm,
    *         cum_pos, capture_ppm, lift_ppm) */
  def liftCurve(df: DataFrame, scoreCol: String, labelCol: String,
                idCol: String, buckets: Int = 10): DataFrame = {
    require(buckets >= 2, "buckets must be >= 2")
    val base = df.select(col(scoreCol).as("__s"),
        col(labelCol).cast("boolean").as("__y"), col(idCol).as("__id"))
      .filter(col("__s").isNotNull && col("__y").isNotNull)
    val ranked = Rank.globalRank(base,
      Seq(col("__s").desc, col("__id")), "__r")
    val tot = ranked.groupBy().agg(count(lit(1)).as("__n"),
      sum(when(col("__y"), 1L).otherwise(0L)).as("__tp"))
    val perBucket = ranked.crossJoin(broadcast(tot))
      .withColumn("bucket", expr(s"(__r - 1) * $buckets DIV __n + 1"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"),
        sum(when(col("__y"), 1L).otherwise(0L)).as("n_pos"),
        max("__n").as("__n"), max("__tp").as("__tp"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy("bucket")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val d = "cast(%s as decimal(38,0))"
    perBucket
      .withColumn("cum_pos", sum("n_pos").over(w))
      .select(col("bucket"), col("n"), col("n_pos"),
        expr("n_pos * 1000000 div n").as("rate_ppm"),
        col("cum_pos"),
        when(col("__tp") === 0, lit(0L)).otherwise(
          expr("cum_pos * 1000000 div __tp")).as("capture_ppm"),
        when(col("__tp") === 0, lit(0L)).otherwise(
          expr(s"${d.format("n_pos")} * ${d.format("__n")} * 1000000 div " +
            s"(${d.format("n")} * ${d.format("__tp")})")).as("lift_ppm"))
  }

  def aucExact(df: DataFrame, scoreCol: String, labelCol: String)
  : DataFrame = {
    val g = df
      .select(col(scoreCol).as("s"),
        col(labelCol).cast("boolean").as("y"))
      .filter(col("s").isNotNull && col("y").isNotNull)
      .groupBy("s")
      .agg(count(lit(1)).as("n"),
        sum(when(col("y"), 1L).otherwise(0L)).as("np"))
    val w = org.apache.spark.sql.expressions.Window.orderBy("s")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val cum = g.withColumn("cb", sum("n").over(w) - col("n"))
    cum.agg(
        sum("np").as("n_pos"),
        (sum("n") - sum("np")).as("n_neg"),
        sum((col("np").cast("decimal(38,0)") *
          (lit(2L) * col("cb") + col("n") + 1L)).cast("decimal(38,0)"))
          .as("s2"))
      .select(col("n_pos"), col("n_neg"),
        when(col("n_pos") > 0 && col("n_neg") > 0,
          expr("CAST((s2 - CAST(n_pos AS DECIMAL(38,0)) * (n_pos + 1))" +
            " * 1000000 DIV" +
            " (CAST(2 AS DECIMAL(38,0)) * n_pos * n_neg) AS BIGINT)"))
          .as("auc_ppm"))
      .withColumn("auc",
        round(col("auc_ppm").cast("double") / 1e6, 6))
  }

  /** EXACT AVERAGE PRECISION (area under the precision–recall curve at
    * the operating points a ranked retrieval actually visits) — the
    * class-imbalance-honest companion to [[aucExact]]: with 0.1%
    * positives an AUC of 0.99 can hide a precision@top-k near zero,
    * and PR-AP is the number that shows it.
    *
    *   AP = (1/n_pos) · Σ_{k : y_(k)=1} precision@k,
    *   precision@k = cum_pos(k)/k
    *
    * under the deterministic total order (score desc, id asc). Ties
    * are resolved BY ID, not midranked (AP is an order functional —
    * the midrank trick that de-ties AUC has no PR analogue); the id
    * tie-break makes the number reproducible on any engine, and the
    * scaladoc contract is "AP of this explicit order".
    *
    * Scale shape: ONE range exchange computes both the global rank k
    * and the running positive count ([[Rank.rankedPrefixSum]] — never
    * a single-partition `ORDER BY` window), then one aggregate folds
    * the per-positive terms. Integer rail: term = cum_pos·10⁶ div k
    * (≤ 10⁶), summed BIGINT (safe to ~9·10¹² positives), ap_ppm =
    * Σterm div n_pos — every step replayable in any engine.
    *
    * @return one row (n, n_pos, ap_ppm, ap); ap_ppm null if n_pos = 0 */
  def averagePrecision(df: DataFrame, scoreCol: String, labelCol: String,
                       idCol: String): DataFrame = {
    val base = df.select(col(scoreCol).as("__s"),
        col(labelCol).cast("boolean").as("__y"), col(idCol).as("__id"))
      .filter(col("__s").isNotNull && col("__y").isNotNull)
      .withColumn("__yi", when(col("__y"), 1L).otherwise(0L))
    val ranked = Rank.rankedPrefixSum(base,
      Seq(col("__s").desc, col("__id")), "__yi", "__k", "__cp")
    ranked
      .agg(count(lit(1)).as("n"), sum("__yi").as("n_pos"),
        sum(when(col("__y"),
            expr("__cp * 1000000 div __k")).otherwise(0L))
          .as("__terms"))
      .select(col("n"), col("n_pos"),
        when(col("n_pos") > 0, expr("__terms div n_pos")).as("ap_ppm"))
      .withColumn("ap", round(col("ap_ppm").cast("double") / 1e6, 6))
  }

  /** Integer DCG position weights: w(i) = floor(10⁶/log₂(i+1) + 0.5)
    * for ranks 1..k, computed ONCE on the driver and injected as
    * literals into both the Spark plan and the SQL oracle — the
    * [[graft.ops.Insight.PoissonT]] discipline for log₂: executors and
    * oracle engines never evaluate a transcendental, so the metric is
    * bit-identical everywhere. w(1) = 10⁶, w(2) ≈ 630930, … */
  private[graft] def dcgWeights(k: Int): Array[Long] =
    (1 to k).map(i =>
      math.floor(1e6 / (math.log(i + 1.0) / math.log(2.0)) + 0.5).toLong)
      .toArray

  /** PER-QUERY RANKING METRICS at cutoff k — the retrieval/eval
    * read-out over (query, candidate, score, binary label) rows: MRR,
    * precision@k, recall@k and nDCG@k, each on the exact integer rail
    * under the deterministic total order (score desc, candidate id) —
    * the [[averagePrecision]] tie-break contract, per group.
    *
    *   rr        = 10⁶ div rank of the first relevant ≤ k (0 if none)
    *   p@k       = hits(k)·10⁶ div k        (k the cutoff, by IR convention)
    *   recall@k  = hits(k)·10⁶ div n_pos
    *   nDCG@k    = DCG·10⁶ div IDCG, DCG = Σ_{relevant i ≤ k} w(i),
    *               IDCG = Σ_{i ≤ min(k, n_pos)} w(i), w from [[dcgWeights]]
    *
    * Shape: one per-query window (row_number over groups — state is
    * group-sized, never corpus-wide) + one hash aggregate; the w(i)
    * and cumulative-IDCG tables are CASE literals (k-bounded). Rows
    * with null score/label are dropped; queries with no relevant
    * candidate report rr/recall/ndcg = 0 (the macro-average-friendly
    * convention).
    *
    * @return (qid, n_docs, n_pos, rr_ppm, p_at_k_ppm, r_at_k_ppm,
    *         dcg_micro, ndcg_ppm) — one row per query id */
  def rankingMetrics(df: DataFrame, qidCol: String, docCol: String,
                     scoreCol: String, labelCol: String,
                     k: Int = 5): DataFrame = {
    require(k >= 1, "rankingMetrics needs k >= 1")
    val w = dcgWeights(k)
    val cum = w.scanLeft(0L)(_ + _).tail // IDCG at n_pos = 1..k
    val wCase = "CASE __r " + w.zipWithIndex.map { case (v, i) =>
      s"WHEN ${i + 1} THEN ${v}L" }.mkString(" ") + " ELSE 0L END"
    val idcgCase = "CASE least(n_pos, " + k + "L) " +
      cum.zipWithIndex.map { case (v, i) => s"WHEN ${i + 1} THEN ${v}L" }
        .mkString(" ") + " ELSE 0L END"
    val win = Window.partitionBy("__q")
      .orderBy(col("__s").desc, col("__d"))
    df.select(col(qidCol).as("__q"), col(docCol).as("__d"),
        col(scoreCol).as("__s"),
        col(labelCol).cast("boolean").as("__y"))
      .filter(col("__s").isNotNull && col("__y").isNotNull)
      .withColumn("__r", row_number().over(win).cast("long"))
      .groupBy(col("__q").as("qid"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("__y"), 1L).otherwise(0L)).as("n_pos"),
        min(when(col("__y") && col("__r") <= k, col("__r"))).as("__fr"),
        sum(when(col("__y") && col("__r") <= k, 1L).otherwise(0L))
          .as("__hits"),
        sum(when(col("__y") && col("__r") <= k, expr(wCase))
          .otherwise(0L)).as("dcg_micro"))
      .withColumn("__idcg", expr(idcgCase))
      .select(col("qid"), col("n_docs"), col("n_pos"),
        coalesce(expr("1000000 div __fr"), lit(0L)).as("rr_ppm"),
        expr(s"__hits * 1000000 div ${k}L").as("p_at_k_ppm"),
        when(col("n_pos") > 0, expr("__hits * 1000000 div n_pos"))
          .otherwise(0L).as("r_at_k_ppm"),
        col("dcg_micro"),
        when(col("__idcg") > 0,
          expr("dcg_micro * 1000000 div __idcg"))
          .otherwise(0L).as("ndcg_ppm"))
  }

  /** WILSON SCORE INTERVAL per group for a binary rate — the
    * small-n-honest CI (a 2/2 success rate reports [0.34, 1.0], not
    * the Wald interval's degenerate [1, 1]):
    *
    *   (p̂ + z²/2n ± z·√(p̂(1−p̂)/n + z²/4n²)) / (1 + z²/n)
    *
    * Engine-exact BY CONSTRUCTION without an integer rail: every
    * operation in the formula (+, ×, ÷, √) is IEEE correctly-rounded
    * and both engines parse the same z literal to the same double, so
    * the identical expression tree yields bit-identical doubles — the
    * reason Wilson is computable exactly where a pow/log-based
    * interval would drift by libm ulps ([[dcgWeights]]' note). Bounds
    * are reported micro-rounded. One map-combinable aggregate.
    *
    * @return (key, n, n_pos, p_ppm, lo_micro, hi_micro) */
  /** Round-trip DOUBLE literal for generated SQL: E-notation forces
    * DOUBLE in both Spark and DuckDB (a bare `1.96` parses as DECIMAL
    * in BOTH engines, and decimal arithmetic rounds at result scale —
    * a silent divergence from the double math the formula means).
    * `Double.toString` is shortest-round-trip, so both engines parse
    * back the EXACT same double. */
  private[graft] def dlit(x: Double): String = {
    val s = x.toString
    if (s.contains("E") || s.contains("e")) s else s + "E0"
  }

  def wilsonCI(df: DataFrame, keyCol: String, labelCol: String,
               z: Double = 1.96): DataFrame = {
    require(z > 0, "z must be positive")
    val zl = dlit(z)
    val zzl = dlit(z * z) // driver-folded z², one shared literal
    df.select(col(keyCol).as("key"), col(labelCol).cast("boolean").as("__y"))
      .filter(col("__y").isNotNull)
      .groupBy("key")
      .agg(count(lit(1)).as("n"),
        sum(when(col("__y"), 1L).otherwise(0L)).as("n_pos"))
      .withColumn("p_ppm", expr("n_pos * 1000000 div n"))
      .withColumn("__ph", expr("CAST(n_pos AS DOUBLE) / n"))
      .withColumn("__c", expr(s"__ph + $zzl / (2.0E0 * n)"))
      .withColumn("__s", expr(
        s"$zl * sqrt(__ph * (1.0E0 - __ph) / n + $zzl / (4.0E0 * n * n))"))
      .withColumn("__den", expr(s"1.0E0 + $zzl / n"))
      .select(col("key"), col("n"), col("n_pos"), col("p_ppm"),
        expr("CAST(floor((__c - __s) / __den * 1.0E6 + 0.5E0) AS BIGINT)")
          .as("lo_micro"),
        expr("CAST(floor((__c + __s) / __den * 1.0E6 + 0.5E0) AS BIGINT)")
          .as("hi_micro"))
  }

  /** CALIBRATION (reliability) bins for a [0, 1] score: decile bins by
    * floor(score·10) with the top edge clamped into bin 9, exact
    * integer counts and a float-cast mean score per bin — read
    * `n_pos/n` against `mean_score` to see whether 0.8 means 80%. One
    * map-side-combinable aggregate. */
  def calibrationBins(df: DataFrame, scoreCol: String, labelCol: String,
                      bins: Int = 10): DataFrame = {
    require(bins >= 2, "need at least 2 bins")
    val b = least(floor(col(scoreCol) * bins).cast("long"),
      lit(bins - 1L))
    df.select(b.as("bin"), col(scoreCol).as("s"),
        col(labelCol).cast("boolean").as("y"))
      .filter(col("s").isNotNull && col("y").isNotNull)
      .groupBy("bin")
      .agg(count(lit(1)).as("n"),
        sum(when(col("y"), 1L).otherwise(0L)).as("n_pos"),
        avg("s").cast("float").as("mean_score"))
  }

  /** A fitted isotonic (monotone step) calibration map: `scores` are
    * the step anchors ascending, `rates` the calibrated values
    * (non-decreasing by construction); a score maps to the rate of the
    * LAST anchor ≤ it (scores below the first anchor take the first
    * rate). */
  final case class IsotonicModel(scores: Array[Double],
                                 rates: Array[Double])

  /** ISOTONIC calibration fit (pool-adjacent-violators) on a BINNED
    * reliability table — the non-parametric repair for a scorer whose
    * [[calibrationBins]] curve wobbles: unlike Platt scaling it
    * assumes nothing but monotonicity, and PAVA is the exact optimal
    * monotone fit under weighted squared loss. Runs on the DRIVER over
    * the bin table — bounded by construction (bins, not rows), the
    * same driver-fit class as the k-means/GD trainers; the fitted map
    * applies distributed via [[isotonicApply]].
    *
    * @param bins (scoreCol ascending anchor, nCol weight, posCol
    *             positives) — e.g. [[calibrationBins]] output with
    *             mean_score/n/n_pos */
  def isotonicFit(bins: DataFrame, scoreCol: String, nCol: String,
                  posCol: String): IsotonicModel = {
    val rows = bins.select(col(scoreCol).cast("double"),
        col(nCol).cast("long"), col(posCol).cast("long"))
      .collect()
      .map(r => (r.getDouble(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    require(rows.nonEmpty, "isotonicFit: empty bin table")
    require(rows.forall(r => r._2 > 0 && r._3 >= 0 && r._3 <= r._2),
      "isotonicFit: need 0 <= positives <= n per bin")
    // stack of pooled blocks: (anchor score = first bin's, n, pos)
    val st = scala.collection.mutable.ArrayBuffer
      .empty[(Double, Long, Long)]
    rows.foreach { r =>
      st += r
      // pool while the last block's rate exceeds.. (violates monotone)
      while (st.length >= 2 &&
        st(st.length - 2)._3.toDouble * st.last._2 >
          st.last._3.toDouble * st(st.length - 2)._2) {
        val b = st.remove(st.length - 1)
        val a = st.remove(st.length - 1)
        st += ((a._1, a._2 + b._2, a._3 + b._3))
      }
    }
    IsotonicModel(st.map(_._1).toArray,
      st.map(b => b._3.toDouble / b._2).toArray)
  }

  /** calibrated(score) as a pure chained-when expression over the
    * (bounded) fitted steps — codegen'd, no UDF, corpus scanned
    * once. Null score stays null. */
  def isotonicApply(score: Column, model: IsotonicModel): Column = {
    val base = when(score.isNull, lit(null).cast("double"))
      .when(score >= model.scores.last, lit(model.rates.last))
    val stepped = (model.scores.length - 2 to 0 by -1)
      .foldLeft(base) { (acc, i) =>
        acc.when(score >= model.scores(i), lit(model.rates(i)))
      }
    stepped.otherwise(lit(model.rates.head))
  }

  /** BRIER SCORE with Murphy (1973) decomposition + expected
    * calibration error for a [0, 1] probabilistic score against a
    * binary label — the full "is 0.8 really 80%?" audit in one pass:
    *
    *   Brier = REL − RES + UNC
    *   REL (reliability)  = (1/N)·Σ_k n_k(p_k − ȳ_k)²   — miscalibration
    *   RES (resolution)   = (1/N)·Σ_k n_k(ȳ_k − ȳ)²     — discrimination
    *   UNC (uncertainty)  = ȳ(1 − ȳ)                     — label entropy
    *   ECE                = Σ_k (n_k/N)·|ȳ_k − p_k|
    *
    * Bins are the DISTINCT micro-rounded score values (p_k = the
    * score itself, which makes the decomposition identity exact —
    * decile-bin variants trade that away); callers with genuinely
    * continuous scores pre-bucket (the bounded-domain contract shared
    * with [[graft.ops.Diff.ksPairwise]]). EXACT integer rail end to
    * end: per-bin terms like (n·s − p·10⁶)² ride DECIMAL(38,0) with
    * one `div` per term (truncation < 1 micro, replayed verbatim by
    * the oracle); ȳ enters RES as the pre-divided global ppm so bin
    * products stay ≤ 10³⁶ at 10¹² rows. No doubles anywhere. The
    * reported identity drift |brier − (rel − res + unc)| is a few
    * micro of truncation, deterministic on every engine.
    *
    * @return one row (n, n_pos, brier_micro, rel_micro, res_micro,
    *         unc_micro, ece_micro) */
  def brierDecomposition(df: DataFrame, scoreCol: String,
                         labelCol: String): DataFrame = {
    val d = df
      .select(expr(s"CAST(floor($scoreCol * 1000000 + 0.5) AS BIGINT)")
          .as("__s"),
        col(labelCol).cast("boolean").as("__y"))
      .filter(col("__s").isNotNull && col("__y").isNotNull)
    val bins = d.groupBy("__s")
      .agg(count(lit(1)).as("__n"),
        sum(when(col("__y"), 1L).otherwise(0L)).as("__p"))
    val tot = bins.agg(sum("__n").as("__nt"), sum("__p").as("__pt"))
      .withColumn("__yb", expr("__pt * 1000000 div __nt"))
    bins.crossJoin(broadcast(tot))
      .agg(first("__nt").as("n"), first("__pt").as("n_pos"),
        sum(expr("(CAST(__p AS DECIMAL(38,0)) * (1000000 - __s)" +
          " * (1000000 - __s) + CAST(__n - __p AS DECIMAL(38,0))" +
          " * __s * __s)")).as("__bt"),
        sum(expr("(CAST(__n AS DECIMAL(38,0)) * __s - " +
          "CAST(__p AS DECIMAL(38,0)) * 1000000)" +
          " * (CAST(__n AS DECIMAL(38,0)) * __s -" +
          " CAST(__p AS DECIMAL(38,0)) * 1000000)" +
          " div (CAST(__n AS DECIMAL(38,0)) * 1000000)")).as("__rel"),
        sum(expr("(CAST(__p AS DECIMAL(38,0)) * 1000000 -" +
          " CAST(__n AS DECIMAL(38,0)) * __yb)" +
          " * (CAST(__p AS DECIMAL(38,0)) * 1000000 -" +
          " CAST(__n AS DECIMAL(38,0)) * __yb)" +
          " div (CAST(__n AS DECIMAL(38,0)) * 1000000)")).as("__res"),
        sum(expr("abs(CAST(__p AS DECIMAL(38,0)) * 1000000 -" +
          " CAST(__n AS DECIMAL(38,0)) * __s)")).as("__ece"))
      .select(col("n"), col("n_pos"),
        expr("CAST(__bt div (CAST(n AS DECIMAL(38,0)) * 1000000)" +
          " AS BIGINT)").as("brier_micro"),
        expr("CAST(__rel div n AS BIGINT)").as("rel_micro"),
        expr("CAST(__res div n AS BIGINT)").as("res_micro"),
        expr("CAST(CAST(n_pos AS DECIMAL(38,0)) * (n - n_pos)" +
          " * 1000000 div (CAST(n AS DECIMAL(38,0)) * n) AS BIGINT)")
          .as("unc_micro"),
        // __ece = Σ|p·10⁶ − n_bin·s| is already count×micro scale, so
        // micro-ECE divides by n only (div n·10⁶ would yield the plain
        // 0..1 fraction, truncating to 0 for any real miscalibration).
        expr("CAST(__ece div CAST(n AS DECIMAL(38,0)) AS BIGINT)")
          .as("ece_micro"))
  }

  /** SPLIT-CONFORMAL coverage audit for a linear regression predictor
    * — the distribution-free "my 90% interval really covers 90%"
    * check (Vovk et al.; Lei et al. 2018) on the repo's exact rails:
    *
    *   1. deterministic split: even ids calibrate, odd ids test,
    *   2. OLS of y on x over the CALIBRATION half
    *      ([[graft.ops.Insight.olsByKey]]'s exact rational
    *      slope_ppm/intercept_micro, one fit),
    *   3. nonconformity r = |y·10⁶ − (slope_ppm·x + intercept_micro)|
    *      — exact integer micro residuals,
    *   4. q̂ = the ⌈(n_cal+1)(1−α)⌉-th smallest calibration residual,
    *      via the value-frequency rail (per-residual counts +
    *      [[graft.ops.Rank.prefixSum]] over the residual VOCABULARY —
    *      never a row sort),
    *   5. coverage = share of TEST residuals ≤ q̂, in exact ppm.
    *
    * Finite-sample guarantee: coverage ≥ 1−α in expectation whatever
    * the data distribution — which is why the audit belongs next to
    * [[wilsonCI]] in the eval deck. If (n_cal+1)(1−α) > n_cal the
    * interval is infinite: q̂ and coverage report null. One scan for
    * the fit, one for the residual rail; the fit row and q̂ row ride
    * broadcasts.
    *
    * @param alphaPpm miscoverage α in ppm (100000 = 90% target)
    * @return one row (n_cal, n_test, k_rank, qhat_micro, covered,
    *         coverage_ppm) */
  def conformalCoverage(df: DataFrame, xCol: String, yCol: String,
                        idCol: String,
                        alphaPpm: Long = 100000L): DataFrame = {
    require(alphaPpm > 0 && alphaPpm < 1000000,
      "alphaPpm must be in (0, 1000000)")
    // fit pass + residual rail share it
    val d = materialize(df
      .select(col(idCol).cast("long").as("__id"),
        col(xCol).cast("long").as("__x"), col(yCol).cast("long").as("__y"))
      .filter(col("__id").isNotNull && col("__x").isNotNull &&
        col("__y").isNotNull)
      .withColumn("__cal", pmod(col("__id"), lit(2L)) === 0)).df
    val fit = graft.ops.Insight
      .olsByKey(d.filter(col("__cal")).withColumn("__k", lit(0)),
        "__k", "__x", "__y")
      .select(col("slope_ppm"), col("intercept_micro"))
    // q̂ rail + test coverage share it
    val res = materialize(d.crossJoin(broadcast(fit))
      .withColumn("__r", expr("abs(CAST(__y AS DECIMAL(38,0)) * 1000000" +
        " - (CAST(slope_ppm AS DECIMAL(38,0)) * __x + intercept_micro))")
        .cast("long"))
      .select(col("__cal"), col("__r"))).df
    val calCnt = res.filter(col("__cal")).groupBy("__r")
      .agg(count(lit(1)).as("__c"))
    val qhat = Rank.prefixSum(calCnt, Seq(col("__r")), "__c",
        outCol = "__cum")
      .crossJoin(broadcast(res.filter(col("__cal"))
        .agg(count(lit(1)).as("__ncal"))))
      .withColumn("__k", expr(
        s"((__ncal + 1) * ${1000000L - alphaPpm} + 999999) div 1000000"))
      .agg(first("__ncal").as("n_cal"), first("__k").as("k_rank"),
        min(when(col("__cum") >= col("__k"), col("__r")))
          .as("qhat_micro"))
      .withColumn("qhat_micro",
        when(col("k_rank") <= col("n_cal"), col("qhat_micro")))
    res.filter(!col("__cal"))
      .crossJoin(broadcast(qhat))
      .agg(first("n_cal").as("n_cal"), count(lit(1)).as("n_test"),
        first("k_rank").as("k_rank"),
        first("qhat_micro").as("qhat_micro"),
        sum(when(col("__r") <= col("qhat_micro"), 1L).otherwise(0L))
          .as("covered"))
      .select(col("n_cal"), col("n_test"), col("k_rank"),
        col("qhat_micro"),
        when(col("qhat_micro").isNotNull, col("covered")).as("covered"),
        when(col("qhat_micro").isNotNull && col("n_test") > 0,
          expr("covered * 1000000 div n_test")).as("coverage_ppm"))
  }

  /** EXACT ROC CURVE POINTS — one (threshold, TPR, FPR) row per
    * distinct score value under the "predict positive when score ≥ t"
    * convention: the curve [[aucExact]] integrates, materialized for
    * threshold picking (Youden J = TPR − FPR maximizes at the optimal
    * cut — read it straight off the ppm columns). Counts-first rail:
    * per-distinct-score (n, pos) aggregate, cumulative TP/FP from one
    * window over the score VOCABULARY descending (bounded-domain
    * contract — scores are binned/dyadic here; pre-bucket a continuous
    * scorer), ratios exact ppm integers.
    *
    * @return (threshold_micro, tp, fp, tpr_ppm, fpr_ppm, youden_ppm) */
  def rocPoints(df: DataFrame, scoreCol: String,
                labelCol: String): DataFrame = {
    val per = df
      .select(expr(s"CAST(floor($scoreCol * 1000000 + 0.5) AS BIGINT)")
          .as("__s"),
        col(labelCol).cast("boolean").as("__y"))
      .filter(col("__s").isNotNull && col("__y").isNotNull)
      .groupBy("__s")
      .agg(count(lit(1)).as("__n"),
        sum(when(col("__y"), 1L).otherwise(0L)).as("__p"))
    // totals + curve share it
    val perCk = materialize(per).df
    val tot = perCk.agg(sum("__p").as("__pos"),
      sum(expr("__n - __p")).as("__neg"))
    val w = Window.orderBy(col("__s").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perCk
      .withColumn("__tp", sum("__p").over(w))
      .withColumn("__fp", sum(col("__n") - col("__p")).over(w))
      .crossJoin(broadcast(tot))
      .select(col("__s").as("threshold_micro"),
        col("__tp").as("tp"), col("__fp").as("fp"),
        when(col("__pos") > 0, expr("__tp * 1000000 div __pos"))
          .as("tpr_ppm"),
        when(col("__neg") > 0, expr("__fp * 1000000 div __neg"))
          .as("fpr_ppm"),
        when(col("__pos") > 0 && col("__neg") > 0,
          expr("__tp * 1000000 div __pos - __fp * 1000000 div __neg"))
          .as("youden_ppm"))
  }

  /** McNEMAR'S TEST between two classifiers scored on the SAME rows —
    * the paired comparison that a naive "accuracy A vs accuracy B"
    * read gets wrong (shared errors cancel; only the DISCORDANT pairs
    * carry information):
    *
    *   b = A right, B wrong;  c = A wrong, B right
    *   χ² = (|b − c| − 1)² / (b + c)   (continuity-corrected)
    *
    * FULLY exact integer — counts from one map-combinable aggregate
    * and one ppm division, no doubles at all (the rare test where the
    * statistic is a pure rational of counts). b + c = 0 (classifiers
    * never disagree) reports null χ².
    *
    * @return one row (n, n_b, n_c, chi2_micro) */
  def mcnemar(df: DataFrame, predACol: String, predBCol: String,
              labelCol: String): DataFrame =
    df.select(col(predACol).cast("boolean").as("__a"),
        col(predBCol).cast("boolean").as("__b"),
        col(labelCol).cast("boolean").as("__y"))
      .filter(col("__a").isNotNull && col("__b").isNotNull &&
        col("__y").isNotNull)
      .agg(count(lit(1)).as("n"),
        sum(when(col("__a") === col("__y") && col("__b") =!= col("__y"),
          1L).otherwise(0L)).as("n_b"),
        sum(when(col("__a") =!= col("__y") && col("__b") === col("__y"),
          1L).otherwise(0L)).as("n_c"))
      .withColumn("chi2_micro", when(expr("n_b + n_c > 0"), expr(
        "(abs(n_b - n_c) - 1) * (abs(n_b - n_c) - 1) * 1000000" +
          " div (n_b + n_c)")))
      .select("n", "n_b", "n_c", "chi2_micro")

  /** Per-row quality score in [0, 1] under a trained model — sigmoid of
    * the same index-ordered dense dot product training used, over the
    * ~8 KB broadcast weights. Null text scores sigmoid(bias). */
  def scoreCol(df: DataFrame, textCol: String, model: LinearModel): Column = {
    val bc = df.sparkSession.sparkContext.broadcast(model)
    val f = udf { (text: String) =>
      val mdl = bc.value
      val x = featurize(text, mdl.buckets)
      var z = mdl.bias
      var j = 0
      while (j < x.length) { z += mdl.weights(j) * x(j); j += 1 }
      sigmoid(z)
    }
    f(col(textCol))
  }
}
