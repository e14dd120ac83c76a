package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.GraftShim.materialize
import org.apache.spark.sql.functions._

/** Record linkage: fuzzy (near-duplicate) JOIN between two DIFFERENT
  * tables — "which rows of B are near-copies of rows of A" when the
  * tables share no key (catalog reconciliation, scraped-source vs
  * curated-source matching, train/eval cross-set leakage audits richer
  * than boolean contamination).
  *
  * Same machinery as [[Dedup.minhashLshPairs]] but across tables: both
  * sides get signatures from the SAME hash family, candidates come from
  * shared LSH band buckets (one equi-join on (band, bh) — never a cross
  * product; right-side buckets capped), and every candidate is verified
  * with the exact n-gram Jaccard recomputed from both sides' shingles,
  * so emitted pairs are exact with respect to the measure (LSH only
  * affects recall: miss probability (1−j^r)^bands ≈ 5e-8 at j = 0.8
  * with the 128/32 defaults).
  */
object Link {

  /** (id_left, id_right, jaccard) for cross-table pairs with word-
    * `n`-gram Jaccard ≥ `threshold`. Output ids are RENAMED to
    * id_left/id_right so identically-named inputs can't collide.
    * `maxBucket` drops degenerate right-side buckets (boilerplate
    * signatures shared by thousands of rows carry no linkage signal but
    * quadratic join cost). */
  def minhashJoin(left: DataFrame, right: DataFrame,
                  leftText: String, leftId: String,
                  rightText: String, rightId: String,
                  threshold: Double, numHashes: Int = 128, bands: Int = 32,
                  n: Int = 3, maxBucket: Int = 1000): DataFrame = {
    val lb = Dedup.minhashIndex(left, leftText, leftId, numHashes, bands, n)
      .select(col("id").as("id_left"), col("band"), col("bh"))
    val rb = Dedup.minhashIndex(right, rightText, rightId, numHashes, bands, n)
      .select(col("id").as("id_right"), col("band"), col("bh"))
    val capped = rb.groupBy("band", "bh")
      .agg(count(lit(1)).as("__bn"))
      .filter(col("__bn") <= maxBucket)
      .select("band", "bh")
    val cand = lb.join(rb.join(capped, Seq("band", "bh")), Seq("band", "bh"))
      .select("id_left", "id_right")
      .distinct()
    // exact verify on candidate ROWS only: both sides pruned by semi
    // join before shingling — at scale this reads a few rows by id,
    // never re-scans either corpus
    val lNeed = left.join(cand.select(col("id_left").as(leftId)).distinct(),
      Seq(leftId), "left_semi")
    val rNeed = right.join(cand.select(col("id_right").as(rightId)).distinct(),
      Seq(rightId), "left_semi")
    val shL = lNeed.select(col(leftId).as("id_left"),
      Dedup.hashedShingles(col(leftText), n).as("shl"))
    val shR = rNeed.select(col(rightId).as("id_right"),
      Dedup.hashedShingles(col(rightText), n).as("shr"))
    cand.join(shL, "id_left").join(shR, "id_right")
      .withColumn("common", size(array_intersect(col("shl"), col("shr"))))
      .withColumn("jaccard", col("common").cast("double") /
        (size(col("shl")) + size(col("shr")) - col("common")))
      .filter(col("jaccard") >= threshold)
      .select("id_left", "id_right", "jaccard")
  }

  /** Edit-distance record linkage: all cross-table pairs with
    * levenshtein(a, b) <= k, WITHOUT a cross join and with guaranteed
    * recall — the segment-signature (pigeonhole) scheme of Pass-Join
    * (Li, Deng, Jiang, Feng: "PASS-JOIN: A Partition-based Method for
    * Similarity Joins", VLDB 2012):
    *
    * Each right-side string of length m is split into k+1 contiguous
    * segments (even partition, longer segments last). If ed(a, b) <= k,
    * at least one of b's segments survives every edit untouched, so it
    * occurs in `a` EXACTLY, at a position shifted by at most k. The
    * left side therefore emits, for every partner length m in
    * [len-k, len+k] and every segment slot i, the substrings of `a`
    * with that slot's length inside the +-k position window — at most
    * (2k+1)^2 (k+1) probe keys per row, a constant. One equi-join on
    * (m, slot, substring) yields candidates with recall 1.0; an exact
    * `levenshtein` verify on the candidate ROWS (fetched by id, never a
    * corpus rescan) makes precision 1.0. No similarity-join operator in
    * the engine, no UDF, no cartesian — the cost model is candidates
    * per segment bucket, like the minhash join above.
    *
    * Short strings (m <= k) produce empty segments whose buckets
    * degenerate to a length-window join — still correct, and the class
    * is tiny by construction. Adversarial corpora where many strings
    * share long literal runs (log lines, "Customer#0000…") concentrate
    * segment buckets; `maxBucket > 0` drops buckets above the cap,
    * trading the recall guarantee for bounded cost (documented, off by
    * default — prefer normalizing such prefixes away upstream). */
  def editDistanceJoin(left: DataFrame, right: DataFrame,
                       leftText: String, leftId: String,
                       rightText: String, rightId: String,
                       k: Int = 2, maxBucket: Int = 0): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val kk = lit(k)
    val slots = lit(k + 1)
    // even-partition scheme of a length-m string: first (k+1-r) segments
    // of length base, the remaining r of base+1 (r = m mod (k+1))
    def segLen(m: org.apache.spark.sql.Column, i: org.apache.spark.sql.Column) =
      (m / slots).cast("int") +
        when(i >= slots - m % slots, lit(1)).otherwise(lit(0))
    def segStart(m: org.apache.spark.sql.Column, i: org.apache.spark.sql.Column) =
      lit(1) + i * (m / slots).cast("int") +
        greatest(lit(0), i - (slots - m % slots))
    val rSeg = right
      .select(col(rightId).as("id_right"), col(rightText).as("__b"))
      .withColumn("m", length(col("__b")))
      .withColumn("i", explode(sequence(lit(0), kk)))
      .withColumn("sub", col("__b").substr(segStart(col("m"), col("i")),
        segLen(col("m"), col("i"))))
      .select(col("id_right"), col("m"), col("i"), col("sub"))
    val rKeys =
      if (maxBucket <= 0) rSeg
      else rSeg.join(
        rSeg.groupBy("m", "i", "sub").agg(count(lit(1)).as("__bn"))
          .filter(col("__bn") <= maxBucket).select("m", "i", "sub"),
        Seq("m", "i", "sub"), "left_semi")
    val lKeys = left
      .select(col(leftId).as("id_left"), col(leftText).as("__a"))
      .withColumn("l", length(col("__a")))
      .withColumn("m", explode(sequence(col("l") - kk, col("l") + kk)))
      .filter(col("m") >= 1)
      .withColumn("i", explode(sequence(lit(0), kk)))
      .withColumn("__len", segLen(col("m"), col("i")))
      .withColumn("__s", segStart(col("m"), col("i")))
      .withColumn("p", explode(
        when(greatest(lit(1), col("__s") - kk) <=
             least(col("l") - col("__len") + 1, col("__s") + kk),
          sequence(greatest(lit(1), col("__s") - kk),
            least(col("l") - col("__len") + 1, col("__s") + kk)))
          .otherwise(array())))
      .withColumn("sub", col("__a").substr(col("p"), col("__len")))
      .select(col("id_left"), col("m"), col("i"), col("sub"))
    val cand = lKeys.join(rKeys, Seq("m", "i", "sub"))
      .select("id_left", "id_right").distinct()
    // verify on candidate rows only (cheap DP on two short strings)
    val lNeed = left.join(cand.select(col("id_left").as(leftId)).distinct(),
      Seq(leftId), "left_semi")
      .select(col(leftId).as("id_left"), col(leftText).as("__a"))
    val rNeed = right.join(cand.select(col("id_right").as(rightId)).distinct(),
      Seq(rightId), "left_semi")
      .select(col(rightId).as("id_right"), col(rightText).as("__b"))
    cand.join(lNeed, "id_left").join(rNeed, "id_right")
      .withColumn("dist", levenshtein(col("__a"), col("__b")))
      .filter(col("dist") <= k)
      .select(col("id_left"), col("id_right"), col("dist"))
  }

  /** Jaro–Winkler similarity, spelled to agree with DuckDB's
    * `jaro_winkler_similarity` on every probed case (empty → 0, the
    * classic 0.7 boost threshold, prefix bonus capped at 4, p = 0.1):
    * greedy in-window matching, half-transposition count, then
    * (m/|a| + m/|b| + (m−t)/m)/3. Per-CANDIDATE cost O(|a|·window) —
    * run it on blocked pairs, never the cross product. */
  private[graft] def jaroWinklerJvm(a: String, b: String): Double = {
    if (a == null || b == null || a.isEmpty || b.isEmpty) 0.0
    else if (a == b) 1.0
    else {
      val la = a.length
      val lb = b.length
      val window = math.max(math.max(la, lb) / 2 - 1, 0)
      val ma = new Array[Boolean](la)
      val mb = new Array[Boolean](lb)
      var m = 0
      var i = 0
      while (i < la) {
        val hi = math.min(lb - 1, i + window)
        var j = math.max(0, i - window)
        var done = false
        while (j <= hi && !done) {
          if (!mb(j) && a.charAt(i) == b.charAt(j)) {
            ma(i) = true; mb(j) = true; m += 1; done = true
          }
          j += 1
        }
        i += 1
      }
      if (m == 0) 0.0
      else {
        var t = 0
        var j = 0
        i = 0
        while (i < la) {
          if (ma(i)) {
            while (!mb(j)) j += 1
            if (a.charAt(i) != b.charAt(j)) t += 1
            j += 1
          }
          i += 1
        }
        val jaro = (m.toDouble / la + m.toDouble / lb +
          (m - t / 2).toDouble / m) / 3.0
        if (jaro > 0.7) {
          val cap = math.min(4, math.min(la, lb))
          var p = 0
          while (p < cap && a.charAt(p) == b.charAt(p)) p += 1
          jaro + p * 0.1 * (1 - jaro)
        } else jaro
      }
    }
  }

  /** JARO–WINKLER record linkage — the name-matching metric (census /
    * customer-dedup lineage): char-level with a prefix premium, it
    * forgives the mid-word typos and truncations that n-gram Jaccard
    * over-penalizes on SHORT strings. Candidates block on the first
    * `prefixBlock` characters plus a length band (JW ≥ 0.9 pairs on
    * realistic names share a prefix; a deployment with noisier heads
    * swaps in a phonetic block key) — never the cross product — and
    * only candidates pay the scalar scorer.
    *
    * @return (id_left, id_right, jw) with jw ≥ threshold, 6 dp */
  def jaroWinklerJoin(left: DataFrame, right: DataFrame,
                      leftText: String, leftId: String,
                      rightText: String, rightId: String,
                      threshold: Double, prefixBlock: Int = 2,
                      maxLenDiff: Int = 3): DataFrame = {
    require(threshold > 0 && threshold <= 1, "threshold in (0, 1]")
    require(prefixBlock >= 1 && maxLenDiff >= 0, "bad blocking params")
    val jw = udf(jaroWinklerJvm _)
    val l = left.select(col(leftId).as("id_left"),
      col(leftText).as("__a"),
      substring(col(leftText), 1, prefixBlock).as("__blk"),
      length(col(leftText)).as("__la"))
    val r = right.select(col(rightId).as("id_right"),
      col(rightText).as("__b"),
      substring(col(rightText), 1, prefixBlock).as("__blk"),
      length(col(rightText)).as("__lb"))
    l.join(r, Seq("__blk"))
      .filter(abs(col("__la") - col("__lb")) <= maxLenDiff)
      .withColumn("jw", round(jw(col("__a"), col("__b")), 6))
      .filter(col("jw") >= threshold)
      .select("id_left", "id_right", "jw")
  }

  /** Fellegi–Sunter probabilistic record linkage (Fellegi & Sunter
    * JASA 1969; the Splink/fastLink model): per-field conditional
    * agreement probabilities m_i = P(agree_i | match) and
    * u_i = P(agree_i | non-match), estimated CLOSED-FORM from a
    * labeled candidate set (`truthCol` — supervised FS, the variant
    * production linkage runs once a clerical-review sample exists;
    * the unsupervised EM variant converges to the same table), with
    * add-one smoothing so a never-agreeing field (u = 0) yields a
    * large finite weight instead of a division by zero.
    *
    * The decision statistic is the likelihood RATIO
    * Π_i (m_i/u_i)^{a_i} ((1−m_i)/(1−u_i))^{1−a_i}, kept EXACT: with
    * m_i = (tm_i+1)/(nm+2) and u_i = (tu_i+1)/(nu+2) every factor is a
    * ratio of integers, so `odds` is one DECIMAL(38,0) product
    * quotient — Spark `div` ≡ DuckDB `//` (both truncate toward
    * zero) — and the output is pure BIGINT, no cross-engine float
    * risk anywhere. Bound: the odds numerator is ≤ ((nm+1)(nu+2))^k,
    * so the LABELED estimation set must stay ≤ ~10^(19/k) pairs
    * (k = 3: ~2·10⁶ — r13 review corrected the earlier ~10^(32/k)
    * claim, wrong by the square). Estimate on a bounded clerical
    * sample at scale, the standard practice; the SCORED set is
    * unbounded. Past the bound Spark's non-ANSI DECIMAL overflow
    * yields NULL odds — the decision then reads 'overflow' instead of
    * silently defaulting to nonmatch.
    *
    * Plan shape: one pass over the candidates for the (2k+2)-cell
    * stats row + one map-side-combinable groupBy over the 2^k
    * agreement patterns, then a broadcast cross join of the 1-row
    * stats onto the pattern table — candidates are touched exactly
    * twice, nothing driver-side, no windows.
    *
    * @param cands     candidate pairs (from any blocking upstream)
    *                  carrying boolean agreement columns + the truth
    *                  label
    * @param agreeCols boolean per-field agreement column names
    * @param truthCol  boolean ground-truth (match) column
    * @return one row per observed agreement pattern: the agreement
    *         booleans, n_pairs, n_truth, per-field odds_<col>, total
    *         `odds` (truncated integer likelihood ratio) and the
    *         three-way `decision` (match at odds >= 1000, review at
    *         odds >= 1, else nonmatch) */
  def fellegiSunterTable(cands: DataFrame, agreeCols: Seq[String],
                         truthCol: String): DataFrame = {
    require(agreeCols.nonEmpty, "need at least one agreement column")
    val truth = col(truthCol).cast("boolean")
    val statAggs = Seq(
      sum(when(truth, 1L).otherwise(0L)).as("__nm"),
      sum(when(!truth, 1L).otherwise(0L)).as("__nu")) ++
      agreeCols.zipWithIndex.flatMap { case (c, i) =>
        Seq(sum(when(truth && col(c), 1L).otherwise(0L)).as(s"__tm$i"),
          sum(when(!truth && col(c), 1L).otherwise(0L)).as(s"__tu$i"))
      }
    val stats = cands.agg(statAggs.head, statAggs.tail: _*)
    val pat = cands.groupBy(agreeCols.map(col): _*)
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(truth, 1L).otherwise(0L)).as("n_truth"))
    def dec(e: String) = s"CAST(($e) AS DECIMAL(38,0))"
    def numF(c: String, i: Int) =
      dec(s"CASE WHEN $c THEN __tm$i + 1 ELSE __nm - __tm$i + 1 END")
    def denF(c: String, i: Int) =
      dec(s"CASE WHEN $c THEN __tu$i + 1 ELSE __nu - __tu$i + 1 END")
    val k = agreeCols.size
    val numProd = agreeCols.zipWithIndex
      .map { case (c, i) => numF(c, i) }.mkString(" * ")
    val denProd = agreeCols.zipWithIndex
      .map { case (c, i) => denF(c, i) }.mkString(" * ")
    val nuPow = Seq.fill(k)(dec("__nu + 2")).mkString(" * ")
    val nmPow = Seq.fill(k)(dec("__nm + 2")).mkString(" * ")
    val perField = agreeCols.zipWithIndex.map { case (c, i) =>
      expr(s"CAST(${numF(c, i)} * ${dec("__nu + 2")} div " +
        s"(${dec("__nm + 2")} * ${denF(c, i)}) AS BIGINT)").as(s"odds_$c")
    }
    pat.crossJoin(broadcast(stats))
      .withColumn("odds", expr(
        s"CAST(($numProd) * ($nuPow) div (($nmPow) * ($denProd)) AS BIGINT)"))
      .select(agreeCols.map(col) ++ Seq(col("n_pairs"), col("n_truth")) ++
        perField ++ Seq(col("odds"),
          when(col("odds").isNull, "overflow")
            .when(col("odds") >= 1000L, "match")
            .when(col("odds") >= 1L, "review")
            .otherwise("nonmatch").as("decision")): _*)
  }

  /** UNSUPERVISED Fellegi–Sunter via EM (Winkler 1988; the
    * Splink/fastLink default when no labeled pairs exist): estimate
    * p = P(match), m_i, u_i from the agreement-pattern COUNTS alone by
    * expectation-maximization, then classify patterns by posterior
    * match probability. The whole trajectory runs in FIXED-POINT
    * micro-integer arithmetic (probabilities in units of 1e-6, every
    * division a truncating integer div, params clamped to [1, 1e6−1]
    * after each M-step so a degenerate field can't zero a
    * denominator) — so the estimates are bit-identical on any engine
    * and the oracle can replay all `iters` E/M rounds as unrolled
    * HUGEINT CTEs. Floats never appear.
    *
    * Scale shape: ONE map-side-combinable aggregate collapses any
    * number of candidate pairs to ≤ 2^k pattern counts; EM itself is
    * driver-side over that bounded table (the [[graft.ops.Chat]]
    * Bradley–Terry contract: the aggregate is the only thing that
    * scales). The returned frame stays derived from the input — final
    * posteriors are DECIMAL(38,0) expressions over the literal
    * converged params.
    *
    * NULL agreements (incomparable field pairs) canonicalize to
    * disagreement before estimation — EM bits are strictly binary
    * here, unlike the supervised path where NULL stays a pattern.
    *
    * @return one row per observed pattern: agreement booleans
    *         (NULL-canonicalized to false), n_pairs, converged
    *         p/m_i/u_i (micro), posterior w_micro, decision (match ≥
    *         `matchW` / review ≥ `reviewW` / nonmatch) */
  def fellegiSunterEm(cands: DataFrame, agreeCols: Seq[String],
                      iters: Int = 15,
                      initP: Long = 100000L, initM: Long = 900000L,
                      initU: Long = 100000L,
                      matchW: Long = 900000L,
                      reviewW: Long = 100000L): DataFrame = {
    val (pat, model) = emFit(cands, agreeCols, iters, initP, initM, initU)
    val (p, m, u) = (model.pMicro, model.mMicro.toArray, model.uMicro.toArray)
    // final posterior as DECIMAL(38,0) expressions over the literals
    val enriched = pat
      .withColumn("w_micro", fsPosteriorExpr(model))
      .withColumn("p_micro", lit(p))
    val withParams = agreeCols.zipWithIndex.foldLeft(enriched) {
      case (df, (c, i)) => df.withColumn(s"m_${c}_micro", lit(m(i)))
        .withColumn(s"u_${c}_micro", lit(u(i)))
    }
    withParams.withColumn("decision",
      when(col("w_micro") >= matchW, "match")
        .when(col("w_micro") >= reviewW, "review")
        .otherwise("nonmatch"))
  }

  /** The converged unsupervised Fellegi–Sunter parameters in micro
    * units — the PERSISTABLE train-once artifact ([[saveFsModel]] /
    * [[loadFsModel]], integer-exact round trip) that turns linkage
    * into a stateless per-row score for rolling ingest
    * ([[fsScoreRows]]). */
  final case class FsModel(agreeCols: Seq[String], pMicro: Long,
                           mMicro: Seq[Long], uMicro: Seq[Long])

  /** [[fellegiSunterEm]]'s estimation core, returning the converged
    * [[FsModel]] (plus the checkpointed pattern frame the enriched
    * table builds on). Same fixed-point micro-integer EM, same
    * NULL-canonicalization and divisor clamps. */
  def fellegiSunterEmModel(cands: DataFrame, agreeCols: Seq[String],
                           iters: Int = 15, initP: Long = 100000L,
                           initM: Long = 900000L,
                           initU: Long = 100000L): FsModel =
    emFit(cands, agreeCols, iters, initP, initM, initU)._2

  private def emFit(cands: DataFrame, agreeCols: Seq[String],
                    iters: Int, initP: Long, initM: Long,
                    initU: Long): (DataFrame, FsModel) = {
    require(agreeCols.nonEmpty && agreeCols.size <= 16, "1..16 fields")
    val k = agreeCols.size
    val S = 1000000L
    // NULL agreement (an incomparable field pair) canonicalizes to
    // disagreement BEFORE the pattern groupBy: the posterior CASE
    // below already reads NULL as its ELSE branch, so this keeps the
    // collected EM bits and the returned frame on one convention
    // instead of NPE-ing on Row.getBoolean (r13 advice; the
    // supervised [[fellegiSunterTable]] keeps NULL as its own pattern
    // because it needs no driver-side bit array)
    val canon = cands.select(agreeCols.map(c =>
      coalesce(col(c).cast("boolean"), lit(false)).as(c)): _*)
    // collected for EM + returned enriched
    val pat = materialize(canon.groupBy(agreeCols.map(col): _*)
      .agg(count(lit(1)).as("n_pairs"))).df
    // bounded collect: ≤ 2^k rows by construction
    val rows = pat.collect().map { r =>
      (agreeCols.indices.map(i => r.getBoolean(r.fieldIndex(agreeCols(i))))
        .toArray, r.getLong(r.fieldIndex("n_pairs")))
    }
    def clamp(x: BigInt): Long =
      x.max(BigInt(1)).min(BigInt(S - 1)).toLong
    var p = initP
    var m = Array.fill(k)(initM)
    var u = Array.fill(k)(initU)
    for (_ <- 1 to iters) {
      // E-step: posterior w per pattern, micro, truncating div
      val ws = rows.map { case (bits, _) =>
        val nm = bits.zipWithIndex.foldLeft(BigInt(p)) { case (acc, (a, i)) =>
          acc * BigInt(if (a) m(i) else S - m(i)) }
        val nu = bits.zipWithIndex.foldLeft(BigInt(S - p)) { case (acc, (a, i)) =>
          acc * BigInt(if (a) u(i) else S - u(i)) }
        (nm * S / (nm + nu)).toLong // nm,nu > 0 by clamping
      }
      // M-step over weighted counts
      val nTot = rows.map(_._2).sum
      // max(1) guards: if every posterior truncates to 0 (or S) the
      // M-step divisions below would hit a zero denominator — same
      // clamp discipline as the per-parameter clamps (r13 advice)
      val sw = rows.zip(ws).map { case ((_, n), w) => BigInt(n) * w }
        .sum.max(BigInt(1))
      val swc = rows.zip(ws).map { case ((_, n), w) => BigInt(n) * (S - w) }
        .sum.max(BigInt(1))
      p = clamp(sw / nTot)
      m = Array.tabulate(k) { i =>
        val a = rows.zip(ws).collect { case ((b, n), w) if b(i) =>
          BigInt(n) * w }.sum
        clamp(a * S / sw)
      }
      u = Array.tabulate(k) { i =>
        val a = rows.zip(ws).collect { case ((b, n), w) if b(i) =>
          BigInt(n) * (S - w) }.sum
        clamp(a * S / swc)
      }
    }
    (pat, FsModel(agreeCols, p, m.toSeq, u.toSeq))
  }

  /** The exact per-row posterior w_micro expression over an
    * [[FsModel]]'s literal parameters: one DECIMAL(38,0) product
    * quotient per row, NULL agreements reading as disagreement (the
    * EM canonicalization — the CASE's ELSE branch). Stateless and
    * shuffle-free, so the identical expression serves the batch
    * backfill and the live gate (kappa). */
  private def fsPosteriorExpr(model: FsModel): org.apache.spark.sql.Column = {
    val S = 1000000L
    def dec(e: String) = s"CAST(($e) AS DECIMAL(38,0))"
    val nmE = (dec(model.pMicro.toString) +:
      model.agreeCols.zip(model.mMicro).map { case (c, mi) =>
        dec(s"CASE WHEN $c THEN ${mi}L ELSE ${S - mi}L END")
      }).mkString(" * ")
    val nuE = (dec((S - model.pMicro).toString) +:
      model.agreeCols.zip(model.uMicro).map { case (c, ui) =>
        dec(s"CASE WHEN $c THEN ${ui}L ELSE ${S - ui}L END")
      }).mkString(" * ")
    expr(s"CAST(($nmE) * ${S}L div (($nmE) + ($nuE)) AS BIGINT)")
  }

  /** Score candidate rows under a trained [[FsModel]]: appends
    * `w_micro` (posterior match probability, micro) and the three-way
    * `decision`. A pure projection — no pattern table, no join, no
    * state — which is what makes linkage usable on a rolling ingest:
    * train once on a bounded batch ([[fellegiSunterEmModel]]),
    * persist, reload at stream start, score every arriving pair
    * (the quality-classifier-gate precedent). */
  def fsScoreRows(cands: DataFrame, model: FsModel,
                  matchW: Long = 900000L,
                  reviewW: Long = 100000L): DataFrame =
    cands.withColumn("w_micro", fsPosteriorExpr(model))
      .withColumn("decision",
        when(col("w_micro") >= matchW, "match")
          .when(col("w_micro") >= reviewW, "review")
          .otherwise("nonmatch"))

  /** Persist an [[FsModel]] as one tiny parquet — integer micro
    * counts, so load(save(m)) == m exactly (the saveKnBigram /
    * classifier-weights persisted-model family). Rows: (i, field,
    * p/m/u) with field order preserved by `i`. */
  def saveFsModel(spark: org.apache.spark.sql.SparkSession,
                  model: FsModel, path: String): Unit = {
    import spark.implicits._
    model.agreeCols.indices.map { i =>
      (i, model.agreeCols(i), model.pMicro, model.mMicro(i),
        model.uMicro(i))
    }.toDF("i", "field", "p_micro", "m_micro", "u_micro")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Load a persisted [[FsModel]] (k-row collect). */
  def loadFsModel(spark: org.apache.spark.sql.SparkSession,
                  path: String): FsModel = {
    val rows = spark.read.parquet(path)
      .orderBy("i").collect()
    require(rows.nonEmpty, s"no FS model at $path")
    FsModel(
      agreeCols = rows.map(_.getString(1)).toSeq,
      pMicro = rows.head.getLong(2),
      mMicro = rows.map(_.getLong(3)).toSeq,
      uMicro = rows.map(_.getLong(4)).toSeq)
  }
}
