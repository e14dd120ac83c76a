package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.GraftShim.materialize
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Reproducible sampling for corpus curation.
  *
  * `df.sample()` draws per-row randoms — a different subset on every
  * run, partitioning, and engine, which poisons experiment
  * reproducibility ("which 10% did we train on?"). Hash-mod sampling
  * decides membership from a STABLE hash of the row's id: the same rows
  * are selected on every run, on any cluster layout, and the selection
  * is expressible in any engine (the oracle recomputes it in SQL). It
  * also composes: the 10% sample is a subset of the 20% sample, so
  * scaling an experiment up keeps the old data.
  */
object Sample {

  /** Stable bucket in [0, 100): first 8 hex digits of md5(id). */
  def bucket(id: Column): Column =
    pmod(conv(substring(md5(id.cast("string")), 1, 8), 16, 10).cast("long"),
      lit(100))

  /** Deterministic train/validation/test split: every row gets exactly
    * one split label by its fine-grained md5(seed:id) bucket against
    * the cumulative fraction thresholds — stable across runs, engines,
    * and data layout; adding rows never moves an existing row's split
    * (the leakage-safety property a random split lacks); and because
    * the bucket is uniform per id, each stratum (language, source)
    * lands near the target fractions without stratified bookkeeping.
    * Fractions must sum to 1 within 1e-9; thresholds are taken against
    * the 2^32 bucket space with exact integer cutoffs (floor of
    * fraction·2^32), so the assignment is integer-exact. */
  def split(df: DataFrame, idCol: String,
            fractions: Seq[(String, Double)],
            seed: String = "split"): DataFrame = {
    require(fractions.nonEmpty && fractions.forall(_._2 >= 0), "bad fractions")
    require(math.abs(fractions.map(_._2).sum - 1.0) < 1e-9,
      "fractions must sum to 1")
    val cuts = fractions.scanLeft(0L) { case (acc, (_, f)) =>
      acc + math.floor(f * 4294967296.0).toLong
    }.tail
    // last cut forced to 2^32 so rounding never leaves an unlabeled row
    val bounds = fractions.map(_._1).zip(cuts.init :+ 4294967296L)
    val b = conv(substring(
      md5(concat(lit(seed), lit(":"), col(idCol).cast("string"))), 1, 8),
      16, 10).cast("long")
    val label = bounds.foldRight(lit(bounds.last._1): Column) {
      case ((name, hi), acc) => when(b < hi, lit(name)).otherwise(acc)
    }
    df.withColumn("split", label)
  }

  /** Leakage-safe split: the split label is decided by each row's GROUP
    * representative (min `idCol` within `groupCol`), so an entire
    * duplicate group — or near-dup cluster — lands in ONE split. Plain
    * [[split]] leaks: a test document's byte-twin sitting in train is
    * contamination even after dedup kept one copy per side, because the
    * two copies hash to independent buckets. `groupCol` is any cluster
    * id: `md5(text)` for exact groups, a minhash-CC component id for
    * near-dup clusters (compose with [[Dedup]]'s survivor output).
    *
    * Plan shape: one hash aggregate for the representative (map-side
    * min collapses each group before the shuffle) + one co-keyed join
    * back on `groupCol` — both shuffles hash the same key, and AQE
    * broadcasts the rep table when it is small. No windows over the
    * corpus, nothing driver-side; at 100 TB the rep table is one row
    * per distinct group.
    *
    * @return input columns + (rep_id, split) */
  def splitByGroup(df: DataFrame, idCol: String, groupCol: String,
                   fractions: Seq[(String, Double)],
                   seed: String = "split"): DataFrame = {
    val reps = df.groupBy(col(groupCol))
      .agg(min(col(idCol)).as("rep_id"))
    val labeled = split(reps, "rep_id", fractions, seed)
    // Null-safe join key: groupBy collects null-group rows into ONE
    // group, but a plain equi-join would silently drop them on the way
    // back (null never equals null) — shrinking the corpus with no
    // signal. <=> matches the null group and still plans as a hash join.
    df.join(labeled.withColumnRenamed(groupCol, "__g"),
        col(groupCol) <=> col("__g"))
      .drop("__g")
  }

  /** Curriculum ordering: a single global training order that walks
    * difficulty PHASES easiest-first (score ascending = easier) while
    * shuffling deterministically WITHIN each phase — the standard
    * curriculum-learning data layout (Bengio et al. 2009) with
    * md5-keyed reproducible shuffles instead of RNG.
    *
    * Two passes over the exact distributed-rank rail
    * ([[Rank.globalRank]] — range exchange + prefix offsets, never a
    * single-partition window): rank by (score, id) → exact-integer
    * phase `(rank−1)·phases div N + 1`; rank again by
    * (phase, md5 key, id) → the global position `pos` a sequential
    * trainer reads in order. Writers can range-partition on `pos`
    * directly; no driver-side ordering at any corpus size.
    *
    * @return input columns + (phase 1..phases, pos 1..N) */
  def curriculum(df: DataFrame, idCol: String, scoreCol: String,
                 phases: Int, seed: String = "cur"): DataFrame = {
    require(phases >= 1, "phases must be >= 1")
    val ranked = Rank.globalRank(df, Seq(col(scoreCol), col(idCol)), "__cr")
    val tot = ranked.groupBy().agg(count(lit(1)).as("__n"))
    val phased = ranked.crossJoin(broadcast(tot))
      .withColumn("phase",
        expr(s"((__cr - 1) * $phases DIV __n + 1)").cast("int"))
      .drop("__n")
    val key = md5(concat(lit(s"$seed:"), col(idCol).cast("string")))
    Rank.globalRank(phased.withColumn("__k", key),
        Seq(col("phase"), col("__k"), col(idCol)), "pos")
      .drop("__k", "__cr")
  }

  /** Leakage-safe k-fold assignment: like [[splitByGroup]] but modular
    * — every row's fold is the md5 bucket of its GROUP representative
    * mod k, so duplicate groups / near-dup clusters never straddle CV
    * folds (train-on-fold-1, eval-on-fold-2 with a byte-twin across
    * them is the silent CV inflation this prevents). Same plan shape:
    * one map-side-collapsed hash agg + one co-keyed join.
    *
    * @return input columns + (rep_id, fold 0..k-1) */
  def kfoldByGroup(df: DataFrame, idCol: String, groupCol: String,
                   k: Int, seed: String = "fold"): DataFrame = {
    require(k >= 2, "k must be >= 2")
    val reps = df.groupBy(col(groupCol))
      .agg(min(col(idCol)).as("rep_id"))
      .withColumn("fold", pmod(conv(substring(
        md5(concat(lit(s"$seed:"), col("rep_id").cast("string"))), 1, 8),
        16, 10).cast("long"), lit(k.toLong)).cast("int"))
    // Null-safe join back (see splitByGroup): the null group must keep
    // its fold, not vanish through a null-rejecting equi-join.
    df.join(reps.withColumnRenamed(groupCol, "__g"),
        col(groupCol) <=> col("__g"))
      .drop("__g")
  }

  /** Stratified variant: per-stratum percentage with a default — e.g.
    * keep 50% of English, 10% of everything else. */
  def stratified(df: DataFrame, idCol: String, stratumCol: String,
                 pcts: Map[String, Int], defaultPct: Int): DataFrame = {
    val pctCol = pcts.foldLeft(lit(defaultPct)) { case (acc, (k, p)) =>
      when(col(stratumCol) === k, lit(p)).otherwise(acc)
    }
    df.filter(bucket(col(idCol)) < pctCol)
  }

  /** Fine-grained stable bucket in [0, 2^32): first 8 hex digits of
    * md5(id) as a long — for acceptance rates too precise for the
    * percent-scale [[bucket]]. */
  def bucket32(id: Column): Column =
    conv(substring(md5(id.cast("string")), 1, 8), 16, 10).cast("long")

  /** Downsample to a target mixture: `weights(s)` is stratum s's share
    * of the output corpus (training-data domain mixing — "40% web, 30%
    * code, 30% books"). Emits the LARGEST corpus achievable without
    * upsampling any stratum: budget = floor(min_s count_s / w_s) total
    * rows, of which stratum s contributes ~budget·w_s, selected by the
    * stable md5 bucket (same selection every run and engine, and a
    * smaller budget's selection is a subset of a larger one's). Strata
    * absent from `weights` are dropped.
    *
    * Two jobs: a count aggregation whose per-stratum result is collected
    * (strata are low-cardinality by construction — languages, sources),
    * then one filter pass over the data. Weights need not sum to 1
    * (only ratios matter); dyadic weights (1/2, 1/4, 3/8…) keep the
    * acceptance thresholds bit-identical across engines.
    */
  def mixture(df: DataFrame, idCol: String, stratumCol: String,
              weights: Map[String, Double]): DataFrame = {
    // the weightCol ≡ 1 special case of mixtureByWeight: a count is a
    // unit-mass sum, and integer counts below 2^53 are exact in double,
    // so the budget/rate arithmetic is identical
    require(!df.columns.contains("__unit_w"),
      "mixture: input already has a __unit_w column")
    mixtureByWeight(df.withColumn("__unit_w", lit(1L)),
      idCol, stratumCol, "__unit_w", weights).drop("__unit_w")
  }

  /** [[mixture]] with the budget measured in a WEIGHT column's units —
    * tokens, bytes, chars — rather than rows: `weights(s)` is stratum
    * s's share of the output's total MASS (what a training run actually
    * consumes). budget = floor(min_s mass_s / w_s); every row of stratum
    * s keeps the same acceptance rate budget·w_s / mass_s, so the
    * retained mass matches the target share in expectation while
    * selection stays per-row deterministic (the subset property of the
    * md5 bucket is preserved). */
  def mixtureByWeight(df: DataFrame, idCol: String, stratumCol: String,
                      weightCol: String,
                      weights: Map[String, Double]): DataFrame = {
    require(weights.nonEmpty && weights.values.forall(_ > 0),
      "weights must be non-empty and positive")
    val strata = weights.keys.toSeq
    val masses = df.filter(col(stratumCol).isin(strata: _*))
      .groupBy(stratumCol)
      .agg(sum(col(weightCol).cast("double")).as("m"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    require(strata.forall(s => masses.getOrElse(s, 0.0) > 0.0),
      s"mixtureByWeight: empty/zero-mass strata ${strata.filterNot(s => masses.getOrElse(s, 0.0) > 0.0).mkString(", ")}")
    val budget = math.floor(weights.map { case (s, w) => masses(s) / w }.min)
    val rates = weights.map { case (s, w) => s -> budget * w / masses(s) }
    df.filter(col(stratumCol).isin(strata: _*) &&
      bucket32(col(idCol)) < rateLookup(df, stratumCol, rates) *
        lit(4294967296.0))
  }

  /** Above this stratum count the per-row rate lookup switches from a
    * codegen'd `when` chain to a broadcast map — the same literal/
    * broadcast crossover as `Similarity.CentroidLiteralBudget`: tens
    * of strata (languages, sources) inline as a flat conditional, but
    * a 10k-stratum chain would be a 10k-deep expression tree inlined
    * into every task binary (and quadratic to analyze). */
  private[graft] val RateLiteralBudget = 64

  /** Per-row acceptance rate for `stratumCol` under `rates`; strata
    * absent from the map (and null) rate 0.0 on BOTH paths, and both
    * paths return the map's exact stored doubles, so the selection
    * predicate is bit-identical across the crossover (spec-pinned). */
  private[graft] def rateLookup(df: DataFrame, stratumCol: String,
                                rates: Map[String, Double]): Column =
    if (rates.size <= RateLiteralBudget)
      rates.foldLeft(lit(0.0)) { case (acc, (s, r)) =>
        when(col(stratumCol) === s, lit(r)).otherwise(acc)
      }
    else {
      val bc = df.sparkSession.sparkContext.broadcast(rates)
      udf((s: String) =>
        if (s == null) 0.0 else bc.value.getOrElse(s, 0.0))
        .apply(col(stratumCol))
    }

  /** TEMPERATURE-rebalanced mixture (the multilingual-pretraining
    * recipe, mT5/XLM-R style): stratum weights are derived from the
    * data itself as `mass^alpha` rather than hand-picked — α = 1 keeps
    * the natural distribution (and the algebra collapses to rate 1:
    * nothing is dropped), α → 0 approaches uniform, and the usual
    * α ≈ 0.3–0.7 lifts low-resource languages without letting any
    * single head language dominate. One extra low-cardinality
    * aggregation to learn the masses, then the same md5-bucket
    * acceptance as [[mixtureByWeight]] — per-row deterministic, subset
    * property preserved.
    *
    * Engine parity: α = 0.5 is computed as `sqrt` (IEEE
    * correctly-rounded everywhere, so thresholds are bit-identical and
    * the oracle replays selection exactly); other α go through `pow`,
    * whose last-ulp rounding is libm-specific — fine for sampling, but
    * pin contracts at 0.5. */
  def temperatureMixture(df: DataFrame, idCol: String, stratumCol: String,
                         weightCol: String, alpha: Double): DataFrame = {
    require(alpha > 0 && alpha <= 1, "alpha must be in (0, 1]")
    val masses = df.filter(col(stratumCol).isNotNull)
      .groupBy(stratumCol)
      .agg(sum(col(weightCol).cast("double")).as("m"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    require(masses.nonEmpty, "temperatureMixture: no non-null strata")
    val weights = masses.map { case (st, m) =>
      st -> (if (alpha == 0.5) math.sqrt(m) else math.pow(m, alpha))
    }
    mixtureByWeight(df, idCol, stratumCol, weightCol, weights)
  }

  /** Weight-proportional sampling WITHOUT replacement via PRIORITY
    * SAMPLING (Duffield–Lund–Thorup, "Priority sampling for estimation
    * of arbitrary subset sums", JACM 2007): each row gets priority
    * w/u with u a stable uniform in (0,1] derived from md5(id); the
    * top-`n` priorities per stratum are the sample. Unlike acceptance
    * sampling this hits the budget EXACTLY (n rows per stratum, fewer
    * only if the stratum is smaller), favors heavy rows, and stays
    * deterministic: same rows every run, engine, and partitioning —
    * and the top-n sample is nested inside the top-(n+1) sample.
    *
    * Every selected row carries `w_est = max(w, tau)` where tau is the
    * (n+1)-th priority of its stratum: summing `w_est` over any subset
    * of the sample is an UNBIASED estimator of that subset's true
    * total weight — per-domain token budgeting from the sample alone.
    *
    * Numeric portability: u = (h+1)/2^32 is exact (power-of-two
    * divide of an exact integer) and w/u is one correctly-rounded
    * division, so priorities are bit-identical in any IEEE engine and
    * the oracle replays selection exactly.
    *
    * Scale shape: one window top-(n+1) per stratum (WindowGroupLimit
    * prunes map-side before the shuffle), a stratum-count-sized tau
    * aggregate broadcast back. No driver state, no per-row RNG. */
  def priorityPerStratum(df: DataFrame, idCol: String, stratumCol: String,
                         weightCol: String, n: Int): DataFrame = {
    require(n > 0, "n must be positive")
    val u = (bucket32(col(idCol)) + lit(1L)).cast("double") /
      lit(4294967296.0)
    val pri = col(weightCol).cast("double") / u
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(stratumCol).orderBy(pri.desc, col(idCol))
    // Both tau and the kept rows derive from the top-(n+1) set; without
    // materialization the full corpus window scan would run TWICE (the
    // two consumers defeat Catalyst's exchange reuse). The set is tiny —
    // strata × (n+1) rows — so the checkpoint is cheap and truncates
    // the double-scan at it.
    val ranked = materialize(df
      .withColumn("pri", pri)
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= n + 1)).df
    val tau = ranked.groupBy(stratumCol)
      .agg(min(when(col("__rk") === n + 1, col("pri"))).as("__tau"))
    ranked.filter(col("__rk") <= n)
      .join(broadcast(tau), stratumCol)
      .withColumn("w_est",
        greatest(col(weightCol).cast("double"),
          coalesce(col("__tau"), lit(0.0))))
      .drop("__rk", "__tau")
  }

  /** GREEDY K-CENTER (farthest-point) coreset selection — Gonzalez
    * 1985, the 2-approximation of the k-center cover and the standard
    * DIVERSE-subset picker for training-data curation (random sampling
    * oversamples dense regions; k-centers spreads the budget over the
    * embedding space, and the returned `radius_micro` IS the coverage
    * guarantee: every corpus point sits within that cosine distance of
    * some selected center).
    *
    * Deterministic and engine-exact: distances are integer micro-units
    * (10⁶ − round(cos·10⁶)), the seed is the LOWEST id, each step
    * picks the candidate maximizing the running min-distance with ties
    * to the lowest id. Radii are non-increasing by construction.
    *
    * Shape: k−1 passes; each keeps a running `mind` column updated
    * against ONLY the newest center (a broadcast-literal vector — no
    * join), takes the arg-max via TakeOrderedAndProject (map-side
    * top-1 per partition, driver merges partition winners), and
    * checkpoints the (id, v, mind) frame so lineage stays flat.
    * k full scans total — the textbook trade for an exact greedy
    * cover; `idCol` must be LongType.
    *
    * @return (step 1-based, id, radius_micro — null for the seed) */
  def kCenters(df: DataFrame, vecCol: String, idCol: String,
               k: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val spark = df.sparkSession
    val base = materialize(df.select(col(idCol).cast("long").as("id"),
      col(vecCol).as("v"))).df
    val seed = base.orderBy("id").limit(1).select("id", "v").head()
    def vecOf(r: org.apache.spark.sql.Row): Array[Double] =
      r.getSeq[Any](1).map {
        case f: Float => f.toDouble
        case d: Double => d
      }.toArray
    def distTo(c: Array[Double]): Column =
      lit(1000000L) -
        round(Similarity.cosine(col("v"), typedlit(c)) * 1e6).cast("long")
    val seedId = seed.getLong(0)
    var selected = Vector[(Long, Long, Option[Long])]((1L, seedId, None))
    var cur = materialize(base.withColumn("mind", distTo(vecOf(seed)))).df
    var t = 2
    var exhausted = false
    while (t <= k && !exhausted) {
      val picked = cur.filter(!col("id").isin(selected.map(_._2): _*))
        .orderBy(col("mind").desc, col("id")).limit(1)
        .select("id", "v", "mind").collect()
      picked.headOption match {
        case None => exhausted = true
        case Some(r) =>
          selected :+= ((t.toLong, r.getLong(0), Some(r.getLong(2))))
          cur = materialize(cur.withColumn("mind",
              least(col("mind"), distTo(vecOf(r))))).df
          t += 1
      }
    }
    import spark.implicits._
    selected.map { case (s, id, rad) =>
      (s, id, rad.map(Long.box).orNull.asInstanceOf[java.lang.Long])
    }.toDF("step", "id", "radius_micro")
      .select(col("step"), col("id"),
        col("radius_micro").cast("long").as("radius_micro"))
  }

  /** GROUP-LEAKAGE audit of a labeled split: per split, how many rows
    * and distinct groups it holds, and how many of those groups ALSO
    * appear in another split ("leaked"). A train/test split that cuts
    * by document id leaks — near-identical pages from one site land on
    * both sides and the eval set stops measuring generalization; the
    * guard is to split by the GROUP key (registered domain, source,
    * repository) and assert `n_leaked_groups = 0`. Splitting with
    * [[split]] keyed on the group column is leak-free by construction —
    * this audit is the independent check (and the detector for splits
    * produced elsewhere).
    *
    * Cost: two hash aggregates (rows → (split, group), then group →
    * split count) and one join on the group key — no windows, no
    * driver data. */
  def leakAudit(df: DataFrame, groupCol: String,
                splitCol: String = "split"): DataFrame = {
    val sg = df.groupBy(col(splitCol).as("split"), col(groupCol).as("__g"))
      .agg(count(lit(1)).as("__n_rows"))
    val gs = sg.groupBy("__g").agg(count(lit(1)).as("__n_splits"))
    sg.join(gs, "__g")
      .groupBy("split")
      .agg(sum("__n_rows").as("n_rows"),
        count(lit(1)).as("n_groups"),
        sum(when(col("__n_splits") > 1, 1L).otherwise(0L))
          .as("n_leaked_groups"))
  }

  /** TOKEN-BUDGET greedy selection: take documents best-first (by
    * `scoreCol` descending, ties to the lowest id) until the cumulative
    * token count would exceed `budget` — the "we can afford 2T training
    * tokens, which documents make the cut?" step after scoring. The
    * rule is a strict prefix: a document is kept iff the running total
    * THROUGH it stays ≤ budget — the running sum is monotone along the
    * order, so the cut lands at the first document that would overflow
    * and nothing after it is back-filled (the deterministic contract an
    * engine-portable oracle can replay; knapsack back-fill would be
    * order-dependent).
    *
    * Distributed via [[Rank.prefixSum]]: one range exchange on
    * (−score, id), per-range-partition partial sums to the driver,
    * range-local running sums + broadcast offsets — `sum() OVER
    * (ORDER BY …)`'s semantics with no single-partition window.
    *
    * @return input columns + `cum_tokens` (inclusive running total),
    *         only rows with `cum_tokens` ≤ budget */
  def budgetSelect(df: DataFrame, scoreCol: String, tokenCol: String,
                   idCol: String, budget: Long): DataFrame = {
    require(budget >= 0, "budget must be >= 0")
    Rank.prefixSum(df, Seq(col(scoreCol).desc, col(idCol)), tokenCol,
        outCol = "cum_tokens")
      .filter(col("cum_tokens") <= budget)
  }

  /** word2vec NEGATIVE-SAMPLING table: P(w) ∝ count(w)^0.75 (Mikolov
    * et al. 2013's smoothing — down-weights stopwords, up-weights the
    * tail vs the raw unigram), materialized as exact integer weights
    * plus the inclusive cumulative sum a sampler binary-searches.
    *
    * The 3/4 power is spelled sqrt(c·sqrt(c)) ON PURPOSE: IEEE sqrt
    * and multiply are correctly rounded on every engine, while
    * pow(c, 0.75) goes through exp/log in libm and differs in the
    * last ulp across builds — the same transcendental-avoidance rule
    * as [[graft.ops.Insight.PoissonT]]'s hardcoded thresholds. Weights
    * ride micro-units (floor(w·10⁶ + 0.5)); the share is computed on
    * DECIMAL(38,0) (weight_micro × 10⁹ reaches ~10¹⁹ on web-scale
    * counts — past BIGINT, the aucExact overflow lesson); the
    * cumulative sum is [[Rank.prefixSum]]'s range-exchange rail, never
    * an unpartitioned window over the vocabulary.
    *
    * @return (token, cnt, weight_micro, share_ppb, cum_weight) with
    *         cum_weight inclusive under (weight_micro DESC, token) */
  /** NEYMAN ALLOCATION of a sampling budget across strata — the
    * budget-optimal stratified design (n_h ∝ N_h·σ_h): high-variance
    * strata earn more of the budget than proportional allocation gives
    * them, minimizing the stratified estimator's variance at fixed
    * cost. Integer seats are apportioned by LARGEST REMAINDER
    * (Hamilton): floor shares by truncating div, then the leftover
    * seats go to the largest exact remainders (stratum-name
    * tie-break) — Σ alloc = budget EXACTLY, no float rounding drift.
    *
    * Rails: values land on the micro rail; per-stratum Σv/Σv² are
    * exact DECIMAL(38,0) sums (bounds as [[graft.ops.Insight.anovaF]]:
    * Σ|v| ≲ 5·10¹⁵, Σv² ≲ 10²⁶ per stratum); the population σ_h is the
    * ONLY double — one identical-tree sqrt over the exact sums,
    * floored to micro; weights, floor shares, remainders, and the
    * leftover ranking are then exact integers. Zero-variance strata
    * weigh 0 and receive nothing (a constant stratum needs one row,
    * not a sample — take it from the frame head if required).
    *
    * One map-side-combinable aggregate over the data; everything after
    * is windows over the stratum list (tiny by construction).
    *
    * @return per stratum: (stratum, n_rows, sd_micro, weight, alloc) */
  def neymanAllocation(df: DataFrame, stratumCol: String, valueCol: String,
                       budget: Long): DataFrame = {
    require(budget >= 0, "budget must be non-negative")
    val vm = expr(
      s"CAST(floor(`$valueCol` * 1000000 + 0.5) AS BIGINT)")
    val st = df.filter(col(valueCol).isNotNull)
      .groupBy(col(stratumCol).cast("string").as("stratum"))
      .agg(count(lit(1)).as("n_rows"),
        sum(vm.cast("decimal(38,0)")).as("__sv"),
        sum(expr(s"CAST(CAST(floor(`$valueCol` * 1000000 + 0.5) " +
          "AS BIGINT) AS DECIMAL(38,0)) * " +
          s"CAST(floor(`$valueCol` * 1000000 + 0.5) AS BIGINT)"))
          .as("__svv"))
      .withColumn("sd_micro",
        expr("CAST(floor(sqrt(CAST(n_rows * __svv - __sv * __sv " +
          "AS DOUBLE)) / CAST(n_rows AS DOUBLE) + 0.5) AS BIGINT)"))
      .withColumn("weight", expr("n_rows * sd_micro"))
    val wAll = Window.partitionBy(lit(1))
    val wRank = Window.partitionBy(lit(1))
      .orderBy(col("__rem").desc, col("stratum"))
    st.withColumn("__W", sum("weight").over(wAll))
      .withColumn("__a",
        when(col("__W") > 0, expr(s"${budget}L * weight div __W"))
          .otherwise(lit(0L)))
      .withColumn("__rem",
        when(col("__W") > 0, expr(s"(${budget}L * weight) % __W"))
          .otherwise(lit(0L)))
      .withColumn("__left", lit(budget) - sum("__a").over(wAll))
      .withColumn("__rk", row_number().over(wRank).cast("long"))
      .withColumn("alloc",
        when(col("__W") > 0,
          col("__a") + when(col("__rk") <= col("__left"), 1L)
            .otherwise(0L)).otherwise(lit(0L)))
      .select(col("stratum"), col("n_rows"), col("sd_micro"),
        col("weight"), col("alloc"))
  }

  /** GREEDY MAX-COVERAGE selection — the submodular "pick k documents
    * that together cover the most vocabulary" subset extractor
    * (facility-location family; the (1−1/e) greedy is the standard
    * diverse-seed / eval-set / dedup-exemplar picker). Each round
    * selects the document with the largest MARGINAL gain (distinct
    * tokens not covered by earlier picks), smallest doc id on ties;
    * rounds with zero achievable gain emit nothing and the selection
    * stops short (the honest budget read).
    *
    * Scale shape: the doc→distinct-token bipartite table is built
    * once; each of the ≤ k rounds is one anti-join against the covered
    * set (broadcast — it is at most k·docVocab tokens) plus one
    * map-side-combinable count aggregate and a 1-row argmax. k is a
    * bounded constant (the harmonic-pivots rule), so the driver loop
    * is k tiny jobs, never a data-sized collect.
    *
    * Coverage units are word n-grams (n = 1 for plain vocabulary;
    * n = 2 for phrase coverage — the right grain when the unigram
    * vocabulary is tiny relative to the corpus and saturates in a
    * pick or two).
    *
    * @return (sel_rank, id, gain) in pick order */
  def maxCoverage(df: DataFrame, textCol: String, idCol: String,
                  k: Int, n: Int = 1): DataFrame = {
    require(k >= 1 && n >= 1, "maxCoverage needs k >= 1 and n >= 1")
    val spark = df.sparkSession
    import spark.implicits._
    val toks = filter(TextFunctions.tokens(col(textCol)), t => t =!= "")
    val units =
      if (n == 1) toks
      else expr(s"CASE WHEN size(__t) >= $n THEN transform(" +
        s"sequence(1, size(__t) - ${n - 1}), " +
        s"i -> array_join(slice(__t, i, $n), ' ')) " +
        "ELSE CAST(array() AS ARRAY<STRING>) END")
    val dt = materialize(df.withColumn("__t", toks)
      .select(col(idCol).as("id"),
        explode(array_distinct(units)).as("tok"))).df
    var covered = spark.emptyDataset[String].toDF("tok")
    val picks = Seq.newBuilder[(Long, Long, Long)]
    var r = 1
    var exhausted = false
    while (r <= k && !exhausted) {
      val best = dt.join(broadcast(covered), Seq("tok"), "left_anti")
        .groupBy("id").agg(count(lit(1)).as("gain"))
        .orderBy(col("gain").desc, col("id")).limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val id = best.head.getLong(0)
        picks += ((r.toLong, id, best.head.getLong(1)))
        covered = materialize(covered
          .union(dt.filter(col("id") === id).select("tok")).distinct()).df
        r += 1
      }
    }
    picks.result().toDF("sel_rank", "id", "gain")
  }

  def negativeSamplingTable(df: DataFrame, textCol: String,
                            minCount: Long = 1L): DataFrame = {
    val counts = df
      .select(explode(TextFunctions.tokens(col(textCol))).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)
      .withColumn("weight_micro",
        expr("CAST(floor(sqrt(cnt * sqrt(cnt)) * 1000000 + 0.5) AS BIGINT)"))
    val total = counts.agg(sum("weight_micro").as("__tot"))
    Rank.prefixSum(counts.crossJoin(broadcast(total)),
        Seq(col("weight_micro").desc, col("token")), "weight_micro",
        outCol = "cum_weight")
      .withColumn("share_ppb", expr(
        "CAST(CAST(weight_micro AS DECIMAL(38,0)) * 1000000000 div __tot" +
          " AS BIGINT)"))
      .select("token", "cnt", "weight_micro", "share_ppb", "cum_weight")
  }
}
