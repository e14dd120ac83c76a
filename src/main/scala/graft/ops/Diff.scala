package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.GraftShim.materialize
import org.apache.spark.sql.functions._

/** Dataset versioning and drift: what changed between two snapshots of
  * a corpus, and did a column's distribution move — the questions every
  * recurring ingest answers before promoting a new training snapshot
  * ("how much churn did this crawl bring; is the quality-score
  * distribution still the one the mixture weights were tuned on").
  *
  * Both operators are plain relational shapes: [[snapshot]] is one
  * full-outer join on the id comparing content fingerprints (uniform
  * md5 keys — no skew), [[psi]] is two bucket-count aggregations over a
  * FIXED bin grid (map-side combined; the grid comes from declared
  * bounds, not a data pass). Nothing collects; both replay exactly in
  * SQL.
  */
object Diff {

  /** CHANGELOG APPLICATION — materialize the next snapshot from a base
    * table plus a stream of keyed changes (the upsert/delete compaction
    * every mutable dataset needs before a pipeline can treat it as a
    * plain table; the CDC-merge a lakehouse format performs, expressed
    * as two aggregates and an anti-join, format-free):
    *
    *   - per key, the HIGHEST-`seqCol` change wins (earlier changes to
    *     the same key are superseded, order-free — no window over the
    *     changelog, a map-side-combinable max_by aggregate)
    *   - winning op 'D' deletes the key; any other op ('I'/'U' — the
    *     distinction doesn't matter for materialization) replaces or
    *     inserts the row with the change's payload columns. A NULL op
    *     counts as "other" (upsert), not delete — without the coalesce
    *     a null-valued `__op =!= 'D'` comparison would silently DROP
    *     the row, turning a malformed changelog entry into a delete
    *   - base rows whose key never appears in the changelog pass
    *     through untouched (one left-anti join on the key-cardinality
    *     aggregate — the base table itself never shuffles wide)
    *
    * `(keys, seqCol)` must be unique within `changes` (two changes to
    * one key with the same sequence number have no defined winner);
    * `changes` must carry every `base` column plus `opCol` + `seqCol`.
    *
    * @return the next snapshot, schema = base */
  def applyChangelog(base: DataFrame, changes: DataFrame,
                     keyCols: Seq[String], seqCol: String,
                     opCol: String): DataFrame = {
    require(keyCols.nonEmpty, "applyChangelog: need at least one key")
    val payload = base.columns.filterNot(keyCols.contains)
    // referenced by the anti-join AND the union
    val latest = materialize(changes
      .groupBy(keyCols.map(col): _*)
      .agg(max_by(
        struct((payload.map(col) :+ col(opCol).as("__op")): _*),
        col(seqCol)).as("__w"))
      .select(keyCols.map(col) ++
        payload.map(c => col(s"__w.$c").as(c)) :+
        col("__w.__op").as("__op"): _*)).df
    val untouched = base.join(latest.select(keyCols.map(col): _*),
      keyCols, "left_anti")
    val applied = latest
      .filter(coalesce(col("__op"), lit("")) =!= "D").drop("__op")
    untouched.unionByName(applied)
  }

  /** SCD TYPE-2 versioned-dimension build from a keyed changelog —
    * the lakehouse "history table": every I/U change becomes a version
    * row valid over [its seq, the key's next change's seq); a D closes
    * the predecessor (it provides the boundary via the window, then
    * drops — no tombstone row in the output). `is_current` marks open
    * versions; a key whose LAST change is a delete therefore has no
    * current row. Feed `base` as seq-0 inserts unioned with the
    * changelog to version a whole snapshot.
    *
    * One window per key ordered by seq — co-partitioned, no
    * self-join; version counts per key are the change counts, so the
    * window state is bounded by per-key churn.
    *
    * @return change columns (minus `opCol`) + (valid_from_seq,
    *         valid_to_seq null = open, is_current) */
  def scd2(changes: DataFrame, keyCols: Seq[String], seqCol: String,
           opCol: String): DataFrame = {
    require(keyCols.nonEmpty, "scd2: need at least one key")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*).orderBy(col(seqCol))
    changes
      .withColumn("valid_to_seq", lead(col(seqCol), 1).over(w))
      .filter(col(opCol) =!= "D")
      .withColumn("valid_from_seq", col(seqCol))
      .withColumn("is_current", col("valid_to_seq").isNull)
      .drop(opCol, seqCol)
  }

  /** REFERENTIAL-INTEGRITY audit of one child→parent relation: how
    * many child rows point at no parent — the orphan count a
    * fact/dimension join silently drops (inner) or null-fills (left).
    * One left-anti join on the key (co-partitioned; AQE broadcasts a
    * small parent) + exact counts; `orphan_ppm` integer-DIV exact. */
  def riAudit(child: DataFrame, childKey: String, parent: DataFrame,
              parentKey: String, relation: String): DataFrame = {
    val orphans = child.select(col(childKey))
      .filter(col(childKey).isNotNull)
      .join(parent.select(col(parentKey).as(childKey)).distinct(),
        Seq(childKey), "left_anti")
    child.agg(count(col(childKey)).as("n_child"))
      .crossJoin(orphans.agg(count(lit(1)).as("n_orphans")))
      .select(lit(relation).as("relation"), col("n_child"),
        col("n_orphans"),
        when(col("n_child") > 0,
          expr("n_orphans * 1000000 DIV n_child")).otherwise(lit(0L))
          .as("orphan_ppm"))
  }

  /** K-ANONYMITY audit over quasi-identifier columns: how much of the
    * table sits in groups smaller than `k` — the re-identification
    * screen run before any tabular release. One aggregate over the
    * quasi-id combination; exact integers. */
  def kAnonymity(df: DataFrame, quasiCols: Seq[String],
                 k: Long): DataFrame = {
    require(quasiCols.nonEmpty && k >= 2, "need quasi-ids and k >= 2")
    df.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("__n"))
      .agg(count(lit(1)).as("n_groups"),
        sum("__n").as("n_rows"),
        min("__n").as("min_group_size"),
        sum(when(col("__n") < k, 1L).otherwise(0L))
          .as("n_violating_groups"),
        sum(when(col("__n") < k, col("__n")).otherwise(0L))
          .as("n_violating_rows"))
      .withColumn("k", lit(k))
      .withColumn("anonymous", col("n_violating_groups") === 0)
  }

  /** L-DIVERSITY audit — the [[kAnonymity]] follow-up that catches the
    * attack k-anonymity misses: a group of 50 identical quasi-ids is
    * 50-anonymous, but if all 50 share ONE sensitive value the
    * attacker learns it anyway (homogeneity attack, Machanavajjhala
    * 2007). Distinct-l-diversity: every quasi-id group must contain
    * ≥ l distinct sensitive values. Two aggregates over the quasi-id
    * combination (count-distinct adds the standard expand — the
    * honest price of an exact distinct per group); exact integers.
    *
    * @return one row (n_groups, n_rows, min_l, n_violating_groups,
    *         n_violating_rows, l, diverse) */
  def lDiversity(df: DataFrame, quasiCols: Seq[String],
                 sensitiveCol: String, l: Long): DataFrame = {
    require(quasiCols.nonEmpty && l >= 2, "need quasi-ids and l >= 2")
    df.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("__n"),
        countDistinct(col(sensitiveCol)).as("__l"))
      .agg(count(lit(1)).as("n_groups"),
        sum("__n").as("n_rows"),
        min("__l").as("min_l"),
        sum(when(col("__l") < l, 1L).otherwise(0L))
          .as("n_violating_groups"),
        sum(when(col("__l") < l, col("__n")).otherwise(0L))
          .as("n_violating_rows"))
      .withColumn("l", lit(l))
      .withColumn("diverse", col("n_violating_groups") === 0)
  }

  /** T-CLOSENESS audit (Li, Li & Venkatasubramanian 2007) — the
    * [[lDiversity]] follow-up that catches the attack distinct-l
    * misses: a group holding l distinct sensitive values can still be
    * SKEWED toward one of them (skewness attack — "has the disease" at
    * 90% inside the group vs 1% globally leaks plenty). t-closeness
    * bounds, per quasi-id group, the distance between the group's
    * sensitive-value distribution and the global one. For an ORDINAL
    * sensitive column that distance is the 1-D Earth Mover's Distance,
    * whose closed form is the mean |prefix-sum difference| over the
    * ordered value vocabulary.
    *
    * EXACT integer rail: with group counts c_i (n_g rows), global
    * counts C_i (N rows), vocabulary size m,
    *
    *   emd_ppm(g) = Σ_j |Σ_{i≤j} (c_i·N − C_i·n_g)| · 10⁶
    *                  div ((m−1) · n_g · N)
    *
    * on DECIMAL(38,0) (c·N reaches rows² — BIGINT overflows near 10⁁⁹
    * rows) — one integral division per group, replayed verbatim by the
    * SQL oracle.
    *
    * Plan shape: one sparse (group × value) aggregate, densified
    * against the BROADCAST value vocabulary (m is bounded — ordinal
    * buckets, not raw values), one per-group window over m rows
    * (bounded state), one final fold. No corpus-wide window, nothing
    * driver-side.
    *
    * @param sensCol ordinal sensitive column (bucket continuous values
    *        onto an exact integer grid first); rows with a NULL
    *        sensitive value are excluded (no distribution mass), while
    *        a NULL quasi-id value forms its own audited group
    * @return one row (n_groups, n_rows, m_values, max_emd_ppm,
    *         n_violating_groups, t_ppm, close) */
  def tCloseness(df: DataFrame, quasiCols: Seq[String], sensCol: String,
                 tPpm: Long): DataFrame = {
    require(quasiCols.nonEmpty && tPpm > 0, "need quasi-ids and t > 0")
    import org.apache.spark.sql.expressions.Window
    val qi = quasiCols.map(col)
    val sparse = df.filter(col(sensCol).isNotNull)
      .groupBy(qi :+ col(sensCol).as("__v"): _*)
      .agg(count(lit(1)).as("__c"))
    val global = sparse.groupBy("__v").agg(sum("__c").as("__cg"))
    val tot = global.agg(sum("__cg").as("__nt"),
      count(lit(1)).as("__m"))
    val vocab = broadcast(global.crossJoin(broadcast(tot)))
    val groups = sparse.groupBy(qi: _*).agg(sum("__c").as("__ng"))
    // Null-safe rejoin keys: groupBy collects a null quasi-id value
    // into ONE group, but a plain equi-join back would zero its counts
    // (null never equals null) and silently corrupt that group's EMD —
    // the splitByGroup lesson. <=> matches and still hash-joins.
    val sp2 = (quasiCols :+ "__v").foldLeft(sparse)((d, c) =>
      d.withColumnRenamed(c, s"__s_$c"))
    val dense = groups.crossJoin(vocab) // bounded: groups × m values
      .join(sp2,
        (quasiCols :+ "__v").map(c => col(c) <=> col(s"__s_$c"))
          .reduce(_ && _), "left")
      .drop((quasiCols :+ "__v").map(c => s"__s_$c"): _*)
      .na.fill(0L, Seq("__c"))
    val byG = Window.partitionBy(qi: _*).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val emd = dense
      .withColumn("__pfx", sum(expr(
        "CAST(__c AS DECIMAL(38,0)) * __nt" +
          " - CAST(__cg AS DECIMAL(38,0)) * __ng")).over(byG))
      .groupBy(qi :+ col("__ng") :+ col("__m") :+ col("__nt"): _*)
      .agg(sum(abs(col("__pfx"))).as("__num"))
      // m = 1 (a single sensitive value) means every distribution is
      // the global one: EMD is 0, and the (m−1) divisor is degenerate
      .withColumn("__emd_ppm", expr(
        "CASE WHEN __m <= 1 THEN CAST(0 AS BIGINT) ELSE" +
          " CAST(__num * 1000000 div (CAST(__m - 1 AS DECIMAL(38,0))" +
          " * __ng * __nt) AS BIGINT) END"))
    emd.agg(count(lit(1)).as("n_groups"),
        sum("__ng").as("n_rows"),
        max("__m").cast("long").as("m_values"),
        max("__emd_ppm").as("max_emd_ppm"),
        sum(when(col("__emd_ppm") > tPpm, 1L).otherwise(0L))
          .as("n_violating_groups"))
      .withColumn("t_ppm", lit(tPpm))
      .withColumn("close", col("n_violating_groups") === 0)
  }

  /** Row-level snapshot diff: one row per id present in either
    * snapshot, with `status` ∈ added (only in `b`), removed (only in
    * `a`), changed (both, canonical-text fingerprint differs),
    * unchanged. The content compare uses [[TextFunctions.fingerprint]]
    * (whitespace/case-canonical md5), so formatting-only churn doesn't
    * count as change. */
  def snapshot(a: DataFrame, b: DataFrame, idCol: String,
               textCol: String): DataFrame = {
    val fa = a.select(col(idCol).as("id"),
      TextFunctions.fingerprint(col(textCol)).as("__fa"))
    val fb = b.select(col(idCol).as("id"),
      TextFunctions.fingerprint(col(textCol)).as("__fb"))
    fa.join(fb, Seq("id"), "full_outer")
      .select(col("id"),
        when(col("__fa").isNull, "added")
          .when(col("__fb").isNull, "removed")
          .when(col("__fa") === col("__fb"), "unchanged")
          .otherwise("changed").as("status"))
  }

  /** Population Stability Index between a reference snapshot `a` and a
    * candidate `b` for a numeric column, over `bins` equal-width
    * buckets on the DECLARED [lo, hi] (out-of-range values clamp into
    * the edge buckets, so the grid is total). Returns one row per
    * bucket: (bucket, na, nb, pa, pb, term) with
    * term = (pb − pa)·ln(pb/pa) rounded to 6 dp — the engine-portable
    * per-bucket contribution (the repo's decimal-summing convention:
    * round the terms, sum the rounded values, and any engine agrees
    * bit-for-bit). PSI = Σ term; the usual reading is <0.1 stable,
    * 0.1–0.25 drifting, >0.25 drifted. `eps` floors empty buckets so
    * the log stays finite. */
  def psi(a: DataFrame, b: DataFrame, colName: String, lo: Double,
          hi: Double, bins: Int = 10, eps: Double = 1e-6): DataFrame = {
    require(bins >= 2 && hi > lo, "psi: need bins >= 2 and hi > lo")
    val width = (hi - lo) / bins
    def bucketOf(c: Column): Column =
      least(greatest(floor((c - lit(lo)) / lit(width)).cast("int"), lit(0)),
        lit(bins - 1))
    def counts(df: DataFrame, out: String): DataFrame =
      df.filter(col(colName).isNotNull)
        .groupBy(bucketOf(col(colName)).as("bucket"))
        .agg(count(lit(1)).as(out))
    val spark = a.sparkSession
    val grid = spark.range(bins).select(col("id").cast("int").as("bucket"))
    val na = counts(a, "na")
    val nb = counts(b, "nb")
    val joined = grid
      .join(na, Seq("bucket"), "left")
      .join(nb, Seq("bucket"), "left")
      .select(col("bucket"),
        coalesce(col("na"), lit(0L)).as("na"),
        coalesce(col("nb"), lit(0L)).as("nb"))
    val totA = sum(col("na")).over()
    val totB = sum(col("nb")).over()
    joined
      .withColumn("pa", greatest(col("na").cast("double") / totA, lit(eps)))
      .withColumn("pb", greatest(col("nb").cast("double") / totB, lit(eps)))
      .withColumn("term",
        round((col("pb") - col("pa")) * log(col("pb") / col("pa")), 6))
      .select("bucket", "na", "nb", "pa", "pb", "term")
  }

  /** Exact two-sample KOLMOGOROV–SMIRNOV distance between every pair of
    * groups over an INTEGER-valued column — the binning-free drift test
    * [[psi]] can't give (PSI depends on a declared grid; KS is the sup
    * of the empirical-CDF gap, invariant under any monotone rescale).
    * "Did source X's document-length distribution move away from source
    * Y's" with no tuning knob.
    *
    * Everything is exact integer arithmetic, so the statistic is
    * engine-identical: with cumulative counts A(v), B(v) at each value
    * v and group sizes nA, nB,
    *
    *   D = max_v |A(v)·nB − B(v)·nA| / (nA·nB)
    *
    * and the reported `ks_ppm` = num·10⁶ div (nA·nB). The max over the
    * merged support is attained at support points, and the dense
    * (group × value) grid makes every group's CDF defined at every
    * support point. Products run in DECIMAL(38,0) (the aucExact rail —
    * A(v)·nB wraps BIGINT near 3·10⁹ rows per group).
    *
    * Scale contract: the shape is counts-per-(group, value) → a window
    * partitioned by GROUP over the VALUE VOCABULARY → a vocabulary-
    * bounded pair join. Cost is |groups|²·|distinct values|, never row
    * count — right for discrete/bucketed columns (token counts, scores,
    * sizes); pre-bucket continuous columns first (at which point the
    * sup over buckets is exact for the bucketed variable). */
  /** Pairwise JENSEN–SHANNON divergence between the groups' ITEM
    * distributions (token unigrams, domains, event types…) — the
    * content-level companion to [[ksPairwise]] (KS compares one numeric
    * marginal; JSD compares what the groups are actually made of).
    * Symmetric, bounded [0, 1] bit: 0 = identical mixture, 10⁶ µbits =
    * disjoint support.
    *
    * Engine-exact by the rounded-term convention ([[psi]] /
    * text_entropy precedent): per item,
    *
    *   term = ½p·log₂(2p/(p+q)) [p>0] + ½q·log₂(2q/(p+q)) [q>0]
    *
    * evaluated as ONE identical double expression on both engines
    * (p, q are exact-integer ratios), rounded to µbits via
    * floor(·10⁶ + 0.5), summed order-free as BIGINT. A group missing
    * an item contributes the other side's ½·p mass exactly.
    *
    * Scale contract: counts-first (rows collapse to the item
    * vocabulary before any shuffle), dense (group × item) grid,
    * pair join bounded by |groups|²·|vocabulary| — never row count. */
  def jsdPairwise(df: DataFrame, groupCol: String, itemCol: String):
      DataFrame = {
    val cnt = df.filter(col(itemCol).isNotNull)
      .groupBy(col(groupCol).as("__g"), col(itemCol).as("__i"))
      .agg(count(lit(1)).as("__c"))
    val grid = cnt.select("__g").distinct()
      .crossJoin(cnt.select("__i").distinct())
      .join(cnt, Seq("__g", "__i"), "left")
      .select(col("__g"), col("__i"), coalesce(col("__c"), lit(0L)).as("__c"))
    val tot = cnt.groupBy("__g").agg(sum("__c").as("__n"))
    val sided = grid.join(tot, "__g")
    val a = sided.select(col("__g").as("group_a"), col("__i"),
      (col("__c").cast("double") / col("__n")).as("__p"))
    val b = sided.select(col("__g").as("group_b"), col("__i"),
      (col("__c").cast("double") / col("__n")).as("__q"))
    a.join(b, Seq("__i")).filter(col("group_a") < col("group_b"))
      .withColumn("__term", floor((
        when(col("__p") > 0,
          col("__p") * lit(0.5) *
            log2(col("__p") * 2 / (col("__p") + col("__q"))))
          .otherwise(lit(0.0)) +
        when(col("__q") > 0,
          col("__q") * lit(0.5) *
            log2(col("__q") * 2 / (col("__p") + col("__q"))))
          .otherwise(lit(0.0))) * 1e6 + 0.5).cast("long"))
      .groupBy("group_a", "group_b")
      .agg(sum("__term").as("jsd_micro"))
  }

  def ksPairwise(df: DataFrame, groupCol: String, valueCol: String):
      DataFrame = {
    val cnt = df.filter(col(valueCol).isNotNull)
      .groupBy(col(groupCol).as("__g"), col(valueCol).cast("long").as("__v"))
      .agg(count(lit(1)).as("__c"))
    val grid = cnt.select("__g").distinct()
      .crossJoin(cnt.select("__v").distinct())
      .join(cnt, Seq("__g", "__v"), "left")
      .select(col("__g"), col("__v"), coalesce(col("__c"), lit(0L)).as("__c"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__g").orderBy("__v")
    val cum = grid.withColumn("__cum", sum("__c").over(w))
    val tot = cnt.groupBy("__g").agg(sum("__c").as("__n"))
    val dec = "cast(%s as decimal(38,0))"
    val a = cum.join(tot, "__g").select(col("__g").as("group_a"),
      col("__v"), col("__cum").as("__ca"), col("__n").as("__na"))
    val b = cum.join(tot, "__g").select(col("__g").as("group_b"),
      col("__v"), col("__cum").as("__cb"), col("__n").as("__nb"))
    a.join(b, Seq("__v")).filter(col("group_a") < col("group_b"))
      .groupBy("group_a", "group_b", "__na", "__nb")
      .agg(max(abs(expr(dec.format("__ca")) * expr(dec.format("__nb")) -
        expr(dec.format("__cb")) * expr(dec.format("__na")))).as("__num"))
      .select(col("group_a"), col("group_b"),
        col("__na").as("n_a"), col("__nb").as("n_b"),
        // IntegralDivide on decimals: exact floor quotient as LONG —
        // decimal `/` would round the quotient at its result scale and
        // can round UP across the integer boundary (engine-divergent).
        expr("cast(__num as decimal(38,0)) * 1000000 div " +
          "(cast(__na as decimal(38,0)) * cast(__nb as decimal(38,0)))")
          .as("ks_ppm"))
  }

  /** Embedding centroid DRIFT between two dataset versions, per label
    * and dimension — the monitoring read for "did this class's
    * embedding distribution move" (re-embedding runs, encoder swaps,
    * data shifts). Version membership is a boolean column; the drift
    * per (label, dim) is the signed mean difference
    * s_a/n_a − s_b/n_b put on the common-denominator integer rail:
    * sign(s_a·n_b − s_b·n_a) and |s_a·n_b − s_b·n_a| div (n_a·n_b) —
    * the sums are already micro-units, so the quotient IS the mean
    * difference in micro-units (no second 10⁶ scale). (sign, abs)
    * split because signed integer division is not cross-engine
    * portable; wide products on DECIMAL(38,0) (s·n exceeds BIGINT at
    * ~10⁷ rows of micro-unit sums).
    *
    * Plan: one explode + ONE (label, dim)-keyed hash aggregate with
    * conditional sums — both versions fold in the same pass, no join
    * of the two halves. Labels × dims output rows.
    *
    * @return (label, dim 0-based, n_a, n_b, drift_sign,
    *         drift_abs_micro) for (label, dim) present in both
    *         versions */
  def centroidDrift(vecs: DataFrame, vecCol: String, labelCol: String,
                    inACol: String): DataFrame = {
    val e = vecs
      .select(col(labelCol).as("label"), col(inACol).as("__a"),
        posexplode(col(vecCol)).as(Seq("dim", "__x")))
      .withColumn("__m",
        floor(col("__x").cast("double") * 1e6 + 0.5).cast("long"))
    val d = "cast(%s as decimal(38,0))"
    e.groupBy("label", "dim")
      .agg(sum(when(col("__a"), 1L).otherwise(0L)).as("n_a"),
        sum(when(col("__a"), col("__m")).otherwise(0L)).as("s_a"),
        sum(when(!col("__a"), 1L).otherwise(0L)).as("n_b"),
        sum(when(!col("__a"), col("__m")).otherwise(0L)).as("s_b"))
      .filter(col("n_a") > 0 && col("n_b") > 0)
      .select(col("label"), col("dim"), col("n_a"), col("n_b"),
        expr(s"cast(sign(${d.format("s_a")} * n_b" +
          s" - ${d.format("s_b")} * n_a) as int)").as("drift_sign"),
        expr(s"abs(${d.format("s_a")} * n_b - ${d.format("s_b")} * n_a)" +
          s" div (${d.format("n_a")} * n_b)")
          .as("drift_abs_micro"))
  }

  /** Cumulative CDF thresholds of the two-sided geometric (discrete
    * Laplace) distribution P(X = k) ∝ α^|k|, α = e^(−ε), scaled to
    * 2³² — noise k is assigned when a 32-bit hash-uniform falls in
    * [T(k−1), T(k)), the [[Insight.bootstrapMeanCI]] Poisson-threshold
    * discipline applied to DP noise. exp(−ε) is transcendental, so the
    * thresholds are computed HERE once and inlined as integer literals
    * into any replay (a runtime exp() could drift in the last ulp
    * across libm builds). The tail |X| > K collapses into ±K with K
    * sized so the collapsed mass is below 32-bit resolution
    * (α^K < 2⁻³³ ⇒ K = ⌈33·ln2/ε⌉) — the collapse is then invisible
    * to the 32-bit inverse-CDF lookup and the mechanism really is
    * ε-DP. K is capped at 256 CASE branches per side, which makes
    * ε ≥ 33·ln2/256 ≈ 0.09 a hard REQUIREMENT rather than a silent
    * truncation: capping the tail at a too-small K would collapse
    * REAL probability mass onto ±K and the boundary release n+K vs
    * (n+1)+K would leak ln(α/(1−α)) ≫ ε (r13 review finding — the
    * earlier cap of 64 silently voided the guarantee below ε ≈ 0.36;
    * for smaller ε, widen the hash beyond 32 bits and re-derive).
    *
    * @return (K, thresholds for k = −K..K, ascending) */
  private[graft] def geometricThresholds(eps: Double): (Int, Array[Long]) = {
    require(eps >= 33.0 * math.log(2) / 256,
      s"eps=$eps below the 32-bit-resolution floor ~0.0894: the ±256 " +
        "threshold table cannot hold the tail mass and the release " +
        "would NOT be eps-DP; widen the hash to support smaller eps")
    val alpha = math.exp(-eps)
    val kMax =
      math.max(1, math.ceil(33.0 * math.log(2) / eps).toInt)
    val ts = (-kMax to kMax).map { k =>
      val f =
        if (k < 0) math.pow(alpha, -k) / (1 + alpha)
        else 1.0 - math.pow(alpha, k + 1) / (1 + alpha)
      math.floor(f * 4294967296.0).toLong
    }.toArray
    (kMax, ts)
  }

  /** ε-DIFFERENTIALLY-PRIVATE count release by the GEOMETRIC MECHANISM
    * (Ghosh, Roughgarden, Sundararajan STOC 2009 — universally optimal
    * for counting queries; the integer-valued Laplace mechanism every
    * production DP stack ships for histograms). Per group the true
    * count n is released as max(0, n + X), X two-sided geometric with
    * parameter e^(−ε); each unit change of one row shifts n by 1, so
    * the release is ε-DP for the add/remove-one-row neighbor relation.
    *
    * Noise is hash-armed: u = top 32 md5 bits of the [[dpNoiseKey]]
    * (salt : per-field-hashed group key — collision-free by field),
    * X = inverse CDF of u through the [[geometricThresholds]] integer
    * table — a pure per-group function, so the whole release is one
    * map-side-combinable aggregate plus a projection: no second pass,
    * no driver state, no RNG service at any scale.
    *
    * DETERMINISM CAVEAT (deliberate, documented): a fixed salt makes
    * the release reproducible — and therefore REPLAYABLE, which a real
    * DP deployment must not allow (averaging replays cancels the
    * noise). This operator is the release rail with the distribution
    * exactly right; production callers supply a FRESH salt per release
    * and account the ε budget across releases.
    *
    * @return one row per group: the group columns + n_released */
  def dpGeometricCounts(df: DataFrame, groupCols: Seq[String],
                        eps: Double, salt: String = "dp"): DataFrame = {
    require(groupCols.nonEmpty, "need at least one group column")
    val gkey = dpNoiseKey(salt, groupCols.map(col))
    df.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("__n"))
      .withColumn("__gkey", gkey)
      .withColumn("__noise", expr(geometricNoiseSql("__gkey", eps)))
      .select(groupCols.map(col) :+
        expr("greatest(0L, __n + __noise)").as("n_released"): _*)
  }

  /** Per-group noise key with UNAMBIGUOUS field encoding: each field
    * hashes separately (md5 of its string form, NULL → the literal
    * token `NULL`, which no hex digest can collide with) before the
    * ':'-join. A raw value concat would let distinct groups collide —
    * ("a:b","c") vs ("a","b:c"), or the string "null" vs NULL — and
    * colliding groups would receive IDENTICAL noise, breaking the
    * per-group independence the release documents (r13 advice).
    * Shared by both releases so the key format cannot drift. */
  private[graft] def dpNoiseKey(salt: String, fields: Seq[Column]): Column =
    concat_ws(":", lit(salt) +: fields.map(f =>
      coalesce(md5(f.cast("string")), lit("NULL"))): _*)

  /** The inverse-CDF noise lookup as a SQL CASE over a hash-key
    * column: md5(keyCol)'s top 32 bits through the
    * [[geometricThresholds]] integer table. */
  private def geometricNoiseSql(keyCol: String,
                                       eps: Double): String = {
    val (kMax, ts) = geometricThresholds(eps)
    thresholdNoiseSql(keyCol, kMax, ts)
  }

  /** Shared inverse-CDF CASE builder over any precomputed 2³²-scaled
    * threshold table (geometric and discrete-Gaussian mechanisms). */
  private def thresholdNoiseSql(keyCol: String, kMax: Int,
                                ts: Array[Long]): String = {
    val u = s"CAST(conv(substring(md5($keyCol), 1, 8), 16, 10) AS BIGINT)"
    val cases = ts.zipWithIndex.map { case (t, i) =>
      s"WHEN $u < ${t}L THEN ${i - kMax}L"
    }.mkString(" ")
    s"CASE $cases ELSE ${kMax}L END"
  }

  /** Cumulative CDF thresholds of the DISCRETE GAUSSIAN
    * P(X = k) ∝ exp(−k²/(2σ²)) scaled to 2³² — the
    * [[geometricThresholds]] rail with the second mechanism every
    * production DP stack ships (Canonne–Kamath–Steinke 2020: the
    * discrete Gaussian with parameter σ satisfies ρ-zCDP with
    * ρ = 1/(2σ²) for sensitivity-1 counts, hence (ε, δ)-DP with
    * ε = ρ + 2√(ρ·ln(1/δ)) for every δ — tighter multi-release
    * composition than the pure-ε geometric). exp is transcendental, so
    * thresholds are computed HERE once and inlined as integer
    * literals into operator and oracle alike.
    *
    * Tail: |X| > K collapses into ±K with K = ⌈σ·√(66·ln 2)⌉ ≈ 6.77σ,
    * which puts the collapsed mass below 2⁻³³ — invisible to the
    * 32-bit lookup, so the stated zCDP guarantee holds exactly (the
    * r13 geometric-cap lesson). The K ≤ 256 cap (up to 2K+1 = 513
    * generated CASE WHEN branches) therefore REQUIRES σ ≤ 37.8; for
    * larger σ widen the hash and re-derive.
    *
    * @return (K, thresholds for k = −K..K, ascending) */
  private[graft] def gaussianThresholds(sigma: Double): (Int, Array[Long]) = {
    require(sigma > 0, "sigma must be positive")
    val kMax = math.max(1, math.ceil(sigma * math.sqrt(66 * math.log(2))).toInt)
    require(kMax <= 256,
      s"sigma=$sigma needs K=$kMax > 256 (up to 2K+1 = 513 CASE " +
        "branches at the cap): the 32-bit threshold table cannot hold " +
        "the tail mass below 2^-33; widen the hash to support larger sigma")
    val w = (-kMax to kMax).map(k =>
      math.exp(-(k.toDouble * k) / (2 * sigma * sigma)))
    val z = w.sum
    var acc = 0.0
    val ts = w.map { wi => acc += wi; math.floor(acc / z * 4294967296.0).toLong }
      .toArray
    (kMax, ts)
  }

  /** zCDP count release by the DISCRETE GAUSSIAN mechanism — the
    * [[dpGeometricCounts]] shape (one map-side-combinable aggregate,
    * [[dpNoiseKey]]-armed inverse-CDF noise, max(0, ·) clamp) with
    * ρ = 1/(2σ²)-zCDP accounting instead of pure ε: the mechanism of
    * choice when many releases compose (zCDP adds ρ linearly and
    * converts to (ε, δ) once at the end). Same determinism caveat as
    * the geometric release: production supplies a fresh salt per
    * release and accounts the ρ budget.
    *
    * @return one row per group: the group columns + n_released */
  def dpGaussianCounts(df: DataFrame, groupCols: Seq[String],
                       sigma: Double, salt: String = "dpg"): DataFrame = {
    require(groupCols.nonEmpty, "need at least one group column")
    val (kMax, ts) = gaussianThresholds(sigma)
    df.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("__n"))
      .withColumn("__gkey", dpNoiseKey(salt, groupCols.map(col)))
      .withColumn("__noise", expr(thresholdNoiseSql("__gkey", kMax, ts)))
      .select(groupCols.map(col) :+
        expr("greatest(0L, __n + __noise)").as("n_released"): _*)
  }
}
