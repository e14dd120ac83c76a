package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.GraftShim.materialize
import org.apache.spark.sql.functions._

/** Mergeable corpus data card — the release report as a train-once /
  * merge-many artifact: each corpus DROP computes a tiny per-language
  * partial (exact add-mergeable counts + a theta sketch of the text
  * fingerprints for union-mergeable distinct-document counts), and any
  * set of persisted partials merges into the release card without
  * re-reading the drops — the same incremental pattern as the dedup
  * index, the PCA CovState, and the HLL slice rollups.
  *
  * The counts (docs, tokens, chars, Gopher passes) merge EXACTLY by
  * addition. Distinct documents merge through theta-sketch union:
  * exact below the sketch's 2^lgK retention (every verify scale), the
  * standard ~1.6% estimate beyond — and still correct across drops
  * that SHARE documents, which a naive per-drop distinct sum would
  * double-count. */
object Report {

  /** One drop's per-language partial: one tiny row per language.
    *
    * `lgK` bounds when `distinct_docs` stays EXACT: a theta sketch
    * holds every fingerprint hash until ~2^lgK distincts (4096 at the
    * default), then degrades to a ~1/sqrt(2^lgK) estimate. Size lgK
    * for the LANGUAGE with the most distinct documents expected across
    * all merged drops (the sketch is ~8·2^lgK bytes — lgK 20 is ~8 MB
    * per language, still a broadcast-class partial); the merged card
    * reports which mode each language landed in via
    * `distinct_is_estimate`, so a release card can never silently pass
    * an estimate off as a count. */
  def dataCardPartial(df: DataFrame, textCol: String, langCol: String,
                      lgK: Int = 12): DataFrame =
    df.groupBy(col(langCol).as("lang")).agg(
      count(lit(1)).as("n_docs"),
      sum(TextFunctions.tokenCountWs(col(textCol)).cast("long"))
        .as("total_tokens"),
      sum(length(col(textCol)).cast("long")).as("total_chars"),
      sum(when(TextFunctions.gopherRules(col(textCol)).getField("pass"), 1L)
        .otherwise(0L)).as("gopher_pass"),
      theta_sketch_agg(TextFunctions.fingerprint(col(textCol)), lit(lgK))
        .as("fp_theta"))

  /** Merge persisted partials (a union of [[dataCardPartial]] outputs)
    * into the release card. `distinct_docs` is the theta estimate —
    * exact while every language held under 2^lgK distinct docs —
    * and `distinct_is_estimate` says which mode the merged sketch is
    * actually in (read off the sketch's own theta, not inferred from
    * the count), so exact release counts are distinguishable from
    * ~1.6%-error estimates. */
  def dataCardMerge(partials: DataFrame): DataFrame =
    partials.groupBy("lang").agg(
      sum("n_docs").as("n_docs"),
      sum("total_tokens").as("total_tokens"),
      sum("total_chars").as("total_chars"),
      sum("gopher_pass").as("gopher_pass"),
      theta_union_agg(col("fp_theta")).as("__th"))
      .withColumn("distinct_docs",
        theta_sketch_estimate(col("__th")).cast("long"))
      .withColumn("distinct_is_estimate", isEstimateUdf(col("__th")))
      .drop("__th")

  /** Hierarchical ROLLUP report: every prefix level of the dimension
    * list aggregated in ONE pass — the "by (a,b), by (a), grand total"
    * report that would otherwise be |dims|+1 scans and shuffles. Spark
    * expands the grouping sets inside a single hash aggregate
    * (Expand + one exchange), so the cost is one scan regardless of
    * how many levels the report carries — at corpus scale this is the
    * difference between one job and a job per drill-down level.
    *
    * Emits `gid` (= grouping_id(): first dimension is the MOST
    * significant bit, 0 = fully grouped row, 2^|dims|−1 = grand
    * total) because rolled-up dimensions surface as NULL — without
    * the bitmask a NULL dimension VALUE is indistinguishable from a
    * subtotal row, the classic rollup-consumer bug. Aggregates are the
    * caller's; pass order-free ones (counts, integer sums, float-cast
    * doubles) if the result feeds a hash compare. */
  def rollupReport(df: DataFrame, dims: Seq[String],
                   aggs: Seq[org.apache.spark.sql.Column]): DataFrame = {
    require(dims.nonEmpty, "rollupReport needs at least one dimension")
    require(aggs.nonEmpty, "rollupReport needs at least one aggregate")
    df.rollup(dims.map(col): _*)
      .agg(grouping_id().cast("long").as("gid"), aggs: _*)
  }

  /** True iff the serialized theta sketch left exact mode (theta < 1 —
    * it started sampling). Reads the DataSketches binary Spark's
    * theta_union_agg emits; driver-free, one tiny call per card row. */
  private val isEstimateUdf = udf { (b: Array[Byte]) =>
    if (b == null) false
    else org.apache.datasketches.theta.Sketch.wrap(
      org.apache.datasketches.memory.Memory.wrap(b)).isEstimationMode
  }

  /** VOCABULARY GROWTH CURVE (Heaps' law read-out): distinct-token
    * count V(n) and total-token count T(n) after the first n documents
    * under the deterministic global id order, at `points` evenly
    * spaced checkpoints — THE corpus-health curve that says whether
    * more data still buys new vocabulary (V ~ K·T^β with β ≈ 0.4–0.6
    * for natural text; a flattening curve says the source is
    * exhausted, a β near 1 says the "text" is serial-numbered
    * boilerplate). Log-log-regress V on T at report time for β.
    *
    * Exact and distributed: document positions come from
    * [[graft.ops.Rank.globalRank]]'s range-exchange (never a global
    * sort), each token's FIRST position is one min-aggregate, and each
    * checkpoint's V is a count of tokens whose first position ≤ the
    * cutoff — so the curve is exactly right even though no prefix is
    * ever re-scanned. The checkpoint table is `points` rows riding a
    * broadcast; worst-case intermediate is points × vocabulary rows
    * (band-join on first_pos ≤ cutoff), map-side collapsed.
    *
    * @param docs (idCol, toksCol: array&lt;string&gt;) one row per doc
    * @return (point, n_docs, vocab, tokens) — point = 1..points,
    *         n_docs = point·N div points */
  def vocabGrowth(docs: DataFrame, idCol: String, toksCol: String,
                  points: Int = 10): DataFrame = {
    require(points >= 1, "vocabGrowth needs points >= 1")
    // first-pos pass + per-doc count pass
    val ranked = materialize(Rank.globalRank(
        docs.select(col(idCol).as("__id"), col(toksCol).as("__t"))
          .filter(col("__id").isNotNull),
        Seq(col("__id")), outCol = "__pos")).df
    val nRow = ranked.agg(count(lit(1)).as("__n"))
    val cps = nRow
      .select(explode(expr(s"sequence(1, $points)")).as("__p"),
        col("__n"))
      .select(col("__p").cast("long").as("point"),
        expr(s"CAST(__p AS BIGINT) * __n div $points").as("n_docs"))
    val firstPos = ranked
      .select(col("__pos"), explode(col("__t")).as("__tok"))
      .groupBy("__tok").agg(min("__pos").as("__fp"))
    val vocab = firstPos
      .join(broadcast(cps), col("__fp") <= col("n_docs"))
      .groupBy("point", "n_docs").agg(count(lit(1)).as("vocab"))
    val toks = ranked
      .select(col("__pos"), size(col("__t")).cast("long").as("__nt"))
      .join(broadcast(cps), col("__pos") <= col("n_docs"))
      .groupBy("point", "n_docs").agg(sum("__nt").as("tokens"))
    // Drive the result from the checkpoint table itself: a cutoff whose
    // n_docs rounds to 0 (points > N) matches no band-join row and would
    // vanish from an inner-join spelling — the contract is ALL
    // `1..points` rows, with vocab/tokens 0 for empty prefixes.
    cps.join(vocab, Seq("point", "n_docs"), "left")
      .join(toks, Seq("point", "n_docs"), "left")
      .select(col("point"), col("n_docs"),
        coalesce(col("vocab"), lit(0L)).as("vocab"),
        coalesce(col("tokens"), lit(0L)).as("tokens"))
  }
}
