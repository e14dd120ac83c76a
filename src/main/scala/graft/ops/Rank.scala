package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.GraftShim.{Materialized, materialize}
import org.apache.spark.sql.GraftShim.Layout.{Hash, PidClustered}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Ranking/selection operators for corpus curation: "keep the best N
  * documents per group" is the selection step that follows scoring in a
  * training-data pipeline (e.g. top quality-scored docs per language or
  * per source domain).
  */
object Rank {

  /** Top `n` rows per group, ordered by `order` (add a unique id as the
    * last sort key for deterministic output).
    *
    * Declarative window + rank filter on purpose: Spark ≥3.5 rewrites
    * rank<=n filters into WindowGroupLimit, which prunes to n rows per
    * group BEFORE the shuffle (map-side, no full sort of each group) —
    * the same two-stage shape we hand-build for top-k similarity, but
    * derived by the optimizer. The plan is asserted in OpsSpec; if the
    * rewrite ever regresses, fall back to a TopKAggregator formulation.
    *
    * Returns the input columns plus an `int` `rank` (1-based).
    */
  def topNPerGroup(df: DataFrame, partitionBy: Seq[Column],
                   order: Seq[Column], n: Int): DataFrame = {
    val w = Window.partitionBy(partitionBy: _*).orderBy(order: _*)
    df.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= n)
  }

  /** PERCENT-RANK normalization per group: each row's value mapped to
    * its empirical CDF position (rank−1)/(n−1) within its group — the
    * calibration step that makes scores from different sources/models
    * comparable before mixing or thresholding them (a raw quality
    * score of 0.7 means nothing across two scorers; "top 10% within
    * its source" does). Ties share the min rank, so the result is
    * independent of tie order — no tie-break column needed — and the
    * value is a single division of exact integers: bit-identical on
    * any engine (single-row groups define pr = 0). Cost model: one
    * window partitioned by the group — state is one group's rows, the
    * [[topNPerGroup]] shape without the limit pushdown. */
  def percentRank(df: DataFrame, partitionBy: Seq[Column], order: Column,
                  outCol: String = "pr"): DataFrame = {
    val w = Window.partitionBy(partitionBy: _*).orderBy(order)
    df.withColumn(outCol, percent_rank().over(w))
  }

  /** EXACT global 1-based rank under a total order — with NO
    * single-partition window. `row_number() OVER (ORDER BY …)` forces
    * every row through one task (Spark itself warns "Moving all data to
    * a single partition"), which is the canonical 100 TB scale-killer
    * for global ordering. This is the distributed spelling:
    *
    *   1. `repartitionByRange(n, order)` — one range exchange; every
    *      row of range-partition p sorts before every row of p+1
    *      (RangePartitioner's deterministic sampled bounds); the
    *      partition id is MATERIALIZED as a column and the frame
    *      materialized, so the id is data, not physical layout,
    *   2. one tiny count-per-range-partition aggregate (≤ n rows to
    *      the driver — partition COUNTS, never data) folded into a
    *      prefix-offset table,
    *   3. `row_number` over a window partitioned BY THE RANGE-PARTITION
    *      COLUMN (state = one range partition's rows, codegen'd, never
    *      the whole dataset) plus a broadcast join adding the offset.
    *
    * Deriving the ranks from the materialized pid column (rather than
    * `TaskContext.getPartitionId` in a mapPartitions) keeps them
    * correct under ANY downstream physical re-layout — a
    * `.coalesce(1)` before a write merges partitions without a
    * shuffle, which silently corrupts task-id-based positions.
    * `order` must be a TOTAL order — append a unique id as the last
    * key; with ties the rank would depend on partition-internal order.
    * Rank semantics = `row_number`: consecutive, starting at 1.
    *
    * Cost: one range shuffle + one pid hash shuffle with local sorts —
    * comparable to the one total-sort ANY exact global ordering needs —
    * plus an O(n-partitions) driver exchange. Every downstream
    * quantile/ntile/median surface ([[Insight.rfm]],
    * [[quantileNormalize]]) builds on this instead of an unpartitioned
    * window. */
  def globalRank(df: DataFrame, order: Seq[Column], outCol: String = "rank",
                 numPartitions: Int = 0): DataFrame = {
    require(order.nonEmpty, "globalRank needs at least one sort key")
    val spark = df.sparkSession
    val n = if (numPartitions > 0) numPartitions
      else spark.sessionState.conf.numShufflePartitions
    // r16: the per-partition counts ride the materializing job itself
    // and the returned frame declares the pid clustering, so the window
    // below neither re-aggregates the blocks nor re-exchanges the table
    // (one job + one table-sized exchange fewer per call; see the shim)
    val Materialized(parted, counts, _) = materialize(
      df.repartitionByRange(n, order: _*)
        .withColumn("__gr_pid", spark_partition_id()),
      PidClustered("__gr_pid"))
    val offsets = counts.scanLeft(0L)(_ + _)
    // offsets(p) = total rows in partitions before p
    import spark.implicits._
    val offDf = counts.indices.map(p => (p, offsets(p)))
      .toDF("__gr_pid", "__gr_off")
    val w = Window.partitionBy("__gr_pid").orderBy(order: _*)
    parted.join(broadcast(offDf), "__gr_pid")
      .withColumn(outCol,
        row_number().over(w).cast("long") + col("__gr_off"))
      .drop("__gr_pid", "__gr_off")
  }

  /** EXACT global PREFIX SUM of an integer column under a total order —
    * the running-total primitive behind budgeted selection ("greedily
    * take documents by quality until the token budget is spent"),
    * Lorenz/Gini curves and cumulative mixtures. Same distributed
    * spelling as [[globalRank]] — `sum() OVER (ORDER BY …)` would move
    * every row through one task:
    *
    *   1. range exchange on the order keys, partition id materialized
    *      and checkpointed (ids are data — immune to downstream
    *      re-layout, the [[globalRank]] lesson),
    *   2. one per-range-partition SUM aggregate (≤ n-partitions rows to
    *      the driver — partial SUMS, never data) folded into prefix
    *      offsets,
    *   3. a running `sum` over a window partitioned BY THE RANGE
    *      PARTITION (state = one range partition) plus the broadcast
    *      offset.
    *
    * `valueCol` is summed as LONG, nulls as 0 (the repo's exact-integer
    * rail; at 10¹¹ rows × 10⁴-token docs the total is 10¹⁵ ≪ 2⁶³).
    * `order` must be total — append a unique id. The result is
    * inclusive: `outCol` at a row includes that row's value
    * ([[Order.prefixSum]] is the exclusive adapter). */
  def prefixSum(df: DataFrame, order: Seq[Column], valueCol: String,
                outCol: String = "cum", numPartitions: Int = 0): DataFrame = {
    require(order.nonEmpty, "prefixSum needs at least one sort key")
    val spark = df.sparkSession
    val n = if (numPartitions > 0) numPartitions
      else spark.sessionState.conf.numShufflePartitions
    // r16: counts/sums ride the materializing job + declared pid
    // clustering (see globalRank)
    val Materialized(parted, _, sums) = materialize(
      df.repartitionByRange(n, order: _*)
        .withColumn("__ps_pid", spark_partition_id())
        .withColumn("__ps_v", coalesce(col(valueCol).cast("long"), lit(0L))),
      PidClustered("__ps_pid"), Some("__ps_v"))
    val offsets = sums.scanLeft(0L)(_ + _)
    import spark.implicits._
    val offDf = sums.indices.map(p => (p, offsets(p)))
      .toDF("__ps_pid", "__ps_off")
    val w = Window.partitionBy("__ps_pid").orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    parted.join(broadcast(offDf), "__ps_pid")
      .withColumn(outCol, sum("__ps_v").over(w) + col("__ps_off"))
      .drop("__ps_pid", "__ps_off", "__ps_v")
  }

  /** [[globalRank]] AND inclusive [[prefixSum]] under ONE range
    * exchange — for consumers that need both the position k and the
    * running total at k under the same total order (average precision:
    * precision@k = cum_pos(k)/k; Lorenz points: (k/N, cum/total)).
    * Running the two primitives separately would range-shuffle the
    * frame twice on identical keys; here one partition-count/sum
    * collect (≤ numShufflePartitions rows of PARTIAL aggregates, never
    * data) yields both offset tables and one window emits both
    * columns. Same rails as the parents: materialized partition ids,
    * one materialization, broadcast offsets, LONG value coalesce-0. */
  def rankedPrefixSum(df: DataFrame, order: Seq[Column], valueCol: String,
                      rankCol: String = "rank", cumCol: String = "cum",
                      numPartitions: Int = 0): DataFrame = {
    require(order.nonEmpty, "rankedPrefixSum needs at least one sort key")
    val spark = df.sparkSession
    val n = if (numPartitions > 0) numPartitions
      else spark.sessionState.conf.numShufflePartitions
    // r16: counts/sums ride the materializing job + declared pid
    // clustering (see globalRank)
    val Materialized(parted, cnts, sums) = materialize(
      df.repartitionByRange(n, order: _*)
        .withColumn("__rp_pid", spark_partition_id())
        .withColumn("__rp_v", coalesce(col(valueCol).cast("long"), lit(0L))),
      PidClustered("__rp_pid"), Some("__rp_v"))
    val rankOff = cnts.scanLeft(0L)(_ + _)
    val sumOff = sums.scanLeft(0L)(_ + _)
    import spark.implicits._
    val offDf = cnts.indices.map(p => (p, rankOff(p), sumOff(p)))
      .toDF("__rp_pid", "__rp_roff", "__rp_soff")
    val wr = Window.partitionBy("__rp_pid").orderBy(order: _*)
    val ws = wr.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    parted.join(broadcast(offDf), "__rp_pid")
      .withColumn(rankCol,
        row_number().over(wr).cast("long") + col("__rp_roff"))
      .withColumn(cumCol, sum("__rp_v").over(ws) + col("__rp_soff"))
      .drop("__rp_pid", "__rp_roff", "__rp_soff", "__rp_v")
  }

  /** Cross-group QUANTILE NORMALIZATION: each row's value is replaced
    * by the GLOBAL value found at its within-group quantile position —
    * the calibration step that makes scores from different sources
    * directly comparable AND identically distributed (percent-rank
    * normalization only equalizes ranks; quantile normalization
    * equalizes the whole distribution, the microarray-classic recipe).
    *
    * Everything is exact integers, so the mapping is engine-stable:
    * within-group rank r_g of n_g (row_number by (value, id) — a
    * GROUP-partitioned window, never global), global target position
    *
    *   k = (r_g − 1)·(N − 1) div (n_g − 1) + 1   (n_g = 1 → k = 1)
    *
    * and one equi-join against the [[globalRank]] table to fetch the
    * global value at position k. Cost: one group window + the
    * globalRank range shuffle + one join on a long key. The smallest
    * row of every group maps to the global minimum (k = 1) and the
    * largest to the global maximum (k = N) — ties broken by id stay
    * deterministic on any engine.
    *
    * @return input columns + `outCol` (the normalized value) */
  def quantileNormalize(df: DataFrame, groupCol: String, valueCol: String,
                        idCol: String, outCol: String = "norm"):
      DataFrame = {
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col(valueCol), col(idCol))
    val wAll = Window.partitionBy(col(groupCol))
    val ranked = df
      .withColumn("__rg", row_number().over(w).cast("long"))
      .withColumn("__ng", count(lit(1)).over(wAll))
    val global = globalRank(
      df.select(col(valueCol).as("__gv"), col(idCol).as("__gid")),
      Seq(col("__gv"), col("__gid")), outCol = "__k")
      .select(col("__k"), col("__gv"))
    val total = global.agg(count(lit(1)).as("__n"))
    ranked.crossJoin(broadcast(total))
      .withColumn("__k",
        when(col("__ng") === 1, lit(1L)).otherwise(
          expr("(__rg - 1) * (__n - 1) DIV (__ng - 1) + 1")))
      .join(global, Seq("__k"))
      .withColumn(outCol, col("__gv"))
      .drop("__rg", "__ng", "__n", "__k", "__gv")
  }

  /** MAXIMAL MARGINAL RELEVANCE re-ranking (Carbonell & Goldstein
    * 1998): pick `m` of each query's candidates greedily by
    *
    *   λ · relevance − (1−λ) · max_{s ∈ picked} sim(c, s)
    *
    * — the diversity cut that keeps a result list (or a training
    * batch) from being m copies of the same document. Everything is
    * exact integers so the greedy choice is engine-stable: relevance
    * is RANK-normalized to micro-units ((kmax−rank)·10⁶ div (kmax−1) —
    * rank 1 → 10⁶, last → 0; no score normalization to drift),
    * similarity is round-to-micro cosine, λ a rational num/den, and
    * the objective num·rel − (den−num)·maxsim with ties to the lowest
    * id. Selection 1 is the relevance top; its `mmr_units` is null
    * (no redundancy term exists yet).
    *
    * Fully distributed — NO per-query driver loop: candidate-pair
    * cosines are one k²-bounded self-join, then m−1 unrolled rounds of
    * (anti-join picked → max-sim join → per-query argmax window), each
    * on candidate-cardinality data; the picked set is checkpointed per
    * round (multi-referenced lineage — the HITS lesson). Cost scales
    * with queries × k², never with the corpus.
    *
    * Layout (r15, the r14 graph-loop pattern): `rel`, `pairs`, and each
    * round's `picked` are materialized on a DECLARED hash(qid) layout
    * (GraftShim) — HashPartitioning(qid) satisfies every per-round
    * ClusteredDistribution (the (qid,b) join, the (qid,id) anti-join
    * and join, the (qid,a) aggregate, the per-qid argmax window), so
    * all m−1 rounds plan with ZERO shuffle exchanges beyond the one
    * pinned exchange inside each tiny picked-set materialization; the
    * undeclared-checkpoint spelling re-exchanged the k²-sized pair
    * table every round (the erased-layout tax).
    *
    * @param cand (qidCol, idCol, rankCol) — k-bounded, rank 1 best
    * @param vecs (idCol, vecCol) — one vector per candidate id
    * @return (qid, sel_rank 1..m, id, mmr_units) */
  def mmrRerank(cand: DataFrame, vecs: DataFrame, qidCol: String,
                idCol: String, rankCol: String, vecCol: String, m: Int,
                lambdaNum: Long = 1, lambdaDen: Long = 2): DataFrame = {
    require(m >= 1, "m must be >= 1")
    require(lambdaDen > 0 && lambdaNum >= 0 && lambdaNum <= lambdaDen,
      "lambda must be a fraction in [0, 1]")
    def matQ(df: DataFrame): DataFrame = materialize(df, Hash(Seq("qid"))).df
    val base = matQ(cand.select(col(qidCol).as("qid"), col(idCol).as("id"),
        col(rankCol).cast("long").as("rank"))
      .join(vecs.select(col(idCol).as("id"), col(vecCol).as("v")), "id"))
    // kmax groups on qid and the rel join is qid-co-partitioned — both
    // ride base's declared layout exchange-free
    val kmax = base.groupBy("qid").agg(max("rank").as("kmax"))
    val rel = matQ(base.join(kmax, "qid")
      .select(col("qid"), col("id"), col("v"),
        when(col("kmax") === 1, lit(1000000L))
          .otherwise(expr("(kmax - rank) * 1000000 DIV (kmax - 1)"))
          .as("rel"),
        col("rank")))
    val a = rel.select(col("qid"), col("id").as("a"),
      col("rel").as("rel_a"), col("v").as("va"))
    val b = rel.select(col("qid"), col("id").as("b"), col("v").as("vb"))
    // rel_a rides INSIDE the pair table so the per-round score needs no
    // (qid,id) join back to rel — joins require ALL cluster keys for
    // co-partitioning (unlike aggregates/windows, which accept the
    // hash(qid) subset), so any multi-key join here would re-exchange
    // the k²-sized table every round
    val pairs = matQ(a.join(b, Seq("qid")).filter(col("a") =!= col("b"))
      .select(col("qid"), col("a"), col("b"), col("rel_a"),
        round(Similarity.cosineFast(col("va"), col("vb")) * 1e6)
          .cast("long").as("sim")))
    // round 1 = exactly one row per query
    val picked1 = materialize(rel.filter(col("rank") === 1)
      .select(col("qid"), col("id"), lit(1L).as("sel_rank"),
        lit(null).cast("long").as("mmr_units")), Hash(Seq("qid")))
    var picked = picked1.df
    // the picked set is ≤ queries × m rows and is joined twice per
    // round — broadcast it under the [[BroadcastCap]] so both joins
    // are map-side probes PRESERVING pairs' declared hash(qid) layout;
    // the aggregate and window then ride it too and every round plans
    // with zero shuffle exchanges (spec-pinned). Past the cap the
    // joins fall back to co-keyed shuffles.
    val nQueries = picked1.rows
    for (t <- 2 to m) {
      // current picked size is ≤ nQueries·(t−1): one new row per query
      // and round
      val nPicked = nQueries * (t - 1)
      val scored = pairs
        .join(BroadcastCap.hint(
          picked.select(col("qid"), col("id").as("b")), nPicked),
          Seq("qid", "b"))
        .groupBy(col("qid"), col("a").as("id"))
        .agg(max("sim").as("maxsim"), max("rel_a").as("rel"))
        .join(BroadcastCap.hint(picked.select("qid", "id"), nPicked),
          Seq("qid", "id"), "left_anti")
        .withColumn("score",
          expr(s"$lambdaNum * rel - ${lambdaDen - lambdaNum} * maxsim"))
      val w = Window.partitionBy("qid")
        .orderBy(col("score").desc, col("id"))
      val pick = scored.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("qid"), col("id"), lit(t.toLong).as("sel_rank"),
          col("score").as("mmr_units"))
      // the last round stays lazy — callers see its plan (spec-pinned
      // exchange-free) and skip one materialization
      picked = if (t == m) picked.unionAll(pick)
        else matQ(picked.unionAll(pick))
    }
    picked
  }
}
