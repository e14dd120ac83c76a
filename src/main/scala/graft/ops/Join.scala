package graft.ops

import org.apache.spark.sql.{Column, DataFrame, GraftShim}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter
import graft.functions.BloomMightContain

/** Join-side pruning for the large-fact × filtered-dimension shape.
  *
  * At 100 TB the dominant join cost is shuffling the fact side; when the
  * dimension is selective (a filter keeps a few percent of its keys),
  * almost all of that shuffle is wasted on rows that match nothing. A
  * bloom filter built over the dimension's surviving join keys and
  * applied to the fact side BEFORE the exchange removes the non-matching
  * traffic at scan time — the same idea as Catalyst's runtime row-level
  * filtering (`spark.sql.optimizer.runtime.bloomFilter.enabled`), made
  * explicit so it applies regardless of plan shape, statistics, or
  * whether the dimension side broadcasts.
  *
  * The bloom filter has false positives only — never false negatives —
  * and the exact join that follows eliminates them, so the result is
  * bit-identical to the unpruned join (the DuckDB oracle for
  * `join_bloom` is the plain join). Filter size is driver-held and
  * broadcast: ~1.2 MB per million expected keys at 1% fpp, independent
  * of fact-side size.
  */
object Join {

  /** Prune `fact` to rows whose `factKey` might appear in `dim`'s
    * `dimKey` set (false positives possible, false negatives not).
    * Keys are compared through their canonical string form so any
    * key type works on both sides.
    *
    * @param expectedKeys sizing hint: distinct dimension keys AFTER its
    *                     filters (overestimating wastes memory,
    *                     underestimating raises the fpp)
    */
  def bloomPrune(fact: DataFrame, dim: DataFrame, factKey: String,
                 dimKey: String, expectedKeys: Long,
                 fpp: Double = 0.01): DataFrame = {
    require(expectedKeys > 0, "expectedKeys must be positive")
    // One pass over the (already filtered) dimension; the aggregation is
    // distributed, only the final ~MB-sized filter lands on the driver.
    val bf: BloomFilter = dim
      .select(col(dimKey).cast("string").as("__k"))
      .filter(col("__k").isNotNull)
      .stat.bloomFilter("__k", expectedKeys, fpp)
    val probe =
      mightContainExpr(bf, col(factKey).cast("string"))
    // Null fact keys match nothing in an equi-join — drop them here too.
    fact.filter(col(factKey).isNotNull && probe)
  }

  /** Membership-test column for a driver-held bloom filter: the
    * [[BloomMightContain]] codegen expression — the filter stays inside
    * whole-stage codegen, no per-row String boxing.
    *
    * Null keys test FALSE: the expression is null-in/null-out
    * (UnaryExpression nullSafeEval), so without the coalesce a null key
    * would fail both `filter(probe)` and `filter(!probe)` — silently
    * dropping the row from two-branch splits like
    * [[graft.ops.Dedup.incrementalExactBloom]]. "Not present" is the
    * only sound answer a membership sketch can give for a missing key. */
  private[graft] def mightContainExpr(bf: BloomFilter, key: Column): Column =
    coalesce(GraftShim.column(BloomMightContain(GraftShim.expression(key),
      BloomMightContain.serialize(bf))), lit(false))

  /** Inner-join `fact` to `dim` with the fact side bloom-pruned first.
    * Result is identical to `fact.join(dim, factKey === dimKey)`; the
    * pruning only changes how many fact rows reach the exchange. */
  def bloomPrunedJoin(fact: DataFrame, dim: DataFrame, factKey: String,
                      dimKey: String, expectedKeys: Long,
                      fpp: Double = 0.01): DataFrame =
    bloomPrune(fact, dim, factKey, dimKey, expectedKeys, fpp)
      .join(dim, col(factKey) === col(dimKey))

  /** JOIN FAN-OUT AUDIT: what `left ⋈ right` on `key` would produce,
    * computed from per-key cardinalities WITHOUT running the join —
    * the pre-flight check before a 100 TB shuffle join. Each surviving
    * key row reports its output contribution (n_left × n_right) and
    * its share of the total join output in ppm; the top-K keys by
    * contribution are exactly the salting / skew-hint candidates
    * (a single key above ~5% of the output is the classic straggler).
    *
    * Cost: one hash aggregate per side (map-side combinable to the key
    * vocabulary), an inner join of the two KEY-LEVEL count tables
    * (dim-sized, not data-sized), one 1-row total broadcast, and
    * top-K through TakeOrderedAndProject (per-partition heaps, never a
    * global sort). Products and the total ride DECIMAL(38,0) — two
    * 10⁹-row sides sharing one hot key already put n_l × n_r past
    * BIGINT (the aucExact overflow lesson).
    *
    * @return top-K of (key, n_left, n_right, out_rows, share_ppm)
    *         ordered by (out_rows DESC, key) */
  def fanoutAudit(left: DataFrame, right: DataFrame, leftKey: String,
                  rightKey: String, topK: Int = 20): DataFrame = {
    require(topK >= 1, "fanoutAudit needs topK >= 1")
    def counts(df: DataFrame, k: String) = df
      .select(col(k).as("key")).filter(col("key").isNotNull)
      .groupBy("key").agg(count(lit(1)).as("n"))
    val per = counts(left, leftKey)
      .withColumnRenamed("n", "n_left")
      .join(counts(right, rightKey).withColumnRenamed("n", "n_right"),
        Seq("key"))
      .withColumn("out_rows",
        expr("CAST(n_left AS DECIMAL(38,0)) * n_right"))
    val total = per.agg(sum("out_rows").as("__tot"))
    per.crossJoin(broadcast(total))
      .withColumn("share_ppm", expr(
        "CAST(CASE WHEN __tot > 0 THEN out_rows * 1000000 div __tot" +
          " ELSE 0 END AS BIGINT)"))
      .select(col("key"), col("n_left"), col("n_right"),
        col("out_rows").cast("long").as("out_rows"), col("share_ppm"))
      .orderBy(col("out_rows").desc, col("key"))
      .limit(topK)
  }
}
