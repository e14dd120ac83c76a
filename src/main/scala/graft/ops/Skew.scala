package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew mitigation for aggregations and joins over hot keys.
  *
  * Catalyst's partial aggregation already absorbs most group-by skew
  * (map-side combine shrinks hot keys before the shuffle), and AQE
  * rewrites skewed sort-merge joins at runtime. What neither handles is a
  * hot key in aggregates with large intermediate state (collect_list,
  * count_distinct, custom sketches): every value of the hot key still
  * lands in ONE reducer. Salting splits that key across `salt` reducers
  * and re-merges — the standard two-stage trick, expressed here for any
  * algebraic aggregate.
  */
object Skew {

  /** Two-stage salted aggregation.
    *
    * Stage 1 groups by (keys, random salt in [0, salt)) computing
    * `partial`; stage 2 regroups by keys alone computing `merge` over the
    * salted partials. Correct whenever (partial, merge) form a valid
    * split of the aggregate (sum/sum, count/sum, min/min, collect/flatten
    * …), i.e. the same contract as Catalyst's partial aggregation
    * (reference analog: BatchReducibleAggregator's mergeValues vs
    * mergePartitions, Pivot.java:167-196).
    *
    * The salt must vary across IDENTICAL rows too (a hot key's rows are
    * often duplicates — hashing column values alone would send them all
    * to one reducer, defeating the salting). It is therefore derived from
    * the row's physical position (`monotonically_increasing_id`), which
    * spreads uniformly; the final result is position-independent because
    * stage 2 re-merges, so this does not affect determinism of the
    * output, only of the intermediate partitioning.
    *
    * @param partial stage-1 aggregates, named
    * @param merge   stage-2 aggregates over the stage-1 column names
    */
  def saltedAgg(df: DataFrame, keys: Seq[String], salt: Int,
                partial: Seq[Column], merge: Seq[Column]): DataFrame = {
    require(salt >= 1, "salt must be >= 1")
    val saltCol = pmod(monotonically_increasing_id(), lit(salt)).as("__salt")
    val stage1 = df
      .groupBy((keys.map(col) :+ saltCol): _*)
      .agg(partial.head, partial.tail: _*)
    stage1
      .groupBy(keys.map(col): _*)
      .agg(merge.head, merge.tail: _*)
  }

  /** Salted exact count-distinct: the canonical hot-key victim. The
    * distinct set is partitioned by value-hash salt, so each reducer
    * dedups a disjoint slice; stage 2 just sums slice cardinalities. */
  def countDistinctSalted(df: DataFrame, keys: Seq[String], valueCol: String,
                          salt: Int = 64): DataFrame =
    df.select((keys.map(col) :+ col(valueCol)): _*)
      .groupBy((keys.map(col) :+
        pmod(hash(col(valueCol)), lit(salt)).as("__salt")): _*)
      .agg(count_distinct(col(valueCol)).as("__part"))
      .groupBy(keys.map(col): _*)
      .agg(sum("__part").as(s"${valueCol}_distinct"))
}
