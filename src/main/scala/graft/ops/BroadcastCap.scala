package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.broadcast

/** The one broadcast rule of the iterative graph, dedup and rank
  * operators: a join side of at most [[Rows]] rows is hinted to
  * broadcast; a larger one is left to the planner (AQE shuffle joins).
  *
  * The cap is 4M rows. The sides these operators broadcast are narrow —
  * vertex ids, an id plus a degree, label, rank or offset — so 4M rows
  * is about 64 MB, well above Spark's 10 MB
  * `spark.sql.autoBroadcastJoinThreshold` default, on purpose: the other
  * side is the edge- or token-sized table of a loop, and a shuffle join
  * would exchange and sort it once per iteration, while a broadcast
  * builds the small side once and probes the stationary table map-side.
  *
  * It is a ROW count, not a byte size, because the sides are
  * checkpointed tables whose size statistics are only the planner's
  * estimate of the plan that filled them (what Spark's own checkpoint
  * keeps), not a measured size; the exact row count is what the
  * materializing job measures for free
  * ([[org.apache.spark.sql.GraftShim.materialize]]).
  *
  * It lives in code, not in session config: the harnesses build their
  * own sessions (Bench, Verify, the benchmark's runner), so a session
  * setting would split one policy across them.
  *
  * [[DriverRows]] is the companion cap of the driver paths: an
  * operator whose measured edge or pair list has at most that many
  * integral-id rows collects it once ([[Graph.collectPairs]]) and
  * solves it on the driver instead of running a loop of Spark jobs —
  * [[Graph.kCore]] (queue peel), [[Graph.scc]] (Tarjan) and
  * [[Dedup.nearDupSurvivors]] (union-find). 1M rows is two 8 MB long
  * arrays; above it the distributed loop runs, with the same result. */
private[graft] object BroadcastCap {
  val Rows: Long = 4L << 20

  /** Integral-id edge rows up to which the driver paths run. */
  val DriverRows: Long = 1L << 20

  /** True when a side of `rows` rows broadcasts — for layout choices
    * made once per operator. */
  def fits(rows: Long): Boolean = rows <= Rows

  /** `df` with a broadcast hint when its `rows` fit the cap. */
  def hint(df: DataFrame, rows: Long): DataFrame =
    if (fits(rows)) broadcast(df) else df
}
