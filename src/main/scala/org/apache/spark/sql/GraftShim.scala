package org.apache.spark.sql

/** Minimal `private[sql]` access shim (the standard Spark-extension
  * pattern of placing one file in the `org.apache.spark.sql` package —
  * everything used here is Spark's own public-source API surface):
  * Column/expression conversion and [[GraftShim.materialize]], the one
  * checkpoint primitive of the iterative operators.
  */
object GraftShim {

  /** A Column over a catalyst expression — how operators use graft's
    * own expressions (`graft.functions`), which have no `functions`
    * entry. */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  /** The catalyst expression under a Column — the inverse of [[column]],
    * for passing Column arguments to a graft expression's constructor. */
  def expression(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)

  /** Where [[materialize]] declares the rows of its result to sit. */
  sealed trait Layout
  object Layout {
    /** No declared layout: the result scans as `UnknownPartitioning`,
      * like any checkpoint. */
    case object None extends Layout

    /** Shuffled onto `hashpartitioning(keys, N)` by [[materialize]]
      * itself, N pinned to the session shuffle-partition count (an
      * EXPLICIT count, so AQE cannot coalesce the exchange and break the
      * hash(k) % N contract), and DECLARED on the result. Plain
      * `localCheckpoint` erases partitioning info, so every downstream
      * aggregate or co-keyed join re-exchanges data that is already laid
      * out correctly — for an iterative operator one wasted shuffle PER
      * ITERATION. With the declaration, `HashPartitioning(keys)`
      * satisfies every `ClusteredDistribution` whose clustering is a
      * superset of `keys`: a frame laid out by `id` feeds
      * `groupBy(id, x)` AND `groupBy(id)` with zero exchanges. The
      * declaration is only TRUE because [[materialize]] performs the
      * repartition — never pass a frame expecting it to keep some other
      * layout. */
    final case class Hash(keys: Seq[String]) extends Layout {
      require(keys.nonEmpty, "need at least one partitioning key")
    }

    /** `col` equals `spark_partition_id()`, computed by the caller
      * DIRECTLY under the materialization, after its own exchange (the
      * range-exchange + broadcast-offset primitives of `Rank`). The
      * result declares `HashPartitioning(col)` for its CLUSTERING
      * guarantee only — every row of one pid value sits in exactly one
      * partition, which windows and aggregates keyed on pid require.
      * The actual placement is partition index == pid, NOT
      * hash(pid) % n, so such a frame must NEVER feed a join expecting
      * true hash placement; every caller drops the pid column right
      * after its window + broadcast offset join. */
    final case class PidClustered(col: String) extends Layout
  }

  /** A materialized frame and the per-partition statistics its job
    * collected: `counts(p)` rows and `sums(p)` of the sum column (0
    * without one) in partition p. */
  final case class Materialized(df: DataFrame, counts: Array[Long],
                                sums: Array[Long]) {
    /** Row total. */
    val rows: Long = counts.sum
    /** Total of the sum column. */
    def sum: Long = sums.sum
  }

  /** Materialize `df` as an UNRELIABLE (executor-local) checkpoint in
    * ONE job that also collects per-partition row counts and, when
    * `sumCol` names a BIGINT column, per-partition sums of it (null
    * cells count as 0, SQL `sum` semantics). Mirrors
    * `Dataset.checkpoint(eager=true, reliableCheckpoint=false)`: rows are
    * copied (unsafe-row buffers are reused by the scan), lineage is
    * truncated at the checkpointed RDD, storage is raw InternalRows (no
    * columnar re-encode, unlike `persist()`), and the blocks die with the
    * RDD reference — nothing registers in the CacheManager, so re-running
    * the same plan recomputes honestly. `layout` is declared on the
    * result (see [[Layout]]).
    *
    * `localCheckpoint(eager = true)` already runs a full job to fill the
    * checkpoint and then DISCARDS the row count, so an iterative operator
    * that also needs the count (termination, broadcast eligibility), a
    * mass total (HITS renorm) or partition offsets (`Rank`) would pay a
    * second scheduler round-trip per step to re-read it from the cached
    * blocks. Here the statistics ride the materializing job. */
  def materialize(df: DataFrame, layout: Layout = Layout.None,
                  sumCol: Option[String] = scala.None): Materialized = {
    val spark = df.sparkSession
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val conf = spark.sessionState.conf
    val n = conf.numShufflePartitions
    val qe = (layout match {
      case Layout.Hash(keys) => df.repartition(n, keys.map(df(_)): _*)
      case _ => df
    }).queryExecution
    val output = qe.analyzed.output
    def attr(c: String) = output.find(a => conf.resolver(a.name, c))
      .getOrElse(throw new IllegalArgumentException(
        s"materialize: no column $c"))
    val sumIdx = sumCol.map { c =>
      val a = attr(c)
      require(a.dataType == org.apache.spark.sql.types.LongType,
        s"materialize: $c must be BIGINT")
      output.indexOf(a)
    }
    val declared = layout match {
      case Layout.None => Nil
      case Layout.Hash(keys) => keys.map(attr)
      case Layout.PidClustered(c) => Seq(attr(c))
    }
    val rdd = qe.toRdd.map(_.copy())
    rdd.localCheckpoint()
    val np = rdd.getNumPartitions
    // A Hash declaration is only true if the RDD really has the pinned
    // partition count. REPARTITION_BY_NUM is AQE-stable in Spark 4.1, but
    // a planner change that restructures the exchange must fail HERE,
    // loudly — a false HashPartitioning makes downstream exchange-elided
    // aggregates silently wrong, not slow.
    layout match {
      case Layout.Hash(keys) => require(np == n,
        s"materialize: expected $n partitions after " +
          s"repartition($n, ${keys.mkString(",")}) but the materialized " +
          s"RDD has $np — the planner restructured the pinned exchange; " +
          "the declared layout would be a lie")
      case _ =>
    }
    // one action: materializes the checkpoint (any job computing the
    // partitions caches their blocks) AND collects the statistics —
    // numPartitions (pid, count, sum) triples, never data
    val stats = rdd.mapPartitionsWithIndex { (pid, it) =>
      var c = 0L
      var s = 0L
      sumIdx match {
        case Some(i) => it.foreach { r =>
          c += 1
          if (!r.isNullAt(i)) s += r.getLong(i)
        }
        case scala.None => it.foreach { _ => c += 1 }
      }
      Iterator.single((pid, c, s))
    }.collect()
    val counts = new Array[Long](np)
    val sums = new Array[Long](np)
    stats.foreach { case (p, c, s) => counts(p) = c; sums(p) = s }
    val frame =
      if (declared.isEmpty) spark.internalCreateDataFrame(rdd, df.schema)
      else org.apache.spark.sql.classic.Dataset.ofRows(spark,
        org.apache.spark.sql.execution.LogicalRDD(output, rdd,
          org.apache.spark.sql.catalyst.plans.physical
            .HashPartitioning(declared, np),
          Nil, false, scala.None)(spark, scala.None, scala.None))
    Materialized(frame, counts, sums)
  }
}
