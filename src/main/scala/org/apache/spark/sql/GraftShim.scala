package org.apache.spark.sql

/** Minimal `private[sql]` access shim (the standard Spark-extension
  * pattern of placing one file in the `org.apache.spark.sql` package —
  * everything used here is Spark's own public-source API surface).
  *
  * [[materializeWithCount]] exists because `Dataset.localCheckpoint
  * (eager = true)` already runs a full `count()` job to materialize the
  * checkpoint and then DISCARDS the number, so iterative operators that
  * also need the row count (frontier loops deciding termination and
  * broadcast eligibility) pay a second scheduler round-trip per
  * iteration just to re-read it from the cached blocks. Folding the two
  * into one action halves the job count of every level-synchronous loop
  * that adopts it — the difference is pure scheduler latency, which is
  * exactly what made `graph_betweenness` the most contention-sensitive
  * query in the bench suite (r12 verdict).
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

  /** Materialize `df` as an UNRELIABLE (executor-local) checkpoint and
    * return the re-wrapped DataFrame plus its row count, in ONE job.
    * Mirrors `Dataset.checkpoint(eager=true, reliableCheckpoint=false)`:
    * rows are copied (unsafe-row buffers are reused by the scan),
    * lineage is truncated at the checkpointed RDD, storage is raw
    * InternalRows (no columnar re-encode, unlike `persist()`), and the
    * blocks die with the RDD reference — nothing registers in the
    * CacheManager, so re-running the same plan recomputes honestly. */
  def materializeWithCount(df: DataFrame): (DataFrame, Long) = {
    val spark = df.sparkSession
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val rdd = df.queryExecution.toRdd.map(_.copy())
    rdd.localCheckpoint()
    val n = rdd.count()
    (spark.internalCreateDataFrame(rdd, df.schema), n)
  }

  /** [[materializeWithCount]] with a hash layout the OPTIMIZER can see:
    * shuffles `df` onto `hashpartitioning(keys, N)` (N pinned to the
    * session shuffle-partition count — an EXPLICIT count, so AQE cannot
    * coalesce the exchange and silently break the hash(k) % N
    * contract), materializes the executor-local checkpoint, and
    * re-wraps it in a [[execution.LogicalRDD]] that DECLARES that
    * partitioning. Plain `localCheckpoint` erases partitioning info
    * (the scan comes back `UnknownPartitioning`), so every downstream
    * aggregate or co-keyed join re-exchanges data that is already
    * laid out correctly — for an iterative operator that is one
    * wasted shuffle PER ITERATION. With the declared layout,
    * `HashPartitioning(keys)` satisfies every
    * `ClusteredDistribution` whose clustering is a superset of
    * `keys`, so e.g. a frame partitioned by `id` feeds
    * `groupBy(id, x)` AND `groupBy(id)` with zero exchanges.
    *
    * The declaration is only TRUE because this method performs the
    * repartition itself with the pinned N — callers must NOT pass an
    * already-repartitioned frame expecting some other layout. */
  def materializeHashPartitionedWithCount(
      df: DataFrame, keys: Seq[String]): (DataFrame, Long) = {
    require(keys.nonEmpty, "need at least one partitioning key")
    val spark = df.sparkSession
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val n = spark.sessionState.conf.numShufflePartitions
    val shuffled = df.repartition(n, keys.map(df(_)): _*)
    val qe = shuffled.queryExecution
    val rdd = qe.toRdd.map(_.copy())
    rdd.localCheckpoint()
    val rows = rdd.count()
    // The declaration below is only true if the materialized RDD really
    // has the pinned partition count. REPARTITION_BY_NUM is AQE-stable
    // in Spark 4.1.2, but a future planner change that restructures the
    // exchange must fail HERE, loudly — a false HashPartitioning
    // declaration makes downstream exchange-elided aggregates silently
    // wrong, not slow (r14 advice).
    require(rdd.getNumPartitions == n,
      s"materializeHashPartitioned: expected $n partitions after " +
        s"repartition($n, ${keys.mkString(",")}) but the materialized " +
        s"RDD has ${rdd.getNumPartitions} — the planner restructured " +
        "the pinned exchange; the declared layout would be a lie")
    val output = qe.analyzed.output
    val attrs = keys.map { k =>
      output.find(a => spark.sessionState.conf.resolver(a.name, k))
        .getOrElse(sys.error(s"materializeHashPartitioned: no column $k"))
    }
    val part = org.apache.spark.sql.catalyst.plans.physical
      .HashPartitioning(attrs, n)
    val plan = org.apache.spark.sql.execution.LogicalRDD(
      output, rdd, part, Nil, false, None)(spark, None, None)
    (org.apache.spark.sql.classic.Dataset.ofRows(spark, plan), rows)
  }

  /** [[materializeHashPartitionedWithCount]] that ALSO returns the sum
    * of one BIGINT column, still in ONE job (r16): iterative renorm
    * loops (HITS) need the mass total of every score table they
    * materialize, and reading it back with a separate 1-row aggregate
    * costs a scheduler round-trip plus a broadcast exchange per
    * half-step. The count+sum ride the same materializing pass. Null
    * cells contribute 0 to the sum (SQL `sum` semantics; the renorm
    * tables carry no nulls). */
  def materializeHashPartitionedWithCountSum(
      df: DataFrame, keys: Seq[String],
      sumCol: String): (DataFrame, Long, Long) = {
    require(keys.nonEmpty, "need at least one partitioning key")
    val spark = df.sparkSession
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val n = spark.sessionState.conf.numShufflePartitions
    val shuffled = df.repartition(n, keys.map(df(_)): _*)
    val qe = shuffled.queryExecution
    val output = qe.analyzed.output
    val sumIdx = output.indexWhere(a =>
      spark.sessionState.conf.resolver(a.name, sumCol))
    require(sumIdx >= 0, s"materializeHashPartitioned: no column $sumCol")
    require(output(sumIdx).dataType ==
      org.apache.spark.sql.types.LongType,
      s"materializeHashPartitioned: $sumCol must be BIGINT")
    val rdd = qe.toRdd.map(_.copy())
    rdd.localCheckpoint()
    // one action computes (count, sum) AND materializes the checkpoint
    // (any job computing the parent partitions caches their blocks)
    val (rows, total) = rdd.mapPartitions { it =>
      var c = 0L
      var s = 0L
      it.foreach { r =>
        c += 1
        if (!r.isNullAt(sumIdx)) s += r.getLong(sumIdx)
      }
      Iterator.single((c, s))
    }.fold((0L, 0L))((a, b) => (a._1 + b._1, a._2 + b._2))
    require(rdd.getNumPartitions == n,
      s"materializeHashPartitioned: expected $n partitions after " +
        s"repartition($n, ${keys.mkString(",")}) but the materialized " +
        s"RDD has ${rdd.getNumPartitions} — the planner restructured " +
        "the pinned exchange; the declared layout would be a lie")
    val attrs = keys.map { k =>
      output.find(a => spark.sessionState.conf.resolver(a.name, k))
        .getOrElse(sys.error(s"materializeHashPartitioned: no column $k"))
    }
    val part = org.apache.spark.sql.catalyst.plans.physical
      .HashPartitioning(attrs, n)
    val plan = org.apache.spark.sql.execution.LogicalRDD(
      output, rdd, part, Nil, false, None)(spark, None, None)
    (org.apache.spark.sql.classic.Dataset.ofRows(spark, plan), rows, total)
  }

  /** Materialize a frame whose `pidCol` equals `spark_partition_id()`
    * (computed by the caller DIRECTLY under this materialization, after
    * its own exchange) and return per-partition row counts — plus, when
    * `sumCol` is given, per-partition sums of that BIGINT column — all
    * in the ONE materializing job (r16).
    *
    * This is the range-exchange + broadcast-offset primitive's shim
    * (Rank.globalRank / prefixSum / rankedPrefixSum): the old spelling
    * paid a second job to re-aggregate the checkpointed blocks for the
    * offsets, and — because a checkpoint erases partitioning info — a
    * full hash re-EXCHANGE of the table under the pid-partitioned
    * window. The returned frame instead DECLARES
    * HashPartitioning(pidCol): declared for its CLUSTERING guarantee
    * only (every row of one pid value sits in exactly one partition,
    * which is what ClusteredDistribution consumers — windows,
    * aggregates keyed on pid — require). The actual layout is
    * partition-index == pid, NOT hash(pid) % n, so this frame must
    * NEVER feed a storage-partitioned/zip-style join expecting true
    * hash placement; every caller drops the pid column immediately
    * after its window + broadcast offset join. */
  def materializePidClusteredWithStats(
      df: DataFrame, pidCol: String,
      sumCol: Option[String]): (DataFrame, Array[Long], Array[Long]) = {
    val spark = df.sparkSession
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val qe = df.queryExecution
    val output = qe.analyzed.output
    val resolver = spark.sessionState.conf.resolver
    val sumIdx = sumCol.map { c =>
      val i = output.indexWhere(a => resolver(a.name, c))
      require(i >= 0, s"materializePidClustered: no column $c")
      require(output(i).dataType == org.apache.spark.sql.types.LongType,
        s"materializePidClustered: $c must be BIGINT")
      i
    }
    val rdd = qe.toRdd.map(_.copy())
    rdd.localCheckpoint()
    // one action: materializes the checkpoint AND collects the stats
    // (numPartitions (pid, count, sum) triples — partials, never data)
    val stats = rdd.mapPartitionsWithIndex { (pid, it) =>
      var c = 0L
      var s = 0L
      sumIdx match {
        case Some(i) => it.foreach { r =>
          c += 1
          if (!r.isNullAt(i)) s += r.getLong(i)
        }
        case None => it.foreach { _ => c += 1 }
      }
      Iterator.single((pid, c, s))
    }.collect()
    val np = rdd.getNumPartitions
    val counts = new Array[Long](np)
    val sums = new Array[Long](np)
    stats.foreach { case (p, c, s) => counts(p) = c; sums(p) = s }
    val attr = output.find(a => resolver(a.name, pidCol))
      .getOrElse(sys.error(s"materializePidClustered: no column $pidCol"))
    val part = org.apache.spark.sql.catalyst.plans.physical
      .HashPartitioning(Seq(attr), np)
    val plan = org.apache.spark.sql.execution.LogicalRDD(
      output, rdd, part, Nil, false, None)(spark, None, None)
    (org.apache.spark.sql.classic.Dataset.ofRows(spark, plan),
      counts, sums)
  }
}
