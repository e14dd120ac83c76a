package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.pivot.PivotOps
import graft.QueryShared.t

/** One registered query: the Spark plan `build(spark, sfDir)` and the
  * DuckDB SQL `oracle` that recomputes its result over the same parquet
  * tables. A new query is one `Query(...)` line in its family's
  * `registry` plus a floor in BASELINE_FLOORS.json. */
final case class Query(name: String, build: (SparkSession, String) => DataFrame,
                       oracle: String)

/** Driver contract (SURVEY.md §7): the flagship `entry` plus every
  * registered query, each paired with its oracle.
  *
  * Oracle conventions: column names, float quantization and value
  * sorting as in [[PivotQueries]]. Queries whose result depends on an
  * engine-specific hash family (xxhash64 minhash bands, simhash, LSH
  * bucketing) either (a) verify candidates against an exact measure so
  * the oracle is the exact computation (dedup_minhash, dedup_embedding —
  * LSH only affects recall, tuned so every qualifying pair in the
  * testdata is found), or (b) emit CONTRACT rows whose values are
  * engine-agnostic even though the raw output is not: exact counts the
  * oracle recomputes, plus recall/precision/error/well-formedness bounds
  * that are literal TRUE in the oracle SQL (dedup_simhash,
  * profile_sketch, sim_topk_lsh/ivf, sim_lsh_recall, sim_ivf_recall,
  * emb_pq_recall). Every query has an oracle; the raw approximate
  * outputs stay pinned by ScalaTest. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Pivot of lineitem: rows l_returnflag, pivot l_linestatus in (O, F),
    * aggregates sum(l_quantity), avg(l_extendedprice), count(*). */
  def entry(spark: SparkSession): DataFrame =
    PivotOps.pivotConfig(
      t(spark, "/root/testdata/sf0.001", "lineitem"),
      pivotRow = "l_returnflag",
      pivotColumns = "l_linestatus=O,F",
      aggregates = "sum_qty:sum(l_quantity), avg_price:avg(l_extendedprice), cnt:count(*)"
    ).main

  /** Every registered query: the pivot operator's facets (PivotQueries)
    * and the training-data-pipeline families. */
  lazy val registry: Seq[Query] =
    PivotQueries.registry ++
      TextQueries.registry ++
      DedupQueries.registry ++
      SimilarityQueries.registry ++
      MultimodalQueries.registry ++
      CurationQueries.registry ++
      TrainQueries.registry ++
      SampleQueries.registry ++
      WebQueries.registry ++
      InsightQueries.registry

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.build).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  lazy val oracleSql: Map[String, String] =
    registry.map(q => q.name -> q.oracle).toMap

  /** The queries a `SPARK_GRAFT_ONLY=q1,q2` value names, in registry
    * order; None (run everything) when it is unset or blank. A value
    * that names no registered query throws, since an empty run would
    * look like success; unknown names among known ones are reported on
    * stderr and skipped. */
  private[graft] def selectOnly(only: Option[String]): Option[Seq[Query]] =
    only.map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .filter(_.nonEmpty)
      .map { names =>
        val unknown = names -- queries.keySet
        require(unknown != names,
          s"SPARK_GRAFT_ONLY matched zero queries: ${unknown.mkString(", ")}")
        if (unknown.nonEmpty) System.err.println(
          s"WARNING: SPARK_GRAFT_ONLY names ignored, no such query: ${unknown.mkString(", ")}")
        registry.filter(q => names(q.name))
      }
}
