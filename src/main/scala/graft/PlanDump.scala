package graft

/** Dev utility: dump `.explain("formatted")` of named registry queries
  * to files, for before/after plan comparisons (plans/r15/, plans/r16/).
  *
  * `sbt "runMain graft.PlanDump <outDir> <suffix> <q1,q2,...>"`
  * writes `<outDir>/<name>_<suffix>.txt` per query, planned at the
  * bench's sf/core configuration (SPARK_GRAFT_SF_DIR /
  * SPARK_GRAFT_CPUS) so Exchange counts match what the bench runs.
  * The text is [[normalize]]d, so `diff` of two dumps of an unchanged
  * plan is empty. */
object PlanDump {

  /** `plan` with the ids that differ from run to run blanked:
    * expression ids (`l_orderkey#123L` → `l_orderkey#`), exchange plan
    * ids, the RDD id and call site of checkpointed scans
    * (`MapPartitionsRDD[24] at materialize at Graph.scala:426` → `RDD`),
    * lambda class names, object hashes (`TopKAggregator@352ad7fe`) and
    * scratch directories. The order of the distinct-aggregate groups in
    * an `Expand` still varies from run to run. */
  def normalize(plan: String): String = plan
    .replaceAll("#\\d+L?", "#")
    .replaceAll("\\[plan_id=\\d+\\]", "[plan_id=#]")
    .replaceAll("\\w*RDD\\[\\d+\\] at \\S+ at \\S+:\\d+", "RDD")
    .replaceAll("\\$\\$Lambda[$\\w/]*", "\\$\\$Lambda")
    .replaceAll("@\\p{XDigit}{4,}\\b", "@")
    .replaceAll("graft_scratch_\\w+", "graft_scratch")

  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump <outDir> <suffix> <q1,q2,...>")
    val outDir = java.nio.file.Paths.get(args(0))
    val suffix = args(1)
    val names = args(2).split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.builder(cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(outDir)
    // pseudo-queries for cross-cutting building blocks: the r15 co-
    // occurrence edge build (new generator spelling vs the old
    // distinct + self-join spelling, kept here as plan-diff evidence)
    import org.apache.spark.sql.functions._
    def li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select(col("l_orderkey").as("g"), col("l_partkey").as("item"))
    val pseudo: Map[String, () => org.apache.spark.sql.DataFrame] = Map(
      "_edges_build_generator" -> (() =>
        graft.ops.Graph.coOccurrenceEdgesCanonical(
          li.toDF("l_orderkey", "l_partkey"), "l_orderkey", "l_partkey")),
      "_edges_build_join" -> (() => {
        val g = li.distinct()
        g.join(g.withColumnRenamed("item", "item2"), "g")
          .filter(col("item") < col("item2"))
          .select(col("item").as("src"), col("item2").as("dst"))
          .distinct()
      }))
    names.foreach { name =>
      val df = pseudo.get(name).map(_.apply())
        .getOrElse(SparkEntry.queries(name)(spark, sfDir))
      // Iterative ops materialize intermediates while the DataFrame is
      // CONSTRUCTED, so building `df` above already ran the loop jobs;
      // the formatted plan below is the final composed query over the
      // declared (checkpointed) layouts — exactly what executes when
      // the bench counts it.
      val plan = normalize(df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
      java.nio.file.Files.write(outDir.resolve(s"${name}_$suffix.txt"),
        plan.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(s"wrote ${name}_$suffix.txt (${plan.length} chars)")
    }
    spark.stop()
  }
}
