package graft

import graft.pivot._

/** Smoke/demo main: runs the flagship entry and exercises the pivot
  * operator's edge paths (error modes, default fill, invalid config) on
  * real testdata. `sbt "runMain graft.Demo [sfDir]"`. */
object Demo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Sessions.builder(8).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    println("=== entry (flagship) ===")
    SparkEntry.entry(spark).show(truncate = false)

    val orders = spark.read.parquet(s"$sfDir/orders.parquet")

    println("=== send-to-error-port: pivot o_orderstatus=O,F (P off-list) ===")
    val r = PivotOps.pivotConfig(orders,
      pivotRow = "o_orderpriority",
      pivotColumns = "o_orderstatus=O,F",
      aggregates = "total:sum(o_totalprice), n:count(*)",
      onError = Some("send-to-error-port"))
    println(s"main rows: ${r.main.count()}")
    r.main.show(truncate = false)
    println(s"error rows: ${r.errors.count()}")
    r.errors.show(truncate = false)

    println("=== defaultValue fill + aliases ===")
    PivotOps.pivotConfig(orders,
      pivotRow = "o_orderpriority",
      pivotColumns = "o_orderstatus=O,F,P",
      aggregates = "total:sum(o_totalprice)",
      fieldAliases = Some("P_total:p_renamed"),
      defaultValue = Some("0")).main.show(truncate = false)

    println("=== fail-pipeline (expect exception) ===")
    try {
      PivotOps.pivotConfig(orders,
        pivotRow = "o_orderpriority",
        pivotColumns = "o_orderstatus=O,F",
        aggregates = "n:count(*)",
        onError = Some("fail-pipeline")).main.count()
      println("ERROR: no exception raised")
    } catch {
      case e: Exception =>
        println(s"raised as expected: ${e.getMessage.linesIterator.find(_.contains("Failing pipeline")).getOrElse(e.getMessage.take(200))}")
    }

    println("=== invalid config (expect accumulated failures) ===")
    try {
      PivotOps.pivotConfig(orders,
        pivotRow = "nope",
        pivotColumns = "o_orderstatus=O;bad",
        aggregates = "x:frobnicate(o_totalprice), y:sum(missing_col)")
      println("ERROR: no exception raised")
    } catch {
      case e: IllegalArgumentException => println(e.getMessage)
    }

    println("=== physical plan (flagship) ===")
    SparkEntry.entry(spark).explain("formatted")

    println("=== training-data ops tour (documents/embeddings) ===")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    import org.apache.spark.sql.functions._

    println("-- text analysis --")
    docs.select(col("doc_id"),
        graft.ops.TextFunctions.tokenCountWs(col("text")).as("tokens"),
        round(graft.ops.TextFunctions.qualityScore(col("text")), 2).as("quality"),
        graft.ops.TextFunctions.langId(col("text")).getField("lang").as("lang_pred"),
        substring(graft.ops.TextFunctions.fingerprint(col("text")), 1, 12).as("fp12"))
      .show(5, truncate = false)

    println("-- near-dup pairs (exact 3-gram jaccard >= 0.8) --")
    graft.ops.Dedup.ngramJaccardPairs(docs, "text", "doc_id", 0.8)
      .orderBy("ida").show(5, truncate = false)

    println("-- minhash LSH pairs (verified) --")
    println(s"pairs: ${graft.ops.Dedup.minhashLshPairs(docs, "text", "doc_id", 0.8).count()}")

    println("-- near-dup survivors --")
    println(s"corpus ${docs.count()} -> survivors " +
      s"${graft.ops.Dedup.nearDupSurvivors(docs, "text", "doc_id", 0.8).count()}")

    println("-- cosine top-3 for first 2 query vectors --")
    graft.ops.Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 2),
      "embedding", "vec_id", 3).orderBy("qid", "rank").show(truncate = false)

    spark.stop()
  }
}
