package graft

import org.apache.spark.sql.functions._

/** Dev-tooling main for SCALED soaks of operators whose oracle QUERY
  * deliberately caps its input for DuckDB tractability (e.g.
  * `text_dup_spans_removed_exact` runs on `doc_id < 30` + planted rows
  * so the oracle's quadratic SQL twin terminates) — benching that query on
  * 10×/100× tables measures scan growth, not operator scaling. This
  * main drives the OPERATOR directly over the FULL named table with the
  * bench protocol's honest action (`toRdd.count()`), printing one JSON
  * line per run.
  *
  * Usage: runMain graft.Soak <op> <tableDir> [reps]
  *   op ∈ graph ops, over <tableDir>/lineitem.parquet:
  *          pagerank | hits | kcore | bfs | betweenness | harmonic | scc
  *      | matryoshka, over embeddings.parquet
  *      | doc ops, over documents.parquet: dup_spans_exact
  *          | dup_span_longest | winnow | winnow_fast | winnow_pairs
  *          | winnow_pairs_fast | novelty | novelty_fast
  *          | paired_bootstrap | keyphrases | secret_scan | license_scan
  *          | minhash_sig | minhash_sig_oph | minhash_lsh
  *          | minhash_lsh_oph | bytebpe | lang_segments | audio_fp
  */
object Soak {
  def main(args: Array[String]): Unit = {
    val op = args(0)
    val dir = args(1)
    val reps = if (args.length > 2) args(2).toInt else 1
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // SPARK_GRAFT_SHUFFLE decouples shuffle partitions from cores for
    // partition-sizing probes (defaults to cores, the bench contract)
    val shuf = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cpus)
    // SPARK_GRAFT_TASK_CPUS (dev probe): cap CONCURRENT tasks without
    // changing the partition count — distinguishes "too many shuffle
    // partitions" from "too many simultaneous tasks" (r16 kcore probe)
    val taskCpus = sys.env.getOrElse("SPARK_GRAFT_TASK_CPUS", "1")
    val spark = Sessions.builder(cpus.toInt)
      .config("spark.sql.shuffle.partitions", shuf)
      .config("spark.task.cpus", taskCpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val graphOps = Set("pagerank", "hits", "kcore", "bfs", "harmonic",
      "betweenness", "scc")
    lazy val docsFull = spark.read.parquet(s"$dir/documents.parquet")
    lazy val docs = docsFull.select("doc_id", "text")
    lazy val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_orderkey"), col("l_partkey"))
    // untimed warmup: scan-path compile + footer decode — against the
    // table the op actually reads (a documents warmup would leave the
    // embeddings footer decode inside matryoshka's first timed rep)
    if (graphOps(op)) li.count()
    else if (op == "matryoshka")
      spark.read.parquet(s"$dir/embeddings.parquet").count()
    else docs.count()
    // construction goes INSIDE the timer: iterative ops do real work
    // eagerly (checkpoint rounds, offset collects) while the frame
    // is being BUILT — timing only the final action misses most of it
    // (Bench.timeOnce has the same contract)
    def run(): Double = {
      val t0 = System.nanoTime()
      val df = op match {
        case "dup_spans_exact" =>
          ops.Dedup.removeDupSpansExact(docs, "text", "doc_id",
            minLen = 8, maxPow = 5)
        case "dup_span_longest" =>
          ops.Dedup.longestDupSpanExact(docs, "text", "doc_id", maxPow = 5)
        case "winnow" =>
          ops.Dedup.winnowFingerprints(docs, "text", "doc_id")
        case "winnow_fast" => // xxhash64 production tier (r14)
          ops.Dedup.winnowFingerprints(docs, "text", "doc_id",
            fastHash = true)
        case "winnow_pairs" =>
          ops.Dedup.winnowPairs(docs, "text", "doc_id")
        case "winnow_pairs_fast" =>
          ops.Dedup.winnowPairs(docs, "text", "doc_id", fastHash = true)
        case "novelty" =>
          ops.Insight.ngramNovelty(docs, "text", "doc_id", n = 3)
        case "novelty_fast" =>
          ops.Insight.ngramNovelty(docs, "text", "doc_id", n = 3,
            fastHash = true)
        case "paired_bootstrap" => // eval_paired_bootstrap's exact shape
          ops.Insight.pairedBootstrap(
            docsFull
              .withColumn("a", col("n_chars").cast("double"))
              .withColumn("b", size(filter(
                ops.TextFunctions.tokens(col("text")), w => w =!= ""))
                .cast("double") * 6.0),
            "a", "b", "doc_id", reps = 20, salt = "pb")
        case "keyphrases" => // same config as the text_keyphrases query
          ops.Phrases.rakeKeyphrases(docs, "text", "doc_id",
            stopwords = Seq("the", "a", "and", "of", "to", "in", "is"),
            topN = 20)
        case "pagerank" => // graph_pagerank's exact shape
          ops.Graph.pagerank(
              ops.Graph.coOccurrenceEdges(li, "l_orderkey", "l_partkey"),
              iterations = 5)
            .orderBy(col("rank_units").desc, col("id")).limit(20)
        case "hits" => // web_hits' loop over the co-purchase graph
          ops.Graph.hits(
              ops.Graph.coOccurrenceEdges(li, "l_orderkey", "l_partkey"),
              iterations = 4)
            .orderBy(col("auth_units").desc, col("id")).limit(20)
        case "kcore" => // graph_kcore's exact shape
          val core = ops.Graph.kCore(
            ops.Graph.coOccurrenceEdgesCanonical(
              li, "l_orderkey", "l_partkey"), k = 80)
          core.select(col("src").as("id"))
            .unionAll(core.select(col("dst").as("id")))
            .groupBy("id").agg(count(lit(1)).as("deg"))
        case "bfs" => // graph_bfs's exact shape
          ops.Graph.bfsDistances(
            ops.Graph.coOccurrenceEdgesCanonical(
              li, "l_orderkey", "l_partkey").directed,
            li.filter(col("l_partkey") % 101 === 0)
              .select(col("l_partkey").as("id")),
            maxHops = 3)
        case "betweenness" => // graph_betweenness's exact shape
          ops.Graph.betweennessPivots(
            ops.Graph.coOccurrenceEdgesCanonical(
              li, "l_orderkey", "l_partkey").directed,
            li.select(col("l_partkey").as("id")).distinct()
              .orderBy("id").limit(8),
            maxHops = 3)
        case "harmonic" => // graph_harmonic's exact shape
          ops.Graph.harmonicCentrality(
            ops.Graph.coOccurrenceEdgesCanonical(
              li, "l_orderkey", "l_partkey").directed,
            li.select(col("l_partkey").as("id")).distinct()
              .orderBy("id").limit(8),
            maxHops = 3)
        case "secret_scan" => // text_secret_scan's scan (no plant)
          docs.select(col("doc_id"),
            ops.Scrub.secretScan(col("text")).as("s")).select("doc_id", "s.*")
        case "license_scan" =>
          docs.select(col("doc_id"),
            ops.Scrub.licenseScan(col("text")).as("l")).select("doc_id", "l.*")
        case "minhash_sig" => // classic 128-hash signature stage alone
          ops.Dedup.minhashSignatures(docs, "text", "doc_id", 128)
        case "minhash_sig_oph" => // OPH tier: 1 avalanche/shingle + densify
          ops.Dedup.minhashSignatures(docs, "text", "doc_id", 128, oph = true)
        case "minhash_lsh" => // dedup_minhash's full pipeline
          ops.Dedup.minhashLshPairs(docs, "text", "doc_id", 0.5)
        case "minhash_lsh_oph" =>
          ops.Dedup.minhashLshPairs(docs, "text", "doc_id", 0.5, oph = true)
        case "bytebpe" => // doc_tokens_bytebpe's exact train+encode shape
          val model = ops.Tokenize.trainVocabByteBpe(docs, "text",
            "doc_id", vocabSize = 300, sampleN = 256)
          ops.Tokenize.byteBpe(docs, "text", model)
        case "lang_segments" =>
          // the base corpus has no terminal punctuation (zero
          // sentences — a trivial explode); sentence-ify every 6th
          // word boundary so the per-doc window sees real runs
          val punct = docs.select(col("doc_id"),
            regexp_replace(col("text"), "((\\S+ ){5}\\S+) ", "$1. ")
              .as("text"))
          ops.Chunk.languageSegments(punct, "text", "doc_id")
        case "audio_fp" =>
          // one 405-sample clip per doc; ~10 clips share a base
          // pattern at 10x (group = id % 5000) so near-dup pairs exist
          // without blowing the bucket cap
          val build = udf((id: Long) => ops.Multimodal.wavPcm16(8000, 1,
            Array.tabulate(405) { i =>
              val base = ((id % 5000) * 13 + i * 29) % 2400 - 1200
              (if (id % 3 == 1 && i >= 200 && i < 205) base + 900
               else base).toShort
            }))
          ops.Multimodal.audioPerceptualPairs(ops.Multimodal.decodeAudio(
            docs.select(col("doc_id").as("media_id"),
              build(col("doc_id")).as("payload"))))
        case "scc" => // graph_scc's exact shape, DISTRIBUTED loop forced
          ops.Graph.scc(InsightQueries.sccEdges(spark, dir, orderMod = 0),
            driverMaxEdges = 0L)
        case "matryoshka" => // sim_matryoshka's exact shape
          val e = spark.read.parquet(s"$dir/embeddings.parquet")
          ops.Similarity.matryoshkaOverlap(e,
            e.filter(col("vec_id") < 8), "embedding", "vec_id",
            k = 5, prefixDims = Seq(8, 16, 32))
        case other => sys.error(s"unknown op $other")
      }
      df.queryExecution.toRdd.count()
      (System.nanoTime() - t0) / 1e9
    }
    val times = (1 to reps).map(_ => run())
    println(s"""{"op":"$op","dir":"$dir","reps":$reps,""" +
      s""""times":[${times.map(t => f"$t%.2f").mkString(",")}],""" +
      s""""min":${f"${times.min}%.2f"}}""")
    spark.stop()
  }
}
