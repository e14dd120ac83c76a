package graft

/** Dev utility: dump the formatted physical plan of each headline query
  * (`sbt "runMain graft.Plans [sfDir]"`). Source material for the plan
  * audit in PLANS.md. */
object Plans {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Sessions.builder(8).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val interesting = Seq(
      "pivot_flagship", "pivot_errorport_main", "dedup_exact",
      "dedup_ngram_jaccard", "dedup_minhash", "dedup_embedding",
      "sim_topk", "sim_topk_lsh", "sim_topk_ivf", "events_sessionize",
      "events_asof", "events_range_join", "doc_topn", "text_stats",
      "text_tfidf", "curation_pipeline", "sample_stratified",
      "join_bloom", "sample_mixture", "profile_hll_rollup",
      "text_bm25", "sample_priority", "sample_dsir", "text_perplexity",
      "dedup_semantic", "dedup_semantic_pruned",
      "dedup_incremental_minhash", "events_seasonality",
      "profile_kll_quantile", "events_kll_window",
      "web_domain_cap", "text_dedup_lines_global", "multimodal_cdc",
      "events_asof_forward", "link_fuzzy_join", "quality_expect",
      "web_html_text", "web_curation_pipeline",
      // r13 additions
      "doc_tokens_bytebpe", "text_lang_segments", "multimodal_audio_fp",
      "sim_matryoshka",
      // r15 session-3 additions: the row-local codegen expressions and
      // the single-exchange window identities are what to look for
      "text_chrf", "text_mtld", "events_cusum", "dataset_knn_shapley",
      "events_pareto", "sample_max_coverage")

    interesting.foreach { name =>
      println(s"\n===================== $name =====================")
      SparkEntry.queries(name)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
