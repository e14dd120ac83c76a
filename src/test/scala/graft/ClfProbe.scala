package graft

/** Throwaway timing probe for the heavy bench queries. */
object ClfProbe {
  def main(args: Array[String]): Unit = {
    val dir = "/root/testdata/sf0.1"
    val spark = Sessions.builder(32).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Seq("documents").foreach(t => spark.read.parquet(s"$dir/$t.parquet").count())
    def time(label: String)(f: => Unit): Unit = {
      val t0 = System.nanoTime(); f
      println(f"  $label%-28s ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    val qs = Seq("quality_classifier", "quality_classifier_reload",
      "text_gopher", "web_curation_pipeline", "pretrain_pipeline", "curation_pipeline")
    (1 to 2).foreach { rep =>
      println(s"rep $rep")
      qs.foreach { q =>
        time(q) { SparkEntry.queries(q)(spark, dir).count(); () }
      }
    }
    spark.stop()
  }
}
