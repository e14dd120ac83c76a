package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.Graph

/** Dev utility (r15 optimization round): decompose the heavy graph
  * queries into phases and time each with the bench methodology
  * (queryExecution.toRdd.count() — the exact physical plan, no
  * collect). `sbt "runMain graft.Prof [sfDir] [reps]"`.
  *
  * Evidence source for OPTIMIZATION_r15.md §measure-first: which part
  * of each multi-second graph query is edge construction vs iteration
  * vs finishing aggregate. */
object Prof {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = args.drop(1).headOption.map(_.toInt).getOrElse(3)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.builder(cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // warmup like Bench
    try {
      Seq("lineitem", "orders", "documents", "embeddings").foreach { t =>
        spark.read.parquet(s"$sfDir/$t.parquet").count()
      }
    } catch { case _: Throwable => () }

    def li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select(col("l_orderkey"), col("l_partkey"))

    def time(name: String)(mk: => DataFrame): Unit = {
      val ts = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        val n = mk.queryExecution.toRdd.count()
        val dt = (System.nanoTime() - t0) / 1e9
        (dt, n)
      }
      val best = ts.map(_._1).min
      val med = ts.map(_._1).sorted.apply(reps / 2)
      println(f"PROF $name%-42s min=$best%7.3f med=$med%7.3f rows=${ts.head._2}%d")
    }

    // ---- edge construction phases ----
    time("items_distinct") {
      li.distinct()
    }
    time("edges_canonical") {
      Graph.coOccurrenceEdgesCanonical(li, "l_orderkey", "l_partkey")
    }
    time("edges_canonical_redistinct") {
      Graph.coOccurrenceEdgesCanonical(li, "l_orderkey", "l_partkey")
        .select(least(col("src"), col("dst")).as("u"),
          greatest(col("src"), col("dst")).as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
    }
    time("edges_bothdir") {
      Graph.coOccurrenceEdges(li, "l_orderkey", "l_partkey")
    }
    time("edges_weighted") {
      Graph.coOccurrenceEdgesWeighted(li, "l_orderkey", "l_partkey")
    }

    // ---- iteration cost on a prebuilt edge table (isolates the loop
    // from the build; NOT how the queries run — diagnosis only) ----
    val canonPre = Graph.coOccurrenceEdgesCanonical(li, "l_orderkey",
      "l_partkey").localCheckpoint(true)
    val bothPre = canonPre.unionAll(
      canonPre.select(col("dst").as("src"), col("src").as("dst")))
      .localCheckpoint(true)
    time("coreness_loop_only(prebuilt)") {
      Graph.coreness(canonPre, iterations = 8)
    }
    time("clustering_loop_only(prebuilt)") {
      Graph.localClustering(canonPre)
    }
    time("pagerank_loop_only(prebuilt)") {
      Graph.pagerank(bothPre, iterations = 5)
        .orderBy(col("rank_units").desc, col("id")).limit(20)
    }
    time("betweenness_only(prebuilt)") {
      val pivots = bothPre.select(col("src").as("id")).distinct()
        .orderBy("id").limit(8)
      Graph.betweennessPivots(bothPre, pivots, maxHops = 3)
    }
    time("harmonic_only(prebuilt)") {
      val pivots = bothPre.select(col("src").as("id")).distinct()
        .orderBy("id").limit(8)
      Graph.harmonicCentrality(bothPre, pivots, maxHops = 3)
    }

    // ---- clustering sub-phases (diagnosis of the 5.4 s loop) ----
    {
      val e = canonPre.select(col("src").as("u"), col("dst").as("v"))
        .localCheckpoint(true)
      val deg = e.select(col("u").as("id"))
        .unionAll(e.select(col("v").as("id")))
        .groupBy("id").agg(count(lit(1)).as("d"))
        .localCheckpoint(true)
      time("clus_p2_deg_agg") {
        e.select(col("u").as("id"))
          .unionAll(e.select(col("v").as("id")))
          .groupBy("id").agg(count(lit(1)).as("d"))
      }
      val ew = e
        .join(broadcast(deg.select(col("id").as("u"), col("d").as("du"))), "u")
        .join(broadcast(deg.select(col("id").as("v"), col("d").as("dv"))), "v")
      val uFirst = col("du") < col("dv") ||
        (col("du") === col("dv") && col("u") < col("v"))
      time("clus_p3_orientation") {
        ew.select(
          when(uFirst, col("u")).otherwise(col("v")).as("s"),
          when(uFirst, col("v")).otherwise(col("u")).as("t"))
      }
      val o = ew.select(
          when(uFirst, col("u")).otherwise(col("v")).as("s"),
          when(uFirst, col("v")).otherwise(col("u")).as("t"))
        .localCheckpoint(true)
      val nbrs = o.groupBy("s")
        .agg(sort_array(collect_list(col("t"))).as("ns"))
        .localCheckpoint(true)
      time("clus_p4_nbrs_agg") {
        o.groupBy("s").agg(sort_array(collect_list(col("t"))).as("ns"))
      }
      val nt2 = broadcast(nbrs.select(col("s").as("t"), col("ns").as("nt")))
      time("clus_p5a_intersect_size_only") {
        o.join(broadcast(nbrs), "s")
          .join(nt2, Seq("t"), "left")
          .select(when(col("nt").isNull, lit(0))
            .otherwise(size(array_intersect(col("ns"), col("nt"))))
            .cast("long").as("c"))
          .agg(sum("c"))
      }
      val empty = slice(col("ns"), 1, 0)
      val ws = coalesce(when(col("nt").isNotNull,
        array_intersect(col("ns"), col("nt"))), empty)
      val cEdge = size(ws).cast("long")
      time("clus_p5b_corner_explode_agg") {
        o.join(broadcast(nbrs), "s")
          .join(nt2, Seq("t"), "left")
          .select(explode_outer(concat(
            array(struct(col("s").as("id"), cEdge.as("k")),
              struct(col("t").as("id"), cEdge.as("k"))),
            transform(ws, w => struct(w.as("id"), lit(1L).as("k"))))).as("x"))
          .filter(col("x").isNotNull)
          .groupBy(col("x.id").as("id")).agg(sum(col("x.k")).as("tri"))
      }
    }

    // ---- full queries exactly as declared ----
    Seq("graph_coreness", "graph_clustering", "graph_pagerank",
      "graph_betweenness", "graph_harmonic", "graph_communities",
      "graph_modularity", "graph_triangles", "graph_kcore",
      "graph_bfs", "web_trustrank", "graph_assortativity",
      "graph_pagerank_weighted", "graph_linkpred", "graph_ktruss")
      .foreach { q =>
        time(q) { SparkEntry.queries(q)(spark, sfDir) }
      }
    spark.stop()
  }
}
