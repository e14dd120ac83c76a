package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.ops.{Dedup, Phrases}

/** r16 generator rewrites must reproduce the join/HOF spellings they
  * replaced, row for row. */
class PairBuildSpec extends SparkSpec {

  test("skipgramCounts shifted-zip build == positioned self-join reference") {
    import spark.implicits._
    val rnd = new scala.util.Random(3L)
    val words = Seq("alpha", "beta", "gamma", "delta", "eps")
    val docs = (1 to 40).map { i =>
      val len = rnd.nextInt(12)
      (i.toLong, (0 until len).map(_ => words(rnd.nextInt(words.size)))
        .mkString(" "))
    }.toDF("doc_id", "text")
    val fast = Phrases.skipgramCounts(docs, "text", "doc_id",
      window = 3, minCount = 1L)
    // the pre-r16 spelling, inlined as the reference
    val toks = docs
      .select(col("doc_id").as("__d"),
        graft.ops.TextFunctions.tokens(col("text")).as("__t"))
      .select(col("__d"), posexplode(col("__t")).as(Seq("__p", "__w")))
      .filter(length(col("__w")) > 0)
    val ref = toks.as("a")
      .join(toks.as("b"),
        col("a.__d") === col("b.__d") &&
          col("b.__p") > col("a.__p") &&
          col("b.__p") <= col("a.__p") + 3)
      .select(least(col("a.__w"), col("b.__w")).as("w1"),
        greatest(col("a.__w"), col("b.__w")).as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("cnt"))
    assertRowsMatch(fast, ref.collect().toSeq)
  }

  test("ngramJaccardPairs postings build == self-join reference") {
    import spark.implicits._
    val rnd = new scala.util.Random(11L)
    val vocab = Seq("the", "cat", "sat", "on", "mat", "dog", "ran", "far")
    val docs = (1 to 30).map { i =>
      (i.toLong, (0 until (5 + rnd.nextInt(10)))
        .map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }.toDF("doc_id", "text")
    val fast = Dedup.ngramJaccardPairs(docs, "text", "doc_id",
      threshold = 0.1, n = 2)
    // reference: intersect the shingle sets directly
    val sh = docs.select(col("doc_id"),
      call_function("graft_shingles", col("text"), lit(2)).as("shs"))
    val ref = sh.as("a").join(sh.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("ida"), col("b.doc_id").as("idb"),
        size(array_intersect(col("a.shs"), col("b.shs"))).as("common"),
        size(col("a.shs")).as("na"), size(col("b.shs")).as("nb"))
      .filter(col("common") > 0)
      .withColumn("jaccard", col("common").cast("double") /
        (col("na") + col("nb") - col("common")))
      .filter(col("jaccard") >= 0.1)
      .select(col("ida"), col("idb"), col("jaccard"))
    assertRowsMatch(fast, ref.collect().toSeq)
  }

  test("commonNeighbors postings build == adjacency self-join reference") {
    import spark.implicits._
    val rnd = new scala.util.Random(7L)
    // random multigraph with self-loops and both-direction duplicates:
    // the canonicalization path must collapse them identically
    val edges = (1 to 300).map { _ =>
      (rnd.nextInt(30).toLong, rnd.nextInt(30).toLong)
    }.toDF("src", "dst")
    val fast = graft.ops.Graph.commonNeighbors(
      graft.ops.Graph.undirected(edges))
    // the pre-r16 spelling, inlined as the reference
    val e = edges
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
    val adj = e.select(col("u").as("id"), col("v").as("nbr"))
      .unionAll(e.select(col("v").as("id"), col("u").as("nbr")))
    val deg = adj.groupBy("id").agg(count(lit(1)).as("d"))
    val ref = adj.as("a")
      .join(adj.withColumnRenamed("nbr", "nbr2").as("b"), "id")
      .filter(col("nbr") < col("nbr2"))
      .groupBy(col("nbr").as("u"), col("nbr2").as("v"))
      .agg(count(lit(1)).as("common"))
      .join(e, Seq("u", "v"), "left_anti")
      .join(deg.select(col("id").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("id").as("v"), col("d").as("dv")), "v")
      .withColumn("jaccard_micro",
        expr("common * 1000000 DIV (du + dv - common)"))
      .select("u", "v", "common", "du", "dv", "jaccard_micro")
    assertRowsMatch(fast, ref.collect().toSeq)
  }
}
