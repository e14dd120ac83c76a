package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graft.BusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, GraftShim}
import graft.ops.{BroadcastCap, Graph}

/** The two paths of [[Graph.kCore]]: the driver queue peel below
  * [[BroadcastCap.DriverRows]] integral-id edges and the distributed
  * round loop above it (or for non-integral ids) return the same edges. */
class KCoreSpec extends SparkSpec {

  import spark.implicits._

  private def edgeSet(df: DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getAs[Number](0).longValue,
      r.getAs[Number](1).longValue)).toSet

  /** Driver and distributed k-core of `und`, checked equal (edges,
    * column names, order and types) and returned once. */
  private def agree(und: Graph.Undirected, k: Int): Set[(Long, Long)] = {
    val driver = Graph.kCoreDriver(GraftShim.materialize(und.df), k)
    val peel = Graph.kCorePeel(GraftShim.materialize(und.df), k)
    def columns(df: DataFrame) = df.schema.map(f => f.name -> f.dataType)
    assert(columns(driver) == Seq("src", "dst").map(_ -> und.df.schema("src")
      .dataType), s"k=$k")
    assert(columns(driver) == columns(peel), s"k=$k")
    val d = edgeSet(driver)
    assert(d == edgeSet(peel), s"k=$k")
    assert(edgeSet(Graph.kCore(und, k)) == d, s"k=$k")
    d
  }

  /** Jobs started while `body` runs. */
  private def jobs(body: => Unit): Int = {
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    BusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try { body; BusDrain(spark.sparkContext) }
    finally spark.sparkContext.removeSparkListener(listener)
    n.get
  }

  test("driver and distributed peel agree: K4-with-tail, k = 1..4") {
    // K4 on 1..4 + vertex 5 on {1,2} + vertex 6 hanging off 5
    val k4 = for { u <- 1L to 4L; v <- 1L to 4L if u < v } yield (u, v)
    val und = Graph.undirected(
      (k4 ++ Seq((5L, 1L), (5L, 2L), (6L, 5L))).toDF("src", "dst"))
    assert(agree(und, 1).size == 9)
    assert(agree(und, 2) == k4.toSet ++ Set((1L, 5L), (2L, 5L)))
    assert(agree(und, 3) == k4.toSet)
    assert(agree(und, 4).isEmpty)
  }

  test("driver and distributed peel agree: seeded random graph, LONG and INT ids") {
    val rnd = new scala.util.Random(11)
    val raw = Seq.fill(400)((rnd.nextInt(80).toLong, rnd.nextInt(80).toLong))
    val und = Graph.undirected(raw.toDF("src", "dst"))
    val cores = (1 to 12).map(k => k -> agree(und, k)).toMap
    // nested cores, a non-trivial one, and a k past the degeneracy
    for (k <- 2 to 12) assert(cores(k).subsetOf(cores(k - 1)))
    assert(cores(6).nonEmpty && cores(6).size < cores(1).size)
    assert(cores(12).isEmpty)
    val int = Graph.undirected(raw.map { case (u, v) => (u.toInt, v.toInt) }
      .toDF("src", "dst"))
    assert(Graph.integralIds(int.df, "src"))
    // agree also pins INT output columns
    for (k <- Seq(1, 6, 12)) assert(agree(int, k) == cores(k), s"k=$k")
  }

  test("driver and distributed peel agree: empty edge list") {
    val und = Graph.undirected(Seq.empty[(Long, Long)].toDF("src", "dst"))
    assert(agree(und, 1).isEmpty)
    assert(agree(und, 3).isEmpty)
  }

  test("string ids take the distributed peel and match the LONG-id core") {
    val rnd = new scala.util.Random(5)
    val raw = Seq.fill(200)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
    val strs = Graph.undirected(raw.map { case (u, v) => (u.toString,
      v.toString) }.toDF("src", "dst"))
    assert(!Graph.integralIds(strs.df, "src"))
    val longs = Graph.undirected(raw.toDF("src", "dst"))
    for (k <- Seq(2, 4, 7)) {
      // string ids canonicalize by string order: compare unordered pairs
      val got = Graph.kCore(strs, k).collect()
        .map(r => Set(r.getString(0).toLong, r.getString(1).toLong)).toSet
      val expected = agree(longs, k).map { case (u, v) => Set(u, v) }
      assert(got == expected, s"k=$k")
    }
  }

  test("below the cap kCore's job count does not grow with peel depth") {
    // k = 2 peels a path from both ends: depth/2 distributed rounds
    def path(n: Long) =
      Graph.undirected((1L until n).map(i => (i, i + 1)).toDF("src", "dst"))
    val (short, long) = (path(8), path(40))
    val driver = Seq(short, long).map(p => jobs(Graph.kCore(p, 2).collect()))
    assert(driver(0) == driver(1), driver)
    // the same graphs through the distributed loop: its job count grows
    val peel = Seq(short, long).map(p => jobs(
      Graph.kCorePeel(GraftShim.materialize(p.df), 2).collect()))
    assert(peel(1) > peel(0), peel)
    assert(driver(1) < peel(0), (driver, peel))
  }
}
