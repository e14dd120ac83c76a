package graft

import org.apache.spark.sql.functions._
import graft.ops.Layout

/** Storage-layout specs: partition pruning on partitioned writes and
  * shuffle-free joins on bucketed tables — the layout half of the 100 TB
  * story (PLANS.md documents the query half). */
class LayoutSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("partitionBy(lang) write prunes non-matching partitions at scan") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val path = s"${java.nio.file.Files.createTempDirectory("graft_part")}/docs"
    Layout.writePartitioned(docs, path, Seq("lang"))
    val langs = docs.select("lang").distinct().count()
    assert(langs > 1, "fixture must have several languages")

    val read = spark.read.parquet(path).filter(col("lang") === "en")
    val scan = read.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") &&
      scan.replaceAll("\\s", "").contains("PartitionFilters:[isnotnull(lang"),
      s"lang filter must prune partitions:\n$scan")
    // pruned read returns exactly the en rows
    assert(read.count() == docs.filter(col("lang") === "en").count())
  }

  test("IVF-PQ code table partitioned by cell: search scan is cell-pruned") {
    import graft.ops.Similarity
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val idx = Similarity.ivfPqIndex(emb, "embedding", "vec_id", ncentroids = 16)
    val path = s"${java.nio.file.Files.createTempDirectory("graft_ivfpq")}/codes"
    Layout.writePartitioned(idx.codes, path, Seq("cid"))
    val stored = idx.copy(codes = spark.read.parquet(path))
    val q = emb.filter(col("vec_id") < 4)
    val res = Similarity.ivfPqTopK(stored, q, "embedding", "vec_id",
      k = 5, nprobe = 2)
    val rows = res.collect()
    assert(rows.nonEmpty)
    // the probe side arrives via a broadcast equi-join on the partition
    // column, so Spark's dynamic partition pruning must reach the scan:
    // at 100 TB this is the difference between reading nprobe cells and
    // reading the whole index
    val scan = res.queryExecution.executedPlan.toString
    assert(scan.contains("dynamicpruning"),
      s"expected dynamic partition pruning on cid in:\n$scan")
    // stored-index search ≡ in-memory-index search (cid arrives as the
    // parquet partition column — same values, same results)
    val mem = Similarity.ivfPqTopK(idx, q, "embedding", "vec_id",
        k = 5, nprobe = 2)
      .collect().map(_.toString).sorted.toSeq
    assert(rows.map(_.toString).sorted.toSeq == mem)
  }

  test("compact merges a small-file dataset, preserving rows") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val tmp = java.nio.file.Files.createTempDirectory("graft_compact")
    val shattered = s"$tmp/shattered"
    docs.repartition(32).write.parquet(shattered) // 32 tiny files
    val before = spark.read.parquet(shattered).inputFiles.length
    assert(before >= 32)
    val after = Layout.compact(spark, shattered, s"$tmp/compacted",
      targetFileMB = 256) // tiny data -> should fold to 1 file
    assert(after == 1, s"expected 1 output file, got $after")
    assert(spark.read.parquet(s"$tmp/compacted").count() == docs.count())
  }

  test("z-order clusters both dimensions; box queries prune more files than a linear sort") {
    // synthetic uniform grid so locality is measurable
    val n = 20000
    val df = spark.range(n).select(
      (col("id") % 141).cast("double").as("x"),
      ((col("id") * 2654435761L) % 139).cast("double").as("y"))
    val tmp = java.nio.file.Files.createTempDirectory("graft_z")
    val zPath = s"$tmp/z"
    val linPath = s"$tmp/lin"
    val files = 16
    Layout.writeZOrdered(df, zPath, Seq("x", "y"), numFiles = files, bitsPerDim = 8)
    df.repartitionByRange(files, col("x")).sortWithinPartitions("x")
      .write.parquet(linPath) // single-column clustering baseline

    // replay footer-stats pruning: a file is scanned iff its [min,max]
    // box intersects the predicate box
    def filesTouched(path: String, xLo: Double, xHi: Double,
                     yLo: Double, yHi: Double): Long = {
      import org.apache.spark.sql.functions.{input_file_name, min => fmin, max => fmax}
      spark.read.parquet(path)
        .groupBy(input_file_name().as("f"))
        .agg(fmin("x").as("xmn"), fmax("x").as("xmx"),
          fmin("y").as("ymn"), fmax("y").as("ymx"))
        .filter(col("xmx") >= xLo && col("xmn") <= xHi &&
          col("ymx") >= yLo && col("ymn") <= yHi)
        .count()
    }
    // a box tight in BOTH dims: z-order must beat the x-only sort's
    // y-blindness (x-sorted files each span all of y)
    val zBox = filesTouched(zPath, 10, 30, 10, 30)
    val linBoxY = filesTouched(linPath, 0, 140, 10, 30) // y-only predicate
    val zBoxY = filesTouched(zPath, 0, 140, 10, 30)
    assert(zBox < files / 2, s"z-order box query touched $zBox of $files files")
    assert(linBoxY == files, "x-sorted layout cannot prune a y predicate")
    assert(zBoxY < files, s"z-order must prune on the non-leading dim, touched $zBoxY")
    // layout changes bytes, never rows
    assert(spark.read.parquet(zPath).count() == n)
  }

  test("hilbertIndex matches the textbook rotate loop; consecutive keys are grid neighbors") {
    // reference: the classic xy2d rotate-and-flip loop the state tables
    // were derived from
    def xy2d(order: Int, x0: Int, y0: Int): Long = {
      var (x, y, d) = (x0, y0, 0L)
      var s = order / 2
      while (s > 0) {
        val rx = if ((x & s) > 0) 1 else 0
        val ry = if ((y & s) > 0) 1 else 0
        d += s.toLong * s * ((3 * rx) ^ ry)
        if (ry == 0) {
          if (rx == 1) { x = s - 1 - x; y = s - 1 - y }
          val t = x; x = y; y = t
        }
        s /= 2
      }
      d
    }
    val bits = 4
    val n = 1 << bits
    val grid = spark.range(n.toLong * n).select(
      (col("id") / n).cast("long").as("x"), (col("id") % n).as("y"))
    val got = grid.select(col("x"), col("y"),
        Layout.hilbertIndex(col("x"), col("y"), bits).as("h"))
      .collect().map(r => ((r.getLong(0).toInt, r.getLong(1).toInt),
        r.getLong(2))).toMap
    // exhaustive equality over the full 16x16 grid
    for (x <- 0 until n; y <- 0 until n)
      assert(got((x, y)) == xy2d(n, x, y), s"($x,$y)")
    // the Hilbert property Z-order lacks: consecutive indices are
    // Manhattan-distance-1 neighbors, over the WHOLE curve
    val inv = got.map(_.swap)
    for (d <- 0L until (n.toLong * n - 1)) {
      val (x1, y1) = inv(d)
      val (x2, y2) = inv(d + 1)
      assert(math.abs(x1 - x2) + math.abs(y1 - y2) == 1, s"jump at d=$d")
    }
    // spot-check a deeper order against the reference
    val deep = spark.range(50).select(
        (col("id") * 37 % 251).as("x"), (col("id") * 101 % 249).as("y"))
      .select(col("x"), col("y"),
        Layout.hilbertIndex(col("x"), col("y"), 8).as("h"))
      .collect()
    deep.foreach(r => assert(r.getLong(2) ==
      xy2d(256, r.getLong(0).toInt, r.getLong(1).toInt)))
  }

  test("hilbert write clusters boxes at least as well as z-order") {
    val n = 20000
    val df = spark.range(n).select(
      (col("id") % 141).cast("double").as("x"),
      ((col("id") * 2654435761L) % 139).cast("double").as("y"))
    val tmp = java.nio.file.Files.createTempDirectory("graft_h")
    val hPath = s"$tmp/h"
    val zPath = s"$tmp/z"
    val files = 16
    Layout.writeHilbertOrdered(df, hPath, "x", "y", numFiles = files,
      bitsPerDim = 8)
    Layout.writeZOrdered(df, zPath, Seq("x", "y"), numFiles = files,
      bitsPerDim = 8)
    def filesTouched(path: String, xLo: Double, xHi: Double,
                     yLo: Double, yHi: Double): Long = {
      import org.apache.spark.sql.functions.{input_file_name, min => fmin, max => fmax}
      spark.read.parquet(path)
        .groupBy(input_file_name().as("f"))
        .agg(fmin("x").as("xmn"), fmax("x").as("xmx"),
          fmin("y").as("ymn"), fmax("y").as("ymx"))
        .filter(col("xmx") >= xLo && col("xmn") <= xHi &&
          col("ymx") >= yLo && col("ymn") <= yHi)
        .count()
    }
    val hBox = filesTouched(hPath, 10, 30, 10, 30)
    val zBox = filesTouched(zPath, 10, 30, 10, 30)
    assert(hBox <= zBox,
      s"hilbert touched $hBox files, z-order $zBox — curve regressed")
    assert(hBox < files / 2, s"hilbert box query touched $hBox of $files")
    assert(spark.read.parquet(hPath).count() == n)
  }

  test("manifest: footer stats match the data; pruning replay touches only qualifying files") {
    import org.apache.spark.sql.functions._
    val path = s"${java.nio.file.Files.createTempDirectory("graft_manifest")}/docs"
    val raw = spark.read.parquet(s"$sf/documents.parquet")
    // RANGE buckets (not modulo) so a doc_id predicate can actually
    // skip whole files via the manifest
    val width = (raw.agg(max("doc_id")).head().getLong(0) + 4) / 4
    val docs = raw
      .withColumn("bucket", floor(col("doc_id") / lit(width)))
      .repartition(4, col("bucket"))
    Layout.writePartitioned(docs, path, Seq("bucket"))
    val m = Layout.manifest(spark, path, Seq("doc_id")).collect()
    assert(m.length == 4, "one file per bucket")
    assert(m.forall(_.getAs[Long]("bytes") > 0))
    val total = m.map(_.getAs[Long]("n_rows")).sum
    assert(total == docs.count())
    // footer min/max equal the data's per-partition min/max
    val truth = docs.groupBy("bucket")
      .agg(min("doc_id").as("lo"), max("doc_id").as("hi"))
      .collect().map(r => s"bucket=${r.getAs[Long]("bucket")}" ->
        (r.getAs[Long]("lo").toString, r.getAs[Long]("hi").toString)).toMap
    m.foreach { r =>
      val (lo, hi) = truth(r.getAs[String]("partition"))
      assert(r.getAs[String]("min_doc_id") == lo &&
        r.getAs[String]("max_doc_id") == hi)
    }
    // the manifest answers "which files does doc_id <= K touch" without
    // opening any data: exactly the files whose [min,max] intersect
    val k = width / 2
    val touched = m.filter(_.getAs[String]("min_doc_id").toLong <= k)
    assert(touched.length < m.length && touched.nonEmpty)
  }

  test("ORC roundtrip preserves rows; filters push into the ORC scan") {
    import spark.implicits._
    val dir = s"${java.nio.file.Files.createTempDirectory("graft_orc")}/rt"
    val df = (1L to 1000L).toSeq.map(i => (i, s"doc$i", (i % 7).toInt))
      .toDF("id", "body", "grp")
    df.write.mode("overwrite").orc(dir)
    val back = spark.read.orc(dir)
    assert(back.count() == 1000)
    assert(back.agg(sum("id")).head.getLong(0) == 500500L)
    val q = back.filter(col("grp") === 3).select("id")
    val plan = q.queryExecution.executedPlan.toString
    // vectorized ORC scan with the predicate pushed into the reader
    assert(plan.contains("PushedFilters: [IsNotNull(grp), EqualTo(grp,3)]"),
      plan)
    assert(q.count() == (1L to 1000L).count(_ % 7 == 3))
  }
}
