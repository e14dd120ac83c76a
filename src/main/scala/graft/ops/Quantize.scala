package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Embedding quantization for storage: symmetric int8 scalar
  * quantization — q[i] = round(x[i]/scale), scale = max|x|/127 per
  * vector. 4x smaller than float32 at ~0.3% reconstruction error on
  * unit-norm embeddings; at 100 TB of vectors that is the difference
  * between a dataset that fits the cluster's disks and one that doesn't.
  * Quantize at ingest, dequantize (or compute asymmetric int8 distance)
  * at query time.
  *
  * Pure column expressions over higher-order functions: fine off the hot
  * path (this is a write-amortized transform); a scoring loop over the
  * quantized codes would warrant a codegen expression like graft_cosine.
  */
object Quantize {

  /** Per-vector scale: max|x| / 127 (0.0 for the all-zero vector). */
  def int8Scale(vec: Column): Column =
    array_max(transform(vec, x => abs(x.cast("double")))) / 127.0

  /** int8 codes; the all-zero vector maps to all-zero codes. */
  def int8Codes(vec: Column, scale: Column): Column =
    transform(vec, x =>
      when(scale === 0.0, lit(0))
        .otherwise(round(x.cast("double") / scale))
        .cast("tinyint"))

  /** Quantize an embedding table: returns idCol, `scale`, `codes`
    * (array<tinyint>) and the L2 reconstruction `err`. */
  def int8Table(df: DataFrame, vecCol: String, idCol: String): DataFrame = {
    val sc = int8Scale(col(vecCol))
    val codes = int8Codes(col(vecCol), col("scale"))
    df.select(col(idCol), col(vecCol), sc.as("scale"))
      .withColumn("codes", codes)
      .withColumn("err", sqrt(aggregate(
        zip_with(col(vecCol), col("codes"),
          (x, q) => pow(x.cast("double") - q.cast("double") * col("scale"), 2)),
        lit(0.0), _ + _)))
      .drop(vecCol)
  }

  // =====================================================================
  // Product quantization (PQ): the compression tier BELOW int8. The
  // d-dim vector splits into m subvectors; each subvector encodes as the
  // index of its nearest codebook centroid (k ≤ 256 ⇒ one byte). A
  // 64-dim float32 embedding compresses 32x at m=8/k=256 (8 bytes vs
  // 256), vs int8's 4x — at 100 TB of vectors PQ is what makes the
  // whole corpus RAM-resident for ANN. Codebooks are tiny
  // (m·k·(d/m) doubles) and train Lloyd-style on a bounded,
  // deterministic sample (lowest-id vectors — the same faiss-style
  // contract as Similarity.ivfTopK); only ENCODING touches the full
  // corpus, one row at a time.
  // =====================================================================

  /** Train PQ codebooks: `m` subspaces × `k` centroids each, L2 Lloyd
    * on the lowest-id sample. Returns codebooks(sub)(centroid)(dim). */
  def pqTrain(df: DataFrame, vecCol: String, idCol: String,
              m: Int, k: Int, iters: Int = 3,
              sampleN: Int = 4096): Array[Array[Array[Double]]] = {
    require(k <= 256, "k must fit one byte")
    val sample: Array[Array[Double]] = df
      .select(col(idCol), col(vecCol)).orderBy(col(idCol)).limit(sampleN)
      .collect().map(_.getSeq[Float](1).map(_.toDouble).toArray)
    require(sample.nonEmpty, "pqTrain: empty input")
    val d = sample.head.length
    require(d % m == 0, s"dim $d must divide by m=$m")
    val sub = d / m
    Array.tabulate(m) { j =>
      val slice = sample.map(v => v.slice(j * sub, (j + 1) * sub))
      var cents = slice.take(k).map(_.clone())
      // fewer sample points than centroids: pad by repeating (harmless —
      // duplicate centroids never win argmin over the original)
      if (cents.length < k)
        cents = Array.tabulate(k)(i => cents(i % cents.length).clone())
      for (_ <- 0 until iters) {
        val sums = Array.fill(k)(new Array[Double](sub))
        val counts = new Array[Long](k)
        slice.foreach { v =>
          val best = nearest(v, cents)
          var t = 0
          while (t < sub) { sums(best)(t) += v(t); t += 1 }
          counts(best) += 1
        }
        cents = cents.indices.map { i =>
          if (counts(i) == 0) cents(i) else sums(i).map(_ / counts(i))
        }.toArray
      }
      cents
    }
  }

  /** Persist trained PQ codebooks as a (sub, cid, centroid) parquet
    * table — the train-once/encode-many artifact: an ANN corpus is
    * only searchable while every shard was encoded under the SAME
    * codebooks, so a multi-job pipeline must reload these rather than
    * retrain (retraining scrambles every persisted code). Doubles
    * round-trip parquet bit-exactly, so load === save. */
  def savePqCodebooks(spark: org.apache.spark.sql.SparkSession,
                      codebooks: Array[Array[Array[Double]]],
                      path: String): Unit = {
    import spark.implicits._
    codebooks.toSeq.zipWithIndex.flatMap { case (cents, sub) =>
      cents.toSeq.zipWithIndex.map { case (c, cid) => (sub, cid, c.toSeq) }
    }.toDF("sub", "cid", "centroid").coalesce(1)
      .write.mode("overwrite").parquet(path)
  }

  /** Load persisted codebooks in (sub, cid) order (m·k-row collect —
    * codebook-sized, ~2048 rows at m=8/k=256). */
  def loadPqCodebooks(spark: org.apache.spark.sql.SparkSession,
                      path: String): Array[Array[Array[Double]]] = {
    val rows = spark.read.parquet(path)
      .select("sub", "cid", "centroid").collect()
    require(rows.nonEmpty, s"no codebook rows at $path")
    rows.groupBy(_.getInt(0)).toArray.sortBy(_._1).map { case (_, rs) =>
      rs.sortBy(_.getInt(1)).map(_.getSeq[Double](2).toArray)
    }
  }

  /** The PQ encode step as a reusable Column: vector → its `m` one-byte
    * codes against broadcast codebooks. Shared by [[pqEncode]] and
    * [[Similarity.ivfPqIndex]] (which fuses cell assignment and encoding
    * into one corpus pass). */
  def pqEncodeCol(spark: org.apache.spark.sql.SparkSession,
                  codebooks: Array[Array[Array[Double]]], vec: Column): Column =
    encodeUdf(spark.sparkContext.broadcast(codebooks))(vec)

  private def encodeUdf(
      bc: org.apache.spark.broadcast.Broadcast[Array[Array[Array[Double]]]])
      : org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (v: Seq[Float]) =>
      val cb = bc.value
      val sub = cb(0)(0).length
      cb.indices.map { j =>
        nearest(v.slice(j * sub, (j + 1) * sub).map(_.toDouble).toArray, cb(j))
      }
    }

  private def nearest(v: Array[Double], cents: Array[Array[Double]]): Int = {
    var best = 0; var bestD = Double.MaxValue
    var i = 0
    while (i < cents.length) {
      var dist = 0.0; var t = 0
      while (t < v.length) {
        val diff = v(t) - cents(i)(t); dist += diff * diff; t += 1
      }
      if (dist < bestD) { bestD = dist; best = i }
      i += 1
    }
    best
  }

  /** Encode every vector to its `m` one-byte codes, and attach the L2
    * reconstruction error. Codebooks ride a broadcast; encoding is a
    * per-row JVM loop (d·k multiplies — a write-amortized ingest
    * transform, like [[int8Table]]). Returns (idCol, codes array<int>,
    * err). */
  def pqEncode(df: DataFrame, vecCol: String, idCol: String,
               codebooks: Array[Array[Array[Double]]]): DataFrame = {
    val bc = df.sparkSession.sparkContext.broadcast(codebooks)
    val enc = encodeUdf(bc)
    val dec = udf { (codes: Seq[Int]) =>
      val cb = bc.value
      codes.indices.flatMap(j => cb(j)(codes(j))).map(_.toFloat)
    }
    df.select(col(idCol), col(vecCol))
      .withColumn("codes", enc(col(vecCol)))
      .withColumn("err", sqrt(aggregate(
        zip_with(col(vecCol), dec(col("codes")),
          (x, r) => pow(x.cast("double") - r.cast("double"), 2)),
        lit(0.0), _ + _)))
      .drop(vecCol)
  }

  /** Reconstruct PQ codes back to (approximate) vectors. */
  def pqDecode(codes: DataFrame, codesCol: String,
               codebooks: Array[Array[Array[Double]]]): DataFrame = {
    val bc = codes.sparkSession.sparkContext.broadcast(codebooks)
    val dec = udf { (cs: Seq[Int]) =>
      val cb = bc.value
      cs.indices.flatMap(j => cb(j)(cs(j))).map(_.toFloat)
    }
    codes.withColumn("vec_approx", dec(col(codesCol)))
  }
}
