package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Storage-layout operators: how a 100 TB corpus should land on disk so
  * that downstream reads prune.
  *
  *   - **Hive-style partitioning** (`partitionBy`): one directory per
  *     partition value; equality/IN filters on the partition column
  *     prune entire directories at planning time (PartitionFilters in
  *     the scan — asserted in LayoutSpec). Right for low-cardinality
  *     routing columns (language, date, source). High-cardinality
  *     columns produce a small-file explosion.
  */
object Layout {

  /** Write `df` partitioned by `cols` (directory-per-value). */
  def writePartitioned(df: DataFrame, path: String, cols: Seq[String]): Unit =
    df.write.mode("overwrite").partitionBy(cols: _*).parquet(path)

  /** RENDEZVOUS (highest-random-weight) shard assignment: every key
    * goes to argmax over shards s of md5(s:key). The property modular
    * hashing lacks: growing n → n+1 shards moves ONLY the ~1/(n+1) of
    * keys whose new shard wins the argmax — no global reshuffle of a
    * 100 TB layout when capacity is added (mod-n would relocate
    * (n−1)/n of all keys). The comparison is on the md5 HEX STRING
    * (fixed 32 lowercase hex chars, so lexicographic = numeric), which
    * every engine orders identically — no integer conversion to drift.
    *
    * Pure per-row expression: one transform over n seeds + array_max
    * of (hash, shard) structs, codegen end to end, no shuffle, no UDF.
    * Cost is n md5s per row — right for shard counts in the
    * hundreds-to-thousands; beyond that, two-level rendezvous (groups,
    * then shards within the winning group) keeps it O(√n) per row. */
  def rendezvousShard(key: Column, shards: Int): Column = {
    require(shards >= 1, "shards must be >= 1")
    array_max(transform(sequence(lit(0), lit(shards - 1)),
      s => struct(
        md5(concat(s.cast("string"), lit(":"), key.cast("string")))
          .as("h"),
        s.as("s")))).getField("s")
  }

  /** Assign every row to an output SHARD of ~`targetPerShard` weight
    * (tokens, bytes, chars) in deterministic `sortKey` order — the
    * "write the final pretraining shards" step, where a training run
    * wants files of near-equal token mass, not near-equal row count
    * (docs vary 100× in length, so row-balanced files are token-skewed
    * and the longest file gates every data-parallel reader).
    *
    * shard k holds exactly the rows whose exclusive running total lies
    * in [k·target, (k+1)·target): boundaries are a pure function of the
    * data and order, independent of cluster layout. Every shard's mass
    * is within one max-row-weight of the target (a row is never split;
    * the last shard holds the remainder). Integer division keeps the
    * assignment exact at any scale (no double rounding at 2^53).
    *
    * Scale shape: [[Order.prefixSum]]'s two-pass range-shuffle scan —
    * never the single-task `SUM OVER (ORDER BY)` window. Downstream,
    * `.repartition(col(shardCol))` + `partitionBy(shardCol)` lands one
    * directory per shard. */
  def tokenShards(df: DataFrame, sortKey: Column, weight: Column,
                  targetPerShard: Long, shardCol: String = "shard",
                  cumCol: String = "cum_before"): DataFrame = {
    require(targetPerShard > 0, "targetPerShard must be positive")
    Order.prefixSum(df, sortKey, weight, cumCol)
      .withColumn(shardCol, expr(s"$cumCol div ${targetPerShard}L"))
  }

  /** Iceberg-style FILE MANIFEST of a parquet dataset: one row per data
    * file with its partition-directory values, row count, byte size,
    * and per-column min/max — all read from parquet FOOTERS only, never
    * the data pages. This is the metadata a lakehouse table format
    * (Iceberg/Delta) maintains per snapshot, and what engines prune
    * scans with; materializing it makes pruning auditable ("which files
    * would this predicate touch?") and lets external tooling plan
    * incremental work.
    *
    * Distributed: the file LISTING happens on the driver (cheap — it is
    * names, not bytes); footer reads fan out as one task per file via a
    * parallelized path list. `statsCols` limits min/max extraction to
    * the columns worth indexing (string stats are parquet-truncated
    * UTF-8; values render as strings for a schema-stable manifest). */
  def manifest(spark: SparkSession, path: String,
               statsCols: Seq[String]): DataFrame = {
    import org.apache.hadoop.fs.{Path => HPath}
    val hconf = spark.sparkContext.hadoopConfiguration
    val root = new HPath(path)
    val fs = root.getFileSystem(hconf)
    val it = fs.listFiles(root, true)
    val files = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet") &&
        !f.getPath.getName.startsWith("_"))
        files += ((f.getPath.toString, f.getLen))
    }
    val confBytes = {
      val baos = new java.io.ByteArrayOutputStream()
      val out = new java.io.DataOutputStream(baos)
      hconf.write(out); out.flush(); baos.toByteArray
    }
    val rootStr = root.toString
    val statsColsB = statsCols
    val rows = spark.sparkContext
      .parallelize(files.toSeq, math.max(1, math.min(files.size,
        spark.sparkContext.defaultParallelism)))
      .map { case (file, bytes) =>
        val conf = new org.apache.hadoop.conf.Configuration(false)
        conf.readFields(new java.io.DataInputStream(
          new java.io.ByteArrayInputStream(confBytes)))
        val in = org.apache.parquet.hadoop.util.HadoopInputFile
          .fromPath(new HPath(file), conf)
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        val (nRows, mins, maxs) =
          try {
            val blocks = reader.getFooter.getBlocks
            var n = 0L
            // cross-row-group min/max via parquet's own typed merge (a
            // string compare would order "10" < "9" for numerics)
            val acc = scala.collection.mutable
              .Map.empty[String, org.apache.parquet.column.statistics.Statistics[_]]
            blocks.forEach { b =>
              n += b.getRowCount
              b.getColumns.forEach { c =>
                val name = c.getPath.toDotString
                if (statsColsB.contains(name)) {
                  val st = c.getStatistics
                  if (st != null && st.hasNonNullValue) {
                    // erase the invariant T (runtime types always agree
                    // within one column chunk family)
                    type S = org.apache.parquet.column.statistics
                      .Statistics[java.lang.Long]
                    acc.get(name) match {
                      case None => acc(name) = st
                      case Some(prev) => prev.asInstanceOf[S]
                        .mergeStatistics(st.asInstanceOf[S])
                    }
                  }
                }
              }
            }
            (n, acc.view.mapValues(_.minAsString).toMap,
              acc.view.mapValues(_.maxAsString).toMap)
          } finally reader.close()
        // partition-directory values (k=v path segments under the root)
        val rel = file.stripPrefix(rootStr).stripPrefix("/")
        val partVals = rel.split("/").dropRight(1)
          .filter(_.contains("=")).mkString("/")
        org.apache.spark.sql.Row.fromSeq(
          Seq(rel.split("/").last, partVals, nRows, bytes) ++
            statsColsB.flatMap(c => Seq(mins.get(c).orNull, maxs.get(c).orNull)))
      }
    val schema = org.apache.spark.sql.types.StructType(
      Seq(org.apache.spark.sql.types.StructField("file",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("partition",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("n_rows",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("bytes",
          org.apache.spark.sql.types.LongType)) ++
        statsCols.flatMap(c => Seq(
          org.apache.spark.sql.types.StructField(s"min_$c",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField(s"max_$c",
            org.apache.spark.sql.types.StringType))))
    spark.createDataFrame(rows, schema)
  }

  /** Compact a small-file parquet dataset to ~`targetFileMB` files.
    * Streaming sinks and fine-grained partitioned writes accumulate
    * thousands of tiny files; every downstream scan then pays a task and
    * a footer read per file. Sizing from the ACTUAL on-disk bytes (not a
    * row estimate), coalesce when reducing (no shuffle), round-robin
    * repartition when the input has too few partitions to parallelize
    * the write. Returns the new file count. */
  def compact(spark: SparkSession, inPath: String, outPath: String,
              targetFileMB: Int = 256): Int = {
    val df = spark.read.parquet(inPath)
    // Size from the filesystem the data actually lives on (HDFS/S3/local),
    // not java.io.File — which reports 0 for any non-local scheme and would
    // silently coalesce the whole dataset into one file.
    // One listStatus RPC per directory, not one getFileStatus per file —
    // at millions of small files the per-file loop dominates the job.
    val hadoopConf = spark.sessionState.newHadoopConf()
    val bytes = df.inputFiles
      .map(new org.apache.hadoop.fs.Path(_))
      .groupBy(_.getParent)
      .iterator.map { case (parent, inFiles) =>
        val fs = parent.getFileSystem(hadoopConf)
        val names = inFiles.iterator.map(_.getName).toSet
        fs.listStatus(parent).iterator
          .filter(st => names.contains(st.getPath.getName))
          .map(_.getLen).sum
      }.sum
    val nFiles = math.max(1, math.ceil(
      bytes.toDouble / (targetFileMB.toLong << 20)).toInt)
    val sized =
      if (nFiles < df.rdd.getNumPartitions) df.coalesce(nFiles)
      else df.repartition(nFiles)
    sized.write.mode("overwrite").parquet(outPath)
    spark.read.parquet(outPath).inputFiles.length
  }

  /** Morton (Z-order) key over `cols`: each column is scaled to a
    * `bitsPerDim`-bit bucket between its observed min and max, and the
    * buckets' bits are interleaved. Rows close in EVERY dimension get
    * close keys, so sorting by the key clusters multi-dimensional
    * locality into the same files — pure shift/mask arithmetic, fully
    * codegen'd. `mins`/`maxs` come from a one-row stats pass (see
    * [[writeZOrdered]]); linear scaling keeps the expression cheap, and
    * file-size balance is restored by range-partitioning on the key, so
    * value skew costs locality only, never balance. */
  def zOrderKey(cols: Seq[Column], mins: Seq[Double], maxs: Seq[Double],
                bitsPerDim: Int = 16): Column = {
    require(cols.nonEmpty && cols.size * bitsPerDim <= 63,
      s"need dims*bits <= 63, got ${cols.size} * $bitsPerDim")
    val d = cols.size
    val nb = 1 << bitsPerDim
    val buckets = cols.zipWithIndex.map { case (c, i) =>
      // degenerate constant column -> widen the range so width_bucket's
      // min < max precondition holds (every row lands in bucket 0)
      val (lo, hi) = if (maxs(i) > mins(i)) (mins(i), maxs(i))
                     else (mins(i), mins(i) + 1.0)
      // [min,max] -> [0, nb-1]; width_bucket yields nb+1 AT the max edge
      least(width_bucket(c.cast("double"), lit(lo), lit(hi), lit(nb)),
        lit(nb)) - lit(1)
    }
    val terms = for {
      (b, i) <- buckets.zipWithIndex
      j <- 0 until bitsPerDim
    } yield shiftleft(shiftrightunsigned(b.cast("long"), j)
      .bitwiseAND(lit(1L)), j * d + i)
    terms.reduce(_ + _)
  }

  /** HILBERT-curve index of an integer 2-D bucket pair — the
    * locality-preserving space-filling curve Z-order approximates:
    * consecutive Hilbert indices are always GRID NEIGHBORS (Manhattan
    * distance 1 — property-tested over the full grid in LayoutSpec),
    * where the Morton curve takes long diagonal jumps at quadrant
    * boundaries, so a box query touches fewer, more contiguous key
    * ranges (Moon et al. 2001 measure ~25-50% fewer cluster splits).
    *
    * Computed as the standard 4-state rotation automaton over the
    * per-level (x-bit, y-bit) digits, MSB first — the state tables are
    * derived from the textbook xy2d rotate-and-flip loop and verified
    * against it exhaustively in LayoutSpec. PURE INTEGER arithmetic end
    * to end (bit shifts, table lookups on literal arrays, base-4
    * accumulate), so the index replays EXACTLY in any SQL engine —
    * unlike the double-scaled [[zOrderKey]], this core is oracle-exact.
    * The per-row fold is a higher-order `aggregate` over `bitsPerDim`
    * digits (CodegenFallback — interpreted, ~bitsPerDim table lookups
    * per row; a layout key is computed once per row ahead of a
    * range-exchange + sort, which dominate).
    *
    * @param xBucket,yBucket integer buckets in [0, 2^bitsPerDim) —
    *        scale values yourself (exact integer rail:
    *        `(v - lo) * 2^bits div (hi - lo + 1)`) or use [[hilbertKey]]
    * @return the Hilbert index in [0, 4^bitsPerDim) as a long */
  def hilbertIndex(xBucket: Column, yBucket: Column,
                   bitsPerDim: Int = 16): Column = {
    require(bitsPerDim >= 1 && bitsPerDim <= 31,
      s"need 1 <= bitsPerDim <= 31, got $bitsPerDim")
    // state = (swap, invx, invy) of the remaining subsquare, packed to
    // 4 reachable values; digit = (xbit << 1) | ybit. Tables verified
    // exhaustively against the reference rotate loop (LayoutSpec).
    val OUT = Seq(0, 1, 3, 2, 2, 3, 1, 0, 0, 3, 1, 2, 2, 1, 3, 0)
    val NXT = Seq(2, 0, 3, 0, 1, 2, 1, 3, 0, 1, 2, 2, 3, 3, 0, 1)
    val outA = array(OUT.map(v => lit(v.toLong)): _*)
    val nxtA = array(NXT.map(v => lit(v.toLong)): _*)
    val x = xBucket.cast("long")
    val y = yBucket.cast("long")
    val digits = array((bitsPerDim - 1 to 0 by -1).map { l =>
      shiftrightunsigned(x, l).bitwiseAND(lit(1L)) * 2 +
        shiftrightunsigned(y, l).bitwiseAND(lit(1L))
    }: _*)
    aggregate(digits,
      struct(lit(0L).as("st"), lit(0L).as("d")),
      (acc, dig) => {
        val idx = (acc.getField("st") * 4 + dig + 1).cast("int")
        struct(element_at(nxtA, idx).as("st"),
          (acc.getField("d") * 4 + element_at(outA, idx)).as("d"))
      },
      acc => acc.getField("d"))
  }

  /** Hilbert key over two numeric columns, each width_bucket-scaled to
    * `bitsPerDim` bits between its observed min and max — the drop-in
    * locality upgrade for [[writeZOrdered]]'s 2-D case (same scaling
    * contract as [[zOrderKey]]; see [[hilbertIndex]] for why the curve
    * clusters better). */
  def hilbertKey(xCol: Column, yCol: Column,
                 mins: Seq[Double], maxs: Seq[Double],
                 bitsPerDim: Int = 16): Column = {
    require(mins.size == 2 && maxs.size == 2, "hilbertKey is 2-D")
    val nb = 1 << bitsPerDim
    val buckets = Seq(xCol, yCol).zipWithIndex.map { case (c, i) =>
      val (lo, hi) = if (maxs(i) > mins(i)) (mins(i), maxs(i))
                     else (mins(i), mins(i) + 1.0)
      least(width_bucket(c.cast("double"), lit(lo), lit(hi), lit(nb)),
        lit(nb)) - lit(1)
    }
    hilbertIndex(buckets(0), buckets(1), bitsPerDim)
  }

  /** Write `df` Hilbert-ordered on two columns into `numFiles`
    * range-partitioned, internally sorted files — [[writeZOrdered]]
    * with the better curve (2-D only; Z-order generalizes to more
    * dims, Hilbert's rotation tables grow exponentially with them). */
  def writeHilbertOrdered(df: DataFrame, path: String,
                          xCol: String, yCol: String, numFiles: Int,
                          bitsPerDim: Int = 16): Unit = {
    val cols = Seq(xCol, yCol)
    val statsExprs = cols.flatMap(c =>
      Seq(min(col(c)).cast("double").as(s"mn_$c"),
        max(col(c)).cast("double").as(s"mx_$c")))
    val statsRow = df.agg(statsExprs.head, statsExprs.tail: _*).head()
    cols.foreach { c =>
      require(!statsRow.isNullAt(statsRow.fieldIndex(s"mn_$c")),
        s"writeHilbertOrdered: no non-null values for '$c'")
    }
    val mins = cols.map(c => statsRow.getAs[Double](s"mn_$c"))
    val maxs = cols.map(c => statsRow.getAs[Double](s"mx_$c"))
    df.withColumn("__h",
        hilbertKey(col(xCol), col(yCol), mins, maxs, bitsPerDim))
      .repartitionByRange(numFiles, col("__h"))
      .sortWithinPartitions("__h")
      .drop("__h")
      .write.mode("overwrite").parquet(path)
  }

  /** Write `df` Z-ordered on `cols` into `numFiles` range-partitioned,
    * internally sorted files. A multi-dimensional filter then prunes by
    * parquet min/max stats: a box selective in ANY subset of the ordered
    * dimensions touches ~O(stats-intersecting) files, where a linear sort
    * only helps its single leading column (asserted in LayoutSpec by
    * replaying footer-stats pruning). Two passes: a 1-row min/max agg,
    * then the sort+write — no full shuffle beyond the range partitioner's
    * sampled exchange. */
  def writeZOrdered(df: DataFrame, path: String, cols: Seq[String],
                    numFiles: Int, bitsPerDim: Int = 16): Unit = {
    val statsExprs = cols.flatMap(c =>
      Seq(min(col(c)).cast("double").as(s"mn_$c"),
        max(col(c)).cast("double").as(s"mx_$c")))
    val statsRow = df.agg(statsExprs.head, statsExprs.tail: _*).head()
    cols.foreach { c =>
      require(!statsRow.isNullAt(statsRow.fieldIndex(s"mn_$c")),
        s"writeZOrdered: no non-null values for '$c' (empty input or " +
          "all-null column) — nothing to cluster on")
    }
    val mins = cols.map(c => statsRow.getAs[Double](s"mn_$c"))
    val maxs = cols.map(c => statsRow.getAs[Double](s"mx_$c"))
    df.withColumn("__z", zOrderKey(cols.map(col), mins, maxs, bitsPerDim))
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").parquet(path)
  }
}
