package graft.ops

import org.apache.spark.sql.{Column, DataFrame, GraftShim}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{CosineSimilarity, DotProduct, LshSignatures, PqLookupSum}

/** Approximate/exact nearest-neighbor search over an embedding column
  * (`array<float>`).
  *
  * Scale design (billions of vectors):
  *   - The query set is always the SMALL side: it is broadcast, so the
  *     corpus is scanned once with no shuffle of the corpus rows
  *     (`broadcast(queries)` + nested-loop join keeps the big side
  *     partition-local).
  *   - Top-k uses two stages: a per-partition window prune (each corpus
  *     partition contributes at most k rows per query) then the global
  *     top-k — the final shuffle moves only `partitions × k × |queries|`
  *     rows, never the corpus.
  *   - The LSH path (random-hyperplane signs) buckets the corpus once,
  *     joins queries by bucket, and only scores within matching buckets.
  *     Hyperplanes come from a seeded RNG: deterministic, no state.
  *   - Dot products run in double (cast from float32) via zip_with +
  *     aggregate — codegen'd, no UDF.
  */
object Similarity {

  /** cos(a, b) in double arithmetic as a higher-order-function fold
    * (CodegenFallback, interpreted; ~25x slower than [[cosineFast]]).
    * [[cosineFast]] takes two `array<float>` operands; this fold also
    * takes `array<double>`, e.g. a literal centroid. */
  def cosine(a: Column, b: Column): Column = {
    val ad = transform(a, x => x.cast("double"))
    val bd = transform(b, x => x.cast("double"))
    val dot = aggregate(zip_with(ad, bd, _ * _), lit(0.0), _ + _)
    val na = sqrt(aggregate(ad, lit(0.0), (s, x) => s + x * x))
    val nb = sqrt(aggregate(bd, lit(0.0), (s, x) => s + x * x))
    dot / (na * nb)
  }

  /** cos(a, b): the codegen [[CosineSimilarity]] expression. It
    * accumulates in double in index order, so it agrees bit-for-bit
    * with [[cosine]]. */
  def cosineFast(a: Column, b: Column): Column =
    GraftShim.column(CosineSimilarity(
      GraftShim.expression(a), GraftShim.expression(b)))

  /** Exact brute-force cosine top-k: for each query vector, the k nearest
    * corpus vectors (excluding itself). Deterministic tie-break on
    * ascending corpus id. Returns (qid, rank, id, sim) with sim rounded
    * to 6 dp for cross-engine stability.
    *
    * `queries` must be small (it is broadcast); the corpus side streams. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
                     vecCol: String, idCol: String, k: Int): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("qid"), col(vecCol).as("qv")))
    // Repartition the streamed corpus if the source is a handful of files —
    // scoring parallelism equals its partition count.
    val par = corpus.sparkSession.sparkContext.defaultParallelism
    val c0 = corpus.select(col(idCol).as("id"), col(vecCol).as("cv"))
    val c = if (c0.rdd.getNumPartitions < par / 2) c0.repartition(par) else c0
    val scored = c.join(q, col("qid") =!= col("id"))
      .withColumn("sim", round(cosineFast(col("qv"), col("cv")), 6))
      .select("qid", "id", "sim")
    // Stage 1: local prune — each partition keeps at most k per query.
    val localW = Window.partitionBy("qid", "__part").orderBy(col("sim").desc, col("id"))
    val pruned = scored.withColumn("__part", spark_partition_id())
      .withColumn("__lr", row_number().over(localW))
      .filter(col("__lr") <= k)
      .drop("__part", "__lr")
    // Stage 2: global top-k over the pruned (small) set.
    val globalW = Window.partitionBy("qid").orderBy(col("sim").desc, col("id"))
    pruned.withColumn("rank", row_number().over(globalW))
      .filter(col("rank") <= k)
      .select("qid", "rank", "id", "sim")
  }

  /** Brute-force top-k via the bounded [[graft.functions.TopKAggregator]]
    * instead of window ranking: one ObjectHashAggregate whose partial
    * buffers hold at most k candidates per query — a corpus partition
    * ships k rows per query key with NO sort of the scored set. Same
    * output as [[bruteForceTopK]] (deterministic (sim desc, id) order).
    * Prefer this at scale; the window variant exists as the
    * pure-built-ins formulation. */
  def bruteForceTopKAgg(corpus: DataFrame, queries: DataFrame,
                        vecCol: String, idCol: String, k: Int): DataFrame = {
    import graft.functions.TopKAggregator
    val q = broadcast(queries.select(col(idCol).as("qid"), col(vecCol).as("qv")))
    // same under-partitioned-source guard as bruteForceTopK
    val par = corpus.sparkSession.sparkContext.defaultParallelism
    val c0 = corpus.select(col(idCol).as("id"), col(vecCol).as("cv"))
    val c = if (c0.rdd.getNumPartitions < par / 2) c0.repartition(par) else c0
    val scored = c.join(q, col("qid") =!= col("id"))
      .withColumn("sim", round(cosineFast(col("qv"), col("cv")), 6))
    val topk = udaf(new TopKAggregator(k), TopKAggregator.inputEncoder)
    scored
      .groupBy("qid")
      .agg(topk(col("sim"), col("id")).as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("r0", "s")))
      .select(col("qid"), (col("r0") + 1).cast("int").as("rank"),
        col("s.id").as("id"), col("s.sim").as("sim"))
  }

  /** MATRYOSHKA truncation-quality read (Kusupati et al. 2022,
    * "Matryoshka Representation Learning"): per prefix dimension d,
    * the top-k retrieval agreement between full-dim cosine and cosine
    * over only the FIRST d dims — |top-k ∩ top-k_d| and whether top-1
    * matches. This is the decision table for serving truncated
    * embeddings (store d of D dims at D/d× density, re-rank survivors
    * at full width): MRL-trained encoders front-load information, so
    * the curve says which d keeps recall.
    *
    * Scale shape: ONE corpus scan for all tiers — every (query,
    * candidate) pair is scored at each prefix width in the same
    * projection (prefix slices are column expressions, zero copy),
    * tiers explode to (qid, tier, id, sim) rows, and a single bounded
    * [[graft.functions.TopKAggregator]] grouped by (qid, tier) keeps
    * k-row partials per key (a per-tier [[bruteForceTopKAgg]] loop
    * would re-scan the corpus once per tier — 4× the I/O for the
    * same answer). The agreement join is a per-query fold over the
    * collected tier lists, not a self-join, so nothing re-reads the
    * scored set. At corpus scale swap the scorer for [[ivfTopK]] per
    * tier — the agreement read is unchanged.
    *
    * @return (qid, prefix_dim, overlap, top1_match) */
  def matryoshkaOverlap(corpus: DataFrame, queries: DataFrame,
                        vecCol: String, idCol: String, k: Int,
                        prefixDims: Seq[Int]): DataFrame = {
    require(k >= 1 && prefixDims.nonEmpty, "need k >= 1 and >= 1 tier")
    require(prefixDims.forall(_ >= 1), "prefix dims must be >= 1")
    // a duplicated tier would feed every (qid, tier) group each
    // candidate twice and corrupt the top-k lists (r13 review)
    require(prefixDims.distinct.size == prefixDims.size,
      "prefix dims must be distinct")
    import graft.functions.TopKAggregator
    val spark = corpus.sparkSession
    val q = broadcast(queries.select(col(idCol).as("qid"),
      col(vecCol).as("qv")))
    // same under-partitioned-source guard as bruteForceTopK
    val par = spark.sparkContext.defaultParallelism
    val c0 = corpus.select(col(idCol).as("id"), col(vecCol).as("cv"))
    val c = if (c0.rdd.getNumPartitions < par / 2) c0.repartition(par)
      else c0
    // tier 0 = full width; prefix tiers by first-d-dims slices
    val tierCols = struct(lit(0).as("prefix_dim"),
      round(cosineFast(col("qv"), col("cv")), 6).as("sim")) +:
      prefixDims.map(d => struct(lit(d).as("prefix_dim"),
        round(cosineFast(slice(col("qv"), 1, d),
          slice(col("cv"), 1, d)), 6).as("sim")))
    val scored = c.join(q, col("qid") =!= col("id"))
      .select(col("qid"), col("id"),
        explode(array(tierCols: _*)).as("t"))
      .select(col("qid"), col("t.prefix_dim").as("prefix_dim"),
        col("id"), col("t.sim").as("sim"))
    val topk = udaf(new TopKAggregator(k), TopKAggregator.inputEncoder)
    val ranked = scored.groupBy("qid", "prefix_dim")
      .agg(topk(col("sim"), col("id")).as("top"))
      .select(col("qid"), col("prefix_dim"),
        expr("transform(top, s -> s.id)").as("ids"))
    ranked.groupBy("qid")
      .agg(collect_list(struct(col("prefix_dim"), col("ids"))).as("ts"))
      .select(col("qid"),
        element_at(filter(col("ts"),
          t => t.getField("prefix_dim") === 0), 1)
          .getField("ids").as("ids_full"),
        explode(filter(col("ts"),
          t => t.getField("prefix_dim") =!= 0)).as("t"))
      .select(col("qid"), col("t.prefix_dim").as("prefix_dim"),
        size(array_intersect(col("ids_full"), col("t.ids"))).cast("long")
          .as("overlap"),
        (element_at(col("t.ids"), 1) === element_at(col("ids_full"), 1))
          .as("top1_match"))
  }

  /** MARGIN-based bitext mining (Artetxe & Schwenk 2019, the
    * LASER/CCMatrix recipe): pair sentences across two embedding sets
    * by RELATIVE similarity — cos(x,y) scaled by how similar each side
    * is to its other nearest neighbours — because absolute cosine
    * cannot separate a true translation from a hub sentence that is
    * close to EVERYTHING:
    *
    *   margin(x,y) = cos(x,y) / ((avgk_Y(x) + avgk_X(y)) / 2)
    *
    * All scoring is in integer MICRO-units on the graph family's
    * exact rails: cos_micro = round(cos·10⁶) (the same 6-dp grid as
    * [[bruteForceTopK]]), neighbourhood sums are order-free BIGINT
    * sums of micro-units over each side's top-`k` candidates (cm desc,
    * id tie-break), and margin_micro = cm·2k·10⁶ div (sx+sy) — one
    * integral division, bit-identical cross-engine. Only POSITIVE-
    * cosine candidates are mined (a negative-cosine "translation" is
    * noise, and the restriction keeps every div operand positive).
    *
    * Emits x's best candidate by (margin desc, dst id) with a `mutual`
    * flag — y's best candidate is x too: the high-precision tier a
    * parallel-corpus build keeps.
    *
    * Candidate generation here is the exact cross score with the `ys`
    * side broadcast (the verify-scale contract); at corpus scale the
    * X×Y score matrix is the cost driver, so feed the same margin
    * pipeline from [[ivfTopK]]/[[lshTopK]] candidates instead — the
    * margin math only ever touches each side's top-k rows.
    *
    * @return (src, dst, cos_micro, margin_micro, mutual) — one row per
    *         src with at least one positive-cosine candidate */
  def bitextMarginPairs(xs: DataFrame, ys: DataFrame, vecCol: String,
                        idCol: String, k: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val x = xs.select(col(idCol).as("src"), col(vecCol).as("xv"))
    val y = broadcast(ys.select(col(idCol).as("dst"), col(vecCol).as("yv")))
    val cm = round(cosineFast(col("xv"), col("yv")) * 1e6).cast("long")
    val scored = x.join(y).select(col("src"), col("dst"), cm.as("cm"))
      .filter(col("cm") > 0)
    val wx = Window.partitionBy("src").orderBy(col("cm").desc, col("dst"))
    val wy = Window.partitionBy("dst").orderBy(col("cm").desc, col("src"))
    val cand = scored
      .withColumn("rx", row_number().over(wx))
      .withColumn("ry", row_number().over(wy))
      .filter(col("rx") <= k || col("ry") <= k)
    val sx = cand.filter(col("rx") <= k)
      .groupBy("src").agg(sum("cm").as("sx"))
    val sy = cand.filter(col("ry") <= k)
      .groupBy("dst").agg(sum("cm").as("sy"))
    val m = cand.join(sx, "src").join(sy, "dst")
      .withColumn("margin",
        expr(s"cm * ${2 * k} * 1000000 DIV (sx + sy)"))
    val bfW = Window.partitionBy("src")
      .orderBy(col("margin").desc, col("dst"))
    val bbW = Window.partitionBy("dst")
      .orderBy(col("margin").desc, col("src"))
    val bestF = m.filter(col("rx") <= k)
      .withColumn("bf", row_number().over(bfW)).filter(col("bf") === 1)
    val bestB = m.filter(col("ry") <= k)
      .withColumn("bb", row_number().over(bbW)).filter(col("bb") === 1)
      .select(col("dst"), col("src").as("bsrc"))
    bestF.join(bestB, Seq("dst"), "left")
      .select(col("src"), col("dst"), col("cm").as("cos_micro"),
        col("margin").as("margin_micro"),
        coalesce(col("bsrc") === col("src"), lit(false)).as("mutual"))
  }

  /** a · b for two float/double array columns, accumulated in double in
    * index order: the codegen [[DotProduct]] expression (the
    * higher-order-function spelling is interpreted). */
  private[graft] def dot(a: Column, b: Column): Column =
    GraftShim.column(DotProduct(GraftShim.expression(a), GraftShim.expression(b)))

  /** Multi-table LSH signatures as one `array<long>` column: element t
    * is the sign-bucket id of `vec` under table t's `nbits` random
    * hyperplanes (bit b = sign(v · plane_b), the standard cosine-LSH
    * quantizer), planes drawn from a `scala.util.Random(seedBase + t)`.
    * The fused [[LshSignatures]] codegen expression converts the vector
    * once and runs all tables×nbits plane dots in a single loop. */
  def lshSignatures(vec: Column, nbits: Int, dim: Int, tables: Int,
                    seedBase: Long = 42L): Column =
    GraftShim.column(LshSignatures(GraftShim.expression(vec), nbits, tables,
      dim, seedBase))

  /** IVF (inverted-file) approximate top-k — the other classic ANN scale
    * path next to LSH. A coarse quantizer of `ncentroids` centroids
    * partitions the corpus; each query probes only its `nprobe` nearest
    * cells, scoring ~nprobe/ncentroids of the corpus.
    *
    * The quantizer here is deterministic: the `ncentroids` lowest-id
    * corpus vectors serve as centroids (no k-means iterations — at scale
    * you would Lloyd-refine on a sample and broadcast the result; the
    * assignment/probe machinery is identical). Cell assignment is a
    * per-row expression over broadcast-literal centroids — the corpus is
    * scanned once, never shuffled for assignment; candidate generation is
    * a broadcast join on cell id. Recall is spec-bounded against
    * [[bruteForceTopK]] (sketch-dependent output — no SQL oracle). */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, vecCol: String,
              idCol: String, k: Int, ncentroids: Int = 16,
              nprobe: Int = 4, lloydIters: Int = 0): DataFrame = {
    val spark = corpus.sparkSession
    val cents: Array[(Array[Double], Double)] =
      trainCentroids(corpus, vecCol, idCol, ncentroids, lloydIters)
    require(cents.length == ncentroids, s"corpus smaller than $ncentroids")
    def simsArr(vec: Column): Column = centroidSims(spark, cents, vec)
    val sims = simsArr(col("cv"))
    val assigned = corpus.select(col(idCol).as("id"), col(vecCol).as("cv"))
      .withColumn("cid", (array_position(sims, array_max(sims)) - 1).cast("int"))
    val qsims = queries.select(col(idCol).as("qid"), col(vecCol).as("qv"))
      .select(col("qid"), col("qv"),
        posexplode(simsArr(col("qv"))).as(Seq("cid", "csim")))
    val probeW = Window.partitionBy("qid").orderBy(col("csim").desc, col("cid"))
    val probes = broadcast(qsims
      .withColumn("__pr", row_number().over(probeW))
      .filter(col("__pr") <= nprobe)
      .select("qid", "qv", "cid"))
    val scored = assigned.join(probes, "cid")
      .filter(col("qid") =!= col("id"))
      .withColumn("sim", round(cosineFast(col("qv"), col("cv")), 6))
    val w = Window.partitionBy("qid").orderBy(col("sim").desc, col("id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("qid", "rank", "id", "sim")
  }

  /** Assign every vector to its nearest trained centroid — the IVF
    * index body (cid, id, vec). One broadcast-centroid map pass, no
    * shuffle; argmax ties break to the LOWEST cell id
    * (array_position finds the first maximum), deterministic. */
  def ivfAssign(corpus: DataFrame, vecCol: String, idCol: String,
                cents: Array[(Array[Double], Double)]): DataFrame = {
    val sims = centroidSims(corpus.sparkSession, cents, col("cv"))
    corpus.select(col(idCol).as("id"), col(vecCol).as("cv"))
      .withColumn("cid",
        (array_position(sims, array_max(sims)) - 1).cast("int"))
      .select("cid", "id", "cv")
  }

  /** Persist an IVF index: quantizer centroids (cid, centroid, norm)
    * plus cell assignments (cid, id, vec) — the train-once artifact an
    * INCREMENTAL ingest appends to. Assignments are written
    * partitioned by cell id so probes prune at the directory level. */
  def ivfIndexSave(corpus: DataFrame, vecCol: String, idCol: String,
                   path: String, ncentroids: Int = 16,
                   lloydIters: Int = 0): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val cents = trainCentroids(corpus, vecCol, idCol, ncentroids, lloydIters)
    cents.zipWithIndex
      .map { case ((v, n), i) => (i, v.toSeq, n) }.toSeq
      .toDF("cid", "centroid", "norm").coalesce(1)
      .write.mode("overwrite").parquet(s"$path/centroids")
    ivfAssign(corpus, vecCol, idCol, cents)
      .write.mode("overwrite").partitionBy("cid")
      .parquet(s"$path/assign")
  }

  /** Load a persisted quantizer (vocab-sized collect; doubles
    * round-trip parquet bit-exactly, so reloaded assignments are
    * IDENTICAL to train-time assignments). */
  def ivfCentroidsLoad(spark: org.apache.spark.sql.SparkSession,
                       path: String): Array[(Array[Double], Double)] =
    spark.read.parquet(s"$path/centroids").orderBy("cid").collect()
      .map(r => (r.getSeq[Double](1).toArray, r.getDouble(2)))

  /** INCREMENTAL IVF ingest: assign ONLY the new batch under the
    * persisted quantizer and append — history is never re-read, never
    * re-assigned (the [[graft.ops.Dedup.incrementalExact]] shape for
    * vector search). New ids already present in the index are dropped
    * from the batch (first write wins, idempotent re-ingest); pass the
    * batch through [[ivfAssign]] + append. Returns the appended rows. */
  def ivfIndexUpsert(spark: org.apache.spark.sql.SparkSession,
                     path: String, batch: DataFrame, vecCol: String,
                     idCol: String): DataFrame = {
    val cents = ivfCentroidsLoad(spark, path)
    val existing = spark.read.parquet(s"$path/assign").select("id")
    val fresh = batch.join(existing,
      batch(idCol) === existing("id"), "left_anti")
    val assigned = ivfAssign(fresh, vecCol, idCol, cents)
    assigned.write.mode("append").partitionBy("cid")
      .parquet(s"$path/assign")
    assigned
  }

  /** Probe a PREBUILT IVF index (persisted or in-memory assignments):
    * same cell-probed search as [[ivfTopK]] but against an index that
    * was built once and incrementally extended — queries broadcast,
    * candidates come from an equi-join on cell id (partition-pruned
    * when the index is stored partitionBy(cid)). */
  def ivfTopKIndexed(assign: DataFrame,
                     cents: Array[(Array[Double], Double)],
                     queries: DataFrame, vecCol: String, idCol: String,
                     k: Int, nprobe: Int = 4): DataFrame = {
    val spark = assign.sparkSession
    val qsims = queries.select(col(idCol).as("qid"), col(vecCol).as("qv"))
      .select(col("qid"), col("qv"),
        posexplode(centroidSims(spark, cents, col("qv")))
          .as(Seq("cid", "csim")))
    val probeW = Window.partitionBy("qid")
      .orderBy(col("csim").desc, col("cid"))
    val probes = broadcast(qsims
      .withColumn("__pr", row_number().over(probeW))
      .filter(col("__pr") <= nprobe)
      .select("qid", "qv", "cid"))
    val scored = assign.join(probes, "cid")
      .filter(col("qid") =!= col("id"))
      .withColumn("sim",
        round(cosineFast(col("qv"), col("cv")), 6))
    val w = Window.partitionBy("qid").orderBy(col("sim").desc, col("id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("qid", "rank", "id", "sim")
  }

  /** ncentroids × dim element count above which [[centroidSims]] ships
    * the centroid table as a BROADCAST VARIABLE instead of expression
    * literals. Literals win below it (whole-stage codegen, no
    * serialization); above it they become MB-scale task binaries — at
    * the ncentroids ≈ √n a real corpus wants (10⁵-10⁶ cells), literal
    * embedding is a driver/scheduler killer while a broadcast ships the
    * table to each executor exactly once. 8192 elements ≈ 64 KB of
    * plan, safely inside codegen limits. */
  val CentroidLiteralBudget: Long = 1L << 13

  /** cos-proportional score of `vec` against each centroid
    * (query/corpus norm divides out of the argmax, centroid norm does
    * not) — the cell-assignment/probe expression shared by [[ivfTopK]],
    * [[ivfPqIndex]]/[[ivfPqTopK]] and [[Cluster.assignCol]]. Picks the
    * literal or broadcast formulation by [[CentroidLiteralBudget]];
    * the two are bit-equal (spec-pinned), so the switch is invisible
    * to every caller. */
  private[graft] def centroidSims(spark: org.apache.spark.sql.SparkSession,
                           cents: Array[(Array[Double], Double)],
                           vec: Column): Column =
    if (cents.isEmpty ||
        cents.length.toLong * cents.head._1.length <= CentroidLiteralBudget)
      centroidSimsLiteral(cents, vec)
    else centroidSimsBroadcast(spark, cents, vec)

  /** Literal formulation: one codegen'd dot per centroid over an
    * inlined plane constant — fastest at small ncentroids. */
  private[graft] def centroidSimsLiteral(
      cents: Array[(Array[Double], Double)], vec: Column): Column =
    array(cents.toIndexedSeq.map { case (v, n) =>
      dot(vec, array(v.toIndexedSeq.map(lit): _*)) / lit(n)
    }: _*)

  /** Broadcast formulation: the centroid table ships once per executor
    * as a broadcast variable; one JVM function scores all centroids per
    * row. Accumulates `dot += v(j) * c(j)` in index order then divides
    * by the norm — the exact operation sequence of
    * [[graft.functions.DotProduct.compute]]`/ n`, so results are
    * BIT-EQUAL to the literal path (float→double widening is exact). */
  private[graft] def centroidSimsBroadcast(
      spark: org.apache.spark.sql.SparkSession,
      cents: Array[(Array[Double], Double)], vec: Column): Column = {
    val bc = spark.sparkContext.broadcast(cents)
    // null vector -> null sims, matching the literal path's null
    // propagation (the switch must stay invisible to callers)
    val score = udf { (v: Seq[Double]) =>
      if (v == null) null
      else {
        val cs = bc.value
        val out = new Array[Double](cs.length)
        var i = 0
        while (i < cs.length) {
          val cv = cs(i)._1
          val n = math.min(v.length, cv.length)
          var dot = 0.0
          var j = 0
          while (j < n) { dot += v(j) * cv(j); j += 1 }
          out(i) = dot / cs(i)._2
          i += 1
        }
        out.toSeq
      }
    }
    score(vec.cast("array<double>"))
  }

  /** IVF coarse-quantizer training: `lloydIters` rounds of spherical
    * k-means on a bounded, deterministic sample (lowest-id vectors —
    * faiss-style IVF trains on a sample too; only ASSIGNMENT must touch
    * the full corpus, and that stays a distributed per-row expression).
    * iters=0 returns the raw seed centroids. Returns (vector, norm). */
  private[ops] def trainCentroids(corpus: DataFrame, vecCol: String, idCol: String,
                             c: Int, lloydIters: Int): Array[(Array[Double], Double)] = {
    val sampleN = math.max(c, math.min(4096, c * 64))
    val sample: Array[Array[Double]] = corpus
      .select(col(idCol), col(vecCol)).orderBy(col(idCol)).limit(sampleN)
      .collect().map(_.getSeq[Float](1).map(_.toDouble).toArray)
    require(sample.length >= c, s"corpus smaller than $c")
    val dim = sample.head.length
    def norm(v: Array[Double]): Double = math.sqrt(v.map(x => x * x).sum)
    var cents = sample.take(c).map(_.clone())
    for (_ <- 0 until lloydIters) {
      val norms = cents.map(norm)
      val sums = Array.fill(c)(new Array[Double](dim))
      val counts = new Array[Long](c)
      sample.foreach { v =>
        var best = 0; var bestScore = Double.MinValue
        var i = 0
        while (i < c) {
          var d = 0.0; var j = 0
          while (j < dim) { d += v(j) * cents(i)(j); j += 1 }
          val s = d / norms(i)
          if (s > bestScore) { bestScore = s; best = i }
          i += 1
        }
        var j = 0
        while (j < dim) { sums(best)(j) += v(j); j += 1 }
        counts(best) += 1
      }
      cents = cents.indices.map { i =>
        if (counts(i) == 0) cents(i) // empty cell keeps its centroid
        else sums(i).map(_ / counts(i))
      }.toArray
    }
    cents.map(v => (v, norm(v)))
  }

  /** ADC (asymmetric-distance) top-k over product-quantized codes — the
    * search path [[Quantize]]'s PQ exists for: the corpus side is ONLY
    * its 16-byte code rows, never reconstructed. Per query, a m×k table
    * of subspace dot products is built once (UDF over the broadcast
    * query side — |queries|·m·k work total); each candidate then scores
    * in m table lookups via the [[PqLookupSum]] codegen expression.
    * Cosine uses a query-independent codebook-norm² table the same way,
    * so `sim` equals the cosine against the float-decoded vector (up to
    * summation-order ulp — spec-bounded). Same broadcast-queries /
    * two-stage top-k shape as [[bruteForceTopK]]. */
  def pqTopK(codes: DataFrame, codesCol: String, idCol: String,
             queries: DataFrame, vecCol: String, qIdCol: String,
             codebooks: Array[Array[Array[Double]]], k: Int): DataFrame = {
    val spark = codes.sparkSession
    val kCent = codebooks(0).length
    val cbF = pqFloatCb(codebooks)
    val norm2Col = pqNorm2Col(cbF)
    val q = broadcast(pqQuerySide(spark, cbF, queries, vecCol, qIdCol))
    def lookup(cs: Column, table: Column): Column =
      pqLookup(cs, table, kCent)
    val par = spark.sparkContext.defaultParallelism
    val c0 = codes.select(col(idCol).as("id"), col(codesCol).as("__codes"))
    val c = if (c0.rdd.getNumPartitions < par / 2) c0.repartition(par) else c0
    val scored = c.join(q, col("qid") =!= col("id"))
      .withColumn("sim", round(lookup(col("__codes"), col("__dt")) /
        (col("__qn") * sqrt(lookup(col("__codes"), norm2Col))), 6))
      .select("qid", "id", "sim")
    val localW = Window.partitionBy("qid", "__part").orderBy(col("sim").desc, col("id"))
    val pruned = scored.withColumn("__part", spark_partition_id())
      .withColumn("__lr", row_number().over(localW))
      .filter(col("__lr") <= k)
      .drop("__part", "__lr")
    val globalW = Window.partitionBy("qid").orderBy(col("sim").desc, col("id"))
    pruned.withColumn("rank", row_number().over(globalW))
      .filter(col("rank") <= k)
      .select("qid", "rank", "id", "sim")
  }

  /** Codebooks rounded through float32: ADC table sums must match
    * scoring the float-decoded vectors (Quantize.pqDecode emits
    * float32). */
  private def pqFloatCb(codebooks: Array[Array[Array[Double]]])
      : Array[Array[Array[Double]]] =
    codebooks.map(_.map(_.map(_.toFloat.toDouble)))

  /** Flat m×k table of codebook-entry squared norms (query-independent
    * half of the ADC cosine denominator). */
  private def pqNorm2Col(cbF: Array[Array[Array[Double]]]): Column = {
    val m = cbF.length; val kCent = cbF(0).length
    val norm2: IndexedSeq[Double] = for {
      j <- 0 until m; c <- 0 until kCent
    } yield cbF(j)(c).map(x => x * x).sum
    array(norm2.map(lit): _*)
  }

  /** Per-query ADC state: the m×k dot-product table (query × every
    * codebook entry — |queries|·m·k·sub work, done once on the broadcast
    * side) and the query norm. Returns (qid, __dt, __qn). */
  private def pqQuerySide(spark: org.apache.spark.sql.SparkSession,
                          cbF: Array[Array[Array[Double]]],
                          queries: DataFrame, vecCol: String,
                          qIdCol: String): DataFrame = {
    val m = cbF.length; val kCent = cbF(0).length; val sub = cbF(0)(0).length
    val bcCb = spark.sparkContext.broadcast(cbF)
    val dotTable = udf { (qv: Seq[Float]) =>
      val cb = bcCb.value
      val out = new Array[Double](m * kCent)
      var j = 0
      while (j < m) {
        var c = 0
        while (c < kCent) {
          var s = 0.0; var t = 0
          while (t < sub) { s += qv(j * sub + t).toDouble * cb(j)(c)(t); t += 1 }
          out(j * kCent + c) = s
          c += 1
        }
        j += 1
      }
      out
    }
    val qNorm = udf((qv: Seq[Float]) => math.sqrt(qv.map(x => x.toDouble * x).sum))
    queries.select(col(qIdCol).as("qid"),
      dotTable(col(vecCol)).as("__dt"), qNorm(col(vecCol)).as("__qn"))
  }

  /** `Σ_j table[j·k + codes[j]]`: the [[PqLookupSum]] codegen
    * expression. */
  private def pqLookup(cs: Column, table: Column, kCent: Int): Column =
    GraftShim.column(PqLookupSum(
      GraftShim.expression(cs), GraftShim.expression(table), kCent))

  /** Multi-table LSH approximate top-k: `tables` independent sign
    * signatures; each query probes its bucket and every Hamming-1
    * neighbor in every table; candidates are deduped before scoring so
    * each (query, candidate) cosine is computed once. Same output shape
    * as [[bruteForceTopK]]; recall is tunable — P(candidate) =
    * 1-(1-p_probe)^tables with p_probe = p^b + b·p^(b-1)(1-p),
    * p = 1 - angle/π.
    *
    * Scale shape: the corpus is exploded ×tables and shuffled ONCE on
    * (table, bucket); per-table bucket joins touch ~(nbits+1)/2^nbits of
    * the corpus per query. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, vecCol: String,
              idCol: String, k: Int, nbits: Int = 8, dim: Int = 64,
              tables: Int = 4): DataFrame = {
    val c = corpus.select(col(idCol).as("id"),
        lshSignatures(col(vecCol), nbits, dim, tables).as("bs"))
      .select(col("id"), posexplode(col("bs")).as(Seq("tbl", "bucket")))
    val qsig = queries.select(col(idCol).as("qid"),
      lshSignatures(col(vecCol), nbits, dim, tables).as("bs"))
    // probe masks: the bucket itself plus each Hamming-1 neighbor
    val masks = lit(0L) +: (0 until nbits).map(b => lit(1L << b))
    val q = broadcast(qsig
      .select(col("qid"), posexplode(col("bs")).as(Seq("tbl", "qb")))
      .withColumn("bucket", explode(array(masks.map(m => col("qb").bitwiseXOR(m)): _*)))
      .drop("qb"))
    // Dedup candidates as bare (qid, id) pairs BEFORE attaching vectors:
    // the dedup shuffle then moves 16 bytes per candidate instead of
    // dragging both float vectors (~dim×8 bytes) through the exchange.
    // Vectors re-attach afterwards — queries by broadcast, corpus by a
    // hash join on id (candidates ≫ corpus rows, so the narrow side of
    // that join is the corpus, never the candidate set × vectors).
    val candIds = c
      .join(q.select("tbl", "bucket", "qid"), Seq("tbl", "bucket"))
      .filter(col("qid") =!= col("id"))
      .select("qid", "id")
      .dropDuplicates("qid", "id")
    val scored = candIds
      .join(broadcast(queries.select(col(idCol).as("qid"),
        col(vecCol).as("qv"))), "qid")
      .join(corpus.select(col(idCol).as("id"), col(vecCol).as("cv")), "id")
      .withColumn("sim",
        round(cosineFast(col("qv"), col("cv")), 6))
    val w = Window.partitionBy("qid").orderBy(col("sim").desc, col("id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("qid", "rank", "id", "sim")
  }

  /** A built IVF-PQ index: `codes` is the searchable corpus — one row
    * per vector, (id, cid cell assignment, codes m-byte PQ code) — plus
    * the broadcast-sized coarse centroids and PQ codebooks the search
    * side needs. The float vectors appear nowhere: at 100 TB of
    * embeddings the index is ~(16 + 4 + id) bytes per vector, and
    * `codes` is what you persist (partition by `cid` via
    * [[Layout.writePartitioned]] and searches prune to the probed
    * cells at the SCAN). */
  final case class IvfPq(codes: DataFrame,
                         centroids: Array[(Array[Double], Double)],
                         codebooks: Array[Array[Array[Double]]])

  /** Build an IVF-PQ index (the faiss `IVFx,PQy` composition): train the
    * coarse quantizer and PQ codebooks on bounded driver samples, then
    * ONE distributed pass over the corpus computes each vector's cell id
    * and PQ code side by side — the corpus is never shuffled and never
    * revisited. */
  def ivfPqIndex(corpus: DataFrame, vecCol: String, idCol: String,
                 ncentroids: Int = 16, m: Int = 16, kCent: Int = 256,
                 lloydIters: Int = 0): IvfPq = {
    val spark = corpus.sparkSession
    val cents = trainCentroids(corpus, vecCol, idCol, ncentroids, lloydIters)
    require(cents.length == ncentroids, s"corpus smaller than $ncentroids")
    val cb = Quantize.pqTrain(corpus, vecCol, idCol, m, kCent)
    val sims = centroidSims(spark, cents, col(vecCol))
    val codes = corpus.select(
      col(idCol).as("id"),
      (array_position(sims, array_max(sims)) - 1).cast("int").as("cid"),
      Quantize.pqEncodeCol(spark, cb, col(vecCol)).as("codes"))
    IvfPq(codes, cents, cb)
  }

  /** IVF-PQ approximate top-k — both ANN scale levers at once: IVF cell
    * probing bounds WHICH rows are scored (~nprobe/ncentroids of the
    * corpus) and PQ ADC bounds the COST PER ROW (m table lookups over a
    * 16-byte code; no float vector is ever read). Query-side probe
    * cells, ADC tables and norms ride one broadcast; candidate
    * generation is an equi-join on cell id against the code table
    * (partition-prunable when `codes` is stored partitioned by cid);
    * top-k is the same per-partition-prune → global-window shape as
    * [[bruteForceTopK]]. `sim` equals the cosine against the
    * float-DECODED vector (recall contract vs true cosine is the
    * oracle-checked query; exactness of ADC vs decoded vectors is
    * spec-pinned on [[pqTopK]], which shares the scoring expression). */
  def ivfPqTopK(index: IvfPq, queries: DataFrame, vecCol: String,
                qIdCol: String, k: Int, nprobe: Int = 4): DataFrame = {
    val spark = index.codes.sparkSession
    val kCent = index.codebooks(0).length
    val cbF = pqFloatCb(index.codebooks)
    val norm2Col = pqNorm2Col(cbF)
    val qsims = queries.select(col(qIdCol).as("qid"), col(vecCol).as("qv"))
      .select(col("qid"), col("qv"),
        posexplode(centroidSims(spark, index.centroids, col("qv")))
          .as(Seq("cid", "csim")))
    val probeW = Window.partitionBy("qid").orderBy(col("csim").desc, col("cid"))
    val probeCells = qsims
      .withColumn("__pr", row_number().over(probeW))
      .filter(col("__pr") <= nprobe)
      .select("qid", "cid")
    val probes = broadcast(probeCells
      .join(pqQuerySide(spark, cbF, queries, vecCol, qIdCol), "qid"))
    val scored = index.codes.join(probes, "cid")
      .filter(col("qid") =!= col("id"))
      .withColumn("sim",
        round(pqLookup(col("codes"), col("__dt"), kCent) /
          (col("__qn") * sqrt(pqLookup(col("codes"), norm2Col, kCent))), 6))
      .select("qid", "id", "sim")
    val localW = Window.partitionBy("qid", "__part").orderBy(col("sim").desc, col("id"))
    val pruned = scored.withColumn("__part", spark_partition_id())
      .withColumn("__lr", row_number().over(localW))
      .filter(col("__lr") <= k)
      .drop("__part", "__lr")
    val globalW = Window.partitionBy("qid").orderBy(col("sim").desc, col("id"))
    pruned.withColumn("rank", row_number().over(globalW))
      .filter(col("rank") <= k)
      .select("qid", "rank", "id", "sim")
  }

  /** One corpus pass → (cid, id, codes, err): cell assignment and PQ
    * code side by side (the [[ivfPqIndex]] pass) plus the L2
    * reconstruction error per vector — the codebook-staleness signal a
    * persisted index records at train time and every live batch is
    * judged against. HOF arguments (the decode) evaluate once per ROW;
    * only lambda bodies re-evaluate per element (the r14 winnow rule). */
  private[graft] def ivfPqEncode(corpus: DataFrame, vecCol: String,
      idCol: String, cents: Array[(Array[Double], Double)],
      cb: Array[Array[Array[Double]]]): DataFrame = {
    val spark = corpus.sparkSession
    val sims = centroidSims(spark, cents, col(vecCol))
    val coded = corpus.select(col(idCol).as("id"), col(vecCol).as("__v"),
        (array_position(sims, array_max(sims)) - 1).cast("int").as("cid"))
      .withColumn("codes", Quantize.pqEncodeCol(spark, cb, col("__v")))
    Quantize.pqDecode(coded, "codes", cb)
      .withColumn("err", sqrt(aggregate(
        zip_with(col("__v"), col("vec_approx"),
          (x, r) => pow(x.cast("double") - r.cast("double"), 2)),
        lit(0.0), _ + _)))
      .select("cid", "id", "codes", "err")
  }

  /** floor(avg(err)·10⁶ + 0.5) over an encoded slice — the integer-ppm
    * reconstruction-error summary both the base index and each live
    * batch report, so staleness is one integer compare. */
  private[graft] def reconPpm(codes: DataFrame): (Long, Long) = {
    val r = codes.agg(count(lit(1)).as("n"),
      coalesce(floor(avg(col("err")) * 1e6 + 0.5), lit(0.0)).cast("long")
        .as("ppm")).head()
    (r.getLong(0), r.getLong(1))
  }

  /** Persist an IVF-PQ index — the 100 TB index tier ([[ivfPqIndex]]'s
    * train-once artifact): coarse centroids + PQ codebooks + the
    * m-byte code table partitioned by cell id (probes prune at the
    * directory level; float vectors appear nowhere), PLUS the
    * train-time reconstruction error in `recon/` — the reference an
    * appended batch's error is read against to tell when the frozen
    * codebooks have drifted and need re-training. */
  def ivfPqIndexSave(corpus: DataFrame, vecCol: String, idCol: String,
                     path: String, ncentroids: Int = 16, m: Int = 16,
                     kCent: Int = 256, lloydIters: Int = 0): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val cents = trainCentroids(corpus, vecCol, idCol, ncentroids, lloydIters)
    require(cents.length == ncentroids, s"corpus smaller than $ncentroids")
    val cb = Quantize.pqTrain(corpus, vecCol, idCol, m, kCent)
    cents.zipWithIndex
      .map { case ((v, n), i) => (i, v.toSeq, n) }.toSeq
      .toDF("cid", "centroid", "norm").coalesce(1)
      .write.mode("overwrite").parquet(s"$path/centroids")
    Quantize.savePqCodebooks(spark, cb, s"$path/codebooks")
    val codes = ivfPqEncode(corpus, vecCol, idCol, cents, cb)
    codes.write.mode("overwrite").partitionBy("cid").parquet(s"$path/codes")
    val (n, ppm) = reconPpm(spark.read.parquet(s"$path/codes"))
    Seq((n, ppm)).toDF("n", "recon_ppm").coalesce(1)
      .write.mode("overwrite").parquet(s"$path/recon")
  }

  /** INCREMENTAL IVF-PQ ingest — the [[ivfIndexUpsert]] shape on the
    * code tier: encode ONLY the new batch under the persisted frozen
    * quantizers and append; history is never re-read or re-encoded.
    * New ids already present are dropped (first write wins). Returns
    * the appended (cid, id, codes, err) rows. */
  def ivfPqIndexUpsert(spark: org.apache.spark.sql.SparkSession,
                       path: String, batch: DataFrame, vecCol: String,
                       idCol: String): DataFrame = {
    val cents = ivfCentroidsLoad(spark, path)
    val cb = Quantize.loadPqCodebooks(spark, s"$path/codebooks")
    val existing = spark.read.parquet(s"$path/codes").select("id")
    val fresh = batch.join(existing,
      batch(idCol) === existing("id"), "left_anti")
    val coded = ivfPqEncode(fresh, vecCol, idCol, cents, cb)
    coded.write.mode("append").partitionBy("cid").parquet(s"$path/codes")
    coded
  }
}
