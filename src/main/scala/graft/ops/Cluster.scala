package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.GraftShim.materialize
import org.apache.spark.sql.functions._

/** Embedding-space clustering for corpus curation: spherical k-means
  * over an embedding column, cluster-blocked semantic deduplication
  * (the SemDeDup recipe: Abbas et al., "SemDeDup: Data-efficient
  * learning at web-scale through semantic deduplication", 2023), and
  * cluster-balanced sampling.
  *
  * Scale shape: centroids train on a bounded, deterministic sample
  * (lowest-id vectors, Lloyd on the driver — same contract as
  * [[Similarity.ivfTopK]]'s coarse quantizer and faiss's IVF training)
  * and ship to executors as broadcast-literal expressions; ASSIGNMENT
  * is a per-row expression — the corpus is scanned once and never
  * shuffled to be clustered. Everything downstream (pair generation,
  * per-cluster caps) is bucket-bounded, never corpus × corpus.
  */
object Cluster {

  /** Train `k` spherical k-means centroids on the lowest-id `sampleN`
    * cap (deterministic — same centroids every run/partitioning).
    * Returns (vector, norm) pairs ready for [[assignCol]]. */
  def fit(corpus: DataFrame, vecCol: String, idCol: String, k: Int,
          lloydIters: Int = 3): Array[(Array[Double], Double)] =
    Similarity.trainCentroids(corpus, vecCol, idCol, k, lloydIters)

  /** GROUPWISE CENTROID embeddings, fully distributed: the elementwise
    * mean vector per key (class/domain/language prototypes — the
    * nearest-centroid baseline classifier, drift monitors, and the
    * query vectors for "find docs like this bucket"). Flattened to one
    * row per (key, idx) so the result is oracle-comparable (array
    * cells break the driver's row-sort) and so the aggregation is a
    * single map-side-combinable shuffle on (key, idx) — no per-key
    * vector state, no collect, works at any key cardinality and any
    * dimension. Means are float-cast (the repo's sum-order absorption
    * convention).
    *
    * @return (key, idx 0-based, n rows carrying that component, mean) */
  def groupCentroids(df: DataFrame, vecCol: String,
                     keyCol: String): DataFrame =
    df.select(col(keyCol).as("key"),
        posexplode(col(vecCol)).as(Seq("idx", "x")))
      .groupBy("key", "idx")
      .agg(count(lit(1)).as("n"),
        avg(col("x").cast("double")).cast("float").as("mean"))
      .select(col("key"), col("idx").cast("long").as("idx"), col("n"),
        col("mean"))

  /** Persist fitted centroids as a (cid, vec, norm) parquet table —
    * the train-once/assign-many artifact: cluster ids are only
    * comparable across jobs that assigned against the SAME centroids
    * (refitting renumbers every cell), so incremental SemDeDup /
    * IVF-style pipelines reload these instead of retraining. Doubles
    * round-trip parquet bit-exactly, so load === save. */
  def saveCentroids(spark: org.apache.spark.sql.SparkSession,
                    cents: Array[(Array[Double], Double)],
                    path: String): Unit = {
    import spark.implicits._
    cents.toSeq.zipWithIndex.map { case ((v, n), cid) => (cid, v.toSeq, n) }
      .toDF("cid", "vec", "norm").coalesce(1)
      .write.mode("overwrite").parquet(path)
  }

  /** Load persisted centroids in cid order (k-row collect). */
  def loadCentroids(spark: org.apache.spark.sql.SparkSession,
                    path: String): Array[(Array[Double], Double)] = {
    val rows = spark.read.parquet(path).select("cid", "vec", "norm").collect()
    require(rows.nonEmpty, s"no centroid rows at $path")
    rows.sortBy(_.getInt(0))
      .map(r => (r.getSeq[Double](1).toArray, r.getDouble(2)))
  }

  /** Nearest-centroid ids for a vector column, best first, as an
    * `array<int>` of the `nassign` closest cells — no shuffle, one
    * corpus scan. Centroid scoring auto-selects by
    * [[Similarity.CentroidLiteralBudget]]: codegen'd literal
    * expressions at small ncentroids, a broadcast-variable scorer above
    * it (ncentroids ≈ √n on a real corpus would otherwise inline MB of
    * constants into every task). Multi-assignment is the blocking
    * analogue of IVF's nprobe: a pair straddling a Voronoi boundary
    * still shares a cell if either side's second-choice cell covers
    * it. */
  def assignCol(df: DataFrame, vecCol: String,
                cents: Array[(Array[Double], Double)],
                nassign: Int = 1): Column = {
    require(nassign >= 1 && nassign <= cents.length,
      s"nassign must be in [1, ${cents.length}]")
    val spark = df.sparkSession
    val sims = Similarity.centroidSims(spark, cents, col(vecCol))
    // single-reference sort of (sim, cid) structs — an argmax-and-mask
    // unrolling would duplicate the (ncentroids × dim)-literal sims
    // expression once per level (exponential tree, MB-scale task
    // binaries); the comparator sorts descending by sim with ties to
    // the lower cid, matching first-max argmax semantics
    val zipped = zip_with(sims, sequence(lit(0), lit(cents.length - 1)),
      (s, i) => struct(s.as("sim"), i.as("cid")))
    val sorted = array_sort(zipped, (l, r) =>
      when(l.getField("sim") > r.getField("sim"), lit(-1))
        .when(l.getField("sim") < r.getField("sim"), lit(1))
        .otherwise(l.getField("cid").cast("int") -
          r.getField("cid").cast("int")))
    transform(slice(sorted, 1, nassign), x => x.getField("cid").cast("int"))
  }

  /** Per-cluster occupancy histogram: (cid, n) for primary (best-cell)
    * assignment — the diagnostic for balance/skew before committing to
    * a clustering for dedup or sampling. */
  def sizes(df: DataFrame, vecCol: String,
            cents: Array[(Array[Double], Double)]): DataFrame =
    df.select(element_at(assignCol(df, vecCol, cents, 1), 1).as("cid"))
      .groupBy("cid").agg(count(lit(1)).as("n"))

  /** SemDeDup: semantic near-duplicate pairs by k-means blocking.
    * Clusters the corpus (multi-assignment `nassign` cells each),
    * generates candidate pairs only WITHIN shared cells (capped at
    * `maxCluster` rows per cell — the quadratic-work guard), and
    * verifies candidates with the exact cosine. Returns
    * (ida, idb, cos) with cos ≥ threshold, ida < idb.
    *
    * Every emitted pair is exact-verified (precision 1 by
    * construction); recall depends on blocking.
    *
    * `ncentroids = 0` (the default) SIZE-ADAPTS the cell count:
    * k = clamp(n·nassign²/(2·PairBudgetPerRow), 8, 4096), which holds
    * the EXPECTED in-cell pair count to ~PairBudgetPerRow per corpus
    * row — the in-cell self-join is quadratic in cell size, so a fixed
    * k turns a 10× corpus into a 100× pair explosion (measured in the
    * r10 soak: 112× wall-clock at 10× data with the old fixed k=8).
    * With k ∝ n the candidate count stays ∝ n. Recall at the adaptive
    * k is pinned by the exact-pair oracles at every test SF; REAL text
    * embeddings cluster far tighter at the SemDeDup operating point
    * (cos ≥ 0.95), where the same scaling holds recall with
    * nassign=2. Explicit `ncentroids > 0` overrides. */
  val PairBudgetPerRow = 128

  def semdedupPairs(df: DataFrame, vecCol: String, idCol: String,
                    threshold: Double, ncentroids: Int = 0,
                    nassign: Int = 4, lloydIters: Int = 3,
                    maxCluster: Int = 1 << 16): DataFrame = {
    val k =
      if (ncentroids > 0) ncentroids
      else {
        val n = df.count()
        val target = n * nassign * nassign / (2L * PairBudgetPerRow)
        math.max(8, math.min(4096, target)).toInt
      }
    val cents = fit(df, vecCol, idCol, k, lloydIters)
    // materialized once: the cell table feeds the size cap and both
    // self-join sides — the centroid-sort assignment expression would
    // otherwise run 4× per corpus row
    // explode_outer: InferFiltersFromGenerate would add a
    // size(assign) > 0 pre-filter that evaluates the FULL
    // centroid-similarity assignment expression a second time per
    // corpus row (the r14 inferred-filter sweep; assignCol output is
    // never empty and its elements never null, so the outer variant +
    // null drop is row-identical)
    val cells = materialize(df
      .select(col(idCol).as("id"),
        explode_outer(assignCol(df, vecCol, cents, nassign)).as("cid"))
      .filter(col("cid").isNotNull)).df
    // capped in-cell self-join, the embeddingNearDupPairsLsh shape:
    // row-shaped and spillable at every stage, AQE soaks residual skew
    val sizes = cells.groupBy("cid").agg(count(lit(1)).as("__cn"))
      .filter(col("__cn").between(2, maxCluster))
      .select("cid")
    val kept = cells.join(sizes, "cid")
    val cand = kept.as("a")
      .join(kept.as("b"), col("a.cid") === col("b.cid") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("ida"), col("b.id").as("idb"))
      .distinct()
    verifyPairs(df, vecCol, idCol, cand, threshold)
  }

  /** Exact-cosine verification tail shared by every blocked pair path:
    * joins both vectors back onto the candidate set and keeps pairs with
    * round(cos, 6) ≥ threshold — precision 1 by construction. */
  private def verifyPairs(df: DataFrame, vecCol: String, idCol: String,
                          cand: DataFrame, threshold: Double): DataFrame = {
    val vecs = df.select(col(idCol).as("id"), col(vecCol).as("v"))
    cand
      .join(vecs.select(col("id").as("ida"), col("v").as("va")), "ida")
      .join(vecs.select(col("id").as("idb"), col("v").as("vb")), "idb")
      .withColumn("cos",
        round(Similarity.cosineFast(col("va"), col("vb")), 6))
      .filter(col("cos") >= threshold)
      .select("ida", "idb", "cos")
  }

  /** Cell-pair shortlist for [[semdedupPairsPruned]]: keep (i ≤ j) iff a
    * qualifying pair COULD straddle cells i and j. Angles are a metric on
    * the unit sphere, so for x in cell i (angular radius rᵢ around
    * centroid cᵢ) and y in cell j:
    * angle(x,y) ≥ angle(cᵢ,cⱼ) − rᵢ − rⱼ. A pair with cos(x,y) ≥ t has
    * angle(x,y) ≤ acos(t), hence a cell pair can contribute only when
    * angle(cᵢ,cⱼ) ≤ acos(t) + rᵢ + rⱼ — everything else is pruned with
    * ZERO recall loss. Thresholds are slackened by 1e-6 (cos) and 1e-6
    * rad (angle) so float roundoff in the radius/centroid arithmetic can
    * never delete a borderline pair; a NaN radius (zero-norm member)
    * disables pruning for that cell. Cells absent from `radii` are empty
    * and skipped. O(k² · dim) on the driver — bounded by the k ≤ 4096
    * centroid cap. */
  private[graft] def prunedCellPairs(cents: Array[(Array[Double], Double)],
                                     radii: Map[Int, Double],
                                     threshold: Double): Seq[(Int, Int)] = {
    val maxAngle = math.acos(math.max(-1.0, math.min(1.0, threshold - 1e-6)))
    val ids = radii.keys.toArray.sorted
    val out = Seq.newBuilder[(Int, Int)]
    var a = 0
    while (a < ids.length) {
      val i = ids(a)
      val (ci, ni) = cents(i)
      val ri = radii(i)
      var b = a
      while (b < ids.length) {
        val j = ids(b)
        val rj = radii(j)
        val bound = maxAngle + ri + rj + 1e-6
        val keep =
          if (ri.isNaN || rj.isNaN || bound >= math.Pi) true
          else {
            val (cj, nj) = cents(j)
            var dot = 0.0; var d = 0
            val dim = math.min(ci.length, cj.length)
            while (d < dim) { dot += ci(d) * cj(d); d += 1 }
            val c = math.max(-1.0, math.min(1.0, dot / (ni * nj)))
            math.acos(c) <= bound
          }
        if (keep) out += ((i, j))
        b += 1
      }
      a += 1
    }
    out.result()
  }

  /** SemDeDup with LOSSLESS cell-pair pruning — the loose-threshold
    * scale path. [[semdedupPairs]] buys recall at loose thresholds by
    * keeping cells GENEROUS (small k), which makes the in-cell self-join
    * quadratic in cell size; this variant instead keeps cells FINE
    * (k ∝ n, primary assignment only) and recovers boundary-straddling
    * pairs by joining across every cell PAIR the triangle inequality
    * cannot rule out (see [[prunedCellPairs]]). Every surviving
    * candidate is exact-cosine verified, so the output EQUALS
    * [[Dedup.embeddingNearDupPairs]] — recall 1 and precision 1 by
    * construction, at any threshold (spec-pinned on clustered and
    * near-uniform data; the `dedup_semantic_pruned` oracle pins full
    * pair-set equality against the SQL all-pairs recomputation).
    *
    * Scale shape: work = Σ over surviving cell pairs |cellᵢ|·|cellⱼ|.
    * On clustered data (every real embedding corpus) radii are small and
    * the shortlist is near-diagonal, so candidates/row stay bounded as k
    * grows with n; on adversarially uniform data the bound degrades
    * toward all-pairs — which is what ANY exact algorithm costs there,
    * so when the exactly-costed candidate volume reaches half of
    * all-pairs the op escapes to [[Dedup.embeddingNearDupPairs]]'s
    * zero-shuffle broadcast-nested-loop scan instead of shuffling an
    * all-pairs-sized candidate set through the blocked equi-join
    * (never-worse-than-brute by construction; both regimes spec-pinned).
    * The shortlist itself is O(k²) driver work against driver-trained
    * centroids (same contract as [[fit]]); the pair table broadcasts
    * while small and falls back to a shuffle join above 2²⁰ entries. */
  def semdedupPairsPruned(df: DataFrame, vecCol: String, idCol: String,
                          threshold: Double, ncentroids: Int = 0,
                          lloydIters: Int = 3): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val k =
      if (ncentroids > 0) ncentroids
      else {
        val n = df.count()
        math.max(8, math.min(4096, n / 64)).toInt
      }
    val cents = fit(df, vecCol, idCol, k, lloydIters)
    val cells = materialize(assignedCells(df, vecCol, idCol, cents)).df
    // per-cell angular radius + size (one k-row collect): radii drive
    // the shortlist, sizes cost it below
    val cellStats = collectCellStats(cells)
    val radii = cellStats.map { case (cid, (r, _)) => cid -> r }
    val shortlist = prunedCellPairs(cents, radii, threshold)
    // escape hatch: if the shortlist cannot beat brute force, run the
    // brute force. Candidate volume is exactly computable from the cell
    // sizes; when it reaches half of all-pairs, the blocked equi-join
    // (which SHUFFLES the candidate set twice) loses to the zero-shuffle
    // broadcast-nested-loop all-pairs scan — on data whose cell radii
    // exceed the threshold angle (near-uniform embeddings at loose τ),
    // pruning power is 0 and ANY exact method must score every pair, so
    // take the cheapest plan that does. Output is identical either way.
    val sz = cellStats.map { case (cid, (_, n)) => cid -> n }
    val candVolume = shortlist.iterator.map { case (i, j) =>
      val ni = sz.getOrElse(i, 0L); val nj = sz.getOrElse(j, 0L)
      if (i == j) ni * (ni - 1) / 2 else ni * nj
    }.sum
    val nRows = sz.valuesIterator.sum
    if (candVolume * 2 >= nRows * (nRows - 1) / 2)
      return Dedup.embeddingNearDupPairs(df, vecCol, idCol, threshold)
    // symmetric closure so the single ida < idb candidate join sees a
    // straddling pair from whichever side holds the smaller id
    val sym = shortlist.flatMap { case (i, j) =>
      if (i == j) Seq((i, j)) else Seq((i, j), (j, i)) }
    val pairsDf0 = spark.sparkContext
      .parallelize(sym, math.max(1, sym.size / (1 << 17)))
      .toDF("pa", "pb")
    val pairsDf = BroadcastCap.hint(pairsDf0, sym.size)
    cells.select(col("id").as("ida"), col("v").as("va"), col("cid").as("pa"))
      .join(pairsDf, "pa")
      .join(cells.select(col("id").as("idb"), col("v").as("vb"),
        col("cid").as("pb")), "pb")
      .filter(col("ida") < col("idb"))
      .withColumn("cos",
        round(Similarity.cosineFast(col("va"), col("vb")), 6))
      .filter(col("cos") >= threshold)
      .select("ida", "idb", "cos")
  }

  /** One corpus scan producing the semantic-dedup working set: primary
    * cell (first-max, ties to the lower cid — array_position finds the
    * first occurrence) + TRUE cosine to the owning centroid (sims are
    * dot/centroidNorm; divide by the row norm). The vector rides along
    * so candidate joins verify INLINE — at low pruning power the
    * candidate set is the dominant intermediate, and looking vectors up
    * by id afterwards would add two more shuffles of exactly that set.
    * Columns: (id, v, cid, __cosc). Also the persisted-cell-table
    * schema of [[semanticIndex]]. */
  private[graft] def assignedCells(df: DataFrame, vecCol: String,
      idCol: String,
      cents: Array[(Array[Double], Double)]): DataFrame = {
    val spark = df.sparkSession
    val sims = Similarity.centroidSims(spark, cents, col(vecCol))
    val nrm = sqrt(aggregate(col(vecCol).cast("array<double>"),
      lit(0.0), (acc, x) => acc + x * x))
    df.select(col(idCol).as("id"), col(vecCol).as("v"),
        sims.as("__sims"), nrm.as("__nrm"))
      .select(col("id"), col("v"),
        (array_position(col("__sims"), array_max(col("__sims"))) - 1)
          .cast("int").as("cid"),
        (array_max(col("__sims")) / col("__nrm")).as("__cosc"))
  }

  /** Per-cell (angular radius, member count) from an assigned-cells
    * table — the driver-side shortlist inputs. Spark's max orders NaN
    * above every double, so one zero-norm member (0/0 cosine) poisons
    * its cell's radius to NaN → pruning disabled for that cell,
    * losslessness preserved. k-row collect, bounded by the centroid
    * cap. */
  private def collectCellStats(cells: DataFrame): Map[Int, (Double, Long)] =
    cells.filter(col("cid").isNotNull)
      .groupBy("cid")
      .agg(max(acos(least(lit(1.0), greatest(lit(-1.0), col("__cosc")))))
        .as("r"), count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> ((r.getDouble(1), r.getLong(2))))
      .toMap

  /** Persist the train-once state for INCREMENTAL semantic dedup:
    * centroids plus the assigned cell table (id, v, cid, __cosc) of the
    * history corpus. A daily-increment pipeline builds this once and
    * then probes each batch with [[incrementalSemanticPairs]] — history
    * vectors are re-read from this table, never re-assigned: the stored
    * __cosc is exactly what the radius aggregate needs, so the
    * history's centroid-scoring work is never repeated. */
  def semanticIndex(df: DataFrame, vecCol: String, idCol: String,
                    path: String, ncentroids: Int = 0,
                    lloydIters: Int = 3): Unit = {
    val spark = df.sparkSession
    val k =
      if (ncentroids > 0) ncentroids
      else {
        val n = df.count()
        math.max(8, math.min(4096, n / 64)).toInt
      }
    val cents = fit(df, vecCol, idCol, k, lloydIters)
    saveCentroids(spark, cents, s"$path/centroids")
    assignedCells(df, vecCol, idCol, cents)
      .write.mode("overwrite").parquet(s"$path/cells")
  }

  /** Incremental SemDeDup: every qualifying pair with AT LEAST ONE side
    * in `batch`, against the persisted [[semanticIndex]] — the semantic
    * twin of the exact/minhash incremental dedups: the batch is
    * assigned against the PERSISTED centroids (cluster ids stay
    * comparable across increments), the triangle-inequality shortlist
    * is recomputed over the union's cell stats (history contributes its
    * STORED __cosc — no vector rescoring), and candidates are
    * new × (new ∪ old) only: old×old pairs were already reported by
    * earlier increments and are never regenerated. LOSSLESS like
    * [[semdedupPairsPruned]] (radii are over actual members, wherever
    * the centroids came from), with the same never-worse-than-brute
    * escape — here brute = batch × union, not union², so increment
    * cost scales with the batch even when pruning power is 0.
    * Returns (ida, idb, cos ≥ threshold), ida < idb. */
  def incrementalSemanticPairs(batch: DataFrame, vecCol: String,
                               idCol: String, indexPath: String,
                               threshold: Double): DataFrame = {
    val spark = batch.sparkSession
    import spark.implicits._
    val cents = loadCentroids(spark, s"$indexPath/centroids")
    val newCells = materialize(assignedCells(batch, vecCol, idCol, cents)
      .withColumn("isNew", lit(true))).df
    val oldCells = spark.read.parquet(s"$indexPath/cells")
      .withColumn("isNew", lit(false))
    val all = newCells.unionByName(oldCells)
    val newStats = collectCellStats(newCells)
    val oldStats = collectCellStats(oldCells)
    val cids = (newStats.keySet ++ oldStats.keySet)
    def merge(i: Int): (Double, Long) = {
      val (rn, nn) = newStats.getOrElse(i, (0.0, 0L))
      val (ro, no) = oldStats.getOrElse(i, (0.0, 0L))
      // max with NaN-poisoning: NaN on either side wins
      val r = if (rn.isNaN || ro.isNaN) Double.NaN else math.max(rn, ro)
      (r, nn + no)
    }
    val stats = cids.map(i => i -> merge(i)).toMap
    val radii = stats.map { case (i, (r, _)) => i -> r }
    val shortlist = prunedCellPairs(cents, radii, threshold)
    val sym = shortlist.flatMap { case (i, j) =>
      if (i == j) Seq((i, j)) else Seq((i, j), (j, i)) }
    // the pair condition dedups by construction: a new-old pair exists
    // only from its new side; a new-new pair keeps the a.id < b.id
    // orientation
    def keepPair(aId: Column, bNew: Column, bId: Column): Column =
      (!bNew && aId =!= bId) || (bNew && aId < bId)
    val nNew = newStats.valuesIterator.map(_._2).sum
    val nAll = nNew + oldStats.valuesIterator.map(_._2).sum
    val joinVol = sym.iterator.map { case (i, j) =>
      newStats.getOrElse(i, (0.0, 0L))._2 * stats.getOrElse(j, (0.0, 0L))._2
    }.sum
    val pairs =
      if (joinVol * 2 >= nNew * nAll) {
        // zero-pruning regime: zero-shuffle batch × union scan
        newCells.select(col("id").as("aid"), col("v").as("va"))
          .join(all.select(col("id").as("bid"), col("v").as("vb"),
            col("isNew").as("bnew")),
            keepPair(col("aid"), col("bnew"), col("bid")))
      } else {
        val pairsDf0 = spark.sparkContext
          .parallelize(sym, math.max(1, sym.size / (1 << 17)))
          .toDF("pa", "pb")
        val pairsDf = BroadcastCap.hint(pairsDf0, sym.size)
        newCells
          .select(col("id").as("aid"), col("v").as("va"), col("cid").as("pa"))
          .join(pairsDf, "pa")
          .join(all.select(col("id").as("bid"), col("v").as("vb"),
            col("cid").as("pb"), col("isNew").as("bnew")), "pb")
          .filter(keepPair(col("aid"), col("bnew"), col("bid")))
      }
    pairs
      .select(least(col("aid"), col("bid")).as("ida"),
        greatest(col("aid"), col("bid")).as("idb"),
        round(Similarity.cosineFast(col("va"), col("vb")), 6)
          .as("cos"))
      .filter(col("cos") >= threshold)
  }
}
