package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed PCA for embedding columns — the rotation/compression
  * companion to [[Quantize]]: project 64-dim float vectors onto their
  * top-k principal directions before PQ (the OPQ-lite recipe), whiten
  * for cosine search, or just measure intrinsic dimensionality.
  *
  * Scale shape (the mllib RowMatrix recipe, re-expressed): ONE
  * treeAggregate computes (n, Σv, Σvvᵀ) — the d×d Gram matrix is
  * driver-tiny for embedding dims (64² doubles = 32 KB; fine to ~2k
  * dims) and partials combine associatively, so the pass is map-side
  * combined and shuffle-free. Eigen-decomposition runs on the driver
  * (cyclic Jacobi, ~d³ flops on a 64×64 symmetric matrix — microseconds;
  * no library needed). Projection broadcasts the k×d component matrix
  * in the UDF closure — per-row k·d flops, no shuffle.
  */
object Pca {

  /** A fitted model: `mean` (d), row-major orthonormal `components`
    * (k×d, descending eigenvalue order), `eigvals` (k, the explained
    * variances), and `totalVar` = trace of the covariance. */
  final case class PcaModel(mean: Array[Double],
                            components: Array[Array[Double]],
                            eigvals: Array[Double],
                            totalVar: Double) {
    def k: Int = components.length
    def dim: Int = mean.length
    def explainedFraction: Double = eigvals.sum / totalVar
  }

  /** Mergeable sufficient statistics for a PCA fit: row count `n`,
    * coordinate sums Σv, and the upper-triangular Gram Σvvᵀ (row-major
    * packed, d·(d+1)/2 doubles). Everything [[finish]] needs is an
    * associative sum of per-row terms, so states from disjoint corpus
    * drops ADD: fit a rolling corpus by keeping the state beside the
    * model and [[merge]]-ing each new drop's [[fitState]] — no re-pass
    * over history (SURVEY §8 lead 4). Driver-tiny at embedding dims
    * (64-dim ⇒ ~17 KB). */
  final case class CovState(n: Long, sum: Array[Double],
                            tri: Array[Double]) {
    def dim: Int = sum.length

    /** Elementwise add — the incremental-update step. Commutative;
      * like any float summation, grouping changes ulps, so models from
      * differently-batched histories agree to tolerance, not bits. */
    def merge(other: CovState): CovState = {
      require(other.dim == dim,
        s"CovState dim mismatch: $dim vs ${other.dim}")
      val s = new Array[Double](sum.length)
      val g = new Array[Double](tri.length)
      var i = 0
      while (i < s.length) { s(i) = sum(i) + other.sum(i); i += 1 }
      i = 0
      while (i < g.length) { g(i) = tri(i) + other.tri(i); i += 1 }
      CovState(n + other.n, s, g)
    }
  }

  /** Fit on a float-vector column. One pass; deterministic. */
  def fit(df: DataFrame, vecCol: String, k: Int): PcaModel =
    finish(fitState(df, vecCol), k)

  /** The aggregation half of [[fit]]: ONE shuffle-free treeAggregate
    * over the vector column producing the mergeable [[CovState]]. */
  def fitState(df: DataFrame, vecCol: String): CovState = {
    val first = df.select(col(vecCol)).head()
    val d = first.getSeq[Float](0).length
    val data = df.select(col(vecCol)).rdd
      .map(_.getSeq[Float](0))
    // accumulator: (n, sum[d], upper-triangular gram[d*(d+1)/2])
    val triLen = d * (d + 1) / 2
    val (n, sum, tri) = data.treeAggregate(
      (0L, new Array[Double](d), new Array[Double](triLen)))(
      seqOp = { case ((cnt, s, g), v) =>
        var i = 0
        var t = 0
        while (i < d) {
          val vi = v(i).toDouble
          s(i) += vi
          var j = i
          while (j < d) {
            g(t) += vi * v(j).toDouble
            t += 1
            j += 1
          }
          i += 1
        }
        (cnt + 1, s, g)
      },
      combOp = { case ((n1, s1, g1), (n2, s2, g2)) =>
        var i = 0
        while (i < d) { s1(i) += s2(i); i += 1 }
        var t = 0
        while (t < triLen) { g1(t) += g2(t); t += 1 }
        (n1 + n2, s1, g1)
      })
    CovState(n, sum, tri)
  }

  /** The eigen half of [[fit]]: mean/covariance from a [[CovState]],
    * then the driver-side Jacobi decomposition. Deterministic given
    * the state. */
  def finish(state: CovState, k: Int): PcaModel = {
    val d = state.dim
    require(k >= 1 && k <= d, s"k=$k out of range for dim $d")
    val n = state.n
    val sum = state.sum
    val tri = state.tri
    require(n > 1, "Pca.fit: need at least 2 rows")
    val mean = sum.map(_ / n)
    // covariance (population): C = G/n - mean meanᵀ, symmetrized
    val cov = Array.ofDim[Double](d, d)
    var t = 0
    var i = 0
    while (i < d) {
      var j = i
      while (j < d) {
        val c = tri(t) / n - mean(i) * mean(j)
        cov(i)(j) = c
        cov(j)(i) = c
        t += 1
        j += 1
      }
      i += 1
    }
    val totalVar = (0 until d).map(i => cov(i)(i)).sum
    val (vals, vecs) = jacobiEigen(cov)
    val order = vals.zipWithIndex.sortBy(-_._1).take(k)
    // sign convention: largest-|coordinate| entry positive, so the
    // decomposition is deterministic (eigenvectors are sign-ambiguous)
    val comps = order.map { case (_, idx) =>
      val v = vecs.map(_(idx))
      val pivot = v.maxBy(math.abs)
      if (pivot < 0) v.map(-_) else v
    }
    PcaModel(mean, comps.toArray, order.map(_._1).toArray, totalVar)
  }

  /** Cyclic Jacobi eigen-decomposition of a symmetric matrix: returns
    * (eigenvalues, eigenvector-COLUMN matrix). Textbook sweeps until
    * off-diagonal mass vanishes; plenty for embedding-sized d. */
  private[graft] def jacobiEigen(a0: Array[Array[Double]])
      : (Array[Double], Array[Array[Double]]) = {
    val d = a0.length
    val a = a0.map(_.clone())
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    var off = offDiag(a)
    val tol = 1e-12 * math.max(1.0, (0 until d).map(i => math.abs(a(i)(i))).max)
    while (off > tol && sweep < 64) {
      var p = 0
      while (p < d - 1) {
        var q = p + 1
        while (q < d) {
          val apq = a(p)(q)
          if (math.abs(apq) > 1e-300) {
            val theta = (a(q)(q) - a(p)(p)) / (2 * apq)
            val tSign = if (theta >= 0) 1.0 else -1.0
            val tTan = tSign / (math.abs(theta) + math.sqrt(theta * theta + 1))
            val c = 1.0 / math.sqrt(tTan * tTan + 1)
            val s = tTan * c
            var i = 0
            while (i < d) {
              val aip = a(i)(p)
              val aiq = a(i)(q)
              a(i)(p) = c * aip - s * aiq
              a(i)(q) = s * aip + c * aiq
              i += 1
            }
            i = 0
            while (i < d) {
              val api = a(p)(i)
              val aqi = a(q)(i)
              a(p)(i) = c * api - s * aqi
              a(q)(i) = s * api + c * aqi
              i += 1
            }
            i = 0
            while (i < d) {
              val vip = v(i)(p)
              val viq = v(i)(q)
              v(i)(p) = c * vip - s * viq
              v(i)(q) = s * vip + c * viq
              i += 1
            }
          }
          q += 1
        }
        p += 1
      }
      off = offDiag(a)
      sweep += 1
    }
    ((0 until d).map(i => a(i)(i)).toArray, v)
  }

  private def offDiag(a: Array[Array[Double]]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) {
      var j = i + 1
      while (j < a.length) { s += a(i)(j) * a(i)(j); j += 1 }
      i += 1
    }
    s
  }

  /** Project a float-vector column to k floats: (v − mean) · compᵀ.
    * The model rides in the UDF closure (a few KB broadcast with the
    * task — per-row k·d flops, the same budget class as pqTopK's
    * query-side lookup tables). */
  def projectCol(model: PcaModel, vec: Column): Column = {
    val projectUdf = udf { v: Seq[Float] =>
      val d = model.dim
      Array.tabulate(model.k) { c =>
        val comp = model.components(c)
        var acc = 0.0
        var i = 0
        while (i < d) { acc += (v(i) - model.mean(i)) * comp(i); i += 1 }
        acc.toFloat
      }
    }
    projectUdf(vec)
  }

  /** Persist the SUFFICIENT STATISTICS of a fit, not the finished
    * model: reload, [[CovState.merge]] a new corpus drop's
    * [[fitState]], and [[finish]] — the rotation tracks a rolling
    * corpus without re-reading history. Two rows ("sum", "tri"), each
    * carrying `n` as a BIGINT (no double round-trip — exact past
    * 2^53 rows). Doubles round-trip parquet bit-exactly, so
    * loadState(saveState(s)) === s. */
  def saveState(spark: org.apache.spark.sql.SparkSession,
                state: CovState, path: String): Unit = {
    import spark.implicits._
    Seq(("sum", state.sum.toSeq, state.n), ("tri", state.tri.toSeq, state.n))
      .toDF("part", "vec", "n").coalesce(1)
      .write.mode("overwrite").parquet(path)
  }

  /** Load a persisted [[CovState]] (model-sized collect). */
  def loadState(spark: org.apache.spark.sql.SparkSession,
                path: String): CovState = {
    val rows = spark.read.parquet(path)
      .select("part", "vec", "n").collect()
    def part(name: String) = rows.find(_.getString(0) == name)
      .getOrElse(sys.error(s"no $name row in PCA state at $path"))
    CovState(part("sum").getLong(2),
      part("sum").getSeq[Double](1).toArray,
      part("tri").getSeq[Double](1).toArray)
  }

  /** Reconstruct from a projection: mean + z · comp (the rank-k
    * approximation). */
  def reconstructCol(model: PcaModel, proj: Column): Column = {
    val reconUdf = udf { z: Seq[Float] =>
      val d = model.dim
      val out = model.mean.clone()
      var c = 0
      while (c < model.k) {
        val comp = model.components(c)
        val zc = z(c).toDouble
        var i = 0
        while (i < d) { out(i) += zc * comp(i); i += 1 }
        c += 1
      }
      out.map(_.toFloat)
    }
    reconUdf(proj)
  }
}
