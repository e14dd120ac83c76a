package graft.ops

import org.apache.spark.sql.{DataFrame, GraftShim}
import org.apache.spark.sql.functions._
import graft.functions.RpProjectExpr

/** Johnson–Lindenstrauss random projection: reduce an embedding column
  * from `d` to `k` dims with a deterministic ±1 sign matrix (Achlioptas
  * 2003, "Database-friendly random projections" — ±1 entries preserve
  * pairwise distances in expectation exactly like Gaussian ones, and
  * cost one add per entry, no multiply). The cheap-and-cheerful
  * alternative to [[Pca]] when a data-dependent basis isn't worth a
  * fit pass: no training, no driver state, the "matrix" is `d × k`
  * md5-parity signs compiled into the plan as literals.
  *
  * Everything runs on the integer micro-unit rail: inputs quantize to
  * `floor(x·10⁶ + 0.5)` BIGINTs, projections are signed integer sums
  * (order-independent, so Spark and the DuckDB oracle agree bit-for-bit
  * regardless of fold order), and the norm-preservation audit is exact
  * integer ppm with the wide products on DECIMAL(38,0) (the
  * [[Graph]]-HITS / aucExact overflow rail: Σpⱼ²·10⁶ exceeds BIGINT at
  * realistic norms).
  *
  * Scale shape: pure per-row projection — zero shuffles, zero
  * broadcast (signs are plan literals). The whole row folds in ONE
  * codegen pass ([[graft.functions.RpProjectExpr]]). The JL
  * guarantee audited here is norm preservation E[‖p‖²/k] = ‖u‖²;
  * pairwise-distance preservation follows by applying the same linear
  * map to difference vectors.
  */
object Rp {

  /** Deterministic ±1 sign for matrix cell (i, j): parity of the first
    * 8 hex chars of md5("seed:i:j") — the exact expression the oracle
    * replays as ('0x' || substr(md5(…), 1, 8))::BIGINT % 2. */
  private[graft] def sign(seed: String, i: Int, j: Int): Int = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"$seed:$i:$j".getBytes("UTF-8"))
      .take(4).map("%02x".format(_)).mkString
    if (java.lang.Long.parseLong(hex, 16) % 2 == 0) 1 else -1
  }

  /** Project `vecCol` (array<float|double>, length `d`) to `k` dims.
    * Output vector is serialized to a comma-joined string (the driver
    * compare cannot sort array cells); `ratio_ppm` is the per-row norm
    * ratio ‖p‖²·10⁶ div (k·‖u‖²) — ≈ 10⁶ when the projection preserved
    * this row's norm.
    *
    * @return (idCol, proj, norm2, pnorm2, ratio_ppm) */
  def project(df: DataFrame, vecCol: String, idCol: String,
              d: Int, k: Int, seed: String = "rp"): DataFrame = {
    require(d >= 1 && k >= 1 && k <= d, "need 1 <= k <= d")
    // the codegen RpProjectExpr quantizes once and folds all k sums +
    // the norm in ONE pass (the aggregate(zip_with) spelling is
    // CodegenFallback/interpreted — measured ~5x slower at 10x scale)
    val flat = lit((0 until k).flatMap(j =>
      (0 until d).map(i => sign(seed, i, j))).toArray)
    val base = df
      .withColumn("__rp", GraftShim.column(RpProjectExpr(
        GraftShim.expression(col(vecCol)), GraftShim.expression(flat))))
      .select(
        col(idCol) +:
          element_at(col("__rp"), k + 1).as("norm2") +:
          (0 until k).map(j => element_at(col("__rp"), j + 1).as(s"__p$j")): _*)
    val pnorm2 = (0 until k).map(j => col(s"__p$j") * col(s"__p$j"))
      .reduce(_ + _).as("pnorm2")
    base
      .withColumn("pnorm2", pnorm2)
      .select(col(idCol),
        concat_ws(",", (0 until k).map(j => col(s"__p$j")): _*).as("proj"),
        col("norm2"), col("pnorm2"),
        when(col("norm2") > 0, expr(s"cast(pnorm2 as decimal(38,0)) " +
          s"* 1000000 div ($k * cast(norm2 as decimal(38,0)))"))
          .otherwise(lit(0L)).as("ratio_ppm"))
  }

  /** Corpus-level distortion audit over [[project]]'s output: row
    * count, min/max/mean of the norm ratio, and how many rows sit
    * inside [lo, hi] ppm — the "did the projection hold" one-liner.
    * One hash aggregate, exact integers throughout.
    *
    * @return (n, min_ppm, max_ppm, mean_ppm, n_within) */
  def normAudit(projected: DataFrame, lo: Long = 500000L,
                hi: Long = 2000000L): DataFrame =
    projected.agg(count(lit(1)).as("n"),
        min("ratio_ppm").as("min_ppm"), max("ratio_ppm").as("max_ppm"),
        expr("cast(sum(cast(ratio_ppm as decimal(38,0))) as decimal(38,0))" +
          " div count(1)").as("mean_ppm"),
        sum(when(col("ratio_ppm").between(lo, hi), 1L).otherwise(0L))
          .as("n_within"))
}
