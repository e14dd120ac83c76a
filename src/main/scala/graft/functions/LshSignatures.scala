package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}

/** Multi-table cosine-LSH signature of a vector: `array<long>` of length
  * `tables`, where element t is the sign-bucket of the vector under table
  * t's `nbits` random hyperplanes (bit b set iff v · plane_{t,b} ≥ 0).
  *
  * Why a custom expression: the expression-combo formulation (one
  * [[DotProduct]] per (table, bit) against a literal plane array) re-reads
  * and re-converts the float vector once per plane — tables×nbits
  * conversions and allocations per row, plus a Janino compile of hundreds
  * of expression calls. Fused here: ONE float→double conversion, then all
  * tables×nbits plane dots in a single loop over cached plane data.
  * Planes come from a seeded `scala.util.Random` (seed = seedBase +
  * table), so the signatures are bit-identical to that per-plane combo
  * (OpsSpec keeps it as the reference).
  */
case class LshSignatures(child: Expression, nbits: Int, tables: Int,
                         dim: Int, seedBase: Long) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"graft_lsh_sig requires an array<float> or array<double> vector, " +
          s"got ${other.catalogString}")
    }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def prettyName: String = "graft_lsh_sig"

  private def isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override protected def nullSafeEval(input: Any): Any =
    LshSignatures.compute(input.asInstanceOf[ArrayData], isFloat,
      nbits, tables, dim, seedBase)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.LshSignatures.compute($c, $isFloat, $nbits, $tables, $dim, ${seedBase}L)")

  override protected def withNewChildInternal(newChild: Expression): LshSignatures =
    copy(child = newChild)
}

object LshSignatures {

  /** Plane cache: (nbits, dim, seedBase, tables) → flat
    * [table×nbits×dim] plane array. Plane (t, b) occupies the slice
    * [(t·nbits + b)·dim, +dim) and equals
    * Similarity.hyperplanes(nbits, dim, seedBase + t)(b). */
  private val planeCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int, Long, Int), Array[Double]]()

  private def planes(nbits: Int, dim: Int, seedBase: Long,
                     tables: Int): Array[Double] =
    planeCache.computeIfAbsent((nbits, dim, seedBase, tables), _ => {
      val flat = new Array[Double](tables * nbits * dim)
      var t = 0
      while (t < tables) {
        // identical draw order to Similarity.hyperplanes(nbits, dim, seed+t)
        val rng = new scala.util.Random(seedBase + t)
        var i = 0
        while (i < nbits * dim) {
          flat(t * nbits * dim + i) = rng.nextDouble() * 2 - 1
          i += 1
        }
        t += 1
      }
      flat
    })

  /** Called from interpreted and generated code (static forwarder).
    * `dim` is declared (the plane family is drawn per dim, and a
    * per-plane combo bakes it into literal plane arrays) — a vector of
    * a different length is a loud error here rather than a silent
    * divergence from that spelling. */
  def compute(vec: ArrayData, float: Boolean, nbits: Int, tables: Int,
              dim: Int, seedBase: Long): ArrayData = {
    val v: Array[Double] =
      if (float) DotProduct.floatsToDoubles(vec.toFloatArray())
      else vec.toDoubleArray()
    require(v.length == dim,
      s"graft_lsh_sig: vector length ${v.length} != declared dim $dim")
    val pl = planes(nbits, dim, seedBase, tables)
    val out = new Array[Long](tables)
    var t = 0
    while (t < tables) {
      var bucket = 0L
      var b = 0
      while (b < nbits) {
        val off = (t * nbits + b) * dim
        var dot = 0.0
        var i = 0
        while (i < dim) { dot += v(i) * pl(off + i); i += 1 }
        if (dot >= 0) bucket |= 1L << b
        b += 1
      }
      out(t) = bucket
      t += 1
    }
    new GenericArrayData(out)
  }
}
