package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** MinHash signature of a hashed-shingle set: `array<long>` of length
  * `numHashes`, where signature[i] = min over the set of
  * fmix(shingleHash ^ salt_i).
  *
  * Why a custom expression: MinHash is a PER-DOCUMENT computation — the
  * reference pattern of explode → groupBy(id) → k min-aggregates turns it
  * into a full shuffle of |docs|×|shingles| rows plus a k-column-wide
  * aggregate (whose generated code alone takes seconds of Janino compile
  * for k=128). Computed per-row there is no shuffle at all, signatures
  * stream straight into LSH banding, and the cost is one fused loop of
  * k×|shingles| multiply-xor steps. At 100 TB this is the difference
  * between a signature stage that shuffles the exploded corpus and one
  * that is a map over the scan.
  */
case class MinHashSig(child: Expression, numHashes: Int)
    extends UnaryExpression {

  // User-callable via the extension (`graft_minhash`), so a wrong argument
  // type should fail analysis with a named message, not a generic
  // unresolved-expression error.
  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"graft_minhash requires an array<bigint> of shingle hashes, " +
          s"got ${other.catalogString}")
    }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  // Empty shingle set -> null signature (such docs take part in no LSH
  // bucket, matching the aggregate formulation where they simply have no
  // exploded rows).
  override def nullable: Boolean = true

  override def prettyName: String = "graft_minhash"

  override protected def nullSafeEval(input: Any): Any =
    MinHashSig.compute(input.asInstanceOf[ArrayData], numHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val out = ctx.freshName("mhSig")
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |org.apache.spark.sql.catalyst.util.ArrayData $out =
         |  graft.functions.MinHashSig.compute($c, $numHashes);
         |if ($out == null) { ${ev.isNull} = true; } else { ${ev.value} = $out; }
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

object MinHashSig {

  /** Salt of hash function i, derived by the shared fmix avalanche
    * (deterministic across JVMs — no Random state). Public so a
    * composed reference spelling can reproduce the identical hash
    * family. */
  def salt(i: Int): Long = Fnv.fmix(0x9e3779b97f4a7c15L * (i + 1))

  private def salts(k: Int): Array[Long] = {
    val s = new Array[Long](k)
    var i = 0
    while (i < k) { s(i) = salt(i); i += 1 }
    s
  }

  private val saltCache = new java.util.concurrent.ConcurrentHashMap[Int, Array[Long]]()

  /** Called from interpreted and generated code (static forwarder).
    * Returns null for an empty shingle set. */
  def compute(shingles: ArrayData, k: Int): ArrayData = {
    val n = shingles.numElements()
    if (n == 0) return null
    val salt = saltCache.computeIfAbsent(k, kk => salts(kk))
    val sig = new Array[Long](k)
    java.util.Arrays.fill(sig, Long.MaxValue)
    var j = 0
    while (j < n) {
      val h = shingles.getLong(j)
      var i = 0
      while (i < k) {
        val v = Fnv.fmix(h ^ salt(i))
        if (v < sig(i)) sig(i) = v
        i += 1
      }
      j += 1
    }
    new GenericArrayData(sig)
  }
}
