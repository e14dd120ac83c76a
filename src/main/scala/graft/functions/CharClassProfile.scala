package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType, LongType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Character-level profile of a text column in ONE pass:
  * `struct<n_chars, n_letters, n_digits, n_spaces, n_punct, n_other
  * long, n_distinct int, entropy double>` — the charset-health signals
  * (encoding damage shows up as a high `n_other`; binary-in-text as
  * high entropy; keyword spam as low) that corpus quality gates key on.
  *
  * Why a custom expression: the class counts alone are five
  * `regexp_count` passes, and Shannon entropy over the char
  * distribution has no built-in at all — the composed spelling
  * (CharProfileSpec's reference) filters the char array once per
  * DISTINCT character, an O(len × distinct) interpreted loop. Here one code-point walk fills a count map and
  * every signal falls out; whole-stage codegen CSE shares the single
  * evaluation across derived columns.
  *
  * Classes (by code point): letters `[A-Za-z]`, digits `[0-9]`, spaces
  * ` \t\n\r`, punct = remaining printable ASCII (0x21–0x7E), other =
  * everything else (controls, non-ASCII). Entropy is over the full
  * code-point distribution in bits, accumulated in 1e-6-bit units with
  * each distinct character's `-p·log2 p` contribution rounded
  * half-up — an ORDER-INDEPENDENT exact integer sum, so any engine
  * (and the DuckDB oracle) reproduces it bit-for-bit regardless of its
  * aggregation order.
  *
  * Null text is null-out at the struct level. The composed spelling
  * walks UTF-16 units (Java `split("")`), so it mis-splits
  * supplementary characters the native path counts as one code point —
  * equivalent on BMP text (CharProfileSpec), native is the correct one
  * beyond it.
  */
case class CharClassProfile(child: Expression) extends UnaryExpression {

  override lazy val resolved: Boolean =
    child.resolved && child.dataType == org.apache.spark.sql.types.StringType

  override def dataType: DataType = CharClassProfile.outType

  override def prettyName: String = "graft_char_profile"

  override protected def nullSafeEval(input: Any): Any =
    CharClassProfile.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.CharClassProfile.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): CharClassProfile =
    copy(child = newChild)
}

object CharClassProfile {

  val outType: StructType = StructType(Seq(
    StructField("n_chars", LongType, nullable = false),
    StructField("n_letters", LongType, nullable = false),
    StructField("n_digits", LongType, nullable = false),
    StructField("n_spaces", LongType, nullable = false),
    StructField("n_punct", LongType, nullable = false),
    StructField("n_other", LongType, nullable = false),
    StructField("n_distinct", IntegerType, nullable = false),
    StructField("entropy", DoubleType, nullable = false)))

  private val Ln2 = math.log(2.0)

  /** Called from interpreted and generated code (static forwarder). */
  def compute(text: UTF8String): InternalRow = {
    val s = text.toString
    val counts = new java.util.HashMap[Integer, Long]()
    var nChars = 0L
    var letters = 0L
    var digits = 0L
    var spaces = 0L
    var punct = 0L
    var other = 0L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      i += Character.charCount(cp)
      nChars += 1
      if ((cp >= 'A' && cp <= 'Z') || (cp >= 'a' && cp <= 'z')) letters += 1
      else if (cp >= '0' && cp <= '9') digits += 1
      else if (cp == ' ' || cp == '\t' || cp == '\n' || cp == '\r') spaces += 1
      else if (cp >= 0x21 && cp <= 0x7E) punct += 1
      else other += 1
      counts.merge(cp, 1L, (a, b) => a + b)
    }
    var micros = 0L
    val it = counts.values().iterator()
    while (it.hasNext) {
      val n = it.next()
      val p = n.toDouble / nChars
      // -p*log2(p) in 1e-6-bit units, rounded half-up: the exact long
      // sum is independent of iteration order (doubles wouldn't be)
      micros += Math.round(-(p * math.log(p) / Ln2) * 1e6)
    }
    new GenericInternalRow(Array[Any](
      nChars, letters, digits, spaces, punct, other, counts.size(),
      micros.toDouble / 1e6))
  }
}
