package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** One-Permutation-Hashing MinHash signature (Li/Owen/Zhang 2012) with
  * optimal densification (Shrivastava 2017): `array<long>` of length
  * `numHashes`, built from ONE avalanche per shingle instead of
  * [[MinHashSig]]'s k per shingle.
  *
  * Scheme: each shingle hash is fmixed once; its low bits pick one of k
  * bins; the bin keeps the minimum mixed value it sees. Empty bins (a
  * short document doesn't touch all k) copy the value of a hash-chosen
  * NON-EMPTY bin — the densification that restores the unbiased
  * collision property P(sig_a[i] = sig_b[i]) ≈ J(a, b), so the LSH
  * banding math downstream is unchanged.
  *
  * Why it exists: the signature stage of classic MinHash costs
  * k × |shingles| multiply-xor steps per document — at k = 128 that is
  * 128 avalanche rounds per shingle, and on a 100 TB corpus the
  * signature pass dominates the whole dedup pipeline's CPU. OPH costs
  * ONE avalanche per shingle plus a k-sized densification pass per
  * document: ~k× less hash work for documents with ≳k shingles. The
  * trade is estimator variance on SHORT documents (few occupied bins →
  * densified copies are correlated), which the exact-Jaccard
  * verification step downstream absorbs — recall on high-j pairs is the
  * only exposure, and at the shipped 32-band/4-row config a j ≥ 0.9
  * pair's miss probability stays ≲ 1e-7 even if correlation halves the
  * effective band count.
  *
  * Same empty-set contract as [[MinHashSig]]: no shingles → null
  * signature (the doc can never pair).
  */
case class MinHashOph(child: Expression, numHashes: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"graft_minhash_oph requires an array<bigint> of shingle hashes, " +
          s"got ${other.catalogString}")
    }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullable: Boolean = true

  override def prettyName: String = "graft_minhash_oph"

  override protected def nullSafeEval(input: Any): Any =
    MinHashOph.compute(input.asInstanceOf[ArrayData], numHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val out = ctx.freshName("ophSig")
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |org.apache.spark.sql.catalyst.util.ArrayData $out =
         |  graft.functions.MinHashOph.compute($c, $numHashes);
         |if ($out == null) { ${ev.isNull} = true; } else { ${ev.value} = $out; }
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashOph =
    copy(child = newChild)
}

object MinHashOph {

  /** Salt of the single pass — distinct from every MinHashSig.salt(i)
    * so the two schemes' value spaces can't accidentally collide in a
    * mixed table. */
  final val PassSalt: Long = Fnv.fmix(0x2545f4914f6cdd1dL)

  private final val Empty = Long.MaxValue

  /** Called from interpreted and generated code (static forwarder).
    * Returns null for an empty shingle set. */
  def compute(shingles: ArrayData, k: Int): ArrayData = {
    val n = shingles.numElements()
    if (n == 0) return null
    val raw = new Array[Long](k)
    java.util.Arrays.fill(raw, Empty)
    var j = 0
    while (j < n) {
      val v = Fnv.fmix(shingles.getLong(j) ^ PassSalt)
      val b = java.lang.Long.remainderUnsigned(v, k).toInt
      if (v < raw(b)) raw(b) = v
      j += 1
    }
    new GenericArrayData(densify(raw, k))
  }

  /** Optimal densification: each empty bin i walks a deterministic
    * hash sequence of bin indices and copies the first NON-EMPTY raw
    * bin it lands on (never a densified copy — Shrivastava's scheme
    * densifies from the original occupancy so two documents with the
    * same occupied bins densify identically). The walk is a pure
    * function of (i, attempt); after a bounded number of probes it
    * falls back to the cyclic next non-empty bin, which always exists
    * because the caller guarantees ≥1 shingle. */
  private def densify(raw: Array[Long], k: Int): Array[Long] = {
    var anyEmpty = false
    var i = 0
    while (i < k && !anyEmpty) { anyEmpty = raw(i) == Empty; i += 1 }
    if (!anyEmpty) return raw
    val sig = new Array[Long](k)
    i = 0
    while (i < k) {
      if (raw(i) != Empty) sig(i) = raw(i)
      else {
        var found = false
        var t = 1
        while (!found && t <= 4 * k) {
          val p = java.lang.Long.remainderUnsigned(
            Fnv.fmix((i.toLong << 32) | t.toLong), k).toInt
          if (raw(p) != Empty) { sig(i) = raw(p); found = true }
          t += 1
        }
        if (!found) {
          // Cyclic fallback — reached only on pathological occupancy
          // (expected probes per empty bin is k/occupied; 4k probes
          // miss with prob ≤ (1-1/k)^(4k) ≈ e^-4 only when ONE bin is
          // occupied, and then the scan finds it directly).
          var p = (i + 1) % k
          while (raw(p) == Empty) p = (p + 1) % k
          sig(i) = raw(p)
        }
      }
      i += 1
    }
    sig
  }

  /** Boxed-Seq mirror of [[compute]] for a JVM scalar reference —
    * identical bits (spec-pinned). */
  def computeSeq(shingles: Seq[Long], k: Int): Option[Seq[Long]] = {
    if (shingles == null || shingles.isEmpty) return None
    val arr = compute(new GenericArrayData(shingles.toArray), k)
    Some(arr.toLongArray().toSeq)
  }
}
