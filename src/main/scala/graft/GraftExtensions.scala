package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.{BinaryType, IntegerType, LongType}
import graft.functions.{BloomMightContain, CharClassProfile, CosineSimilarity, DeflateSize, DotProduct, GopherStats, HashedShingles, KllSketchAgg, LshSignatures, MinHashOph, MinHashSig, PqLookupSum, RpProjectExpr, SimHash64, StopProfile}

/** Session extensions registering SQL names for graft's native (codegen)
  * expressions, so SQL and `call_function` can reach them. Enable with
  * `.config("spark.sql.extensions", "graft.GraftExtensions")` (works with
  * spark-submit too). Operators never look these names up: they build
  * the expression classes directly, so they plan the same on any
  * session, configured or not.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("graft_cosine"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "graft_cosine"),
      (children: Seq[Expression]) => {
        require(children.size == 2, "graft_cosine(arrayA, arrayB) takes 2 arguments")
        CosineSimilarity(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (children: Seq[Expression]) => {
        require(children.size == 2, "graft_dot(arrayA, arrayB) takes 2 arguments")
        DotProduct(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_rp_project"),
      new ExpressionInfo(classOf[RpProjectExpr].getName, "graft_rp_project"),
      (children: Seq[Expression]) => {
        require(children.size == 2,
          "graft_rp_project(vec, flatSigns) takes 2 arguments")
        RpProjectExpr(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_simhash"),
      new ExpressionInfo(classOf[SimHash64].getName, "graft_simhash"),
      (children: Seq[Expression]) => {
        require(children.size == 1, "graft_simhash(text) takes 1 argument")
        SimHash64(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_deflate_size"),
      new ExpressionInfo(classOf[DeflateSize].getName, "graft_deflate_size"),
      (children: Seq[Expression]) => {
        require(children.size == 1, "graft_deflate_size(text) takes 1 argument")
        DeflateSize(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_minhash"),
      new ExpressionInfo(classOf[MinHashSig].getName, "graft_minhash"),
      (children: Seq[Expression]) => {
        val k = children match {
          case Seq(_, Literal(v: Int, IntegerType)) => v
          case _ => throw new IllegalArgumentException(
            "graft_minhash(shingles, numHashes) needs an integer literal numHashes")
        }
        MinHashSig(children.head, k)
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_pq_lookup"),
      new ExpressionInfo(classOf[PqLookupSum].getName, "graft_pq_lookup"),
      (children: Seq[Expression]) => {
        val k = children match {
          case Seq(_, _, Literal(v: Int, IntegerType)) => v
          case _ => throw new IllegalArgumentException(
            "graft_pq_lookup(codes, table, k) needs an integer literal k")
        }
        PqLookupSum(children.head, children(1), k)
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_bloom_contains"),
      new ExpressionInfo(classOf[BloomMightContain].getName, "graft_bloom_contains"),
      (children: Seq[Expression]) => {
        val bytes = children match {
          case Seq(_, Literal(b: Array[Byte], BinaryType)) => b
          case _ => throw new IllegalArgumentException(
            "graft_bloom_contains(key, filterBytes) needs a binary literal filter")
        }
        BloomMightContain(children.head, bytes)
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_lsh_sig"),
      new ExpressionInfo(classOf[LshSignatures].getName, "graft_lsh_sig"),
      (children: Seq[Expression]) => {
        children match {
          case Seq(v, Literal(nbits: Int, IntegerType),
                   Literal(tables: Int, IntegerType),
                   Literal(dim: Int, IntegerType),
                   Literal(seed: Long, LongType)) =>
            LshSignatures(v, nbits, tables, dim, seed)
          case _ => throw new IllegalArgumentException(
            "graft_lsh_sig(vec, nbits, tables, dim, seedBase) needs " +
              "integer literal nbits/tables/dim and a long literal seedBase")
        }
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_shingles"),
      new ExpressionInfo(classOf[HashedShingles].getName, "graft_shingles"),
      (children: Seq[Expression]) => {
        val n = children match {
          case Seq(_, Literal(v: Int, IntegerType)) => v
          case _ => throw new IllegalArgumentException(
            "graft_shingles(text, n) needs an integer literal n")
        }
        HashedShingles(children.head, n)
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_gopher_stats"),
      new ExpressionInfo(classOf[GopherStats].getName, "graft_gopher_stats"),
      (children: Seq[Expression]) => {
        require(children.size == 1, "graft_gopher_stats(text) takes 1 argument")
        GopherStats(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_char_profile"),
      new ExpressionInfo(classOf[CharClassProfile].getName, "graft_char_profile"),
      (children: Seq[Expression]) => {
        require(children.size == 1, "graft_char_profile(text) takes 1 argument")
        CharClassProfile(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_stop_profile"),
      new ExpressionInfo(classOf[StopProfile].getName, "graft_stop_profile"),
      (children: Seq[Expression]) => {
        require(children.size == 1, "graft_stop_profile(text) takes 1 argument")
        StopProfile(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_chrf"),
      new ExpressionInfo(classOf[graft.functions.ChrfRails].getName,
        "graft_chrf"),
      (children: Seq[Expression]) => {
        children match {
          case Seq(h, r, Literal(n: Int, IntegerType),
                   Literal(b: Int, IntegerType)) =>
            graft.functions.ChrfRails(h, r, n, b)
          case _ => throw new IllegalArgumentException(
            "graft_chrf(hyp, ref, maxN, beta) needs integer literal " +
              "maxN and beta")
        }
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_ngram_rails"),
      new ExpressionInfo(classOf[graft.functions.NgramRails].getName,
        "graft_ngram_rails"),
      (children: Seq[Expression]) => {
        children match {
          case Seq(h, r, Literal(n: Int, IntegerType)) =>
            graft.functions.NgramRails(h, r, n)
          case _ => throw new IllegalArgumentException(
            "graft_ngram_rails(hypToks, refToks, maxN) needs an integer " +
              "literal maxN")
        }
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_mtld"),
      new ExpressionInfo(classOf[graft.functions.MtldRails].getName,
        "graft_mtld"),
      (children: Seq[Expression]) => {
        require(children.size == 1, "graft_mtld(tokens) takes 1 argument")
        graft.functions.MtldRails(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_minhash_oph"),
      new ExpressionInfo(classOf[MinHashOph].getName, "graft_minhash_oph"),
      (children: Seq[Expression]) => {
        val k = children match {
          case Seq(_, Literal(v: Int, IntegerType)) => v
          case _ => throw new IllegalArgumentException(
            "graft_minhash_oph(shingles, numHashes) needs an integer literal numHashes")
        }
        MinHashOph(children.head, k)
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_sorted_intersect_count"),
      new ExpressionInfo(classOf[graft.functions.SortedIntersectCount].getName,
        "graft_sorted_intersect_count"),
      (children: Seq[Expression]) => {
        require(children.size == 2,
          "graft_sorted_intersect_count(sortedA, sortedB) takes 2 arguments")
        graft.functions.SortedIntersectCount(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_sorted_intersect"),
      new ExpressionInfo(classOf[graft.functions.SortedIntersectArr].getName,
        "graft_sorted_intersect"),
      (children: Seq[Expression]) => {
        require(children.size == 2,
          "graft_sorted_intersect(sortedA, sortedB) takes 2 arguments")
        graft.functions.SortedIntersectArr(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_kll_agg"),
      new ExpressionInfo(classOf[KllSketchAgg].getName, "graft_kll_agg"),
      (children: Seq[Expression]) => {
        val k = children match {
          case Seq(_, Literal(v: Int, IntegerType)) => v
          case _ => throw new IllegalArgumentException(
            "graft_kll_agg(value, k) needs an integer literal k")
        }
        KllSketchAgg(children.head, k).toAggregateExpression()
      }))
  }
}
