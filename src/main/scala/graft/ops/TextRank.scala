package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.GraftShim.materialize
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-statistics text scoring: TF-IDF — the workhorse for keyword
  * extraction, near-duplicate triage, and relevance-weighted quality
  * scoring over a training corpus.
  *
  * Scale shape: ONE explode of the corpus into (doc, term, tf) via a
  * count-per-doc aggregation, one term-level aggregation for document
  * frequency, one broadcast-able join back (the term dictionary is tiny
  * next to the corpus), then a per-doc top-k via WindowGroupLimit. No
  * driver-side vocabulary, no collect.
  */
object TextRank {

  /** Top-`k` TF-IDF terms per document.
    *
    * tf = term count within the doc; idf = ln((N+1)/(df+1)) (smoothed —
    * never division by zero, never negative for df <= N). Score is
    * rounded to 6 dp and ranked by (score desc, term) for deterministic,
    * engine-portable output. Returns (idCol, rank, term, tfidf). */
  def tfidfTopTerms(docs: DataFrame, textCol: String, idCol: String,
                    k: Int): DataFrame = {
    val n = docs.count() // corpus size: one cheap metadata-ish pass
    // The (doc, term, tf) index feeds BOTH the df aggregation and the
    // score join; Catalyst does not reuse the exchange across those two
    // consumers (attribute renaming defeats canonical-plan matching), so
    // materialize it once — at scale this index is a reusable artifact
    // you would write to storage anyway.
    // explode_outer: a plain explode gets an inferred size(...) > 0
    // filter pushed below the projection with the tokenizer re-inlined,
    // doubling the scan's regex work; the null row from empty docs is
    // dropped by the non-empty-term predicate anyway
    val terms = materialize(docs
      .select(col(idCol).as("id"),
        explode_outer(TextFunctions.tokens(col(textCol))).as("term"))
      .filter(col("term") =!= "")
      .groupBy("id", "term")
      .agg(count(lit(1)).as("tf"))).df
    val df = terms.groupBy("term")
      .agg(count(lit(1)).as("df"))
    val scored = terms.join(df, "term")
      .withColumn("tfidf", round(
        col("tf") * log((lit(n) + 1.0) / (col("df") + 1.0)), 6))
    val w = Window.partitionBy("id").orderBy(col("tfidf").desc, col("term"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("id").as(idCol), col("rank"), col("term"), col("tfidf"))
  }

  /** Okapi BM25 retrieval: top-`k` documents per query — the standard
    * lexical-relevance ranker (used for retrieval-based decontamination,
    * hard-negative mining and quality triage over a training corpus).
    *
    * Scale shape: the corpus explodes ONCE into a (doc, term, tf) index
    * with per-doc lengths; document frequency is a term-level aggregate
    * (dictionary-sized, broadcast back); the QUERY side is a literal
    * local relation (a handful of rows), so scoring is one broadcast
    * join against the posting lists followed by a per-query top-k via
    * WindowGroupLimit. The corpus is never re-scanned per query and no
    * driver-side vocabulary exists. At 100 TB the `terms` index is the
    * artifact you would persist (bucketed by term) and reuse across
    * query batches.
    *
    * Numeric portability: each per-term partial score is computed with a
    * FIXED parenthesization (mirrored exactly in the DuckDB oracle),
    * rounded to 6 dp and summed as DECIMAL(18,6) — decimal summation is
    * exact and order-independent, so the cross-engine hash compare does
    * not depend on float addition order. Ranking is by (score desc,
    * doc id) on the rounded score. Returns (qid, rank, idCol, score).
    *
    * idf = ln(1 + (N - df + 0.5)/(df + 0.5))  (Lucene's non-negative
    * variant); tfNorm = tf·(k1+1)/(tf + k1·(1 − b + b·dl/avgdl)).
    */
  def bm25TopK(docs: DataFrame, textCol: String, idCol: String,
               queries: Seq[(Int, String)], k: Int,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val n = docs.count()
    val terms = materialize(docs
      .select(col(idCol).as("id"),
        explode_outer(TextFunctions.tokens(col(textCol))).as("term"))
      .filter(col("term") =!= "")
      .groupBy("id", "term")
      .agg(count(lit(1)).as("tf"))).df
    // per-doc length (token count incl. duplicates) and the corpus mean;
    // totTf/n is ONE double division of two exact longs — the oracle
    // recomputes the identical value.
    val dl = terms.groupBy("id").agg(sum("tf").as("dl"))
    val totTf = dl.agg(sum("dl")).head.getLong(0)
    val avgdl = totTf.toDouble / n
    val dfreq = terms.groupBy("term").agg(count(lit(1)).as("df"))
    val q = queries
      .flatMap { case (qid, text) =>
        text.toLowerCase.trim.split("\\s+").filter(_.nonEmpty).distinct
          .map(t => (qid, t))
      }
      .toDF("qid", "qterm")
    val idf = log(lit(1.0) +
      (lit(n.toDouble) - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val tfNorm = (col("tf") * lit(k1 + 1)) /
      (col("tf") + lit(k1) *
        (lit(1 - b) + lit(b) * (col("dl") / lit(avgdl))))
    val scored = q.join(terms, col("qterm") === col("term"))
      .join(dfreq, "term")
      .join(dl, "id")
      .select(col("qid"), col("id"),
        round(idf * tfNorm, 6).cast("decimal(18,6)").as("ts"))
    val agg = scored.groupBy("qid", "id")
      .agg(sum("ts").cast("double").as("score"))
    val w = Window.partitionBy("qid").orderBy(col("score").desc, col("id"))
    agg.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("id").as(idCol), col("score"))
  }

  /** HARD-NEGATIVE mining for retrieval/reranker training (the DPR /
    * sentence-transformers recipe): the top BM25 candidates for each
    * query that are NOT labeled positive — lexically confusable with
    * the answer, which is exactly what a trainable scorer must learn
    * to push down; random negatives teach nothing a stoplist wouldn't.
    *
    * Shape: the k-bounded [[bm25TopK]] candidate list (posting-index
    * scoring — the corpus is never scanned per query), one LEFT-ANTI
    * join against the positive labels on (qid, id) — labels are
    * query-cardinality, AQE broadcasts — and a re-rank window over the
    * ≤k survivors per query. Deterministic: candidate order is the
    * BM25 contract's (score desc, id), re-rank preserves it.
    *
    * @param positives labeled (qid, id) pairs; extra columns ignored
    * @return (qid, neg_rank 1-based, idCol, score) with neg_rank ≤
    *         nNeg */
  def hardNegatives(docs: DataFrame, textCol: String, idCol: String,
                    queries: Seq[(Int, String)], positives: DataFrame,
                    kCandidates: Int, nNeg: Int): DataFrame = {
    require(nNeg >= 1 && kCandidates >= nNeg,
      "need kCandidates >= nNeg >= 1")
    val cand = bm25TopK(docs, textCol, idCol, queries, kCandidates)
    val pos = positives.columns.take(2) match {
      case Array(q, i) =>
        positives.select(col(q).as("qid"), col(i).as(idCol))
    }
    val w = Window.partitionBy("qid")
      .orderBy(col("score").desc, col(idCol))
    cand.join(pos, Seq("qid", idCol), "left_anti")
      .withColumn("neg_rank", row_number().over(w))
      .filter(col("neg_rank") <= nNeg)
      .select(col("qid"), col("neg_rank"), col(idCol), col("score"))
  }

  /** Reciprocal-rank fusion (Cormack et al. 2009) of two rank lists —
    * the standard hybrid-retrieval combiner (BM25 + dense ANN): each
    * candidate scores Σ 1/(c + rank) over the lists that returned it,
    * missing lists contribute 0. Both inputs carry (`qidCol`, `idCol`,
    * `rankCol`); output is the fused top-`k` per query with `rank` and
    * `rrf_score`.
    *
    * Determinism across engines: the two reciprocal terms are added in
    * a FIXED order (left then right — a full-outer join, not a grouped
    * float sum whose order the engine picks), each term is one IEEE
    * division of exact integers, and ties rank by id. Fuse more than
    * two lists by folding left-to-right: the addition order stays
    * defined. Scale shape: one shuffle per join on (qid, id), then the
    * usual WindowGroupLimit top-k per qid — rank lists are already
    * k-bounded per query, so the join inputs are tiny relative to the
    * corpus that produced them. */
  def rrfFuse(left: DataFrame, right: DataFrame, qidCol: String,
              idCol: String, rankCol: String, k: Int = 10,
              c: Int = 60): DataFrame = {
    require(c >= 1, "rrf constant must be >= 1")
    val l = left.select(col(qidCol).as("__rf_q"), col(idCol).as("__rf_id"),
      col(rankCol).as("__rf_rl"))
    val r = right.select(col(qidCol).as("__rf_q"), col(idCol).as("__rf_id"),
      col(rankCol).as("__rf_rr"))
    val fused = l.join(r, Seq("__rf_q", "__rf_id"), "full_outer")
      .withColumn("rrf_score",
        coalesce(lit(1.0) / (lit(c) + col("__rf_rl")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(c) + col("__rf_rr")), lit(0.0)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__rf_q"))
      .orderBy(col("rrf_score").desc, col("__rf_id"))
    fused.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("__rf_q").as(qidCol), col("rank"),
        col("__rf_id").as(idCol), col("rrf_score"))
  }
}
