package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops._
import graft.pivot.PivotOps
import graft.QueryShared._

/** Sampling, joins, profiling, windowing, sketches verification queries — one family of
  * [[graft.SparkEntry.registry]]; see [[graft.SparkEntry]] for the
  * oracle conventions. */
private[graft] object SampleQueries {
  // =====================================================================
  // Reproducible sampling
  // =====================================================================

  /** Deterministic stratified downsample: 50% of English docs, 10% of
    * the rest, membership decided by a stable md5 bucket of the id —
    * identical selection on every run and engine. */
  private[graft] def qSampleStratified(s: SparkSession, dir: String): DataFrame =
    Sample.stratified(t(s, dir, "documents").select("doc_id", "lang"),
      "doc_id", "lang", Map("en" -> 50), defaultPct = 10)

  private[graft] val oSampleStratified =
    """SELECT doc_id, lang FROM documents
      |WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100
      |      < CASE WHEN lang = 'en' THEN 50 ELSE 10 END""".stripMargin

  /** Repetition schedule: English docs see 2 epochs, the rest 1; the
    * expanded multiset's positions come from the stable
    * md5(seed:id:epoch) permutation, fully replayed in SQL. */
  private[graft] def qSampleRepeatSchedule(s: SparkSession, dir: String): DataFrame =
    Order.repeatSchedule(
      t(s, dir, "documents").select("doc_id", "lang"),
      "doc_id", when(col("lang") === "en", 2).otherwise(1), seed = "sched")
      .select("pos", "doc_id", "epoch")

  private[graft] val oSampleRepeatSchedule =
    """WITH x AS (SELECT doc_id,
      |    unnest(generate_series(1,
      |      CASE WHEN lang = 'en' THEN 2 ELSE 1 END)) AS epoch
      |  FROM documents)
      |SELECT CAST(row_number() OVER (ORDER BY
      |    md5('sched:' || CAST(doc_id AS VARCHAR) || ':'
      |      || CAST(epoch AS VARCHAR))
      |    || CAST(doc_id AS VARCHAR) || ':' || CAST(epoch AS VARCHAR))
      |    - 1 AS BIGINT) AS pos,
      |  doc_id, CAST(epoch AS INTEGER) AS epoch
      |FROM x""".stripMargin

  /** Deterministic 90/5/5 train/val/test split — every row labeled by
    * its md5(seed:id) bucket against exact integer cutoffs; the oracle
    * replays the cutoffs bit-for-bit. */
  private[graft] def qSampleSplit(s: SparkSession, dir: String): DataFrame =
    Sample.split(t(s, dir, "documents").select("doc_id", "lang"), "doc_id",
      Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))

  private[graft] val oSampleSplit = {
    val t1 = math.floor(0.9 * 4294967296.0).toLong
    val t2 = t1 + math.floor(0.05 * 4294967296.0).toLong
    s"""SELECT doc_id, lang,
      |  CASE WHEN b < $t1 THEN 'train'
      |       WHEN b < $t2 THEN 'val' ELSE 'test' END AS split
      |FROM (SELECT doc_id, lang,
      |  ('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
      |    AS b FROM documents)""".stripMargin
  }

  /** Priority sampling: top-20 weight-biased docs per language with the
    * DLT unbiased subset-sum estimate. Priorities are exact across
    * engines (power-of-two divide + one rounded division), so the
    * oracle replays the whole selection. */
  private[graft] def qSamplePriority(s: SparkSession, dir: String): DataFrame =
    Sample.priorityPerStratum(
      t(s, dir, "documents").select("doc_id", "lang", "n_chars"),
      "doc_id", "lang", "n_chars", n = 20)
      .select("doc_id", "lang", "n_chars", "pri", "w_est")

  private[graft] val oSamplePriority =
    """WITH p AS (SELECT doc_id, lang, n_chars,
      |    CAST(n_chars AS DOUBLE) /
      |      (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
      |            + 1 AS DOUBLE) / 4294967296.0) AS pri
      |  FROM documents),
      |r AS (SELECT *, row_number() OVER (
      |    PARTITION BY lang ORDER BY pri DESC, doc_id) AS rk FROM p),
      |tau AS (SELECT lang, min(CASE WHEN rk = 21 THEN pri END) AS tau
      |  FROM r WHERE rk <= 21 GROUP BY lang)
      |SELECT r.doc_id, r.lang, r.n_chars, r.pri,
      |  greatest(CAST(n_chars AS DOUBLE), COALESCE(tau.tau, 0.0)) AS w_est
      |FROM r JOIN tau ON r.lang = tau.lang WHERE rk <= 20""".stripMargin

  /** DSIR importance resample: 100 docs whose hashed-bigram distribution
    * is closest (in importance weight, Gumbel-noised) to the English
    * sub-corpus. Fully engine-portable: decimal-summed 6-dp log-ratios +
    * md5-derived Gumbel keys, so the oracle replays the WHOLE pipeline —
    * models, weights, noise and selection — in SQL. */
  private[graft] def qSampleDsir(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    Importance.dsirResample(d, d.filter(col("lang") === "en"),
      "text", "doc_id", topN = 100)
  }

  private[graft] val oSampleDsir =
    s"""WITH d AS (SELECT doc_id, lang, $oToks AS t FROM documents),
      |g AS (SELECT doc_id, lang, unnest(CASE WHEN len(t) >= 2
      |    THEN list_transform(generate_series(1, len(t) - 1),
      |      i -> t[i] || ' ' || t[i+1]) ELSE [] END) AS g FROM d),
      |bk AS (SELECT doc_id, lang,
      |    ('0x' || substr(md5(g), 1, 8))::BIGINT % 1024 AS b FROM g),
      |rc AS (SELECT b, count(*) AS c FROM bk GROUP BY b),
      |tc AS (SELECT b, count(*) AS ct FROM bk WHERE lang = 'en' GROUP BY b),
      |tot AS (SELECT (SELECT sum(c) FROM rc) AS rt,
      |    (SELECT COALESCE(sum(ct), 0) FROM tc) AS tt),
      |delta AS (SELECT rc.b,
      |    CAST(round(
      |      ln(CAST(COALESCE(tc.ct, 0) + 1 AS DOUBLE) / (CAST(tt AS DOUBLE) + 1024)) -
      |      ln(CAST(rc.c + 1 AS DOUBLE) / (CAST(rt AS DOUBLE) + 1024)),
      |    6) AS DECIMAL(18,6)) AS delta
      |  FROM rc LEFT JOIN tc ON rc.b = tc.b CROSS JOIN tot),
      |docb AS (SELECT doc_id, b, count(*) AS cnt FROM bk GROUP BY 1, 2),
      |sw AS (SELECT docb.doc_id, CAST(sum(cnt * delta) AS DOUBLE) AS logw
      |  FROM docb JOIN delta ON docb.b = delta.b GROUP BY 1),
      |w AS (SELECT documents.doc_id, COALESCE(sw.logw, 0.0) AS logw
      |  FROM documents LEFT JOIN sw ON documents.doc_id = sw.doc_id),
      |k AS (SELECT doc_id, logw, round(logw + (-ln(-ln(
      |    (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
      |      AS DOUBLE) + 0.5) / 4294967296.0))), 6) AS key FROM w)
      |SELECT doc_id, logw, key FROM k
      |ORDER BY key DESC, doc_id LIMIT 100""".stripMargin

  /** LM-perplexity quality scoring: every doc scored under the hashed-
    * bigram model of the English sub-corpus. Decimal accumulation makes
    * the whole pipeline — model, scores — exactly SQL-replayable. */
  private[graft] def qTextPerplexity(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val model = Importance.bucketLogProbs(d.filter(col("lang") === "en"),
      "text", n = 2, buckets = 1024)
    // the shuffle-free scorer (spec-pinned bit-equal to the aggregate
    // path) — the oracle below proves it against SQL as well
    val arr = Importance.modelToArray(model)
    d.select(col("doc_id"), Importance.perplexityCol(d, "text", arr).as("s"))
      .select(col("doc_id"), col("s.n_grams").as("n_grams"),
        col("s.ppl").as("ppl"))
  }

  private[graft] val oTextPerplexity =
    s"""WITH d AS (SELECT doc_id, lang, $oToks AS t FROM documents),
      |g AS (SELECT doc_id, lang, unnest(CASE WHEN len(t) >= 2
      |    THEN list_transform(generate_series(1, len(t) - 1),
      |      i -> t[i] || ' ' || t[i+1]) ELSE [] END) AS g FROM d),
      |bk AS (SELECT doc_id, lang,
      |    ('0x' || substr(md5(g), 1, 8))::BIGINT % 1024 AS b FROM g),
      |tc AS (SELECT b, count(*) AS c FROM bk WHERE lang = 'en' GROUP BY b),
      |tt AS (SELECT COALESCE(sum(c), 0) AS tt FROM tc),
      |model AS (SELECT ab.b,
      |    CAST(round(ln(CAST(COALESCE(tc.c, 0) + 1 AS DOUBLE) /
      |      (CAST(tt AS DOUBLE) + 1024)), 6) AS DECIMAL(18,6)) AS lnp
      |  FROM (SELECT unnest(generate_series(0, 1023)) AS b) ab
      |  LEFT JOIN tc ON ab.b = tc.b CROSS JOIN tt),
      |docb AS (SELECT doc_id, b, count(*) AS cnt FROM bk GROUP BY 1, 2),
      |sc AS (SELECT docb.doc_id, sum(cnt) AS n_grams,
      |    sum(cnt * lnp) AS s
      |  FROM docb JOIN model ON docb.b = model.b GROUP BY 1)
      |SELECT documents.doc_id, CAST(COALESCE(sc.n_grams, 0) AS BIGINT) AS n_grams,
      |  round(exp(-(CAST(sc.s AS DOUBLE) / sc.n_grams)), 6) AS ppl
      |FROM documents LEFT JOIN sc ON documents.doc_id = sc.doc_id""".stripMargin

  /** Kneser–Ney bigram perplexity (the CCNet/KenLM-style tier above
    * the hashed add-1 model): trained on the 512 lowest-id English
    * docs, scored corpus-wide via the broadcast shuffle-free scorer.
    * The oracle retrains the model IN SQL — sample selection, unigram/
    * bigram counts, continuation counts, the D = 0.75 interpolated-KN
    * formula (dyadic discount ⇒ exact in both engines), 6-dp log
    * rounds, DECIMAL accumulation — and must land on the same hash. */
  private[graft] def qTextPerplexityKn(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val model = Importance.trainKnBigram(
      d.filter(col("lang") === "en"), "text", "doc_id", sampleN = 512)
    d.select(col("doc_id"),
        Importance.knPerplexityCol(d, "text", model).as("s"))
      .select(col("doc_id"), col("s.n_grams").as("n_grams"),
        col("s.ppl").as("ppl"))
  }

  private[graft] val oTextPerplexityKn =
    s"""WITH d AS (SELECT doc_id, lang, $oToks AS t FROM documents),
      |samp AS (SELECT t FROM d WHERE lang = 'en'
      |  ORDER BY doc_id LIMIT 512),
      |uni AS (SELECT w, count(*) AS c1 FROM
      |  (SELECT unnest(t) AS w FROM samp) GROUP BY w),
      |big AS (SELECT w1, w2, count(*) AS c2 FROM
      |  (SELECT t[i] AS w1, t[i + 1] AS w2 FROM samp,
      |    unnest(generate_series(1, len(t) - 1)) AS s(i)
      |   WHERE len(t) >= 2) GROUP BY w1, w2),
      |n1f AS (SELECT w1, count(*) AS nf FROM big GROUP BY w1),
      |n1b AS (SELECT w2, count(*) AS nb FROM big GROUP BY w2),
      |tot AS (SELECT (SELECT count(*) FROM big) AS b,
      |  (SELECT count(*) FROM uni) AS v),
      |cb AS (SELECT doc_id, t[i] AS w1, t[i + 1] AS w2 FROM d,
      |  unnest(generate_series(1, len(t) - 1)) AS s(i)
      |  WHERE len(t) >= 2),
      |comp AS (SELECT cb.doc_id,
      |    CAST(COALESCE(n1b.nb, 0) + 1 AS DOUBLE) /
      |      CAST(tot.b + tot.v + 1 AS DOUBLE) AS pc,
      |    uni.c1, big.c2, n1f.nf
      |  FROM cb CROSS JOIN tot
      |  LEFT JOIN uni ON cb.w1 = uni.w
      |  LEFT JOIN big ON cb.w1 = big.w1 AND cb.w2 = big.w2
      |  LEFT JOIN n1f ON cb.w1 = n1f.w1
      |  LEFT JOIN n1b ON cb.w2 = n1b.w2),
      |lp AS (SELECT doc_id, CAST(round(ln(
      |    CASE WHEN c1 IS NULL OR nf IS NULL THEN pc
      |      ELSE (GREATEST(CAST(COALESCE(c2, 0) AS DOUBLE) - 0.75, 0.0)
      |        + 0.75 * CAST(nf AS DOUBLE) * pc)
      |        / CAST(c1 AS DOUBLE) END), 6) AS DECIMAL(18,6)) AS lnp
      |  FROM comp),
      |sc AS (SELECT doc_id, count(*) AS n_grams, sum(lnp) AS s
      |  FROM lp GROUP BY doc_id)
      |SELECT documents.doc_id,
      |  CAST(COALESCE(sc.n_grams, 0) AS BIGINT) AS n_grams,
      |  round(exp(-(CAST(sc.s AS DOUBLE) / sc.n_grams)), 6) AS ppl
      |FROM documents LEFT JOIN sc ON documents.doc_id = sc.doc_id""".stripMargin

  /** Trigram Kneser–Ney perplexity (see [[Importance.trainKnTrigram]]):
    * same en-512 lowest-id training sample as `text_perplexity_kn`,
    * one order up with backoff through the EXACT bigram tier — the
    * oracle replays all three probability layers (continuation →
    * bigram → trigram) literally, per-gram ln rounded to 6 dp. */
  private[graft] def qTextPerplexityKn3(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val model = Importance.trainKnTrigram(
      d.filter(col("lang") === "en"), "text", "doc_id", sampleN = 512)
    d.select(col("doc_id"),
        Importance.knPerplexity3Col(d, "text", model).as("s"))
      .select(col("doc_id"), col("s.n_grams").as("n_grams"),
        col("s.ppl").as("ppl"))
  }

  /** Shared oracle CTE block for the trigram-KN score: model counts
    * from the en-512 sample, per-trigram three-layer probability `p`
    * per corpus trigram occurrence (doc_id, lnp). */
  private val oKn3Ctes =
    s"""d AS (SELECT doc_id, lang, $oToks AS t FROM documents),
      |samp AS MATERIALIZED (SELECT t FROM d WHERE lang = 'en'
      |  ORDER BY doc_id LIMIT 512),
      |uni AS (SELECT w, count(*) AS c1 FROM
      |  (SELECT unnest(t) AS w FROM samp) GROUP BY w),
      |big AS MATERIALIZED (SELECT w1, w2, count(*) AS c2 FROM
      |  (SELECT t[i] AS w1, t[i + 1] AS w2 FROM samp,
      |    unnest(generate_series(1, len(t) - 1)) AS s(i)
      |   WHERE len(t) >= 2) GROUP BY w1, w2),
      |tri AS MATERIALIZED (SELECT w1, w2, w3, count(*) AS c3 FROM
      |  (SELECT t[i] AS w1, t[i + 1] AS w2, t[i + 2] AS w3 FROM samp,
      |    unnest(generate_series(1, len(t) - 2)) AS s(i)
      |   WHERE len(t) >= 3) GROUP BY w1, w2, w3),
      |n1f AS (SELECT w1, count(*) AS nf FROM big GROUP BY w1),
      |n1b AS (SELECT w2, count(*) AS nb FROM big GROUP BY w2),
      |n1t AS (SELECT w1, w2, count(*) AS nft FROM tri GROUP BY w1, w2),
      |tot AS (SELECT (SELECT count(*) FROM big) AS b,
      |  (SELECT count(*) FROM uni) AS v),
      |cb AS (SELECT doc_id, t[i] AS w1, t[i + 1] AS w2, t[i + 2] AS w3
      |  FROM d, unnest(generate_series(1, len(t) - 2)) AS s(i)
      |  WHERE len(t) >= 3),
      |comp AS (SELECT cb.doc_id,
      |    CAST(COALESCE(n1b.nb, 0) + 1 AS DOUBLE) /
      |      CAST(tot.b + tot.v + 1 AS DOUBLE) AS pc,
      |    u2.c1 AS c1b, bg23.c2 AS c2b, n1f.nf AS nfb,
      |    bg12.c2 AS c12, n1t.nft AS nft, tri.c3 AS c3
      |  FROM cb CROSS JOIN tot
      |  LEFT JOIN uni u2 ON cb.w2 = u2.w
      |  LEFT JOIN big bg23 ON cb.w2 = bg23.w1 AND cb.w3 = bg23.w2
      |  LEFT JOIN n1f ON cb.w2 = n1f.w1
      |  LEFT JOIN n1b ON cb.w3 = n1b.w2
      |  LEFT JOIN big bg12 ON cb.w1 = bg12.w1 AND cb.w2 = bg12.w2
      |  LEFT JOIN n1t ON cb.w1 = n1t.w1 AND cb.w2 = n1t.w2
      |  LEFT JOIN tri ON cb.w1 = tri.w1 AND cb.w2 = tri.w2
      |    AND cb.w3 = tri.w3),
      |pbb AS (SELECT doc_id,
      |    CASE WHEN c1b IS NULL OR nfb IS NULL THEN pc
      |      ELSE (GREATEST(CAST(COALESCE(c2b, 0) AS DOUBLE) - 0.75, 0.0)
      |        + 0.75 * CAST(nfb AS DOUBLE) * pc)
      |        / CAST(c1b AS DOUBLE) END AS pb,
      |    c12, nft, c3
      |  FROM comp),
      |lp3 AS (SELECT doc_id, CAST(round(ln(
      |    CASE WHEN c12 IS NULL OR nft IS NULL THEN pb
      |      ELSE (GREATEST(CAST(COALESCE(c3, 0) AS DOUBLE) - 0.75, 0.0)
      |        + 0.75 * CAST(nft AS DOUBLE) * pb)
      |        / CAST(c12 AS DOUBLE) END), 6) AS DECIMAL(18,6)) AS lnp
      |  FROM pbb),
      |sc3 AS (SELECT doc_id, count(*) AS n_grams, sum(lnp) AS s
      |  FROM lp3 GROUP BY doc_id)""".stripMargin

  private[graft] val oTextPerplexityKn3 =
    s"""WITH $oKn3Ctes
      |SELECT documents.doc_id,
      |  CAST(COALESCE(sc3.n_grams, 0) AS BIGINT) AS n_grams,
      |  round(exp(-(CAST(sc3.s AS DOUBLE) / sc3.n_grams)), 6) AS ppl
      |FROM documents LEFT JOIN sc3 ON documents.doc_id = sc3.doc_id""".stripMargin

  /** 5-gram Kneser–Ney perplexity (see [[Importance.trainKn5]]) — the
    * KenLM-class CCNet tier, closing the LM ladder (r14 verdict #7):
    * same en-512 lowest-id sample, two more layers of the exact kn3
    * recursion, the oracle replaying all FIVE probability layers
    * (continuation → bigram → trigram → 4-gram → 5-gram) literally,
    * per-gram ln rounded to 6 dp. Docs with < 5 tokens score NULL. */
  private[graft] def qTextPerplexityKn5(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val model = Importance.trainKn5(
      d.filter(col("lang") === "en"), "text", "doc_id", sampleN = 512)
    d.select(col("doc_id"),
        Importance.knPerplexity5Col(d, "text", model).as("s"))
      .select(col("doc_id"), col("s.n_grams").as("n_grams"),
        col("s.ppl").as("ppl"))
  }

  /** Five-layer KN oracle: the [[oKn3Ctes]] pattern extended with
    * 4/5-gram count tables and two more unrolled CASE layers — each
    * layer keys on the TRAILING tokens of the 5-token corpus window
    * (bigram on (w4,w5), trigram on (w3,w4,w5), …), unique column
    * names per layer (the DuckDB lateral-alias rule). */
  private[graft] val oTextPerplexityKn5 =
    s"""WITH d AS (SELECT doc_id, lang, $oToks AS t FROM documents),
      |samp AS MATERIALIZED (SELECT t FROM d WHERE lang = 'en'
      |  ORDER BY doc_id LIMIT 512),
      |uni AS (SELECT w, count(*) AS c1 FROM
      |  (SELECT unnest(t) AS w FROM samp) GROUP BY w),
      |big AS MATERIALIZED (SELECT w1, w2, count(*) AS c2 FROM
      |  (SELECT t[i] AS w1, t[i + 1] AS w2 FROM samp,
      |    unnest(generate_series(1, len(t) - 1)) AS s(i)
      |   WHERE len(t) >= 2) GROUP BY w1, w2),
      |tri AS MATERIALIZED (SELECT w1, w2, w3, count(*) AS c3 FROM
      |  (SELECT t[i] AS w1, t[i + 1] AS w2, t[i + 2] AS w3 FROM samp,
      |    unnest(generate_series(1, len(t) - 2)) AS s(i)
      |   WHERE len(t) >= 3) GROUP BY w1, w2, w3),
      |four AS MATERIALIZED (SELECT w1, w2, w3, w4, count(*) AS c4 FROM
      |  (SELECT t[i] AS w1, t[i + 1] AS w2, t[i + 2] AS w3,
      |      t[i + 3] AS w4 FROM samp,
      |    unnest(generate_series(1, len(t) - 3)) AS s(i)
      |   WHERE len(t) >= 4) GROUP BY w1, w2, w3, w4),
      |five AS MATERIALIZED (SELECT w1, w2, w3, w4, w5, count(*) AS c5 FROM
      |  (SELECT t[i] AS w1, t[i + 1] AS w2, t[i + 2] AS w3,
      |      t[i + 3] AS w4, t[i + 4] AS w5 FROM samp,
      |    unnest(generate_series(1, len(t) - 4)) AS s(i)
      |   WHERE len(t) >= 5) GROUP BY w1, w2, w3, w4, w5),
      |n1f AS (SELECT w1, count(*) AS nf FROM big GROUP BY w1),
      |n1b AS (SELECT w2, count(*) AS nb FROM big GROUP BY w2),
      |n1t AS (SELECT w1, w2, count(*) AS nft FROM tri GROUP BY w1, w2),
      |n1q AS (SELECT w1, w2, w3, count(*) AS nfq FROM four
      |  GROUP BY w1, w2, w3),
      |n1p AS (SELECT w1, w2, w3, w4, count(*) AS nfp FROM five
      |  GROUP BY w1, w2, w3, w4),
      |tot AS (SELECT (SELECT count(*) FROM big) AS b,
      |  (SELECT count(*) FROM uni) AS v),
      |cb5 AS (SELECT doc_id, t[i] AS w1, t[i + 1] AS w2, t[i + 2] AS w3,
      |    t[i + 3] AS w4, t[i + 4] AS w5
      |  FROM d, unnest(generate_series(1, len(t) - 4)) AS s(i)
      |  WHERE len(t) >= 5),
      |comp AS (SELECT cb5.doc_id,
      |    CAST(COALESCE(n1b.nb, 0) + 1 AS DOUBLE) /
      |      CAST(tot.b + tot.v + 1 AS DOUBLE) AS pc,
      |    u4.c1 AS c1b, bg45.c2 AS c2b, nf4.nf AS nfb,
      |    bg34.c2 AS c12, nt34.nft AS nft, tr345.c3 AS c3,
      |    tr234.c3 AS cq, nq234.nfq AS nfq, f2345.c4 AS c4g,
      |    f1234.c4 AS cp, np1234.nfp AS nfp, fv.c5 AS c5g
      |  FROM cb5 CROSS JOIN tot
      |  LEFT JOIN uni u4 ON cb5.w4 = u4.w
      |  LEFT JOIN big bg45 ON cb5.w4 = bg45.w1 AND cb5.w5 = bg45.w2
      |  LEFT JOIN n1f nf4 ON cb5.w4 = nf4.w1
      |  LEFT JOIN n1b ON cb5.w5 = n1b.w2
      |  LEFT JOIN big bg34 ON cb5.w3 = bg34.w1 AND cb5.w4 = bg34.w2
      |  LEFT JOIN n1t nt34 ON cb5.w3 = nt34.w1 AND cb5.w4 = nt34.w2
      |  LEFT JOIN tri tr345 ON cb5.w3 = tr345.w1 AND cb5.w4 = tr345.w2
      |    AND cb5.w5 = tr345.w3
      |  LEFT JOIN tri tr234 ON cb5.w2 = tr234.w1 AND cb5.w3 = tr234.w2
      |    AND cb5.w4 = tr234.w3
      |  LEFT JOIN n1q nq234 ON cb5.w2 = nq234.w1 AND cb5.w3 = nq234.w2
      |    AND cb5.w4 = nq234.w3
      |  LEFT JOIN four f2345 ON cb5.w2 = f2345.w1 AND cb5.w3 = f2345.w2
      |    AND cb5.w4 = f2345.w3 AND cb5.w5 = f2345.w4
      |  LEFT JOIN four f1234 ON cb5.w1 = f1234.w1 AND cb5.w2 = f1234.w2
      |    AND cb5.w3 = f1234.w3 AND cb5.w4 = f1234.w4
      |  LEFT JOIN n1p np1234 ON cb5.w1 = np1234.w1 AND cb5.w2 = np1234.w2
      |    AND cb5.w3 = np1234.w3 AND cb5.w4 = np1234.w4
      |  LEFT JOIN five fv ON cb5.w1 = fv.w1 AND cb5.w2 = fv.w2
      |    AND cb5.w3 = fv.w3 AND cb5.w4 = fv.w4 AND cb5.w5 = fv.w5),
      |pbb AS (SELECT doc_id,
      |    CASE WHEN c1b IS NULL OR nfb IS NULL THEN pc
      |      ELSE (GREATEST(CAST(COALESCE(c2b, 0) AS DOUBLE) - 0.75, 0.0)
      |        + 0.75 * CAST(nfb AS DOUBLE) * pc)
      |        / CAST(c1b AS DOUBLE) END AS pb,
      |    c12, nft, c3, cq, nfq, c4g, cp, nfp, c5g
      |  FROM comp),
      |p3b AS (SELECT doc_id,
      |    CASE WHEN c12 IS NULL OR nft IS NULL THEN pb
      |      ELSE (GREATEST(CAST(COALESCE(c3, 0) AS DOUBLE) - 0.75, 0.0)
      |        + 0.75 * CAST(nft AS DOUBLE) * pb)
      |        / CAST(c12 AS DOUBLE) END AS p3,
      |    cq, nfq, c4g, cp, nfp, c5g
      |  FROM pbb),
      |p4b AS (SELECT doc_id,
      |    CASE WHEN cq IS NULL OR nfq IS NULL THEN p3
      |      ELSE (GREATEST(CAST(COALESCE(c4g, 0) AS DOUBLE) - 0.75, 0.0)
      |        + 0.75 * CAST(nfq AS DOUBLE) * p3)
      |        / CAST(cq AS DOUBLE) END AS p4,
      |    cp, nfp, c5g
      |  FROM p3b),
      |lp5 AS (SELECT doc_id, CAST(round(ln(
      |    CASE WHEN cp IS NULL OR nfp IS NULL THEN p4
      |      ELSE (GREATEST(CAST(COALESCE(c5g, 0) AS DOUBLE) - 0.75, 0.0)
      |        + 0.75 * CAST(nfp AS DOUBLE) * p4)
      |        / CAST(cp AS DOUBLE) END), 6) AS DECIMAL(18,6)) AS lnp
      |  FROM p4b),
      |sc5 AS (SELECT doc_id, count(*) AS n_grams, sum(lnp) AS s
      |  FROM lp5 GROUP BY doc_id)
      |SELECT documents.doc_id,
      |  CAST(COALESCE(sc5.n_grams, 0) AS BIGINT) AS n_grams,
      |  round(exp(-(CAST(sc5.s AS DOUBLE) / sc5.n_grams)), 6) AS ppl
      |FROM documents LEFT JOIN sc5 ON documents.doc_id = sc5.doc_id""".stripMargin

  /** Bigram-vs-trigram divergence row (the r13 ask's comparison leg):
    * per-doc ppls from BOTH KN tiers (same en-512 sample), micro-unit
    * floored, one integer-exact aggregate over docs scoreable by both —
    * n_docs, how many the trigram model fits strictly better, and the
    * two ppl sums (mean = sum div n in the reader). */
  private[graft] def qTextKnDivergence(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val en = d.filter(col("lang") === "en")
    val m3 = Importance.trainKnTrigram(en, "text", "doc_id", sampleN = 512)
    val scored = d.select(col("doc_id"),
        Importance.knPerplexityCol(d, "text", m3.bi).as("s2"),
        Importance.knPerplexity3Col(d, "text", m3).as("s3"))
      .filter(col("s2.ppl").isNotNull && col("s3.ppl").isNotNull)
      .select(
        expr("CAST(floor(s2.ppl * 1000000 + 0.5) AS BIGINT)").as("p2"),
        expr("CAST(floor(s3.ppl * 1000000 + 0.5) AS BIGINT)").as("p3"))
    scored.agg(count(lit(1)).as("n_docs"),
      sum(when(col("p3") < col("p2"), 1L).otherwise(0L)).as("n_kn3_better"),
      sum("p2").as("sum_ppl2_micro"),
      sum("p3").as("sum_ppl3_micro"))
  }

  private[graft] val oTextKnDivergence =
    s"""WITH $oKn3Ctes,
      |cb2 AS (SELECT doc_id, t[i] AS w1, t[i + 1] AS w2 FROM d,
      |  unnest(generate_series(1, len(t) - 1)) AS s(i)
      |  WHERE len(t) >= 2),
      |comp2 AS (SELECT cb2.doc_id,
      |    CAST(COALESCE(n1b.nb, 0) + 1 AS DOUBLE) /
      |      CAST(tot.b + tot.v + 1 AS DOUBLE) AS pc,
      |    uni.c1, big.c2, n1f.nf
      |  FROM cb2 CROSS JOIN tot
      |  LEFT JOIN uni ON cb2.w1 = uni.w
      |  LEFT JOIN big ON cb2.w1 = big.w1 AND cb2.w2 = big.w2
      |  LEFT JOIN n1f ON cb2.w1 = n1f.w1
      |  LEFT JOIN n1b ON cb2.w2 = n1b.w2),
      |lp2 AS (SELECT doc_id, CAST(round(ln(
      |    CASE WHEN c1 IS NULL OR nf IS NULL THEN pc
      |      ELSE (GREATEST(CAST(COALESCE(c2, 0) AS DOUBLE) - 0.75, 0.0)
      |        + 0.75 * CAST(nf AS DOUBLE) * pc)
      |        / CAST(c1 AS DOUBLE) END), 6) AS DECIMAL(18,6)) AS lnp
      |  FROM comp2),
      |sc2 AS (SELECT doc_id, count(*) AS n2, sum(lnp) AS s2
      |  FROM lp2 GROUP BY doc_id),
      |paired AS (SELECT
      |    CAST(floor(round(exp(-(CAST(sc2.s2 AS DOUBLE) / sc2.n2)), 6)
      |      * 1000000 + 0.5) AS BIGINT) AS p2,
      |    CAST(floor(round(exp(-(CAST(sc3.s AS DOUBLE) / sc3.n_grams)), 6)
      |      * 1000000 + 0.5) AS BIGINT) AS p3
      |  FROM sc2 JOIN sc3 ON sc2.doc_id = sc3.doc_id)
      |SELECT CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(coalesce(sum(CASE WHEN p3 < p2 THEN 1 END), 0) AS BIGINT)
      |    AS n_kn3_better,
      |  CAST(sum(p2) AS BIGINT) AS sum_ppl2_micro,
      |  CAST(sum(p3) AS BIGINT) AS sum_ppl3_micro
      |FROM paired""".stripMargin

  // =====================================================================
  // Interval (range) join
  // =====================================================================

  /** Attribution: events landing within 7 days of the same user's order,
    * aggregated per order — a BETWEEN join executed as a binned
    * equi-join (no nested-loop, see RangeJoin). */
  private[graft] def qEventsRangeJoin(s: SparkSession, dir: String): DataFrame = {
    // Intervals derived from the events themselves (every 50th event opens
    // a 6-hour window for its user) so the joined result is NON-EMPTY and
    // the oracle checks real matches — TPC-H order dates (1992–98) never
    // overlap the events' time range, so an orders-based window was vacuous.
    val ev = readEvents(s, dir).select("event_id", "user_id", "ts", "value")
    val win = ev.filter(col("event_id") % 50 === 0).select(
      col("event_id").as("window_id"), col("user_id").as("w_user"),
      col("ts").as("w_start"),
      (col("ts") + expr("INTERVAL 6 HOURS")).as("w_end"))
    RangeJoin.pointInInterval(ev, win, "user_id", "w_user", "ts",
        "w_start", "w_end", Seq("window_id"), binWidthSec = 6L * 3600)
      .groupBy("window_id")
      .agg(count(lit(1)).as("n"), sum("value").cast("float").as("v"))
  }

  private[graft] val oEventsRangeJoin =
    """SELECT w.event_id AS window_id, count(*) AS n,
      |       CAST(sum(e.value) AS REAL) AS v
      |FROM events e JOIN events w ON e.user_id = w.user_id
      |  AND w.event_id % 50 = 0
      |  AND CAST(e.ts AS TIMESTAMP) BETWEEN CAST(w.ts AS TIMESTAMP)
      |      AND CAST(w.ts AS TIMESTAMP) + INTERVAL 6 HOUR
      |GROUP BY 1""".stripMargin

  // =====================================================================
  // Dimensional enrichment (broadcast join) + pivot composition
  // =====================================================================

  /** Star-schema enrichment feeding the pivot: customer joined to its
    * (small) nation/region dims with explicit broadcast — the fact side
    * never shuffles for the join, and the pivot's two shuffles are the
    * only data movement. The composition pattern every reference pipeline
    * uses (source → enrich → pivot → sink), on Spark primitives. */
  private[graft] def qJoinPivot(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer")
    val nation = broadcast(t(s, dir, "nation"))
    val region = broadcast(t(s, dir, "region"))
    val enriched = cust
      .join(nation, col("c_nationkey") === col("n_nationkey"))
      .join(region, col("n_regionkey") === col("r_regionkey"))
    f32(PivotOps.pivotConfig(enriched,
        "r_name", "c_mktsegment=BUILDING,MACHINERY,AUTOMOBILE",
        "n: count(*), bal: sum(c_acctbal)").main,
      "BUILDING_bal", "MACHINERY_bal", "AUTOMOBILE_bal")
  }

  private[graft] val oJoinPivot =
    """SELECT r_name,
      |  count(CASE WHEN c_mktsegment='BUILDING' THEN 1 END) AS "BUILDING_n",
      |  count(CASE WHEN c_mktsegment='MACHINERY' THEN 1 END) AS "MACHINERY_n",
      |  count(CASE WHEN c_mktsegment='AUTOMOBILE' THEN 1 END) AS "AUTOMOBILE_n",
      |  CAST(sum(CASE WHEN c_mktsegment='BUILDING' THEN c_acctbal END) AS REAL) AS "BUILDING_bal",
      |  CAST(sum(CASE WHEN c_mktsegment='MACHINERY' THEN c_acctbal END) AS REAL) AS "MACHINERY_bal",
      |  CAST(sum(CASE WHEN c_mktsegment='AUTOMOBILE' THEN c_acctbal END) AS REAL) AS "AUTOMOBILE_bal"
      |FROM customer
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name""".stripMargin

  // =====================================================================
  // Semi-structured extraction (JSON properties column)
  // =====================================================================

  /** Extract a typed field from the events' JSON `props` payload and
    * aggregate — the standard semi-structured hop in an event pipeline.
    * get_json_object is codegen'd path extraction; for repeated
    * multi-field access prefer from_json with an explicit schema (one
    * parse, many fields). */
  private[graft] def qEventsJson(s: SparkSession, dir: String): DataFrame =
    readEvents(s, dir)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("k").as("ksum"),
        min("k").as("kmin"), max("k").as("kmax"))

  private[graft] val oEventsJson =
    """SELECT event_type, count(*) AS n,
      |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS ksum,
      |  min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS kmin,
      |  max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS kmax
      |FROM events GROUP BY event_type""".stripMargin

  /** Population skewness/excess kurtosis (the reference's dead
    * RunningStats surface as Spark built-ins). */
  private[graft] def qProfileMoments(s: SparkSession, dir: String): DataFrame =
    f32(Profile.moments(t(s, dir, "orders"), Seq("o_totalprice", "o_custkey")),
      "skew", "kurt")

  // Spark's skewness = m3/m2^1.5, kurtosis = m4/m2^2 - 3 (population
  // central moments); stated explicitly since DuckDB's built-ins are the
  // sample-corrected variants.
  private[graft] val oProfileMoments = {
    def one(c: String) =
      s"""SELECT '$c' AS "column",
        |  CAST(avg(pow($c - mu, 3)) / pow(avg(pow($c - mu, 2)), 1.5) AS REAL) AS skew,
        |  CAST(avg(pow($c - mu, 4)) / pow(avg(pow($c - mu, 2)), 2) - 3 AS REAL) AS kurt
        |FROM orders CROSS JOIN (SELECT avg($c) AS mu FROM orders) m""".stripMargin
    one("o_totalprice") + "\nUNION ALL\n" + one("o_custkey")
  }

  /** Whole-row extremum selection (the reference's dead MinSelection/
    * MaxSelection SPI surfaced): per priority, fields of the orders row
    * with the max/min key. */
  private[graft] def qFnSelection(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").groupBy("o_orderpriority")
      .agg(
        max_by(struct(col("o_orderkey"), col("o_totalprice"), col("o_orderdate")),
          col("o_orderkey")).as("hi"),
        min_by(struct(col("o_orderkey"), col("o_totalprice"), col("o_orderdate")),
          col("o_orderkey")).as("lo"))
      .select(col("o_orderpriority"),
        col("hi.o_orderkey").as("hi_key"), col("hi.o_totalprice").as("hi_price"),
        col("lo.o_orderkey").as("lo_key"), col("lo.o_totalprice").as("lo_price"))

  private[graft] val oFnSelection =
    """SELECT o_orderpriority,
      |  arg_max(o_orderkey, o_orderkey) AS hi_key,
      |  arg_max(o_totalprice, o_orderkey) AS hi_price,
      |  arg_min(o_orderkey, o_orderkey) AS lo_key,
      |  arg_min(o_totalprice, o_orderkey) AS lo_price
      |FROM orders GROUP BY o_orderpriority""".stripMargin

  // =====================================================================
  // Skew mitigation through the correctness gate
  // =====================================================================

  /** Salted two-stage aggregation over lineitem's 3 hot return-flag keys
    * (the worst case: every row belongs to a hot key) plus a salted exact
    * count-distinct — results must equal the plain single-stage SQL. */
  private[graft] def qSkewAgg(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val salted = Skew.saltedAgg(li, Seq("l_returnflag"), salt = 32,
      partial = Seq(sum("l_quantity").as("__sq"), count(lit(1)).as("__n"),
        min("l_extendedprice").as("__mn")),
      merge = Seq(sum("__sq").cast("float").as("sq"), sum("__n").as("n"),
        min("__mn").as("mn")))
    val cd = Skew.countDistinctSalted(li, Seq("l_returnflag"), "l_orderkey")
    salted.join(cd, "l_returnflag")
  }

  private[graft] val oSkewAgg =
    """SELECT l_returnflag, CAST(sum(l_quantity) AS REAL) AS sq,
      |  count(*) AS n, min(l_extendedprice) AS mn,
      |  count(DISTINCT l_orderkey) AS l_orderkey_distinct
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  // =====================================================================
  // Data profiling
  // =====================================================================

  /** Greedy max-coverage pick of 6 documents over the doc_id < 300
    * slice (see [[Sample.maxCoverage]]): the submodular diverse-subset
    * extractor — each unrolled oracle round replays the argmax of
    * marginal vocabulary gain with the id tie-break, so pick order,
    * ids, AND gains are hash-compared. */
  private[graft] def qSampleMaxCoverage(s: SparkSession,
                                        dir: String): DataFrame =
    Sample.maxCoverage(t(s, dir, "documents").filter(col("doc_id") < 300),
      "text", "doc_id", k = 6, n = 2)

  private[graft] val oSampleMaxCoverage = {
    val rounds = (2 to 6).map { t =>
      s"""p$t AS MATERIALIZED (SELECT id, CAST(count(*) AS BIGINT) AS gain
         |  FROM dt WHERE NOT EXISTS (SELECT 1 FROM c${t - 1}
         |    WHERE c${t - 1}.tok = dt.tok)
         |  GROUP BY 1 ORDER BY gain DESC, id LIMIT 1),
         |c$t AS MATERIALIZED (SELECT tok FROM c${t - 1}
         |  UNION SELECT dt.tok FROM dt JOIN p$t USING (id))""".stripMargin
    }.mkString(",\n")
    s"""WITH tk AS (SELECT doc_id AS id,
      |    list_filter($oToks, x -> x <> '') AS ts
      |  FROM documents WHERE doc_id < 300),
      |dt AS MATERIALIZED (SELECT DISTINCT id, tok
      |  FROM (SELECT id, unnest(CASE WHEN len(ts) >= 2
      |      THEN list_transform(generate_series(1, len(ts) - 1),
      |        i -> ts[i] || ' ' || ts[i + 1])
      |      ELSE CAST([] AS VARCHAR[]) END) AS tok
      |    FROM tk)),
      |p1 AS MATERIALIZED (SELECT id, CAST(count(*) AS BIGINT) AS gain
      |  FROM dt GROUP BY 1 ORDER BY gain DESC, id LIMIT 1),
      |c1 AS MATERIALIZED (SELECT DISTINCT dt.tok FROM dt
      |  JOIN p1 USING (id)),
      |$rounds
      |${(1 to 6).map(t =>
        s"SELECT CAST($t AS BIGINT) AS sel_rank, id, gain FROM p$t")
        .mkString("\nUNION ALL\n")}""".stripMargin
  }

  /** Neyman allocation of a 10k-row sampling budget across the
    * l_returnflag strata by l_quantity variability (see
    * [[Sample.neymanAllocation]]): exact largest-remainder seats —
    * Σ alloc = budget exactly, no float apportionment drift. */
  private[graft] def qSampleNeyman(s: SparkSession, dir: String): DataFrame =
    Sample.neymanAllocation(t(s, dir, "lineitem"), "l_returnflag",
      "l_quantity", budget = 10000L)

  private[graft] val oSampleNeyman = {
    val vm = "CAST(floor(l_quantity * 1000000 + 0.5) AS BIGINT)"
    s"""WITH st AS (SELECT CAST(l_returnflag AS VARCHAR) AS stratum,
      |    CAST(count(*) AS BIGINT) AS n_rows,
      |    sum(CAST($vm AS HUGEINT)) AS sv,
      |    sum(CAST($vm AS HUGEINT) * $vm) AS svv
      |  FROM lineitem WHERE l_quantity IS NOT NULL GROUP BY 1),
      |sd AS (SELECT stratum, n_rows,
      |    CAST(floor(sqrt(CAST(n_rows * svv - sv * sv AS DOUBLE))
      |      / CAST(n_rows AS DOUBLE) + 0.5) AS BIGINT) AS sd_micro
      |  FROM st),
      |w AS (SELECT stratum, n_rows, sd_micro,
      |    n_rows * sd_micro AS weight FROM sd),
      |t AS (SELECT *, CAST(sum(weight) OVER () AS BIGINT) AS tw FROM w),
      |a AS (SELECT *,
      |    CASE WHEN tw > 0 THEN 10000 * weight // tw
      |      ELSE CAST(0 AS BIGINT) END AS fa,
      |    CASE WHEN tw > 0 THEN (10000 * weight) % tw
      |      ELSE CAST(0 AS BIGINT) END AS rem FROM t),
      |l AS (SELECT *, 10000 - CAST(sum(fa) OVER () AS BIGINT) AS lft,
      |    CAST(row_number() OVER (ORDER BY rem DESC, stratum) AS BIGINT)
      |      AS rk FROM a)
      |SELECT stratum, n_rows, sd_micro, CAST(weight AS BIGINT) AS weight,
      |  CAST(CASE WHEN tw > 0 THEN fa +
      |    (CASE WHEN rk <= lft THEN 1 ELSE 0 END)
      |    ELSE 0 END AS BIGINT) AS alloc
      |FROM l""".stripMargin
  }

  /** Column-entropy profile over five categorical columns (see
    * [[Profile.entropy]]): Shannon H in micro-nats + evenness H/ln d —
    * the key-skew read that predicts shuffle hot spots before paying
    * for the shuffle. */
  private[graft] def qProfileEntropy(s: SparkSession, dir: String): DataFrame =
    Seq(
      Profile.entropy(readEvents(s, dir), "event_type", "events.event_type"),
      Profile.entropy(t(s, dir, "lineitem"), "l_returnflag",
        "lineitem.l_returnflag"),
      Profile.entropy(t(s, dir, "orders"), "o_orderstatus",
        "orders.o_orderstatus"),
      Profile.entropy(t(s, dir, "documents"), "lang", "documents.lang"),
      Profile.entropy(t(s, dir, "customer"), "c_mktsegment",
        "customer.c_mktsegment")
    ).reduce(_ unionAll _)

  private[graft] val oProfileEntropy = {
    def leg(tbl: String, c: String, name: String) =
      s"""SELECT '$name' AS col_name, n, d,
         |  CAST(hs // n AS BIGINT) AS h_micro,
         |  CASE WHEN d > 1 THEN CAST((hs // n) * 1000000
         |    // CAST(floor(ln(CAST(d AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)
         |    AS BIGINT) END AS evenness_ppm
         |FROM (SELECT n, d, CAST(sum(ct) AS BIGINT) AS hs
         |  FROM (SELECT n, d, c * CAST(floor(ln(CAST(n AS DOUBLE)
         |      / CAST(c AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS ct
         |    FROM (SELECT c, CAST(sum(c) OVER () AS BIGINT) AS n,
         |        CAST(count(*) OVER () AS BIGINT) AS d
         |      FROM (SELECT $c AS v, count(*) AS c FROM $tbl
         |        WHERE $c IS NOT NULL GROUP BY 1)))
         |  GROUP BY n, d)""".stripMargin
    Seq(leg("events", "event_type", "events.event_type"),
      leg("lineitem", "l_returnflag", "lineitem.l_returnflag"),
      leg("orders", "o_orderstatus", "orders.o_orderstatus"),
      leg("documents", "lang", "documents.lang"),
      leg("customer", "c_mktsegment", "customer.c_mktsegment"))
      .mkString("", "\nUNION ALL\n", "")
  }

  /** Chao1 NDV-from-sample estimation over three columns (see
    * [[Profile.chao1]]): the distinct-count profile you can afford at
    * 100 TB — a stable 20% md5 row sample extrapolated through the
    * singleton/doubleton abundance profile, with the exact-NDV audit
    * columns kept at test scale to report estimator error. */
  private[graft] def qProfileChao(s: SparkSession, dir: String): DataFrame = {
    val li = Profile.chao1(t(s, dir, "lineitem"), "l_partkey",
      concat_ws(":", col("l_orderkey"), col("l_linenumber")), 20,
      "lineitem.l_partkey")
    val or = Profile.chao1(t(s, dir, "orders"), "o_custkey",
      col("o_orderkey"), 20, "orders.o_custkey")
    val ev = Profile.chao1(readEvents(s, dir), "user_id",
      col("event_id"), 20, "events.user_id")
    li.unionAll(or).unionAll(ev)
  }

  private[graft] val oProfileChao = {
    def leg(tbl: String, vcol: String, rowKeySql: String, name: String) =
      s"""SELECT '$name' AS col_name, ex.n_rows, pr.n_sample, pr.d_sample,
         |  pr.f1, pr.f2,
         |  CASE WHEN pr.f2 > 0
         |    THEN pr.d_sample * 1000000 + pr.f1 * pr.f1 * 1000000
         |      // (2 * pr.f2)
         |    ELSE pr.d_sample * 1000000 + pr.f1 * (pr.f1 - 1) * 1000000
         |      // 2 END AS chao1_micro,
         |  ex.d_exact,
         |  ((CASE WHEN pr.f2 > 0
         |    THEN pr.d_sample * 1000000 + pr.f1 * pr.f1 * 1000000
         |      // (2 * pr.f2)
         |    ELSE pr.d_sample * 1000000 + pr.f1 * (pr.f1 - 1) * 1000000
         |      // 2 END) - ex.d_exact * 1000000) // ex.d_exact AS err_ppm
         |FROM (SELECT CAST(count(*) AS BIGINT) AS d_sample,
         |    CAST(sum(c) AS BIGINT) AS n_sample,
         |    CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
         |    CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
         |  FROM (SELECT $vcol AS v, count(*) AS c FROM $tbl
         |    WHERE $vcol IS NOT NULL
         |      AND ('0x' || substr(md5($rowKeySql), 1, 8))::BIGINT
         |        % 100 < 20
         |    GROUP BY 1)) pr,
         |(SELECT CAST(count(*) AS BIGINT) AS n_rows,
         |    CAST(count(DISTINCT $vcol) AS BIGINT) AS d_exact
         |  FROM $tbl WHERE $vcol IS NOT NULL) ex""".stripMargin
    Seq(
      leg("lineitem", "l_partkey",
        "CAST(l_orderkey AS VARCHAR) || ':' || CAST(l_linenumber AS VARCHAR)",
        "lineitem.l_partkey"),
      leg("orders", "o_custkey", "CAST(o_orderkey AS VARCHAR)",
        "orders.o_custkey"),
      leg("events", "user_id", "CAST(event_id AS VARCHAR)",
        "events.user_id")
    ).mkString("", "\nUNION ALL\n", "")
  }

  /** The FD candidate set profiled by `profile_fd` — ONE Seq feeds the
    * engine call and generates the oracle SQL (the web_canonical
    * rule-data pattern), so adding a candidate cannot drift the two. */
  private val fdCandidates: Seq[(String, Seq[(String, String)])] = Seq(
    "orders" -> Seq(
      "o_orderkey" -> "o_custkey",        // key -> anything: holds
      "o_custkey" -> "o_orderpriority",   // repeat customers: violated
      "o_orderstatus" -> "o_orderpriority"),
    "lineitem" -> Seq(
      "l_orderkey" -> "l_returnflag",     // per-line flags under one order
      "l_partkey" -> "l_suppkey"),        // multi-sourced parts
    "customer" -> Seq(
      "c_custkey" -> "c_mktsegment",      // key: holds
      "c_nationkey" -> "c_mktsegment"))   // nations span segments

  /** Approximate functional-dependency discovery (g3 error) over the
    * declared candidate set (see [[Profile.fdAudit]]): which
    * "A determines B" rules hold — exactly, or after deleting how many
    * ppm of rows — before a pipeline keys state or dedups on them. */
  private[graft] def qProfileFd(s: SparkSession, dir: String): DataFrame =
    fdCandidates.map { case (tbl, cands) =>
      Profile.fdAudit(t(s, dir, tbl), tbl, cands)
    }.reduce(_ unionAll _)

  private[graft] val oProfileFd = fdCandidates.flatMap { case (tbl, cands) =>
    cands.map { case (lhs, rhs) =>
      s"""SELECT '$tbl' AS tbl, '$lhs' AS lhs, '$rhs' AS rhs,
         |  CAST(sum(n) AS BIGINT) AS n_rows,
         |  CAST(count(*) AS BIGINT) AS n_lhs,
         |  CAST(sum(p) AS BIGINT) AS n_pairs,
         |  CAST((sum(n) - sum(keep)) * 1000000 // sum(n) AS BIGINT)
         |    AS err_ppm,
         |  sum(n) = sum(keep) AS holds
         |FROM (SELECT l, max(c) AS keep, sum(c) AS n, count(*) AS p
         |  FROM (SELECT $lhs AS l, $rhs AS r, count(*) AS c
         |    FROM $tbl GROUP BY 1, 2) GROUP BY 1)""".stripMargin
    }
  }.mkString("", "\nUNION ALL\n", "")

  /** The IND candidate set probed by `profile_ind` — same shared-data
    * contract as [[fdCandidates]]. (fromTbl, fromCol, toTbl, toCol). */
  private val indCandidates: Seq[(String, String, String, String)] = Seq(
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
    ("orders", "o_orderkey", "lineitem", "l_orderkey"),
    ("part", "p_partkey", "lineitem", "l_partkey"))

  /** Inclusion-dependency / foreign-key discovery over the declared
    * cross-table candidates (see [[Profile.inclusion]]): is every fact
    * value present in the dimension — i.e. is the join lossless, did
    * CDC drop parents, which "FK" is only approximate? */
  private[graft] def qProfileInd(s: SparkSession, dir: String): DataFrame =
    indCandidates.map { case (ft, fc, tt, tc) =>
      Profile.inclusion(t(s, dir, ft), fc, t(s, dir, tt), tc,
        s"$ft.$fc", s"$tt.$tc")
    }.reduce(_ unionAll _)

  private[graft] val oProfileInd = indCandidates.map {
    case (ft, fc, tt, tc) =>
      s"""SELECT '$ft.$fc' AS lhs, '$tt.$tc' AS rhs,
         |  CAST(count(*) AS BIGINT) AS n_lhs,
         |  CAST(sum(CASE WHEN bv.v IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_matched,
         |  CAST(sum(CASE WHEN bv.v IS NOT NULL THEN 1 ELSE 0 END)
         |    * 1000000 // count(*) AS BIGINT) AS coverage_ppm,
         |  sum(CASE WHEN bv.v IS NOT NULL THEN 1 ELSE 0 END) = count(*)
         |    AS contained
         |FROM (SELECT DISTINCT CAST($fc AS VARCHAR) AS v FROM $ft
         |  WHERE $fc IS NOT NULL) av
         |LEFT JOIN (SELECT DISTINCT CAST($tc AS VARCHAR) AS v FROM $tt
         |  WHERE $tc IS NOT NULL) bv ON bv.v = av.v""".stripMargin
  }.mkString("", "\nUNION ALL\n", "")

  private[graft] def qProfileNumeric(s: SparkSession, dir: String): DataFrame = {
    val out = Profile.numeric(t(s, dir, "orders"),
      Seq("o_totalprice", "o_custkey"))
    // mean is an order-dependent double sum — float-quantize; quantiles
    // interpolate between two exact values — stable in double
    out.withColumn("mean", col("mean").cast("float"))
  }

  /** Sketch-profile CONTRACT rows — the raw estimates are
    * sketch-dependent, so per column the query emits exact n and ndv
    * (oracle-checked exactly) plus the bounds a sketch consumer relies
    * on: the HLL++ estimate (rsd 0.01) within 3% of the exact distinct
    * count (3 sigma), and each approx quantile (rank error 1/accuracy =
    * 1e-4) between the exact q∓0.01 quantiles (a 100x rank margin). */
  private[graft] def qProfileSketch(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders")
    val cols = Seq("o_totalprice", "o_custkey")
    val sk = Profile.sketch(orders, cols, rsd = 0.01)
    // ONE percentile buffer per column (array-of-fractions form), not
    // one per bound: exact Percentile buffers every row, and the global
    // aggregate runs on a single reducer — 12 separate buffers cost 6x
    // the work of 2 (measured 6.99 s -> ~2 s on this query)
    val fracs = Seq(0.25, 0.5, 0.95).flatMap(q => Seq(q - 0.01, q + 0.01))
    val exAggs = cols.flatMap { c => Seq(
      count_distinct(col(c)).as(s"${c}__ndv"),
      percentile(col(c), array(fracs.map(lit): _*)).as(s"${c}__qs")) }
    val exStructs = cols.map { c =>
      val qs = col(s"${c}__qs")
      struct(lit(c).as("column"), col(s"${c}__ndv").as("__ndv_exact"),
        qs(0).as("__lo25"), qs(1).as("__hi25"),
        qs(2).as("__lo50"), qs(3).as("__hi50"),
        qs(4).as("__lo95"), qs(5).as("__hi95"))
    }
    val exact = orders.agg(exAggs.head, exAggs.tail: _*)
      .select(explode(array(exStructs: _*)).as("e")).select("e.*")
    sk.join(exact, "column")
      .select(col("column"), col("n"), col("__ndv_exact").as("ndv_exact"),
        (abs(col("ndv") - col("__ndv_exact")) <=
          col("__ndv_exact") * lit(0.03)).as("ndv_ok"),
        col("p25").between(col("__lo25"), col("__hi25")).as("p25_ok"),
        col("p50").between(col("__lo50"), col("__hi50")).as("p50_ok"),
        col("p95").between(col("__lo95"), col("__hi95")).as("p95_ok"))
  }

  private[graft] val oProfileSketch =
    """SELECT 'o_totalprice' AS "column", count(o_totalprice) AS n,
      |  count(DISTINCT o_totalprice) AS ndv_exact, TRUE AS ndv_ok,
      |  TRUE AS p25_ok, TRUE AS p50_ok, TRUE AS p95_ok FROM orders
      |UNION ALL
      |SELECT 'o_custkey', count(o_custkey), count(DISTINCT o_custkey),
      |  TRUE, TRUE, TRUE, TRUE FROM orders""".stripMargin

  private[graft] val oProfileNumeric =
    """SELECT 'o_totalprice' AS "column",
      |  count(o_totalprice) AS n, count(*) - count(o_totalprice) AS nulls,
      |  CAST(min(o_totalprice) AS DOUBLE) AS min, CAST(max(o_totalprice) AS DOUBLE) AS max,
      |  CAST(avg(o_totalprice) AS REAL) AS mean,
      |  quantile_cont(o_totalprice, 0.25) AS p25,
      |  quantile_cont(o_totalprice, 0.5) AS p50,
      |  quantile_cont(o_totalprice, 0.95) AS p95
      |FROM orders
      |UNION ALL
      |SELECT 'o_custkey',
      |  count(o_custkey), count(*) - count(o_custkey),
      |  CAST(min(o_custkey) AS DOUBLE), CAST(max(o_custkey) AS DOUBLE),
      |  CAST(avg(o_custkey) AS REAL),
      |  quantile_cont(CAST(o_custkey AS DOUBLE), 0.25),
      |  quantile_cont(CAST(o_custkey AS DOUBLE), 0.5),
      |  quantile_cont(CAST(o_custkey AS DOUBLE), 0.95)
      |FROM orders""".stripMargin

  // =====================================================================
  // Event-time windowing (streaming-shaped batch aggregation)
  // =====================================================================


  /** Windowed PIVOT: [[graft.streaming.StreamingOps.pivotStream]] on the
    * batch events table — a daily cross-tab of event counts/values by
    * event type per user (the optimizer drops the watermark on batch
    * input; StreamingSpec pins the micro-batched run to the batch
    * pivot). */
  private[graft] def qEventsPivotWindow(s: SparkSession, dir: String): DataFrame = {
    val spec = graft.pivot.PivotSpec.parseOrThrow("user_id",
      "event_type=click,view,purchase", "n:count(*), v:sum(value)")
    val out = graft.streaming.StreamingOps
      .pivotStream(readEvents(s, dir), spec, "ts", "1 day")
      .withColumnRenamed("window_start", "day")
    Seq("click_v", "view_v", "purchase_v").foldLeft(out)((d, n) =>
      d.withColumn(n, col(n).cast("float")))
  }

  private[graft] val oEventsPivotWindow =
    """SELECT user_id,
      |  count(CASE WHEN event_type='click' THEN 1 END) AS click_n,
      |  count(CASE WHEN event_type='view' THEN 1 END) AS view_n,
      |  count(CASE WHEN event_type='purchase' THEN 1 END) AS purchase_n,
      |  CAST(sum(CASE WHEN event_type='click' THEN value END) AS REAL) AS click_v,
      |  CAST(sum(CASE WHEN event_type='view' THEN value END) AS REAL) AS view_v,
      |  CAST(sum(CASE WHEN event_type='purchase' THEN value END) AS REAL) AS purchase_v,
      |  CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS day
      |FROM events GROUP BY user_id, day""".stripMargin

  private[graft] def qEventsWindow(s: SparkSession, dir: String): DataFrame =
    readEvents(s, dir)
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).cast("float").as("total"))
      .select(col("w.start").as("day"), col("event_type"), col("n"), col("total"))

  /** Batch sessionization (30-min gap) — the backfill twin of the
    * streaming flatMapGroupsWithState sessionizer. */
  private[graft] def qEventsSessionize(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamingOps.sessionizeBatch(readEvents(s, dir), 30 * 60 * 1000L)
      .withColumn("total_value", col("total_value").cast("float"))

  private[graft] val oEventsSessionize =
    """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
      |flagged AS (SELECT user_id, ts, value,
      |  CASE WHEN lag(ts) OVER w IS NULL
      |       OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 1800000
      |       THEN 1 ELSE 0 END AS new_sess
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      |sess AS (SELECT user_id, ts, value,
      |  sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
      |  FROM flagged)
      |SELECT user_id, min(ts) AS start, max(ts) AS "end",
      |  count(*) AS n_events, CAST(sum(value) AS REAL) AS total_value
      |FROM sess GROUP BY user_id, sess_id""".stripMargin

  private[graft] val oEventsWindow =
    """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, event_type,
      |  count(*) AS n, CAST(sum(value) AS REAL) AS total
      |FROM events GROUP BY 1, 2""".stripMargin

  /** Daily per-user event grid with explicit zero-filled gap days —
    * time-series regularization over the first 20 users. */
  private[graft] def qEventsResample(s: SparkSession, dir: String): DataFrame =
    Resample.regularize(
      readEvents(s, dir).filter(col("user_id") < 20),
      Seq("user_id"), "ts", "value", stepSec = 86400)
      .withColumn("total", col("total").cast("float"))

  private[graft] val oEventsResample =
    """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value
      |  FROM events WHERE user_id < 20),
      |b AS (SELECT user_id,
      |    CAST(floor(epoch_ms(ts) / 86400000) AS BIGINT) AS bucket,
      |    count(*) AS n, sum(value) AS total
      |  FROM e GROUP BY 1, 2),
      |g AS (SELECT user_id, unnest(generate_series(mn, mx)) AS bucket
      |  FROM (SELECT user_id, min(bucket) AS mn, max(bucket) AS mx
      |        FROM b GROUP BY user_id)),
      |j AS (SELECT g.user_id, g.bucket, COALESCE(b.n, 0) AS n,
      |    CAST(COALESCE(b.total, 0.0) AS REAL) AS total
      |  FROM g LEFT JOIN b ON g.user_id = b.user_id AND g.bucket = b.bucket)
      |SELECT user_id,
      |  TIMESTAMP '1970-01-01' + bucket * 86400 * INTERVAL 1 SECOND
      |    AS bucket_start,
      |  n, total
      |FROM j""".stripMargin

  /** Overlapping activity windows per user (6-hour windows opened by
    * every 50th event × 3-hour windows by every 70th), paired by the
    * binned interval-overlap join — a BETWEEN-free equi-join plan. */
  private[graft] def qEventsIntervalOverlap(s: SparkSession, dir: String): DataFrame = {
    val ev = readEvents(s, dir).select("event_id", "user_id", "ts")
    val winA = ev.filter(col("event_id") % 50 === 0).select(
      col("event_id").as("a_id"), col("user_id"),
      col("ts").as("a_start"),
      (col("ts") + expr("INTERVAL 6 HOURS")).as("a_end"))
    val winB = ev.filter(col("event_id") % 70 === 0).select(
      col("event_id").as("b_id"), col("user_id").as("b_user"),
      col("ts").as("b_start"),
      (col("ts") + expr("INTERVAL 3 HOURS")).as("b_end"))
    RangeJoin.intervalOverlap(winA, winB, "user_id", "b_user",
      "a_start", "a_end", "b_start", "b_end",
      Seq("b_id", "b_start", "b_end"), binWidthSec = 6 * 3600)
  }

  private[graft] val oEventsIntervalOverlap =
    """WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
      |  FROM events),
      |a AS (SELECT event_id AS a_id, user_id, ts AS a_start,
      |    ts + INTERVAL 6 HOUR AS a_end FROM e WHERE event_id % 50 = 0),
      |b AS (SELECT event_id AS b_id, user_id AS b_user, ts AS b_start,
      |    ts + INTERVAL 3 HOUR AS b_end FROM e WHERE event_id % 70 = 0)
      |SELECT a_id, user_id, a_start, a_end, b_id, b_start, b_end
      |FROM a JOIN b ON user_id = b_user
      |  AND a_start <= b_end AND b_start <= a_end""".stripMargin

  // =====================================================================
  // Bloom-pruned join (fact side pruned before the shuffle; result is
  // bit-identical to the plain join — the oracle IS the plain join)
  // =====================================================================

  private[graft] def qJoinBloom(s: SparkSession, dir: String): DataFrame =
    Join.bloomPrunedJoin(
        t(s, dir, "orders"),
        t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING"),
        "o_custkey", "c_custkey", expectedKeys = 100000)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), sum("o_totalprice").cast("float").as("total"))

  private[graft] val oJoinBloom =
    """SELECT o_orderpriority, count(*) AS n,
      |  CAST(sum(o_totalprice) AS REAL) AS total
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |WHERE c_mktsegment = 'BUILDING'
      |GROUP BY o_orderpriority""".stripMargin

  // =====================================================================
  // Mixture sampling (domain-weighting for training corpora)
  // =====================================================================

  /** Resample documents to a 50/25/25 en/de/fr mixture — the largest
    * corpus those weights admit without upsampling, selected by the
    * stable md5 bucket (dyadic weights keep thresholds engine-exact). */
  private[graft] def qSampleMixture(s: SparkSession, dir: String): DataFrame =
    Sample.mixture(t(s, dir, "documents").select("doc_id", "lang"),
      "doc_id", "lang", Map("en" -> 0.5, "de" -> 0.25, "fr" -> 0.25))

  private[graft] val oSampleMixture =
    """WITH w(lang, wt) AS (VALUES ('en', CAST(0.5 AS DOUBLE)),
      |    ('de', CAST(0.25 AS DOUBLE)), ('fr', CAST(0.25 AS DOUBLE))),
      |c AS (SELECT lang, CAST(count(*) AS DOUBLE) AS n
      |  FROM documents GROUP BY lang),
      |j AS (SELECT c.lang, c.n, w.wt FROM c JOIN w USING (lang)),
      |b AS (SELECT floor(min(n / wt)) AS budget FROM j),
      |r AS (SELECT lang, budget * wt / n AS rate FROM j CROSS JOIN b)
      |SELECT d.doc_id, d.lang FROM documents d JOIN r USING (lang)
      |WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
      |      < rate * 4294967296.0""".stripMargin

  /** Character-mass-weighted 50/25/25 mixture: budgets in n_chars units
    * (the consumption unit of a training run), selection still by the
    * stable per-doc md5 bucket. */
  private[graft] def qSampleMixtureTokens(s: SparkSession, dir: String): DataFrame =
    Sample.mixtureByWeight(
      t(s, dir, "documents").select("doc_id", "lang", "n_chars"),
      "doc_id", "lang", "n_chars",
      Map("en" -> 0.5, "de" -> 0.25, "fr" -> 0.25))

  private[graft] val oSampleMixtureTokens =
    """WITH w(lang, wt) AS (VALUES ('en', CAST(0.5 AS DOUBLE)),
      |    ('de', CAST(0.25 AS DOUBLE)), ('fr', CAST(0.25 AS DOUBLE))),
      |c AS (SELECT lang, CAST(sum(n_chars) AS DOUBLE) AS m
      |  FROM documents GROUP BY lang),
      |j AS (SELECT c.lang, c.m, w.wt FROM c JOIN w USING (lang)),
      |b AS (SELECT floor(min(m / wt)) AS budget FROM j),
      |r AS (SELECT lang, budget * wt / m AS rate FROM j CROSS JOIN b)
      |SELECT d.doc_id, d.lang, d.n_chars
      |FROM documents d JOIN r USING (lang)
      |WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
      |      < rate * 4294967296.0""".stripMargin

  /** CCNet-style TRAINED quality classifier: logistic regression over
    * hashed bag-of-words + dense length stats, fit on the Gopher rule
    * battery's weak labels from a capped lowest-id sample, then scored
    * over the whole corpus shuffle-free (broadcast ~8 KB weights). The
    * learned scores are init/lr-dependent, so the CONTRACT is the
    * oracle-checked artifact: scores well-formed in [0,1], and ≥ 75%
    * agreement with the weak labeler corpus-wide (measured 0.834 /
    * 0.864 / 0.869 at sf0.001/0.01/0.1 — deterministic: id-ordered
    * sample, zero init, batch GD, no RNG — against a 0.55 majority
    * base rate; at sf0.1 the 5000-doc evaluation includes 2952
    * held-out docs the 2048-row training sample never saw). */
  private[graft] def qQualityClassifier(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val label = TextFunctions.gopherRules(col("text")).getField("pass")
    val model = Classify.trainQualityClassifier(d, "text", "doc_id", label)
    d.select(label.as("__y"),
        Classify.scoreCol(d, "text", model).as("__p"))
      .agg(
        count(lit(1)).as("n_docs"),
        (min("__p") >= 0.0 && max("__p") <= 1.0).as("scores_ok"),
        (avg(when((col("__p") >= 0.5) === col("__y"), 1.0)
          .otherwise(0.0)) >= 0.75).as("agreement_ok"))
  }

  private[graft] val oQualityClassifier =
    """SELECT count(*) AS n_docs, TRUE AS scores_ok, TRUE AS agreement_ok
      |FROM documents""".stripMargin

  /** The train-once/score-many contract of the classifier tier: the
    * model is persisted (parquet), RELOADED, and the reloaded scores
    * must be bit-identical to the in-memory model's — plus the same
    * well-formedness/agreement contract as `quality_classifier`.
    * Parquet doubles are exact, so `reload_exact` is a strict
    * equality, not a tolerance. */
  private[graft] def qQualityClassifierReload(s: SparkSession, dir: String)
      : DataFrame = {
    val d = t(s, dir, "documents")
    val label = TextFunctions.gopherRules(col("text")).getField("pass")
    val model = Classify.trainQualityClassifier(d, "text", "doc_id", label)
    val path = java.nio.file.Files
      .createTempDirectory("clf_model").toString + "/model"
    Classify.saveModel(s, model, path)
    val reloaded = Classify.loadModel(s, path)
    d.select(label.as("__y"),
        Classify.scoreCol(d, "text", model).as("__p"),
        Classify.scoreCol(d, "text", reloaded).as("__pr"))
      .agg(
        count(lit(1)).as("n_docs"),
        (count(when(col("__p") === col("__pr"), 1)) === count(lit(1)))
          .as("reload_exact"),
        (min("__pr") >= 0.0 && max("__pr") <= 1.0).as("scores_ok"),
        (avg(when((col("__pr") >= 0.5) === col("__y"), 1.0)
          .otherwise(0.0)) >= 0.75).as("agreement_ok"))
  }

  private[graft] val oQualityClassifierReload =
    """SELECT count(*) AS n_docs, TRUE AS reload_exact,
      |  TRUE AS scores_ok, TRUE AS agreement_ok
      |FROM documents""".stripMargin

  /** Temperature-rebalanced (α = 0.5) multilingual mixture: language
    * weights learned from the data as sqrt(char mass) — low-resource
    * langs lifted, heads damped. sqrt is correctly-rounded in every
    * IEEE engine, so the oracle replays the learned weights, budget,
    * and per-row acceptance bit-exactly. */
  private[graft] def qSampleTemperature(s: SparkSession, dir: String): DataFrame =
    Sample.temperatureMixture(
      t(s, dir, "documents").select("doc_id", "lang", "n_chars"),
      "doc_id", "lang", "n_chars", alpha = 0.5)

  private[graft] val oSampleTemperature =
    """WITH c AS (SELECT lang, CAST(sum(n_chars) AS DOUBLE) AS m
      |  FROM documents WHERE lang IS NOT NULL GROUP BY lang),
      |j AS (SELECT lang, m, sqrt(m) AS wt FROM c),
      |b AS (SELECT floor(min(m / wt)) AS budget FROM j),
      |r AS (SELECT lang, budget * wt / m AS rate FROM j CROSS JOIN b)
      |SELECT d.doc_id, d.lang, d.n_chars
      |FROM documents d JOIN r USING (lang)
      |WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
      |      < rate * 4294967296.0""".stripMargin

  // =====================================================================
  // Mergeable HLL sketch rollup (incremental ndv aggregation)
  // =====================================================================

  /** Distinct users per event type, answered from per-(type, day) HLL
    * sketches unioned at query time — the persisted-sketch rollup
    * pattern. The oracle checks the exact ndv and that the sketch
    * estimate lands within 5% of it (the estimate itself is
    * hash-family-dependent, so the CONTRACT is oracle-checked, the raw
    * estimate is spec-pinned in OpsSpec). */
  private[graft] def qProfileHllRollup(s: SparkSession, dir: String): DataFrame = {
    val ev = readEvents(s, dir)
    val sketches = Profile.hllSketches(
      ev.withColumn("day", date_trunc("day", col("ts"))),
      Seq("event_type", "day"), "user_id")
    val rolled = Profile.hllRollup(sketches, Seq("event_type"))
    val exact = ev.groupBy("event_type")
      .agg(count_distinct(col("user_id")).as("ndv_exact"))
    exact.join(rolled, "event_type")
      .select(col("event_type"), col("ndv_exact"),
        (abs(col("ndv_est") - col("ndv_exact")) <=
          col("ndv_exact") * lit(0.05)).as("est_ok"))
  }

  /** Batch twin of [[graft.streaming.StreamingOps.hllSketchStream]] —
    * the transform is declarative, so the identical code runs here on
    * the batch events table (kappa backfill). Contract rows: per
    * (day window × event_type) slice, the sketch estimate must land
    * within 5% of the exact per-slice distinct user count (lgK=12 ⇒
    * ~1.6% rse); the exact side is what the oracle recomputes. The
    * streaming-execution side of the same operator is pinned in
    * StreamingSpec (micro-batched sketches ≡ this batch run). */
  private[graft] def qEventsHllWindow(s: SparkSession, dir: String): DataFrame = {
    val ev = readEvents(s, dir)
    val sk = graft.streaming.StreamingOps.hllSketchStream(
      ev, Seq("event_type"), "user_id", window_ = "1 day")
    val est = sk.select(col("window_start"), col("event_type"),
      hll_sketch_estimate(col("hll")).as("ndv_est"))
    val exact = ev
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(count_distinct(col("user_id")).as("ndv_exact"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("ndv_exact"))
    exact.join(est, Seq("window_start", "event_type"))
      .select(col("window_start"), col("event_type"), col("ndv_exact"),
        (abs(col("ndv_est") - col("ndv_exact")) <=
          col("ndv_exact") * lit(0.05)).as("est_ok"))
  }

  /** Streaming KLL quantile slices, batch twin: per-(day × event_type)
    * value sketches rolled up ACROSS event types to per-day p50/p95 —
    * the incremental-quantile pattern (daily slices answer any coarser
    * rollup). Contract: exact n per window plus estimates within 3× the
    * sketch's rank-error band of the discrete order statistics. */
  private[graft] def qEventsKllWindow(s: SparkSession, dir: String): DataFrame = {
    val ev = readEvents(s, dir)
    val sk = graft.streaming.StreamingOps.kllSketchStream(
      ev, Seq("event_type"), "value", window_ = "1 day")
    val est = Profile.kllQuantiles(sk, Seq("window_start"), Seq(0.5, 0.95))
    val eps = Profile.kllRankError(200) * 3
    def disc(q: Double) = element_at(
      sort_array(collect_list(col("value"))),
      greatest(least(ceil(count(lit(1)) * lit(q)).cast("int"),
        count(lit(1)).cast("int")), lit(1)))
    val exact = ev
      .groupBy(window(col("ts"), "1 day").as("w"))
      .agg(count(col("value")).as("n_exact"),
        disc(0.5 - eps).as("p50_lo"), disc(0.5 + eps).as("p50_hi"),
        disc(0.95 - eps).as("p95_lo"), disc(0.95 + eps).as("p95_hi"))
      .select(col("w.start").as("window_start"), col("n_exact"),
        col("p50_lo"), col("p50_hi"), col("p95_lo"), col("p95_hi"))
    exact.join(est, "window_start")
      .select(col("window_start"), col("n_exact"),
        (col("n") === col("n_exact")).as("n_ok"),
        (col("p50") >= col("p50_lo") && col("p50") <= col("p50_hi"))
          .as("p50_ok"),
        (col("p95") >= col("p95_lo") && col("p95") <= col("p95_hi"))
          .as("p95_ok"))
  }

  private[graft] val oEventsKllWindow =
    """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start,
      |  count(value) AS n_exact, TRUE AS n_ok, TRUE AS p50_ok,
      |  TRUE AS p95_ok
      |FROM events GROUP BY 1""".stripMargin

  /** Batch twin of [[graft.streaming.StreamingOps.topKStream]] (same
    * declarative transform on the batch events table): per (day ×
    * event_type), the 3 highest-value events. Fully deterministic
    * ((value desc, event_id) total order), so the oracle is an exact
    * row_number twin — no contract rows needed. */
  private[graft] def qEventsTopKWindow(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamingOps.topKStream(
      readEvents(s, dir), Seq("event_type"), "value", "event_id", k = 3,
      window_ = "1 day")

  private[graft] val oEventsTopKWindow =
    """WITH ranked AS (SELECT CAST(date_trunc('day', ts) AS TIMESTAMP)
      |    AS window_start, event_type, event_id AS id, value AS score,
      |    CAST(row_number() OVER (
      |      PARTITION BY date_trunc('day', ts), event_type
      |      ORDER BY value DESC, event_id) AS INTEGER) AS rank
      |  FROM events)
      |SELECT window_start, event_type, rank, id, score
      |FROM ranked WHERE rank <= 3""".stripMargin

  private[graft] val oEventsHllWindow =
    """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start,
      |  event_type, count(DISTINCT user_id) AS ndv_exact, TRUE AS est_ok
      |FROM events GROUP BY 1, 2""".stripMargin

  private[graft] val oProfileHllRollup =
    """SELECT event_type, count(DISTINCT user_id) AS ndv_exact,
      |  TRUE AS est_ok
      |FROM events GROUP BY event_type""".stripMargin

  /** Per-priority o_totalprice quantiles read from per-(priority, year)
    * sparse histogram sketches — mergeable quantiles with a one-bin-width
    * error bound. Exact per-group percentiles ride along (DuckDB
    * quantile_cont parity) and the oracle checks the bound held. */
  private[graft] def qProfileHistQuantile(s: SparkSession, dir: String): DataFrame = {
    val (lo, hi, bins) = (0.0, 600000.0, 200)
    val o = t(s, dir, "orders")
      .withColumn("oyear", year(col("o_orderdate").cast("timestamp")))
    val sk = Profile.histSketches(o, Seq("o_orderpriority", "oyear"),
      "o_totalprice", lo, hi, bins)
    val est = Profile.histQuantiles(sk, Seq("o_orderpriority"),
      Seq(0.5, 0.95), lo, hi, bins)
    // The mid-bin estimate is bounded (≤ one bin width) against the
    // DISCRETE order statistic — the smallest value whose rank reaches
    // q·n, which by construction lies in the selected bin. The
    // interpolated percentile can sit arbitrarily far into a sparse gap
    // between order stats, so it is reported for value parity but not
    // used for the bound.
    def disc(q: Double) = element_at(
      sort_array(collect_list(col("o_totalprice"))),
      ceil(count(lit(1)) * lit(q)).cast("int"))
    val exact = o.groupBy("o_orderpriority").agg(
      percentile(col("o_totalprice"), lit(0.5)).as("p50_exact"),
      percentile(col("o_totalprice"), lit(0.95)).as("p95_exact"),
      disc(0.5).as("p50_disc"), disc(0.95).as("p95_disc"))
    val width = (hi - lo) / bins
    exact.join(est, "o_orderpriority")
      .select(col("o_orderpriority"), col("p50_exact"), col("p95_exact"),
        (abs(col("p50") - col("p50_disc")) <= lit(width)).as("p50_ok"),
        (abs(col("p95") - col("p95_disc")) <= lit(width)).as("p95_ok"))
  }

  private[graft] val oProfileHistQuantile =
    """SELECT o_orderpriority,
      |  quantile_cont(o_totalprice, 0.5) AS p50_exact,
      |  quantile_cont(o_totalprice, 0.95) AS p95_exact,
      |  TRUE AS p50_ok, TRUE AS p95_ok
      |FROM orders GROUP BY o_orderpriority""".stripMargin

  /** KLL quantile rollup: per-(priority, year) slice sketches merged up
    * to priority, p50/p95 read from the merged sketch. CONTRACT oracle:
    * n is the exact count (engine-agnostic), and each estimate must sit
    * within 3× the sketch's 99%-confidence rank-error band of the
    * exact discrete order statistics — literal TRUE on the oracle side.
    * (KLL compaction is randomized, so the raw sketch bytes are not
    * hashable; the rank contract is the portable truth.) */
  private[graft] def qProfileKllQuantile(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
      .withColumn("oyear", year(col("o_orderdate").cast("timestamp")))
    val sk = Profile.kllSketches(o, Seq("o_orderpriority", "oyear"),
      "o_totalprice", k = 200)
    val est = Profile.kllQuantiles(sk, Seq("o_orderpriority"),
      Seq(0.5, 0.95), k = 200)
    val eps = Profile.kllRankError(200) * 3
    def disc(q: Double) = element_at(
      sort_array(collect_list(col("o_totalprice"))),
      greatest(least(ceil(count(lit(1)) * lit(q)).cast("int"),
        count(lit(1)).cast("int")), lit(1)))
    val exact = o.groupBy("o_orderpriority").agg(
      percentile(col("o_totalprice"), lit(0.5)).as("p50_exact"),
      percentile(col("o_totalprice"), lit(0.95)).as("p95_exact"),
      disc(0.5 - eps).as("p50_lo"), disc(0.5 + eps).as("p50_hi"),
      disc(0.95 - eps).as("p95_lo"), disc(0.95 + eps).as("p95_hi"))
    exact.join(est, "o_orderpriority")
      .select(col("o_orderpriority"), col("p50_exact"), col("p95_exact"),
        col("n"),
        (col("p50") >= col("p50_lo") && col("p50") <= col("p50_hi"))
          .as("p50_ok"),
        (col("p95") >= col("p95_lo") && col("p95") <= col("p95_hi"))
          .as("p95_ok"))
  }

  private[graft] val oProfileKllQuantile =
    """SELECT o_orderpriority,
      |  quantile_cont(o_totalprice, 0.5) AS p50_exact,
      |  quantile_cont(o_totalprice, 0.95) AS p95_exact,
      |  count(*) AS n, TRUE AS p50_ok, TRUE AS p95_ok
      |FROM orders GROUP BY o_orderpriority""".stripMargin

  /** Outlier clipping: o_totalprice winsorized into its priority
    * group's exact [p05, p95] band. */
  private[graft] def qProfileWinsorize(s: SparkSession, dir: String): DataFrame =
    Profile.winsorize(
      t(s, dir, "orders").select("o_orderkey", "o_orderpriority",
        "o_totalprice"),
      Seq("o_orderpriority"), "o_totalprice", loQ = 0.05, hiQ = 0.95)

  private[graft] val oProfileWinsorize =
    """WITH b AS (SELECT o_orderpriority,
      |    quantile_cont(o_totalprice, 0.05) AS lo,
      |    quantile_cont(o_totalprice, 0.95) AS hi
      |  FROM orders GROUP BY o_orderpriority)
      |SELECT orders.o_orderpriority, o_orderkey, o_totalprice,
      |  least(greatest(CAST(o_totalprice AS DOUBLE), lo), hi)
      |    AS o_totalprice_w
      |FROM orders JOIN b ON orders.o_orderpriority = b.o_orderpriority""".stripMargin

  /** Heavy hitters from per-language frequency sketches merged to a
    * global top-10. The corpus vocabulary (31 terms) is far below the
    * sketch's eviction point, so every slice is in EXACT mode and the
    * merged estimates equal true counts — the oracle compares exact
    * values (the theta-sketch precedent); beyond exact mode the same
    * query degrades to the ±3.5·n/maxMapSize bound with no false
    * negatives. */
  private[graft] def qProfileFreqItems(s: SparkSession, dir: String): DataFrame = {
    val words = t(s, dir, "documents")
      .select(col("lang"),
        explode_outer(TextFunctions.tokens(col("text"))).as("term"))
      .filter(col("term") =!= "")
    val sk = Profile.freqSketches(words, Seq("lang"), "term")
    Profile.freqTopItems(sk, Seq.empty, k = 10)
  }

  private[graft] val oProfileFreqItems =
    s"""WITH t AS (SELECT unnest($oToks) AS term FROM documents),
      |c AS (SELECT term, count(*) AS n FROM t WHERE term <> '' GROUP BY term),
      |r AS (SELECT term, n, CAST(row_number() OVER (
      |    ORDER BY n DESC, term) AS INTEGER) AS rank FROM c)
      |SELECT rank, term AS item, n AS est, n AS lb, n AS ub
      |FROM r WHERE rank <= 10""".stripMargin

  /** Audience overlap between event types from persisted theta sketches.
    * At the oracle scale factors every segment holds < 2^12 distinct
    * users, so the sketches are in exact mode and the oracle compares
    * EXACT values (the DuckDB side computes true distinct overlap
    * counts); beyond exact mode the same query degrades to ~1.6% error. */
  private[graft] def qProfileThetaOverlap(s: SparkSession, dir: String): DataFrame = {
    val sk = Profile.thetaSketches(readEvents(s, dir),
      Seq("event_type"), "user_id")
    Profile.thetaOverlap(sk, "event_type")
  }

  private[graft] val oProfileThetaOverlap =
    """WITH s AS (SELECT DISTINCT event_type, user_id FROM events),
      |cnt AS (SELECT event_type, count(*) AS n FROM s GROUP BY 1),
      |inter AS (SELECT a.event_type AS seg_a, b.event_type AS seg_b,
      |    count(*) AS n_and
      |  FROM s a JOIN s b ON a.user_id = b.user_id
      |    AND a.event_type < b.event_type
      |  GROUP BY 1, 2)
      |SELECT ca.event_type AS seg_a, cb.event_type AS seg_b,
      |  ca.n AS n_a, cb.n AS n_b,
      |  COALESCE(i.n_and, 0) AS n_and,
      |  ca.n + cb.n - COALESCE(i.n_and, 0) AS n_or,
      |  CAST(COALESCE(i.n_and, 0) AS DOUBLE)
      |    / (ca.n + cb.n - COALESCE(i.n_and, 0)) AS jaccard
      |FROM cnt ca JOIN cnt cb ON ca.event_type < cb.event_type
      |LEFT JOIN inter i
      |  ON i.seg_a = ca.event_type AND i.seg_b = cb.event_type""".stripMargin

  val registry: Seq[Query] = Seq(
    Query("sample_split", qSampleSplit, oSampleSplit),
    Query("sample_repeat_schedule", qSampleRepeatSchedule, oSampleRepeatSchedule),
    Query("quality_classifier", qQualityClassifier, oQualityClassifier),
    Query("quality_classifier_reload", qQualityClassifierReload, oQualityClassifierReload),
    Query("sample_max_coverage", qSampleMaxCoverage, oSampleMaxCoverage),
    Query("profile_entropy", qProfileEntropy, oProfileEntropy),
    Query("sample_neyman", qSampleNeyman, oSampleNeyman),
    Query("profile_chao", qProfileChao, oProfileChao),
    Query("profile_fd", qProfileFd, oProfileFd),
    Query("profile_ind", qProfileInd, oProfileInd),
    Query("profile_numeric", qProfileNumeric, oProfileNumeric),
    Query("profile_sketch", qProfileSketch, oProfileSketch),
    Query("skew_agg", qSkewAgg, oSkewAgg),
    Query("profile_moments", qProfileMoments, oProfileMoments),
    Query("fn_selection", qFnSelection, oFnSelection),
    Query("events_window", qEventsWindow, oEventsWindow),
    Query("events_pivot_window", qEventsPivotWindow, oEventsPivotWindow),
    Query("events_sessionize", qEventsSessionize, oEventsSessionize),
    Query("events_json", qEventsJson, oEventsJson),
    Query("events_range_join", qEventsRangeJoin, oEventsRangeJoin),
    Query("events_interval_overlap", qEventsIntervalOverlap, oEventsIntervalOverlap),
    Query("events_resample", qEventsResample, oEventsResample),
    Query("sample_stratified", qSampleStratified, oSampleStratified),
    Query("sample_priority", qSamplePriority, oSamplePriority),
    Query("sample_dsir", qSampleDsir, oSampleDsir),
    Query("text_perplexity", qTextPerplexity, oTextPerplexity),
    Query("text_perplexity_kn", qTextPerplexityKn, oTextPerplexityKn),
    Query("text_perplexity_kn3", qTextPerplexityKn3, oTextPerplexityKn3),
    Query("text_perplexity_kn5", qTextPerplexityKn5, oTextPerplexityKn5),
    Query("text_kn_divergence", qTextKnDivergence, oTextKnDivergence),
    Query("join_pivot", qJoinPivot, oJoinPivot),
    Query("join_bloom", qJoinBloom, oJoinBloom),
    Query("sample_mixture", qSampleMixture, oSampleMixture),
    Query("sample_mixture_tokens", qSampleMixtureTokens, oSampleMixtureTokens),
    Query("sample_temperature", qSampleTemperature, oSampleTemperature),
    Query("profile_hll_rollup", qProfileHllRollup, oProfileHllRollup),
    Query("events_hll_window", qEventsHllWindow, oEventsHllWindow),
    Query("events_kll_window", qEventsKllWindow, oEventsKllWindow),
    Query("events_topk_window", qEventsTopKWindow, oEventsTopKWindow),
    Query("profile_theta_overlap", qProfileThetaOverlap, oProfileThetaOverlap),
    Query("profile_hist_quantile", qProfileHistQuantile, oProfileHistQuantile),
    Query("profile_kll_quantile", qProfileKllQuantile, oProfileKllQuantile),
    Query("profile_freq_items", qProfileFreqItems, oProfileFreqItems),
    Query("profile_winsorize", qProfileWinsorize, oProfileWinsorize)
  )
}
