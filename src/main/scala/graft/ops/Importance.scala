package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.GraftShim.materialize
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** DSIR-style importance resampling (Xie et al., "Data Selection for
  * Language Models via Importance Resampling", NeurIPS 2023): select
  * raw-corpus documents whose hashed n-gram distribution looks like a
  * TARGET corpus, by importance weights under two bag-of-hashed-ngram
  * unigram models, sampled with Gumbel top-k.
  *
  *   log w(doc) = Σ_b count_b(doc) · (ln p_b − ln q_b)
  *
  * where p/q are add-1-smoothed bucket frequencies of the target/raw
  * corpus and b ranges over `buckets` hash buckets of word n-grams.
  *
  * Scale shape: both corpus models are ONE explode + aggregate each,
  * reduced to `buckets` rows (a broadcast-sized table no matter how
  * large the corpora); per-doc weights are a second explode joined
  * map-side against the broadcast log-ratio table; Gumbel top-k is a
  * bounded global TakeOrdered. No driver-side vocabulary, no shuffle
  * of raw text.
  *
  * Numeric portability: per-bucket log-ratios are rounded to 6 dp and
  * accumulated as DECIMAL (count × delta is exact), so per-doc weights
  * do not depend on float summation order; the Gumbel noise is derived
  * from the stable md5 uniform, making "sampling" deterministic across
  * runs, engines and partitionings. */
object Importance {

  /** Sliding word n-grams WITH multiplicity (unlike Dedup.shingles,
    * which dedupes — counts matter for a unigram LM) over an ALREADY
    * TOKENIZED array column. Taking the token array (not raw text)
    * matters: an expression tree that tokenized inline would re-run
    * the regex tokenizer once PER GRAM inside the transform lambda —
    * measured ~15× slower on the documents corpus. Callers bind
    * [[TextFunctions.tokens]] to a column first. */
  private[ops] def gramsFromTokens(toks: Column, n: Int): Column = {
    val cnt = size(toks) - (n - 1)
    when(cnt >= 1,
      transform(sequence(lit(1), cnt),
        i => concat_ws(" ", slice(toks, i, lit(n)))))
      .otherwise(array().cast("array<string>"))
  }

  /** One (doc) → exploded gram rows, tokenizing once per row.
    * explode_outer + null drop, not plain explode: the inferred
    * size(...) > 0 generator filter would re-inline the whole gram
    * expression (tokenizer included) as a per-row predicate below the
    * projection — doubling the explode's cost. */
  private def explodedGrams(df: DataFrame, textCol: String, n: Int,
                            carry: Seq[String]): DataFrame =
    df.select((carry.map(col) :+
        TextFunctions.tokens(col(textCol)).as("__t")): _*)
      .select((carry.map(col) :+
        explode_outer(gramsFromTokens(col("__t"), n)).as("g")): _*)
      .filter(col("g").isNotNull)

  /** Stable hash bucket of a gram in [0, buckets): md5-based, the same
    * engine-portable family as Sample.bucket. */
  private[ops] def gramBucket(g: Column, buckets: Int): Column =
    pmod(conv(substring(md5(g), 1, 8), 16, 10).cast("long"),
      lit(buckets.toLong)).cast("int")

  /** Per-document hashed-ngram bucket counts: (id, b, cnt). */
  def ngramBucketCounts(df: DataFrame, textCol: String, idCol: String,
                        n: Int, buckets: Int): DataFrame =
    explodedGrams(df.withColumn("__gid", col(idCol)), textCol, n,
      Seq("__gid"))
      .select(col("__gid").as("id"), gramBucket(col("g"), buckets).as("b"))
      .groupBy("id", "b").agg(count(lit(1)).as("cnt"))

  /** delta = round(ln p − ln q, 6) from materialized (b, c) bucket
    * tables — the tail of the fused [[dsirWeights]] path. */
  private def ratioTable(rc: DataFrame, tc: DataFrame,
                         buckets: Int): DataFrame = {
    val tTot = tc.agg(coalesce(sum("c"), lit(0L))).head.getLong(0)
    val rTot = rc.agg(coalesce(sum("c"), lit(0L))).head.getLong(0)
    val denT = lit(tTot.toDouble + buckets)
    val denR = lit(rTot.toDouble + buckets)
    rc.join(tc.withColumnRenamed("c", "ct"), Seq("b"), "left")
      .select(col("b"),
        round(log((coalesce(col("ct"), lit(0L)) + lit(1L)).cast("double") / denT) -
          log((col("c") + lit(1L)).cast("double") / denR), 6)
          .cast("decimal(18,6)").as("delta"))
  }

  /** Per-document DSIR importance log-weights over the raw corpus:
    * (id, logw DOUBLE). Documents with no n-grams get logw = 0. */
  def dsirWeights(raw: DataFrame, target: DataFrame, textCol: String,
                  idCol: String, n: Int = 2,
                  buckets: Int = 1024): DataFrame = {
    // The per-doc bucket index is the q-model's sufficient statistic:
    // aggregating it by bucket IS the raw-corpus model, so one explode
    // serves both (it is also the artifact you would persist at scale —
    // the same reuse argument as TextRank's term index). Checkpointed
    // because the index feeds two consumers (the model aggregate and
    // the weight join) that would otherwise re-run the explode.
    val docB =
      materialize(ngramBucketCounts(raw, textCol, idCol, n, buckets)).df
    val rc = docB.groupBy("b").agg(sum("cnt").as("c"))
    val tc = materialize(explodedGrams(target, textCol, n, Seq.empty)
      .select(gramBucket(col("g"), buckets).as("b"))
      .groupBy("b").agg(count(lit(1)).as("c"))).df
    val delta = broadcast(ratioTable(rc, tc, buckets))
    val summed = docB.join(delta, "b")
      .groupBy("id")
      .agg(sum(col("cnt") * col("delta")).as("__w"))
    raw.select(col(idCol).as("id"))
      .join(summed, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("__w").cast("double"), lit(0.0)).as("logw"))
  }

  /** Add-1-smoothed hashed-ngram log-probability model fitted on a
    * reference corpus: EXACTLY `buckets` rows (b, lnp DECIMAL(18,6)),
    * unseen buckets included at the smoothing floor — so scoring never
    * needs out-of-vocabulary special cases. Broadcast-sized state a
    * quality gate persists and reuses across ingest batches. */
  def bucketLogProbs(corpus: DataFrame, textCol: String, n: Int,
                     buckets: Int): DataFrame = {
    val spark = corpus.sparkSession
    // materialized once: the total, the bucket-frame join and any
    // downstream collect (modelToArray) would each re-run the corpus
    // explode otherwise; the aggregate is ≤ `buckets` rows, and its job
    // also sums the total
    val cm = materialize(explodedGrams(corpus, textCol, n, Seq.empty)
      .select(gramBucket(col("g"), buckets).as("b"))
      .groupBy("b").agg(count(lit(1)).as("c")), sumCol = Some("c"))
    val (counts, tot) = (cm.df, cm.sum)
    val den = lit(tot.toDouble + buckets)
    spark.range(buckets).select(col("id").cast("int").as("b"))
      .join(counts, Seq("b"), "left")
      .select(col("b"),
        round(log((coalesce(col("c"), lit(0L)) + lit(1L)).cast("double") / den), 6)
          .cast("decimal(18,6)").as("lnp"))
  }

  /** Per-document perplexity under a [[bucketLogProbs]] model:
    *   ppl = exp(−(Σ_b count_b · lnp_b) / N)
    * over the doc's N hashed n-grams — the classic LM quality signal
    * (high perplexity = unlike the reference corpus; CCNet/LLaMA-style
    * filtering keeps the low-perplexity tail). Returns
    * (id, n_grams, ppl), ppl NULL for docs with no n-grams. Decimal
    * accumulation + 6-dp round keep it engine-portable; scoring is one
    * explode + a broadcast join against the `buckets`-row model. */
  def perplexity(df: DataFrame, textCol: String, idCol: String,
                 model: DataFrame, n: Int = 2,
                 buckets: Int = 1024): DataFrame = {
    val docB = ngramBucketCounts(df, textCol, idCol, n, buckets)
    val scored = docB.join(broadcast(model), "b")
      .groupBy("id")
      .agg(sum("cnt").as("n_grams"),
        sum(col("cnt") * col("lnp")).as("__s"))
    df.select(col(idCol).as("id"))
      .join(scored, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        round(exp(-(col("__s").cast("double") / col("n_grams"))), 6).as("ppl"))
  }

  /** Collect a [[bucketLogProbs]] model to the lnp array a broadcast
    * scorer indexes by bucket — `buckets` BigDecimals, KB-sized. */
  def modelToArray(model: DataFrame): Array[java.math.BigDecimal] = {
    val rows = model.select(col("b"), col("lnp")).collect()
    val out = new Array[java.math.BigDecimal](rows.length)
    rows.foreach(r => out(r.getInt(0)) = r.getDecimal(1))
    require(out.forall(_ != null), "model must cover every bucket")
    out
  }

  /** SHUFFLE-FREE per-row perplexity: tokenizes, hashes and scores a
    * document entirely inside one JVM function over the broadcast lnp
    * array — no explode, no aggregation, so it runs in a plain
    * `select` on a BATCH corpus (the fast path when only the score is
    * needed) or on a STREAM (a stateless quality gate needs no
    * watermark or state store). BigDecimal accumulation is exact and
    * order-free, so the result is BIT-EQUAL to [[perplexity]]'s
    * aggregate path (spec-pinned). Returns a struct (n_grams, ppl);
    * ppl is NULL for gram-less docs. */
  def perplexityCol(df: DataFrame, textCol: String,
                    modelLnp: Array[java.math.BigDecimal], n: Int = 2,
                    buckets: Int = 1024): Column = {
    require(modelLnp.length == buckets, "model size must equal buckets")
    val bc = df.sparkSession.sparkContext.broadcast(modelLnp)
    val score = udf { (text: String) =>
      val lnp = bc.value
      if (text == null) (0L, None: Option[Double])
      else {
        // the shared exact twin of TextFunctions.tokens (space-only
        // trim, Locale.ROOT lower, \s+ collapse)
        val toks = TextFunctions.tokensJvm(text)
        var i = 0
        var cnt = 0L
        var sum = java.math.BigDecimal.ZERO
        val md = java.security.MessageDigest.getInstance("MD5")
        while (i + n <= toks.length) {
          val gram = toks.slice(i, i + n).mkString(" ")
          val d = md.digest(gram.getBytes("UTF-8"))
          // first 8 hex chars of md5 == first 4 bytes, unsigned
          val h = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
            ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
          sum = sum.add(lnp((h % buckets).toInt))
          cnt += 1
          i += 1
        }
        if (cnt == 0) (0L, None: Option[Double])
        else {
          val ppl = math.exp(-(sum.doubleValue / cnt))
          // java BigDecimal.valueOf = Spark Round's decimal path
          (cnt, Some(java.math.BigDecimal.valueOf(ppl)
            .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue))
        }
      }
    }
    score(col(textCol)).cast("struct<n_grams:long,ppl:double>")
  }

  /** An interpolated Kneser–Ney bigram language model over WORDS
    * (the CCNet/KenLM-style quality tier, where [[bucketLogProbs]] is
    * the hashed add-1 baseline): absolute discount D = 0.75 on seen
    * bigrams, with the discounted mass re-routed through the
    * CONTINUATION distribution — P_cont ∝ "how many distinct contexts
    * does this word follow", the fix for add-1's overestimate of
    * frequent-but-context-bound words ("francisco" scores high in
    * unigram counts but follows only "san").
    *
    *   P(w2|w1) = (max(c(w1 w2) − D, 0) + D · N1+(w1 •) · P_cont(w2))
    *              / c(w1)            when c(w1) > 0 and N1+(w1 •) > 0
    *            = P_cont(w2)         otherwise
    *   P_cont(w2) = (N1+(• w2) + 1) / (B + V + 1)
    *
    * (+1/(B+V+1) floors unseen continuations so OOV stays finite —
    * a sub-distribution, documented deviation from textbook KN. The
    * N1+(w1 •) = 0 backoff covers the sample-final-only word, whose
    * history otherwise carries zero mass and P would hit log 0.)
    *
    * D = 0.75 is DYADIC, every other term is an integer count, and
    * both engines evaluate the identical expression shape — so scores
    * replay bit-comparably in SQL after the 6-dp round (the same
    * portability recipe as [[bucketLogProbs]]).
    *
    * All counts come from [[trainKnBigram]]'s bounded sample; maps are
    * a few MB at sampleN ≈ thousands — broadcast-sized. */
  final case class KnBigramModel(uni: Map[String, Long],
                                 big: Map[String, Long],
                                 n1fwd: Map[String, Int],
                                 n1back: Map[String, Int],
                                 bigramTypes: Long, vocab: Long) {
    /** Continuation probability (add-1-floored). */
    def pcont(w2: String): Double =
      (n1back.getOrElse(w2, 0) + 1).toDouble /
        (bigramTypes + vocab + 1).toDouble

    /** Interpolated-KN bigram probability; always in (0, 1]. */
    def prob(w1: String, w2: String): Double = {
      val c1 = uni.getOrElse(w1, 0L)
      val nf = n1fwd.getOrElse(w1, 0)
      val pc = pcont(w2)
      if (c1 == 0L || nf == 0) pc
      else {
        val c2 = big.getOrElse(w1 + " " + w2, 0L)
        (math.max(c2 - 0.75, 0.0) + 0.75 * nf * pc) / c1
      }
    }
  }

  /** Train a [[KnBigramModel]] on the `sampleN` lowest-id documents —
    * the bounded deterministic train-sample pattern shared with
    * [[Classify.trainQualityClassifier]] and [[Tokenize.trainVocab]]:
    * the corpus is never collected, only the capped sample, and the
    * lowest-id rule makes the model identical across runs, partitions
    * and engines. Tokenization is [[TextFunctions.tokensJvm]], the
    * exact JVM twin of the SQL tokenizer. */
  def trainKnBigram(df: DataFrame, textCol: String, idCol: String,
                    sampleN: Int = 2048): KnBigramModel = {
    require(sampleN > 0, "sampleN must be positive")
    val texts = df.orderBy(col(idCol)).limit(sampleN)
      .select(col(textCol).cast("string")).collect()
      .map(_.getString(0)).filter(_ != null)
    require(texts.nonEmpty, "trainKnBigram: empty sample")
    val uni = scala.collection.mutable.HashMap.empty[String, Long]
    val big = scala.collection.mutable.HashMap.empty[String, Long]
    texts.foreach { t =>
      val toks = TextFunctions.tokensJvm(t)
      var i = 0
      while (i < toks.length) {
        uni.update(toks(i), uni.getOrElse(toks(i), 0L) + 1L)
        if (i + 1 < toks.length) {
          val b = toks(i) + " " + toks(i + 1)
          big.update(b, big.getOrElse(b, 0L) + 1L)
        }
        i += 1
      }
    }
    val n1fwd = scala.collection.mutable.HashMap.empty[String, Int]
    val n1back = scala.collection.mutable.HashMap.empty[String, Int]
    big.keysIterator.foreach { k =>
      val sp = k.indexOf(' ')
      val w1 = k.substring(0, sp)
      val w2 = k.substring(sp + 1)
      n1fwd.update(w1, n1fwd.getOrElse(w1, 0) + 1)
      n1back.update(w2, n1back.getOrElse(w2, 0) + 1)
    }
    KnBigramModel(uni.toMap, big.toMap, n1fwd.toMap, n1back.toMap,
      big.size.toLong, uni.size.toLong)
  }

  /** SHUFFLE-FREE per-row KN perplexity — the [[perplexityCol]] shape
    * over the word-level model: each document's bigrams are scored
    * inside one JVM function against the broadcast model, per-bigram
    * log-probs rounded to 6 dp and accumulated as BigDecimal (exact,
    * order-free), so the result replays in SQL and gates streams
    * statelessly. Returns struct (n_grams, ppl); ppl NULL for docs
    * with < 2 tokens. */
  def knPerplexityCol(df: DataFrame, textCol: String,
                      model: KnBigramModel): Column = {
    val bc = df.sparkSession.sparkContext.broadcast(model)
    val score = udf { (text: String) =>
      if (text == null) (0L, None: Option[Double])
      else {
        val m = bc.value
        val toks = TextFunctions.tokensJvm(text)
        var i = 0
        var cnt = 0L
        var sum = java.math.BigDecimal.ZERO
        while (i + 2 <= toks.length) {
          val lnp = java.math.BigDecimal
            .valueOf(math.log(m.prob(toks(i), toks(i + 1))))
            .setScale(6, java.math.RoundingMode.HALF_UP)
          sum = sum.add(lnp)
          cnt += 1
          i += 1
        }
        if (cnt == 0) (0L, None: Option[Double])
        else {
          val ppl = math.exp(-(sum.doubleValue / cnt))
          (cnt, Some(java.math.BigDecimal.valueOf(ppl)
            .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue))
        }
      }
    }
    score(col(textCol)).cast("struct<n_grams:long,ppl:double>")
  }

  /** An interpolated Kneser–Ney TRIGRAM model backing off through the
    * shipped [[KnBigramModel]] (r13 ask #5 — the CCNet-class filter
    * tier between the bigram rail and a full 5-gram KenLM):
    *
    *   P(w3|w1 w2) = (max(c(w1w2w3) − D, 0) + D · N1+(w1w2 •)
    *                  · P_bi(w3|w2)) / c(w1 w2)
    *                       when c(w1 w2) > 0 and N1+(w1w2 •) > 0
    *               = P_bi(w3|w2)    otherwise
    *
    * with D = 0.75 (dyadic) and P_bi the EXACT bigram estimator above
    * — a documented deviation from textbook modified-KN, which would
    * use continuation bigram counts at the middle layer; routing the
    * discounted mass through the already-proven bigram tier keeps
    * every term an integer count or the bigram expression, so the
    * whole three-layer score replays in SQL bit-comparably after the
    * same 6-dp per-gram round. Counts come from the same bounded
    * lowest-id sample as the bigram tier (one pass builds both). */
  final case class KnTrigramModel(bi: KnBigramModel,
                                  tri: Map[String, Long],
                                  n1tri: Map[String, Int]) {
    /** Interpolated-KN trigram probability; always in (0, 1]. */
    def prob(w1: String, w2: String, w3: String): Double = {
      val c12 = bi.big.getOrElse(w1 + " " + w2, 0L)
      val nft = n1tri.getOrElse(w1 + " " + w2, 0)
      val pb = bi.prob(w2, w3)
      if (c12 == 0L || nft == 0) pb
      else {
        val c3 = tri.getOrElse(w1 + " " + w2 + " " + w3, 0L)
        (math.max(c3 - 0.75, 0.0) + 0.75 * nft * pb) / c12
      }
    }
  }

  /** Train a [[KnTrigramModel]] (and its embedded bigram tier) on the
    * `sampleN` lowest-id documents — the [[trainKnBigram]] bounded
    * deterministic sample, one extra counting pass for trigrams. */
  def trainKnTrigram(df: DataFrame, textCol: String, idCol: String,
                     sampleN: Int = 2048): KnTrigramModel = {
    val bi = trainKnBigram(df, textCol, idCol, sampleN)
    val texts = df.orderBy(col(idCol)).limit(sampleN)
      .select(col(textCol).cast("string")).collect()
      .map(_.getString(0)).filter(_ != null)
    val tri = scala.collection.mutable.HashMap.empty[String, Long]
    texts.foreach { t =>
      val toks = TextFunctions.tokensJvm(t)
      var i = 0
      while (i + 3 <= toks.length) {
        val k = toks(i) + " " + toks(i + 1) + " " + toks(i + 2)
        tri.update(k, tri.getOrElse(k, 0L) + 1L)
        i += 1
      }
    }
    val n1tri = scala.collection.mutable.HashMap.empty[String, Int]
    tri.keysIterator.foreach { k =>
      val ctx = k.substring(0, k.lastIndexOf(' '))
      n1tri.update(ctx, n1tri.getOrElse(ctx, 0) + 1)
    }
    KnTrigramModel(bi, tri.toMap, n1tri.toMap)
  }

  /** SHUFFLE-FREE per-row trigram-KN perplexity — the
    * [[knPerplexityCol]] shape one order up: per-trigram log-probs
    * rounded to 6 dp, BigDecimal-accumulated (exact, order-free), ppl
    * NULL for docs with < 3 tokens. Returns struct (n_grams, ppl). */
  def knPerplexity3Col(df: DataFrame, textCol: String,
                       model: KnTrigramModel): Column = {
    val bc = df.sparkSession.sparkContext.broadcast(model)
    val score = udf { (text: String) =>
      if (text == null) (0L, None: Option[Double])
      else {
        val m = bc.value
        val toks = TextFunctions.tokensJvm(text)
        var i = 0
        var cnt = 0L
        var sum = java.math.BigDecimal.ZERO
        while (i + 3 <= toks.length) {
          val lnp = java.math.BigDecimal
            .valueOf(math.log(m.prob(toks(i), toks(i + 1), toks(i + 2))))
            .setScale(6, java.math.RoundingMode.HALF_UP)
          sum = sum.add(lnp)
          cnt += 1
          i += 1
        }
        if (cnt == 0) (0L, None: Option[Double])
        else {
          val ppl = math.exp(-(sum.doubleValue / cnt))
          (cnt, Some(java.math.BigDecimal.valueOf(ppl)
            .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue))
        }
      }
    }
    score(col(textCol)).cast("struct<n_grams:long,ppl:double>")
  }

  /** An interpolated Kneser–Ney 5-GRAM model — the KenLM-class CCNet
    * filter tier (r14 verdict #7), closing the n-gram LM ladder
    * (bigram → trigram → 5-gram). Two more layers of the EXACT
    * [[KnTrigramModel]] recursion, each routing its discounted mass
    * through the layer below:
    *
    *   P_4(w|ctx₃) = (max(c₄ − D, 0) + D · N1+(ctx₃ •) · P_3) / c(ctx₃)
    *   P_5(w|ctx₄) = (max(c₅ − D, 0) + D · N1+(ctx₄ •) · P_4) / c(ctx₄)
    *
    * with D = 0.75 dyadic, each layer falling back to the one below
    * when its context count or continuation-type count is zero — every
    * term an integer count or the lower layer's expression, so all
    * FIVE layers replay in SQL bit-comparably after the same 6-dp
    * per-gram round (the unrolled-oracle pattern demonstrated at n=3,
    * extended once more). Counts come from the same bounded lowest-id
    * sample; one pass builds the 4/5-gram tables. */
  final case class Kn5Model(tri: KnTrigramModel,
                            four: Map[String, Long], n1four: Map[String, Int],
                            five: Map[String, Long], n1five: Map[String, Int]) {
    /** Interpolated-KN 5-gram probability; always in (0, 1]. */
    def prob(w1: String, w2: String, w3: String, w4: String,
             w5: String): Double = {
      val p3 = tri.prob(w3, w4, w5)
      val ctx3 = w2 + " " + w3 + " " + w4
      val c3ctx = tri.tri.getOrElse(ctx3, 0L)
      val nf4 = n1four.getOrElse(ctx3, 0)
      val p4 =
        if (c3ctx == 0L || nf4 == 0) p3
        else {
          val c4 = four.getOrElse(ctx3 + " " + w5, 0L)
          (math.max(c4 - 0.75, 0.0) + 0.75 * nf4 * p3) / c3ctx
        }
      val ctx4 = w1 + " " + w2 + " " + w3 + " " + w4
      val c4ctx = four.getOrElse(ctx4, 0L)
      val nf5 = n1five.getOrElse(ctx4, 0)
      if (c4ctx == 0L || nf5 == 0) p4
      else {
        val c5 = five.getOrElse(ctx4 + " " + w5, 0L)
        (math.max(c5 - 0.75, 0.0) + 0.75 * nf5 * p4) / c4ctx
      }
    }
  }

  /** Train a [[Kn5Model]] (and its embedded trigram/bigram tiers) on
    * the `sampleN` lowest-id documents — one extra counting pass for
    * the 4/5-gram tables over the same deterministic sample. */
  def trainKn5(df: DataFrame, textCol: String, idCol: String,
               sampleN: Int = 2048): Kn5Model = {
    val tri = trainKnTrigram(df, textCol, idCol, sampleN)
    val texts = df.orderBy(col(idCol)).limit(sampleN)
      .select(col(textCol).cast("string")).collect()
      .map(_.getString(0)).filter(_ != null)
    val four = scala.collection.mutable.HashMap.empty[String, Long]
    val five = scala.collection.mutable.HashMap.empty[String, Long]
    texts.foreach { t =>
      val toks = TextFunctions.tokensJvm(t)
      var i = 0
      while (i + 4 <= toks.length) {
        val k4 = toks(i) + " " + toks(i + 1) + " " + toks(i + 2) + " " +
          toks(i + 3)
        four.update(k4, four.getOrElse(k4, 0L) + 1L)
        if (i + 5 <= toks.length) {
          val k5 = k4 + " " + toks(i + 4)
          five.update(k5, five.getOrElse(k5, 0L) + 1L)
        }
        i += 1
      }
    }
    def ctxTypes(m: scala.collection.Map[String, Long]): Map[String, Int] = {
      val n1 = scala.collection.mutable.HashMap.empty[String, Int]
      m.keysIterator.foreach { k =>
        val ctx = k.substring(0, k.lastIndexOf(' '))
        n1.update(ctx, n1.getOrElse(ctx, 0) + 1)
      }
      n1.toMap
    }
    Kn5Model(tri, four.toMap, ctxTypes(four), five.toMap, ctxTypes(five))
  }

  /** SHUFFLE-FREE per-row 5-gram-KN perplexity — [[knPerplexity3Col]]
    * two orders up: per-5-gram log-probs rounded to 6 dp,
    * BigDecimal-accumulated (exact, order-free), ppl NULL for docs
    * with < 5 tokens. Returns struct (n_grams, ppl). */
  def knPerplexity5Col(df: DataFrame, textCol: String,
                       model: Kn5Model): Column = {
    val bc = df.sparkSession.sparkContext.broadcast(model)
    val score = udf { (text: String) =>
      if (text == null) (0L, None: Option[Double])
      else {
        val m = bc.value
        val toks = TextFunctions.tokensJvm(text)
        var i = 0
        var cnt = 0L
        var sum = java.math.BigDecimal.ZERO
        while (i + 5 <= toks.length) {
          val lnp = java.math.BigDecimal
            .valueOf(math.log(m.prob(toks(i), toks(i + 1), toks(i + 2),
              toks(i + 3), toks(i + 4))))
            .setScale(6, java.math.RoundingMode.HALF_UP)
          sum = sum.add(lnp)
          cnt += 1
          i += 1
        }
        if (cnt == 0) (0L, None: Option[Double])
        else {
          val ppl = math.exp(-(sum.doubleValue / cnt))
          (cnt, Some(java.math.BigDecimal.valueOf(ppl)
            .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue))
        }
      }
    }
    score(col(textCol)).cast("struct<n_grams:long,ppl:double>")
  }

  /** Exact KNN-SHAPLEY data valuation (Jia et al., VLDB 2019) — the
    * closed-form Shapley value of every corpus point for a K-NN
    * classifier over a FIXED probe set: the principled "which training
    * points help, which hurt" signal behind valuation-driven pruning
    * and mixture reweighting, exact in O(N log N) per probe instead of
    * the exponential Shapley definition or Monte-Carlo sampling.
    *
    * Per probe q with label y, corpus points sorted by distance
    * ascending (α₁ nearest):
    *
    *   s(α_N) = 1[y_{α_N} = y] / N
    *   s(α_i) = s(α_{i+1}) + (1[y_{α_i}=y] − 1[y_{α_{i+1}}=y])/K ·
    *            min(K,i)/i
    *
    * Engine rails: squared-L2 distance on the double rail rounded to
    * 6 dp with id tie-break (the sim_topk ORDER convention — a total
    * order any engine replays); every recurrence term is then EXACT
    * integer ppb — term_i = diff · min(K,i)·10⁹ div (K·i) with the
    * cross-engine truncating div, and the suffix-sum identity
    * s_i = s_N + Σ_{j≥i} term_j turns the backward recursion into ONE
    * window pass over the same per-probe sort that ranked distances.
    *
    * Scale: probes are a bounded constant (the harmonic-pivots rule —
    * probe count must NOT grow with the corpus), so the pairs table is
    * probes×N rows from one broadcast join, and all three window
    * reads (rank, lead, suffix sum) share a single per-probe
    * sort/exchange. The final per-point aggregate is map-side
    * combinable. Nothing is quadratic in the corpus.
    *
    * @param corpus (id, vec, label) points being valued
    * @param probes (id, vec, label) held-out probe points — MUST be
    *               id-disjoint from `corpus` (caller splits)
    * @return (id, label, n_test, shap_sum_ppb, shap_mean_ppb), one row
    *         per corpus point */
  def knnShapley(corpus: DataFrame, probes: DataFrame, vecCol: String,
                 idCol: String, labelCol: String, k: Int = 5): DataFrame = {
    require(k >= 1, "knnShapley needs k >= 1")
    // r16 (guide §1.2 per-task work): the squared norms depend on ONE
    // side each, so they are computed once per probe / corpus row
    // BEFORE the cross join instead of re-running both self-dots on
    // every (probe, corpus) pair — 3 array walks per pair become 1.
    // Same dot function on the same vectors, same (qn2 + cn2) - 2d
    // association: d2 is bit-identical.
    val q = broadcast(probes.select(col(idCol).as("qid"),
      col(vecCol).as("qv"), col(labelCol).as("qlab"))
      .withColumn("qn2", Similarity.dot(col("qv"), col("qv"))))
    val pairs = corpus
      .select(col(idCol).as("id"), col(vecCol).as("cv"),
        col(labelCol).as("lab"))
      .withColumn("cn2", Similarity.dot(col("cv"), col("cv")))
      .crossJoin(q)
      .withColumn("d2", round(col("qn2") + col("cn2") -
        lit(2.0) * Similarity.dot(col("qv"), col("cv")), 6))
      .withColumn("ind",
        when(col("lab") === col("qlab"), 1L).otherwise(0L))
    val w = Window.partitionBy("qid").orderBy(col("d2").asc, col("id"))
    val wSuf = w.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val s = pairs
      .withColumn("i", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("qid")))
      .withColumn("ind_next", lead("ind", 1).over(w))
      .withColumn("term", when(col("ind_next").isNotNull,
        expr(s"(ind - ind_next) * least(${k}L, i) * 1000000000 " +
          s"div (${k}L * i)")))
      .withColumn("ind_last", last("ind").over(wSuf))
      .withColumn("s_ppb", expr("ind_last * 1000000000 div n") +
        coalesce(sum("term").over(wSuf), lit(0L)))
    s.groupBy("id")
      .agg(first("lab").as("label"), count(lit(1)).as("n_test"),
        sum("s_ppb").as("shap_sum_ppb"))
      .withColumn("shap_mean_ppb", expr("shap_sum_ppb div n_test"))
      .select("id", "label", "n_test", "shap_sum_ppb", "shap_mean_ppb")
  }

  /** Gumbel top-`topN` importance resample: key = logw + Gumbel(md5(id))
    * — sampling without replacement proportional to w, derandomized via
    * the stable uniform u = (h + 0.5)/2^32 (exact, endpoint-free).
    * Returns (id, logw, key) for the selected documents, key 6-dp
    * rounded so selection and output hash identically across engines. */
  def dsirResample(raw: DataFrame, target: DataFrame, textCol: String,
                   idCol: String, topN: Int, n: Int = 2,
                   buckets: Int = 1024): DataFrame = {
    require(topN > 0, "topN must be positive")
    val w = dsirWeights(raw, target, textCol, idCol, n, buckets)
    val u = (Sample.bucket32(col(idCol)) + lit(0.5)) / lit(4294967296.0)
    val gumbel = -log(-log(u))
    w.withColumn("key", round(col("logw") + gumbel, 6))
      .orderBy(col("key").desc, col("id"))
      .limit(topN)
  }
}
