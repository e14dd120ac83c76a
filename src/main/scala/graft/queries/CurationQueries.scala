package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.GraftShim.materialize
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops._
import graft.pivot.PivotOps
import graft.QueryShared._

/** Curation: top-N, as-of, PII, C4 cleaning, decontamination verification queries — one family of
  * [[graft.SparkEntry.registry]]; see [[graft.SparkEntry]] for the
  * oracle conventions. */
private[graft] object CurationQueries {
  // =====================================================================
  // Ranking / curation: top-N per group
  // =====================================================================

  /** END-TO-END curation pipeline, composed from the library operators:
    * corpus with planted duplicates → exact dedup (min-id survivor) →
    * quality scoring + threshold → best 5 docs per language. The shape
    * every training-data run takes; one oracle checks the composition. */
  private[graft] def qCurationPipeline(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select("doc_id", "lang", "text")
    val corpus = d.unionAll(d.select((col("doc_id") + 10000000L).as("doc_id"),
      col("lang"), col("text")))
    val deduped = Dedup.exact(corpus, "text", "doc_id")
    val scored = deduped
      .withColumn("quality", TextFunctions.qualityScore(col("text")))
      .filter(col("quality") >= 0.5)
    Rank.topNPerGroup(scored, Seq(col("lang")),
        Seq(col("quality").desc, col("doc_id")), 5)
      .select("lang", "rank", "doc_id", "quality")
  }

  /** WordPiece tokenization against a TRAINED, BOUNDED, PERSISTED
    * vocabulary: top-23 words by frequency over the 256 lowest-id docs
    * (+ [UNK] at id 0; the synthetic corpus has ~31 distinct words, so
    * vocabSize=24 leaves the rarest ~8 out-of-vocab — a real run uses
    * 30k-100k), written to parquet and reloaded before encoding
    * — the train-once/replay-everywhere shape of a production
    * tokenizer. No corpus-wide state anywhere: the sample is
    * TakeOrderedAndProject-bounded, the only collects are vocab-sized.
    * With a whole-word-only vocab greedy longest-match reduces to
    * exact-lookup-or-[UNK] (no "##" entries can exist — trainVocab
    * excludes them), so the oracle replays BOTH vocab training
    * (frequency ranks over the same sample) and encoding, including
    * out-of-vocab [UNK] hits on rare words the sample missed; the
    * subword machinery stays pinned by spec. */
  private[graft] def qDocTokens(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val vocab = Tokenize.trainVocab(d, "text", "doc_id",
      vocabSize = 24, sampleN = 256)
    val vpath = new java.io.File(scratchRoot, "vocab").getAbsolutePath
    Tokenize.saveVocab(s, vocab, vpath)
    Tokenize.wordpiece(d, "text", Tokenize.loadVocab(s, vpath))
      .select(col("doc_id"), array_join(col("token_ids"), ",").as("ids"),
        col("n_tokens").cast("long").as("n_tokens"),
        col("n_unk").cast("long").as("n_unk"))
  }

  /** Shared WordPiece-encode CTE prefix (vocab train on the 256
    * lowest-id docs + whole-corpus encode) — the SQL twin of
    * [[Tokenize.trainVocab]] + [[Tokenize.wordpiece]], reused by
    * `doc_tokens` and `doc_vocab_coverage`. */
  private[graft] val oWpEnc =
    s"""WITH smp AS (SELECT doc_id, text FROM documents
      |    ORDER BY doc_id LIMIT 256),
      |sw AS (SELECT unnest($oToks) AS term FROM smp),
      |cnt AS (SELECT term, count(*) AS c FROM sw
      |    WHERE term <> '' AND term NOT LIKE '##%' AND len(term) <= 64
      |    GROUP BY term),
      |vocab AS (SELECT term, CAST(row_number() OVER (ORDER BY c DESC, term)
      |      AS INT) AS id
      |    FROM cnt ORDER BY c DESC, term LIMIT 23),
      |t AS (SELECT doc_id, unnest($oToks) AS term,
      |    generate_subscripts($oToks, 1) AS pos FROM documents),
      |tf AS (SELECT doc_id, term, pos FROM t WHERE term <> ''),
      |j AS (SELECT tf.doc_id, tf.pos, COALESCE(vocab.id, 0) AS id
      |    FROM tf LEFT JOIN vocab USING (term)),
      |enc AS (SELECT doc_id, array_to_string(list(id ORDER BY pos), ',') AS ids,
      |    count(*) AS n_tokens,
      |    sum(CASE WHEN id = 0 THEN 1 ELSE 0 END) AS n_unk
      |  FROM j GROUP BY doc_id)""".stripMargin

  private[graft] val oDocTokens =
    s"""$oWpEnc
      |SELECT documents.doc_id, COALESCE(enc.ids, '') AS ids,
      |  CAST(COALESCE(enc.n_tokens, 0) AS BIGINT) AS n_tokens,
      |  CAST(COALESCE(enc.n_unk, 0) AS BIGINT) AS n_unk
      |FROM documents LEFT JOIN enc ON documents.doc_id = enc.doc_id""".stripMargin

  /** Per-language tokenizer coverage audit (the OOV read a vocab-size
    * decision actually uses — "which languages does this vocab
    * shortchange"): the [[qDocTokens]] WordPiece rail aggregated by
    * `lang` — docs, token mass, UNK mass, exact OOV ppm, and how many
    * docs encode with zero UNKs. */
  private[graft] def qDocVocabCoverage(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val vocab = Tokenize.trainVocab(d, "text", "doc_id",
      vocabSize = 24, sampleN = 256)
    val vpath = new java.io.File(scratchRoot, "vocab_cov").getAbsolutePath
    Tokenize.saveVocab(s, vocab, vpath)
    Tokenize.wordpiece(d, "text", Tokenize.loadVocab(s, vpath))
      .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
        col("n_unk").cast("long").as("n_unk"))
      .join(d.select("doc_id", "lang"), "doc_id")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("n_tokens"), sum("n_unk").as("n_unk"),
        expr("sum(n_unk) * 1000000 div sum(n_tokens)").as("oov_ppm"),
        sum(when(col("n_unk") === 0, 1L).otherwise(0L))
          .as("n_docs_full_cover"))
  }

  private[graft] val oDocVocabCoverage =
    s"""$oWpEnc
      |SELECT d2.lang, count(*) AS n_docs,
      |  CAST(sum(enc.n_tokens) AS BIGINT) AS n_tokens,
      |  CAST(sum(enc.n_unk) AS BIGINT) AS n_unk,
      |  CAST(sum(enc.n_unk) * 1000000 // sum(enc.n_tokens) AS BIGINT)
      |    AS oov_ppm,
      |  CAST(sum(CASE WHEN enc.n_unk = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_docs_full_cover
      |FROM documents d2 JOIN enc ON d2.doc_id = enc.doc_id
      |GROUP BY 1""".stripMargin

  /** BPE-trained subword tokenization CONTRACT: a vocab of byte-pair
    * merges trained on the 256 lowest-id docs encodes the whole corpus;
    * the vocab is corpus-derived so token ids are not SQL-replayable,
    * but three exact invariants are — every id in [0, |vocab|), greedy
    * decode round-trips to the canonical text whenever no [UNK] was
    * emitted (losslessness of the merge table), and subword count ≥
    * word count. The merge machinery itself is pinned by spec. */
  private[graft] def qDocTokensBpe(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val vocab = Tokenize.trainVocabBpe(d, "text", "doc_id",
      vocabSize = 64, sampleN = 256)
    // compare against the WORD join, not trim/collapse: wordpiece skips
    // empty tokens, so tab/newline-edged text (whose canonical form
    // keeps an edge space) would otherwise fail the round-trip
    val canon = array_join(
      filter(TextFunctions.tokens(col("text")), w => w =!= ""), " ")
    Tokenize.wordpiece(d, "text", vocab)
      .select(col("doc_id"),
        forall(col("token_ids"),
          i => i >= 0 && i < lit(vocab.size)).as("ids_in_range"),
        (col("n_unk") > 0 ||
          Tokenize.detokenize(col("token_ids"), vocab) === canon)
          .as("roundtrip_ok"),
        (col("n_tokens") >=
          size(filter(TextFunctions.tokens(col("text")), w => w =!= "")))
          .as("tokens_ge_words"))
  }

  private[graft] val oDocTokensBpe =
    """SELECT doc_id, TRUE AS ids_in_range, TRUE AS roundtrip_ok,
      |  TRUE AS tokens_ge_words FROM documents""".stripMargin

  /** BYTE-LEVEL BPE tokenization (the GPT-2/tiktoken class — see
    * [[Tokenize.trainVocabByteBpe]]): merges learned over UTF-8 bytes
    * on the 256-lowest-id sample, 256 single-byte base tokens always
    * present, model persisted and reloaded before encoding. The corpus
    * is deterministically multilingualized (accents / Han / Cyrillic /
    * supplementary-plane emoji by doc_id — scripts a char-seeded vocab
    * would [UNK]) and the round-trip contract holds UNCONDITIONALLY:
    * zero-UNK is structural, not sampled. `n_bytes` is the exact rail
    * the oracle replays (UTF-8 bytes of the canonical text = Σ piece
    * lengths by construction); merge mechanics are pinned by
    * ByteBpeSpec's hand-traced fixtures. */
  private[graft] def qDocTokensByteBpe(s: SparkSession, dir: String): DataFrame = {
    val m = col("doc_id") % 5
    val txt = when(m === 1, concat(col("text"), lit(" héllo wörld naïve café")))
      .when(m === 2, concat(col("text"), lit(" 中文数据处理 机器学习")))
      .when(m === 3, concat(col("text"), lit(" привет мир данные")))
      .when(m === 4, concat(col("text"), lit(" 😀🚀 emoji bytes")))
      .otherwise(col("text"))
    val d = t(s, dir, "documents").select(col("doc_id"), txt.as("text"))
    val model = Tokenize.trainVocabByteBpe(d, "text", "doc_id",
      vocabSize = 300, sampleN = 256)
    val vpath = new java.io.File(scratchRoot, "bytebpe").getAbsolutePath
    Tokenize.saveByteBpeVocab(s, model, vpath)
    val loaded = Tokenize.loadByteBpeVocab(s, vpath)
    val canon = array_join(
      filter(TextFunctions.tokens(col("text")), w => w =!= ""), " ")
    Tokenize.byteBpe(d, "text", loaded)
      .select(col("doc_id"), col("n_bytes"),
        forall(col("token_ids"),
          i => i >= 0 && i < lit(loaded.pieces.size)).as("ids_in_range"),
        (Tokenize.byteBpeDecode(col("token_ids"), loaded) === canon)
          .as("roundtrip_ok"),
        (col("n_tokens").cast("long") <= col("n_bytes"))
          .as("tokens_le_bytes"))
  }

  private[graft] val oDocTokensByteBpe =
    s"""WITH d AS (SELECT doc_id, CASE CAST(doc_id % 5 AS INT)
      |    WHEN 1 THEN text || ' héllo wörld naïve café'
      |    WHEN 2 THEN text || ' 中文数据处理 机器学习'
      |    WHEN 3 THEN text || ' привет мир данные'
      |    WHEN 4 THEN text || ' 😀🚀 emoji bytes'
      |    ELSE text END AS text FROM documents)
      |SELECT doc_id,
      |  CAST(octet_length(encode(array_to_string(
      |    list_filter($oToks, x -> x <> ''), ' '))) AS BIGINT) AS n_bytes,
      |  TRUE AS ids_in_range, TRUE AS roundtrip_ok,
      |  TRUE AS tokens_le_bytes
      |FROM d""".stripMargin

  /** BYTE-LEVEL BPE EXACT-ENCODE oracle — the exact-ids complement to
    * the contract-only [[qDocTokensByteBpe]] (whose corpus-trained
    * merges no SQL engine can replay): a DECLARED merge table (the
    * fixed-artifact analog of declared pivot values — seven ranked
    * merges incl. a two-level chain t+a→ta, ta+b→tab, tab+le→table, a
    * leading-space merge ' '+q, and the same-symbol run pair g+g) over
    * the ASCII base corpus, so every id is SQL-derivable. The oracle
    * replays the GPT-2 encode LOOP itself, resting on two exact
    * equivalences: (1) applying merges in rank order equals repeatedly
    * merging the lowest-rank pair present, because a pair involving a
    * rank-k product can only have rank > k (products post-date their
    * parts); (2) one rank's all-occurrences left-to-right rewrite is a
    * LEFT FOLD over the symbol list — if the accumulated tail ends in
    * `a` and the next symbol is `b`, fuse, else append ("aaaa" →
    * [aa,aa], not [aa,a,a]) — spelled as `list_reduce` over a
    * chr(1)-delimited accumulator, one unrolled CTE level per rank.
    * Single-byte ids are `ord(sym)` (= the UTF-8 byte for ASCII);
    * ASCII-only fixture because the SQL splits per CHAR while the
    * encoder splits per BYTE. */
  private[graft] def qDocTokensByteBpeExact(s: SparkSession,
                                            dir: String): DataFrame = {
    val model = Tokenize.ByteBpeModel(
      (0 until 256).map(b => String.valueOf(b.toChar)) ++
        IndexedSeq("ta", "le", "tab", " q", "er", "table", "gg"),
      IndexedSeq("t" -> "a", "l" -> "e", "ta" -> "b", " " -> "q",
        "e" -> "r", "tab" -> "le", "g" -> "g"))
    Tokenize.byteBpe(t(s, dir, "documents"), "text", model)
      .select(col("doc_id"), array_join(col("token_ids"), ",").as("ids"),
        col("n_tokens").cast("long").as("n_tokens"), col("n_bytes"))
  }

  private[graft] val oDocTokensByteBpeExact = {
    def fold(a: String, b: String) =
      s"""string_split(list_reduce(syms, (acc, x) ->
         |    CASE WHEN regexp_extract(acc, '([^'||chr(1)||']*)$$', 1) = '$a'
         |        AND x = '$b'
         |      THEN regexp_replace(acc, '[^'||chr(1)||']*$$', '$a$b')
         |      ELSE acc || chr(1) || x END), chr(1))""".stripMargin
    val levels = Seq("t" -> "a", "l" -> "e", "ta" -> "b", " " -> "q",
      "e" -> "r", "tab" -> "le", "g" -> "g").zipWithIndex
      .map { case ((a, b), i) =>
        s"s${i + 1} AS (SELECT p, ${fold(a, b)} AS syms FROM s$i)"
      }.mkString(",\n")
    s"""WITH t0 AS (SELECT doc_id, unnest($oToks) AS w,
      |    generate_subscripts($oToks, 1) AS pos FROM documents),
      |tf AS (SELECT doc_id, w, pos, row_number() OVER (
      |    PARTITION BY doc_id ORDER BY pos) AS rn
      |  FROM t0 WHERE w <> ''),
      |pre AS (SELECT doc_id, pos,
      |    CASE WHEN rn = 1 THEN w ELSE ' ' || w END AS p FROM tf),
      |dw AS (SELECT DISTINCT p FROM pre),
      |s0 AS (SELECT p, string_split_regex(p, '') AS syms FROM dw),
      |$levels,
      |wid AS (SELECT p, list_transform(syms, x -> CASE x
      |    WHEN 'ta' THEN 256 WHEN 'le' THEN 257 WHEN 'tab' THEN 258
      |    WHEN ' q' THEN 259 WHEN 'er' THEN 260 WHEN 'table' THEN 261
      |    WHEN 'gg' THEN 262 ELSE ord(x) END) AS ids FROM s7),
      |flat AS (SELECT doc_id, pos, unnest(ids) AS id,
      |    generate_subscripts(ids, 1) AS sub
      |  FROM pre JOIN wid USING (p)),
      |enc AS (SELECT doc_id,
      |    array_to_string(list(id ORDER BY pos, sub), ',') AS ids,
      |    count(*) AS n_tokens FROM flat GROUP BY 1)
      |SELECT documents.doc_id, COALESCE(enc.ids, '') AS ids,
      |  CAST(COALESCE(enc.n_tokens, 0) AS BIGINT) AS n_tokens,
      |  CAST(octet_length(encode(array_to_string(
      |    list_filter($oToks, x -> x <> ''), ' '))) AS BIGINT) AS n_bytes
      |FROM documents LEFT JOIN enc ON documents.doc_id = enc.doc_id"""
      .stripMargin
  }

  /** Unigram-LM tokenizer (Viterbi-EM trained), same CONTRACT rows as
    * the BPE query: id-range, lossless round-trip on fully-covered
    * docs, and the tokens >= words bound — the raw Viterbi
    * segmentations stay pinned by UnigramSpec. */
  private[graft] def qDocTokensUnigram(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val vocab = Tokenize.trainVocabUnigram(d, "text", "doc_id",
      vocabSize = 128, sampleN = 256)
    val canon = array_join(
      filter(TextFunctions.tokens(col("text")), w => w =!= ""), " ")
    Tokenize.unigram(d, "text", vocab)
      .select(col("doc_id"),
        forall(col("token_ids"),
          i => i >= 0 && i < lit(vocab.size)).as("ids_in_range"),
        (col("n_unk") > 0 ||
          Tokenize.detokenize(col("token_ids"), vocab.map(_._1)) === canon)
          .as("roundtrip_ok"),
        (col("n_tokens") >=
          size(filter(TextFunctions.tokens(col("text")), w => w =!= "")))
          .as("tokens_ge_words"))
  }

  private[graft] val oDocTokensUnigram =
    """SELECT doc_id, TRUE AS ids_in_range, TRUE AS roundtrip_ok,
      |  TRUE AS tokens_ge_words FROM documents""".stripMargin

  /** Unigram-LM Viterbi ENCODE with a full SQL-replay oracle — the
    * exact-ids complement to the contract-only [[qDocTokensUnigram]]
    * (whose EM-trained float model no SQL engine can replay). The
    * model here is CLOSED-FORM on the [[Tokenize.trainVocab]] sample
    * contract (256 lowest-id docs) with EXACT INTEGER piece weights:
    *
    *   - every sample character c, bare and "##"-continuation:
    *     weight = cnt_c·10⁶ div totChars − 2·10⁶
    *   - the top-16 sample words (len 2..64, count desc then word),
    *     bare and "##": weight = cnt_w·10⁶ div totWords − 10⁶
    *
    * Integer weights make the max-sum Viterbi DP ([[Tokenize.unigram]]
    * runs it over doubles; path sums ≤ 1.3e8 are dyadic-exact) bit-
    * identical on any engine — the oracle replays model construction
    * AND the DP (recursive CTE: forward best/backpointer lists per
    * distinct word, then backtrack), including the earliest-split tie
    * rule (ORDER BY score DESC, split ASC = the encode's strict `>`
    * over ascending splits). The model round-trips through
    * [[Tokenize.saveUnigramVocab]]/load like a production artifact.
    * Same output shape as `doc_tokens`: (doc_id, ids, n_tokens,
    * n_unk). */
  private[graft] def qDocTokensUnigramExact(s: SparkSession,
                                     dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val sample = d.select(col("doc_id"), col("text"))
      .orderBy(col("doc_id")).limit(256)
      .select(explode(TextFunctions.tokens(col("text"))).as("w"))
      .filter(col("w") =!= "" && !col("w").startsWith("##") &&
        length(col("w")) <= 64)
    // words + chars read it; its job also sums the word total
    val wm = materialize(sample.groupBy("w").agg(count(lit(1)).as("c")),
      sumCol = Some("c"))
    val (wc, totWords) = (wm.df, wm.sum)
    val topWords = wc.filter(length(col("w")) >= 2)
      .orderBy(col("c").desc, col("w")).limit(16)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val charCnt = wc
      .select(explode(expr(
        "transform(sequence(1, length(w)), i -> substring(w, i, 1))"))
        .as("ch"), col("c"))
      .groupBy("ch").agg(sum("c").as("n"))
      .orderBy("ch")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val totChars = charCnt.map(_._2).sum
    def wgtC(n: Long) = (n * 1000000L / totChars - 2000000L).toDouble
    def wgtW(n: Long) = (n * 1000000L / totWords - 1000000L).toDouble
    val vocab: Seq[(String, Double)] =
      (Tokenize.Unk, 0.0) +:
        (charCnt.map { case (c, n) => (c, wgtC(n)) } ++
          charCnt.map { case (c, n) => ("##" + c, wgtC(n)) } ++
          topWords.map { case (w, n) => (w, wgtW(n)) } ++
          topWords.map { case (w, n) => ("##" + w, wgtW(n)) }).toSeq
    val vpath = new java.io.File(scratchRoot, "uvocab_exact")
      .getAbsolutePath
    Tokenize.saveUnigramVocab(s, vocab, vpath)
    Tokenize.unigram(d, "text", Tokenize.loadUnigramVocab(s, vpath))
      .select(col("doc_id"), array_join(col("token_ids"), ",").as("ids"),
        col("n_tokens").cast("long").as("n_tokens"),
        col("n_unk").cast("long").as("n_unk"))
  }

  private[graft] val oDocTokensUnigramExact =
    s"""WITH RECURSIVE
      |smp AS (SELECT doc_id, text FROM documents ORDER BY doc_id LIMIT 256),
      |sw AS (SELECT unnest($oToks) AS w FROM smp),
      |swf AS (SELECT w FROM sw
      |  WHERE w <> '' AND w NOT LIKE '##%' AND len(w) <= 64),
      |wc AS (SELECT w, count(*) AS c FROM swf GROUP BY 1),
      |wtot AS (SELECT sum(c) AS t FROM wc),
      |topw AS (SELECT w, c, row_number() OVER (ORDER BY c DESC, w) AS r
      |  FROM wc WHERE len(w) >= 2 ORDER BY c DESC, w LIMIT 16),
      |ser AS (SELECT i FROM generate_series(1, 64) s(i)),
      |cc AS (SELECT substr(w, i, 1) AS ch, sum(c) AS n
      |  FROM wc JOIN ser ON ser.i <= len(w) GROUP BY 1),
      |ctot AS (SELECT sum(n) AS t FROM cc),
      |charw AS (SELECT ch, row_number() OVER (ORDER BY ch) AS rc,
      |    n * 1000000 // t - 2000000 AS wgt FROM cc, ctot),
      |nch AS (SELECT count(*) AS n FROM charw),
      |wordw AS (SELECT w, r, c * 1000000 // t - 1000000 AS wgt
      |  FROM topw, wtot),
      |nwd AS (SELECT count(*) AS k FROM wordw),
      |pieces AS (
      |  SELECT ch AS piece, CAST(rc AS INT) AS id, wgt FROM charw
      |  UNION ALL SELECT '##' || ch, CAST(rc + n AS INT), wgt
      |    FROM charw, nch
      |  UNION ALL SELECT w, CAST(2 * n + r AS INT), wgt
      |    FROM wordw, nch
      |  UNION ALL SELECT '##' || w, CAST(2 * n + k + r AS INT), wgt
      |    FROM wordw, nch, nwd),
      |t0 AS (SELECT doc_id, unnest($oToks) AS w,
      |    generate_subscripts($oToks, 1) AS pos FROM documents),
      |tf AS (SELECT doc_id, pos, w FROM t0 WHERE w <> ''),
      |dw AS (SELECT DISTINCT w AS word FROM tf),
      |dpw AS (SELECT word FROM dw
      |  WHERE len(word) <= 64 AND word NOT LIKE '##%'),
      |splits AS (SELECT i.i, s.s FROM generate_series(0, 63) i(i)
      |  JOIN generate_series(0, 63) s(s) ON s.s <= i.i),
      |dp AS (
      |  SELECT word, 0 AS i,
      |    [CAST(0 AS BIGINT)] AS best, [CAST(-1 AS INT)] AS back
      |  FROM dpw
      |  UNION ALL
      |  SELECT word, i + 1,
      |    list_append(best, (
      |      SELECT dp.best[sp.s + 1] + p.wgt
      |      FROM splits sp JOIN pieces p ON p.piece = CASE WHEN sp.s = 0
      |        THEN substr(dp.word, 1, dp.i + 1)
      |        ELSE '##' || substr(dp.word, sp.s + 1, dp.i + 1 - sp.s) END
      |      WHERE sp.i = dp.i AND dp.best[sp.s + 1] IS NOT NULL
      |      ORDER BY dp.best[sp.s + 1] + p.wgt DESC, sp.s ASC LIMIT 1)),
      |    list_append(back, (
      |      SELECT CAST(sp.s AS INT)
      |      FROM splits sp JOIN pieces p ON p.piece = CASE WHEN sp.s = 0
      |        THEN substr(dp.word, 1, dp.i + 1)
      |        ELSE '##' || substr(dp.word, sp.s + 1, dp.i + 1 - sp.s) END
      |      WHERE sp.i = dp.i AND dp.best[sp.s + 1] IS NOT NULL
      |      ORDER BY dp.best[sp.s + 1] + p.wgt DESC, sp.s ASC LIMIT 1))
      |  FROM dp WHERE i < len(word)),
      |fin AS (SELECT word, best, back FROM dp WHERE i = len(word)),
      |bt AS (
      |  SELECT word, len(word) AS pos, CAST([] AS VARCHAR[]) AS pcs,
      |    best[len(word) + 1] IS NOT NULL AS ok, back
      |  FROM fin
      |  UNION ALL
      |  SELECT word, back[pos + 1],
      |    list_prepend(CASE WHEN back[pos + 1] = 0
      |      THEN substr(word, 1, pos)
      |      ELSE '##' ||
      |        substr(word, back[pos + 1] + 1, pos - back[pos + 1]) END,
      |      pcs), ok, back
      |  FROM bt WHERE ok AND pos > 0),
      |seg AS (SELECT word, pcs FROM bt WHERE ok AND pos = 0),
      |segx AS (SELECT word, unnest(pcs) AS piece,
      |    generate_subscripts(pcs, 1) AS ord FROM seg),
      |wid AS (SELECT s.word, list(p.id ORDER BY s.ord) AS ids
      |  FROM segx s JOIN pieces p USING (piece) GROUP BY s.word),
      |allw AS (SELECT dw.word, COALESCE(wid.ids, [CAST(0 AS INT)]) AS ids
      |  FROM dw LEFT JOIN wid ON dw.word = wid.word),
      |flat AS (SELECT doc_id, pos, unnest(ids) AS id,
      |    generate_subscripts(ids, 1) AS sub
      |  FROM tf JOIN allw ON tf.w = allw.word),
      |enc AS (SELECT doc_id,
      |    array_to_string(list(id ORDER BY pos, sub), ',') AS ids,
      |    count(*) AS n_tokens,
      |    sum(CASE WHEN id = 0 THEN 1 ELSE 0 END) AS n_unk
      |  FROM flat GROUP BY 1)
      |SELECT documents.doc_id, COALESCE(enc.ids, '') AS ids,
      |  CAST(COALESCE(enc.n_tokens, 0) AS BIGINT) AS n_tokens,
      |  CAST(COALESCE(enc.n_unk, 0) AS BIGINT) AS n_unk
      |FROM documents LEFT JOIN enc ON documents.doc_id = enc.doc_id"""
      .stripMargin

  /** Second END-TO-END composition, from this library's model-based
    * tier: LM-perplexity gate (keep docs the English reference model
    * finds predictable) → weight-proportional priority sampling per
    * language with unbiased mass estimates — the "score, filter, budget"
    * shape of a pretraining data refresh. Every stage is engine-portable,
    * so ONE oracle replays the whole composition. */
  private[graft] def qPretrainPipeline(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val model = Importance.bucketLogProbs(d.filter(col("lang") === "en"),
      "text", n = 2, buckets = 1024)
    val ppl = Importance.perplexity(d, "text", "doc_id", model)
      .filter(col("ppl") <= 560)
    val kept = d.select("doc_id", "lang", "n_chars")
      .join(ppl.select("doc_id", "ppl"), "doc_id")
    Sample.priorityPerStratum(kept, "doc_id", "lang", "n_chars", n = 10)
      .select("doc_id", "lang", "n_chars", "ppl", "pri", "w_est")
  }

  private[graft] val oPretrainPipeline =
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
      |sc AS (SELECT docb.doc_id, sum(cnt) AS n_grams, sum(cnt * lnp) AS s
      |  FROM docb JOIN model ON docb.b = model.b GROUP BY 1),
      |kept AS (SELECT documents.doc_id, lang, n_chars,
      |    round(exp(-(CAST(sc.s AS DOUBLE) / sc.n_grams)), 6) AS ppl
      |  FROM documents JOIN sc ON documents.doc_id = sc.doc_id
      |  WHERE round(exp(-(CAST(sc.s AS DOUBLE) / sc.n_grams)), 6) <= 560),
      |p AS (SELECT doc_id, lang, n_chars, ppl,
      |    CAST(n_chars AS DOUBLE) /
      |      (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
      |            + 1 AS DOUBLE) / 4294967296.0) AS pri
      |  FROM kept),
      |r AS (SELECT *, row_number() OVER (
      |    PARTITION BY lang ORDER BY pri DESC, doc_id) AS rk FROM p),
      |tau AS (SELECT lang, min(CASE WHEN rk = 11 THEN pri END) AS tau
      |  FROM r WHERE rk <= 11 GROUP BY lang)
      |SELECT r.doc_id, r.lang, r.n_chars, r.ppl, r.pri,
      |  greatest(CAST(n_chars AS DOUBLE), COALESCE(tau.tau, 0.0)) AS w_est
      |FROM r JOIN tau ON r.lang = tau.lang WHERE rk <= 10""".stripMargin

  // lazy: oQuality is declared further down the object body
  private[graft] lazy val oCurationPipeline =
    s"""WITH corpus AS (
      |  SELECT doc_id, lang, text FROM documents
      |  UNION ALL SELECT doc_id + 10000000, lang, text FROM documents),
      |deduped AS (SELECT * FROM (SELECT *, row_number() OVER (
      |    PARTITION BY md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
      |    ORDER BY doc_id) AS rn FROM corpus) WHERE rn = 1),
      |scored AS (SELECT doc_id, lang, $oQuality AS quality FROM deduped),
      |kept AS (SELECT * FROM scored WHERE quality >= 0.5),
      |ranked AS (SELECT lang, doc_id, quality, CAST(row_number() OVER (
      |    PARTITION BY lang ORDER BY quality DESC, doc_id) AS INTEGER) AS rank
      |  FROM kept)
      |SELECT lang, rank, doc_id, quality FROM ranked WHERE rank <= 5""".stripMargin

  /** Keep the 3 best quality-scored documents per language — the
    * selection step after scoring in a curation pipeline. The rank<=n
    * window filter compiles to WindowGroupLimit (map-side per-group
    * prune; asserted in OpsSpec). */
  private[graft] def qDocTopN(s: SparkSession, dir: String): DataFrame = {
    val scored = t(s, dir, "documents").select(col("doc_id"), col("lang"),
      TextFunctions.qualityScore(col("text")).as("quality"))
    Rank.topNPerGroup(scored, Seq(col("lang")),
        Seq(col("quality").desc, col("doc_id")), 3)
      .select("lang", "rank", "doc_id", "quality")
  }

  /** DuckDB twin of TextFunctions.qualityScore (dyadic weights — exact
    * in both engines). */
  private[graft] val oQuality =
    s"""(CASE WHEN length(text) BETWEEN 50 AND 10000 THEN CAST(0.5 AS DOUBLE) ELSE 0.0 END)
      |  + (CASE WHEN CAST(len(list_filter($oToks, x -> x IN ('the','a','and','of','to','in','is'))) AS DOUBLE)
      |      / len($oToks) > 0.02 THEN CAST(0.25 AS DOUBLE) ELSE 0.0 END)
      |  + (CASE WHEN CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9\\s]')) AS DOUBLE)
      |      / greatest(length(text), 1) < 0.1 THEN CAST(0.25 AS DOUBLE) ELSE 0.0 END)""".stripMargin

  private[graft] val oDocTopN =
    s"""WITH scored AS (SELECT doc_id, lang, $oQuality AS quality FROM documents),
      |ranked AS (SELECT lang, doc_id, quality, CAST(row_number() OVER (
      |  PARTITION BY lang ORDER BY quality DESC, doc_id) AS INTEGER) AS rank FROM scored)
      |SELECT lang, rank, doc_id, quality FROM ranked WHERE rank <= 3""".stripMargin

  // =====================================================================
  // As-of (point-in-time) join
  // =====================================================================

  /** Each event enriched with the user's latest order at or before the
    * event time. Orders are pre-aggregated to one row per (custkey,
    * orderdate) — the as-of contract requires a unique build side per
    * (key, ts) for deterministic matches. */
  private[graft] def qEventsAsof(s: SparkSession, dir: String): DataFrame = {
    val ev = readEvents(s, dir).select("event_id", "user_id", "ts")
    val ord = t(s, dir, "orders")
      .groupBy("o_custkey", "o_orderdate")
      .agg(max("o_orderkey").as("o_orderkey"),
        max_by(col("o_totalprice"), col("o_orderkey")).as("o_totalprice"))
    AsOfJoin.asOf(ev, ord, "user_id", "o_custkey", "ts", "o_orderdate",
      Seq("o_orderkey", "o_totalprice"))
  }

  private[graft] val oEventsAsof =
    """WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
      |o AS (SELECT o_custkey, o_orderdate, max(o_orderkey) AS o_orderkey,
      |    arg_max(o_totalprice, o_orderkey) AS o_totalprice
      |  FROM orders GROUP BY 1, 2)
      |SELECT e.event_id, e.user_id, e.ts, o.o_orderkey, o.o_totalprice
      |FROM e ASOF LEFT JOIN o ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate""".stripMargin

  /** Forward as-of with tolerance ("next action after exposure"
    * attribution): each event attaches the EARLIEST same-user order at
    * or after its timestamp, nulled when more than 30 days out. DuckDB
    * replays it with `ASOF LEFT JOIN ... <=` plus a CASE tolerance gate
    * (per-side epoch_us/1e6 double arithmetic matches Spark's
    * timestamp→double cast bit-for-bit). */
  private[graft] def qEventsAsofForward(s: SparkSession, dir: String): DataFrame = {
    val ev = readEvents(s, dir).select("event_id", "user_id", "ts")
    val ord = t(s, dir, "orders")
      .groupBy("o_custkey", "o_orderdate")
      .agg(max("o_orderkey").as("o_orderkey"))
      .withColumn("o_orderdate", col("o_orderdate").cast("timestamp"))
    AsOfJoin.asOf(ev, ord, "user_id", "o_custkey", "ts", "o_orderdate",
      Seq("o_orderkey"), direction = "forward",
      toleranceSec = Some(30 * 86400.0))
  }

  private[graft] val oEventsAsofForward =
    """WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
      |    FROM events),
      |o AS (SELECT o_custkey, o_orderdate, max(o_orderkey) AS o_orderkey
      |  FROM orders GROUP BY 1, 2)
      |SELECT e.event_id, e.user_id, e.ts,
      |  CASE WHEN o.o_orderdate IS NOT NULL
      |      AND epoch_us(o.o_orderdate) / 1000000.0
      |        - epoch_us(e.ts) / 1000000.0 <= 2592000.0
      |    THEN o.o_orderkey END AS o_orderkey
      |FROM e ASOF LEFT JOIN o
      |  ON e.user_id = o.o_custkey AND e.ts <= o.o_orderdate""".stripMargin

  // =====================================================================
  // PII scrubbing
  // =====================================================================

  /** Redaction over text with PLANTED deterministic PII (the synthetic
    * corpus has none): an email, an IPv4, and a phone number derived
    * from doc_id are appended, then scrubbed; outputs redaction counts
    * and the md5 of the redacted text. */
  /** Luhn-gated payment-card scrub over planted candidates: valid test
    * PANs (Visa 16, Amex 15, spaced/dashed/bare) redact; checksum-
    * failing 16-digit runs (order ids) survive untouched (see
    * [[Scrub.cardScrub]]). */
  private[graft] def qTextCardScrub(s: SparkSession, dir: String): DataFrame = {
    val m = col("doc_id") % 5
    val planted = t(s, dir, "documents").filter(col("doc_id") < 300)
      .withColumn("card_text", concat(col("text"),
        when(m === 1, lit(" pay with 4111 1111 1111 1111 today"))
          .when(m === 2, lit(" order 4111-1111-1111-1112 shipped"))
          .when(m === 3, lit(" amex 371449635398431 on file"))
          .when(m === 4,
            lit(" visa 4012888888881881 and junk 1234567890123456"))
          .otherwise(lit(""))))
    val sc = Scrub.cardScrub(col("card_text"))
    planted.select(col("doc_id"),
      sc.getField("n_candidates").as("n_candidates"),
      sc.getField("n_valid").as("n_valid"),
      md5(sc.getField("redacted")).as("redacted_md5"))
  }

  private[graft] val oTextCardScrub = {
    val cand = "\\b(?:[0-9][ -]?){12,18}[0-9]\\b"
    val luhn =
      """list_sum(list_transform(range(1, length(regexp_replace(c, '[ -]',
        |  '', 'g')) + 1, 1), i -> CASE WHEN i % 2 = 0
        |  THEN CASE WHEN 2 * CAST(substr(regexp_replace(c, '[ -]', '',
        |      'g'), length(regexp_replace(c, '[ -]', '', 'g')) - i + 1,
        |      1) AS INT) > 9
        |    THEN 2 * CAST(substr(regexp_replace(c, '[ -]', '', 'g'),
        |      length(regexp_replace(c, '[ -]', '', 'g')) - i + 1, 1)
        |      AS INT) - 9
        |    ELSE 2 * CAST(substr(regexp_replace(c, '[ -]', '', 'g'),
        |      length(regexp_replace(c, '[ -]', '', 'g')) - i + 1, 1)
        |      AS INT) END
        |  ELSE CAST(substr(regexp_replace(c, '[ -]', '', 'g'),
        |    length(regexp_replace(c, '[ -]', '', 'g')) - i + 1, 1)
        |    AS INT) END)) % 10 = 0""".stripMargin
    s"""WITH p AS MATERIALIZED (SELECT doc_id, text ||
       |    CASE doc_id % 5
       |      WHEN 1 THEN ' pay with 4111 1111 1111 1111 today'
       |      WHEN 2 THEN ' order 4111-1111-1111-1112 shipped'
       |      WHEN 3 THEN ' amex 371449635398431 on file'
       |      WHEN 4 THEN ' visa 4012888888881881 and junk 1234567890123456'
       |      ELSE '' END AS card_text
       |  FROM documents WHERE doc_id < 300),
       |x AS (SELECT doc_id, card_text,
       |    regexp_extract_all(card_text, '$cand') AS cands
       |  FROM p),
       |v AS (SELECT doc_id, card_text, cands,
       |    list_filter(cands, c -> $luhn) AS valid
       |  FROM x)
       |SELECT doc_id, CAST(len(cands) AS BIGINT) AS n_candidates,
       |  CAST(len(valid) AS BIGINT) AS n_valid,
       |  md5(list_reduce(list_prepend(card_text, valid),
       |    (acc, c) -> replace(acc, c, '<CARD>'))) AS redacted_md5
       |FROM v""".stripMargin
  }

  private[graft] def qTextScrub(s: SparkSession, dir: String): DataFrame = {
    val planted = t(s, dir, "documents").filter(col("doc_id") < 200)
      .withColumn("pii_text", concat(col("text"),
        lit(" contact user"), col("doc_id"), lit("@example.com at 10.0."),
        col("doc_id") % 256, lit(".7 or +1 (415) 555-"),
        (lit(1000) + col("doc_id") % 9000)))
    planted.select(col("doc_id"),
      Scrub.redactionCounts(col("pii_text")).getField("emails").as("emails"),
      Scrub.redactionCounts(col("pii_text")).getField("ips").as("ips"),
      Scrub.redactionCounts(col("pii_text")).getField("phones").as("phones"),
      md5(Scrub.redact(col("pii_text"))).as("redacted_md5"))
  }

  private[graft] val oTextScrub = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val ip = "\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b"
    val phone = "\\+?[0-9][0-9()\\-. ]{5,}[0-9]"
    s"""WITH p AS (SELECT doc_id, text || ' contact user' || doc_id ||
      |    '@example.com at 10.0.' || (doc_id % 256) || '.7 or +1 (415) 555-' ||
      |    (1000 + doc_id % 9000) AS pii_text
      |  FROM documents WHERE doc_id < 200)
      |SELECT doc_id,
      |  len(regexp_extract_all(pii_text, '$email')) AS emails,
      |  len(regexp_extract_all(pii_text, '$ip')) AS ips,
      |  len(regexp_extract_all(regexp_replace(regexp_replace(pii_text,
      |    '$email', '', 'g'), '$ip', '', 'g'), '$phone')) AS phones,
      |  md5(regexp_replace(regexp_replace(regexp_replace(pii_text,
      |    '$email', '<EMAIL>', 'g'), '$ip', '<IP>', 'g'),
      |    '$phone', '<PHONE>', 'g')) AS redacted_md5
      |FROM p""".stripMargin
  }

  /** Repeated-line removal over text with PLANTED boilerplate: the
    * doc's 50-char prefix is injected twice as duplicate lines plus the
    * full text repeated; dedup keeps first occurrences. */
  private[graft] def qTextDedupLines(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").filter(col("doc_id") < 200)
      .withColumn("rep", concat_ws("\n", col("text"),
        substring(col("text"), 1, 50), substring(col("text"), 1, 50),
        col("text")))
      .select(col("doc_id"),
        size(split(col("rep"), "\n")).cast("long").as("lines_in"),
        size(split(Scrub.dedupLines(col("rep")), "\n")).cast("long").as("lines_out"),
        md5(Scrub.dedupLines(col("rep"))).as("dedup_md5"))

  private[graft] val oTextDedupLines =
    """WITH p AS (SELECT doc_id, text || chr(10) || substr(text, 1, 50) ||
      |    chr(10) || substr(text, 1, 50) || chr(10) || text AS rep
      |  FROM documents WHERE doc_id < 200),
      |d AS (SELECT doc_id, string_split(rep, chr(10)) AS l FROM p),
      |dd AS (SELECT doc_id, len(l) AS lines_in,
      |    list_filter(l, (x, i) -> list_position(l, x) = i) AS u FROM d)
      |SELECT doc_id, lines_in, len(u) AS lines_out,
      |  md5(array_to_string(u, chr(10))) AS dedup_md5 FROM dd""".stripMargin

  // =====================================================================
  // C4-style line cleaning, repetition, sentences, boilerplate report
  // =====================================================================

  /** Line-structured corpus planted from the documents table (its text is
    * flat word soup): six line shapes per doc exercising every C4 line
    * rule — a kept long line with terminal punctuation, a too-short
    * line, a javascript line, a SHARED cookie-banner line (doc_id % 5 —
    * the cross-document boilerplate the report query must surface), a
    * second kept line, and an unterminated fragment. Docs at % 7 gain a
    * "lorem ipsum" poison line, at % 11 a curly-brace code line. */
  private[graft] def c4Corpus(s: SparkSession, dir: String): DataFrame = {
    val base = concat_ws("\n",
      concat(substring(col("text"), 1, 80), lit(" end.")),
      lit("Too short."),
      concat(lit("Please enable javascript to view "),
        substring(col("text"), 1, 20), lit(".")),
      concat(lit("banner "), (col("doc_id") % 5).cast("string"),
        lit(" accept all cookies to continue.")),
      concat(substring(col("text"), 30, 60), lit(" tail line!")),
      substring(col("text"), 1, 40))
    t(s, dir, "documents").filter(col("doc_id") < 300)
      .select(col("doc_id"),
        when(col("doc_id") % 7 === 0,
          concat(base, lit("\nlorem ipsum dolor sit amet.")))
        .when(col("doc_id") % 11 === 0,
          concat(base, lit("\nvar x = function() { return 1; };")))
        .otherwise(base).as("text"))
  }

  /** The same planted line corpus in DuckDB. This string is embedded in
    * other stripMargin oracles, so no line may START with `||` — a
    * second stripMargin would eat the first pipe; concatenation
    * operators stay at line ends. */
  private[graft] val oC4Corpus =
    """SELECT doc_id,
      |  substr(text, 1, 80) || ' end.' || chr(10) ||
      |  'Too short.' || chr(10) ||
      |  'Please enable javascript to view ' || substr(text, 1, 20) ||
      |  '.' || chr(10) ||
      |  'banner ' || CAST(doc_id % 5 AS VARCHAR) ||
      |  ' accept all cookies to continue.' || chr(10) ||
      |  substr(text, 30, 60) || ' tail line!' || chr(10) ||
      |  substr(text, 1, 40) ||
      |  CASE WHEN doc_id % 7 = 0 THEN chr(10) || 'lorem ipsum dolor sit amet.'
      |       WHEN doc_id % 11 = 0
      |         THEN chr(10) || 'var x = function() { return 1; };'
      |       ELSE '' END AS text
      |FROM documents WHERE doc_id < 300""".stripMargin

  /** The DuckDB twin of [[Clean.c4KeepLine]] for a line variable. */
  private[graft] def oC4Keep(l: String): String =
    s"""regexp_matches($l, '[.!?"]$$')
      | AND len(regexp_extract_all($l, '\\S+')) >= 5
      | AND NOT contains(lower($l), 'javascript')""".stripMargin

  /** C4 cleaning end-to-end: per-line filters, document poison gates,
    * and the md5 of the cleaned text. */
  private[graft] def qTextC4Clean(s: SparkSession, dir: String): DataFrame = {
    val flags = Clean.c4DocFlags(col("text"))
    c4Corpus(s, dir).select(col("doc_id"),
      size(split(col("text"), "\n")).cast("long").as("n_lines"),
      flags.getField("kept_lines").cast("long").as("kept_lines"),
      flags.getField("has_lorem").as("has_lorem"),
      flags.getField("has_brace").as("has_brace"),
      flags.getField("pass").as("doc_pass"),
      md5(Clean.c4CleanLines(col("text"))).as("clean_md5"))
  }

  private[graft] val oTextC4Clean =
    s"""WITH c AS ($oC4Corpus),
      |l AS (SELECT doc_id, text, string_split(text, chr(10)) AS ls FROM c),
      |k AS (SELECT doc_id, text, len(ls) AS n_lines,
      |    list_filter(ls, x -> ${oC4Keep("x")}) AS keep FROM l)
      |SELECT doc_id, n_lines, len(keep) AS kept_lines,
      |  contains(lower(text), 'lorem ipsum') AS has_lorem,
      |  contains(text, '{') AS has_brace,
      |  NOT contains(lower(text), 'lorem ipsum') AND NOT contains(text, '{')
      |    AND len(keep) >= 3 AS doc_pass,
      |  md5(array_to_string(keep, chr(10))) AS clean_md5
      |FROM k""".stripMargin

  /** Intra-document repetition profile on a corpus with planted repeats
    * (full-text and 50-char-prefix duplicate lines per doc). */
  private[graft] def qTextRepetition(s: SparkSession, dir: String): DataFrame = {
    val st = Clean.dupLineStats(col("rep"))
    t(s, dir, "documents").filter(col("doc_id") < 300)
      .withColumn("rep", concat_ws("\n", col("text"),
        substring(col("text"), 1, 50), substring(col("text"), 1, 50),
        col("text"), concat(lit("unique tail "), col("doc_id").cast("string"))))
      .select(col("doc_id"),
        st.getField("n_lines").cast("long").as("n_lines"),
        st.getField("n_dup_lines").cast("long").as("n_dup_lines"),
        st.getField("dup_char_frac").as("dup_char_frac"),
        st.getField("top_line_count").cast("long").as("top_line_count"))
  }

  private[graft] val oTextRepetition =
    """WITH p AS (SELECT doc_id, text || chr(10) || substr(text, 1, 50)
      |    || chr(10) || substr(text, 1, 50) || chr(10) || text || chr(10)
      |    || 'unique tail ' || CAST(doc_id AS VARCHAR) AS rep
      |  FROM documents WHERE doc_id < 300),
      |d AS (SELECT doc_id, string_split(rep, chr(10)) AS l FROM p),
      |m AS (SELECT doc_id, len(l) AS n_lines,
      |    len(list_filter(l, (x, i) -> list_position(l, x) <> i))
      |      AS n_dup_lines,
      |    list_aggregate(list_transform(l, (x, i) ->
      |      CASE WHEN list_position(l, x) <> i THEN length(x) ELSE 0 END),
      |      'sum') AS dup_chars,
      |    list_aggregate(list_transform(l, x -> length(x)), 'sum')
      |      AS tot_chars,
      |    list_aggregate(list_transform(l, x ->
      |      len(list_filter(l, y -> y = x))), 'max') AS top_line_count
      |  FROM d)
      |SELECT doc_id, n_lines, n_dup_lines,
      |  CASE WHEN tot_chars = 0 THEN 0.0
      |    ELSE CAST(dup_chars AS DOUBLE) / tot_chars END AS dup_char_frac,
      |  top_line_count
      |FROM m""".stripMargin

  /** Sentence segmentation profile on planted punctuated text (three
    * terminated sentences plus an unterminated tail per doc). */
  /** Sentence-aligned chunks over the planted multi-sentence fixture,
    * 8-token budget with quantized boundaries (see
    * [[Chunk.sentenceChunks]]). */
  private[graft] def qDocChunksSentences(s: SparkSession, dir: String): DataFrame = {
    val planted = t(s, dir, "documents").filter(col("doc_id") < 300)
      .withColumn("st", concat(
        substring(col("text"), 1, 80), lit(". "),
        substring(col("text"), 30, 40), lit("! So is this one? "),
        substring(col("text"), 60, 30), lit(" trailing fragment")))
    Chunk.sentenceChunks(planted, "st", "doc_id", budget = 8)
  }

  private[graft] val oDocChunksSentences =
    """WITH p AS MATERIALIZED (SELECT doc_id,
      |    substr(text, 1, 80) || '. ' || substr(text, 30, 40) ||
      |    '! So is this one? ' || substr(text, 60, 30) ||
      |    ' trailing fragment' AS st
      |  FROM documents WHERE doc_id < 300),
      |s AS (SELECT doc_id,
      |    unnest(regexp_extract_all(st, '[^.!?]+[.!?]+')) AS sent,
      |    generate_subscripts(regexp_extract_all(st, '[^.!?]+[.!?]+'), 1)
      |      AS sidx
      |  FROM p),
      |t AS (SELECT doc_id, sidx, sent,
      |    CAST(len(regexp_extract_all(sent, '\S+')) AS BIGINT) AS stoks
      |  FROM s),
      |c AS (SELECT *, sum(stoks) OVER (PARTITION BY doc_id ORDER BY sidx
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - stoks
      |    AS cumb FROM t)
      |SELECT doc_id, CAST(cumb // 8 AS BIGINT) AS chunk_idx,
      |  count(*) AS n_sentences, CAST(sum(stoks) AS BIGINT) AS n_tokens,
      |  string_agg(sent, '' ORDER BY sidx) AS chunk_text
      |FROM c GROUP BY 1, 2""".stripMargin

  private[graft] def qTextSentences(s: SparkSession, dir: String): DataFrame = {
    val st = Clean.sentenceStats(col("st"))
    t(s, dir, "documents").filter(col("doc_id") < 300)
      .withColumn("st", concat(
        substring(col("text"), 1, 80), lit(". "),
        substring(col("text"), 30, 40), lit("! So is this one? "),
        substring(col("text"), 60, 30), lit(" trailing fragment")))
      .select(col("doc_id"),
        st.getField("n_sentences").cast("long").as("n_sentences"),
        st.getField("mean_sentence_words").as("mean_sentence_words"),
        st.getField("max_sentence_words").cast("long").as("max_sentence_words"))
  }

  private[graft] val oTextSentences =
    """WITH p AS (SELECT doc_id, substr(text, 1, 80) || '. '
      |    || substr(text, 30, 40) || '! So is this one? '
      |    || substr(text, 60, 30) || ' trailing fragment' AS st
      |  FROM documents WHERE doc_id < 300),
      |x AS (SELECT doc_id,
      |    regexp_extract_all(st, '[^.!?]+[.!?]+') AS sents FROM p),
      |w AS (SELECT doc_id, len(sents) AS n_sentences,
      |    list_transform(sents, s -> len(regexp_extract_all(s, '\S+')))
      |      AS words FROM x)
      |SELECT doc_id, n_sentences,
      |  CASE WHEN n_sentences = 0 THEN 0.0
      |    ELSE CAST(list_aggregate(words, 'sum') AS DOUBLE) / n_sentences
      |  END AS mean_sentence_words,
      |  COALESCE(list_aggregate(words, 'max'), 0) AS max_sentence_words
      |FROM w""".stripMargin

  /** Corpus boilerplate-line report: every line shared by >= 3 docs with
    * document and occurrence counts (the planted cookie banners, the
    * short line, and the poison lines must all surface). */
  private[graft] def qTextBoilerplate(s: SparkSession, dir: String): DataFrame =
    Clean.boilerplateLines(c4Corpus(s, dir), "text", "doc_id", minDocs = 3)

  private[graft] val oTextBoilerplate =
    s"""WITH c AS ($oC4Corpus),
      |l AS (SELECT doc_id, unnest(string_split(text, chr(10))) AS line
      |  FROM c)
      |SELECT line, count(*) AS n_occurrences,
      |  count(DISTINCT doc_id) AS n_docs
      |FROM l GROUP BY line HAVING count(DISTINCT doc_id) >= 3""".stripMargin

  /** Boilerplate REMOVAL end-to-end: the report feeds the broadcast
    * anti-join cleaner over the same corpus — shared banners and poison
    * lines disappear from every document (including the first), unique
    * lines survive in order. */
  private[graft] def qTextBoilerplateRemoved(s: SparkSession, dir: String): DataFrame = {
    val c = c4Corpus(s, dir)
    val bp = Clean.boilerplateLines(c, "text", "doc_id", minDocs = 3)
    Clean.removeBoilerplate(c, "text", "doc_id", bp)
      .select(col("doc_id"),
        size(split(col("text"), "\n")).cast("long").as("lines_out"),
        md5(col("text")).as("clean_md5"))
  }

  private[graft] val oTextBoilerplateRemoved =
    s"""WITH c AS ($oC4Corpus),
      |k AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM c),
      |l AS (SELECT doc_id, unnest(ls) AS line,
      |    unnest(generate_series(1, len(ls))) AS i FROM k),
      |bp AS (SELECT line FROM l GROUP BY line
      |  HAVING count(DISTINCT doc_id) >= 3),
      |kept AS (SELECT doc_id, i, line FROM l ANTI JOIN bp USING (line)),
      |re AS (SELECT doc_id,
      |    string_agg(line, chr(10) ORDER BY i) AS clean FROM kept
      |  GROUP BY doc_id)
      |SELECT c.doc_id,
      |  len(string_split(COALESCE(re.clean, ''), chr(10))) AS lines_out,
      |  md5(COALESCE(re.clean, '')) AS clean_md5
      |FROM c LEFT JOIN re ON c.doc_id = re.doc_id""".stripMargin

  /** Per-doc MTLD lexical diversity, forward pass (see
    * [[TextFunctions.mtld]] / [[graft.functions.MtldRails]]): the
    * length-robust diversity read beside `text_ngram_diversity`'s
    * corpus TTR — sequential factor count with the 18/25 threshold as
    * an exact integer compare, partial-factor credit and MTLD on the
    * ppm/micro rails. The oracle replays the WALK itself in a
    * recursive CTE carrying the per-factor type LIST (the
    * holt_winters list-state pattern), so the factor boundaries must
    * match token for token. */
  private[graft] def qTextMtld(s: SparkSession, dir: String): DataFrame =
    TextFunctions.mtld(t(s, dir, "documents"), "text", "doc_id")

  private[graft] val oTextMtld = {
    val upd = "CASE WHEN list_contains(seen, ts[pos + 1]) THEN seen " +
      "ELSE list_append(seen, ts[pos + 1]) END"
    val close = s"len($upd) * 25 < (f_tokens + 1) * 18"
    s"""WITH RECURSIVE tk AS (SELECT doc_id,
      |    list_filter($oToks, x -> x <> '') AS ts FROM documents),
      |nn AS (SELECT doc_id, ts, len(ts) AS n FROM tk),
      |walk AS (
      |  SELECT doc_id, ts, n, 0 AS pos, CAST([] AS VARCHAR[]) AS seen,
      |    CAST(0 AS BIGINT) AS factors, CAST(0 AS BIGINT) AS f_tokens
      |  FROM nn
      |  UNION ALL
      |  SELECT doc_id, ts, n, pos + 1,
      |    CASE WHEN $close THEN CAST([] AS VARCHAR[]) ELSE $upd END,
      |    CASE WHEN $close THEN factors + 1 ELSE factors END,
      |    CASE WHEN $close THEN CAST(0 AS BIGINT) ELSE f_tokens + 1 END
      |  FROM walk WHERE pos < n),
      |fin AS (SELECT doc_id, CAST(n AS BIGINT) AS n_tokens, factors,
      |    CAST(len(seen) AS BIGINT) AS rem_types,
      |    f_tokens AS rem_tokens
      |  FROM walk WHERE pos = n),
      |pp AS (SELECT doc_id AS id, n_tokens, factors, rem_types,
      |    rem_tokens,
      |    CASE WHEN rem_tokens > 0
      |      THEN (1000000 - rem_types * 1000000 // rem_tokens)
      |        * 1000000 // 280000
      |      ELSE CAST(0 AS BIGINT) END AS partial_ppm
      |  FROM fin)
      |SELECT id, n_tokens, factors, rem_types, rem_tokens, partial_ppm,
      |  CASE WHEN factors * 1000000 + partial_ppm > 0
      |    THEN n_tokens * 1000000 * 1000000
      |      // (factors * 1000000 + partial_ppm) END AS mtld_micro
      |FROM pp""".stripMargin
  }

  /** Corpus n-gram diversity per language: distinct word trigrams vs
    * total — the type-token ratio that exposes templated/boilerplate
    * corpora (low TTR) before they skew a mixture. Integer-exact
    * counts; one explode + one two-phase distinct aggregate. */
  private[graft] def qTextNgramDiversity(s: SparkSession, dir: String): DataFrame = {
    val toks = filter(TextFunctions.tokens(col("text")), w => w =!= "")
    val d = t(s, dir, "documents")
    // totals need no explode at all: every doc contributes exactly
    // max(words - 2, 0) trigrams — a plain map + partial aggregate
    val totals = d.groupBy("lang").agg(
      sum(greatest(size(toks) - 2, lit(0)).cast("long")).as("total_3grams"))
    // distincts ride the one-pass hashed-shingle codegen expression
    // (per-doc distinct sets; corpus distinct of those = corpus
    // distinct) — the string-trigram composed form is CodegenFallback
    // and was 10× the cost; 64-bit hashing preserves distinct counts
    // (the dedup family's established contract)
    val distincts = d
      .select(col("lang"), explode(Dedup.hashedShingles(col("text"), 3)).as("g"))
      .groupBy("lang")
      .agg(count_distinct(col("g")).as("distinct_3grams"))
    totals.join(distincts, "lang")
      .withColumn("ttr",
        col("distinct_3grams").cast("double") / col("total_3grams"))
      .select("lang", "total_3grams", "distinct_3grams", "ttr")
  }

  private[graft] val oTextNgramDiversity =
    s"""WITH toks AS (SELECT lang, list_filter($oToks, x -> x <> '') AS t
      |  FROM documents),
      |g AS (SELECT lang, unnest(list_transform(
      |    generate_series(1, greatest(len(t) - 2, 0)),
      |    i -> array_to_string(t[i : i + 2], ' '))) AS g
      |  FROM toks)
      |SELECT lang, count(*) AS total_3grams,
      |  count(DISTINCT g) AS distinct_3grams,
      |  CAST(count(DISTINCT g) AS DOUBLE) / count(*) AS ttr
      |FROM g GROUP BY lang""".stripMargin

  // =====================================================================
  // Benchmark decontamination
  // =====================================================================

  /** Corpus docs (id >= 20) sharing any 8-gram with the stand-in
    * benchmark set (id < 20) — the decontamination check. */
  private[graft] def qContamination(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    Contamination.flag(docs.filter(col("doc_id") >= 20),
      docs.filter(col("doc_id") < 20), "text", "doc_id", n = 8, minShared = 1)
  }

  private[graft] val oContamination =
    s"""WITH toks AS (SELECT doc_id, $oToks AS t FROM documents),
      |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
      |    generate_series(1, greatest(len(t) - 7, 0)),
      |    i -> array_to_string(t[i : i + 7], ' ')))) AS s
      |  FROM toks),
      |c AS (SELECT doc_id AS corpus_id, s FROM sh WHERE doc_id >= 20),
      |b AS (SELECT doc_id AS bench_id, s FROM sh WHERE doc_id < 20)
      |SELECT corpus_id, bench_id, count(*) AS shared
      |FROM c JOIN b USING (s) GROUP BY 1, 2 HAVING count(*) >= 1""".stripMargin

  /** Hierarchical rollup report over events: (event_type, week) totals
    * plus per-type subtotals plus the grand total in ONE Expand-based
    * aggregate — `gid` disambiguates subtotal rows from NULL dimension
    * values (see [[Report.rollupReport]]). */
  private[graft] def qEventsRollup(s: SparkSession, dir: String): DataFrame =
    Report.rollupReport(
      readEvents(s, dir)
        .select(col("event_type"), weekofyear(col("ts")).as("week"),
          col("value")),
      Seq("event_type", "week"),
      Seq(count(lit(1)).as("n"),
        sum(col("value")).cast("float").as("total")))

  private[graft] val oEventsRollup =
    """SELECT event_type, CAST(week(CAST(ts AS TIMESTAMP)) AS INT) AS week,
      |  CAST(GROUPING(event_type, week(CAST(ts AS TIMESTAMP))) AS BIGINT)
      |    AS gid,
      |  count(*) AS n, CAST(sum(value) AS REAL) AS total
      |FROM events
      |GROUP BY ROLLUP(event_type, week(CAST(ts AS TIMESTAMP)))"""
      .stripMargin

  /** U-shaped multi-touch attribution: each purchase of the first 10
    * users splits 10⁶ ppm of credit over the view/click touches in its
    * 72 h lookback — 40/20/40 with the exact-integer remainder rule
    * (see [[Funnel.positionAttribution]]). Per-(conversion, touch)
    * rows. */
  private[graft] def qEventsAttribution(s: SparkSession, dir: String): DataFrame =
    Funnel.positionAttribution(
      readEvents(s, dir).filter(col("user_id") < 10),
      "user_id", "ts", "event_id", "event_type",
      convType = "purchase", touchTypes = Seq("view", "click"),
      lookbackMs = 72L * 3600 * 1000)

  private[graft] val oEventsAttribution =
    """WITH e AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id,
      |    event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS us
      |  FROM events WHERE user_id < 10),
      |c AS (SELECT user_id, us AS cus, event_id AS conv_id, ts AS conv_ts
      |  FROM e WHERE event_type = 'purchase'),
      |t AS (SELECT user_id, us AS tus, event_id AS touch_id,
      |    event_type AS touch_type
      |  FROM e WHERE event_type IN ('view', 'click')),
      |j AS (SELECT c.user_id, c.conv_id, c.conv_ts, c.cus,
      |    t.tus, t.touch_id, t.touch_type
      |  FROM c JOIN t USING (user_id)
      |  WHERE t.tus <= c.cus AND t.tus > c.cus - 259200000000),
      |p AS (SELECT *, CAST(row_number() OVER (PARTITION BY conv_id
      |      ORDER BY tus, touch_id) AS BIGINT) AS pos,
      |    count(*) OVER (PARTITION BY conv_id) AS n_touches FROM j)
      |SELECT conv_id, user_id, conv_ts, touch_id, touch_type, pos,
      |  n_touches,
      |  CAST(CASE WHEN n_touches = 1 THEN 1000000
      |    WHEN n_touches = 2 THEN 500000
      |    WHEN pos = n_touches THEN 400000
      |    WHEN pos = 1
      |      THEN 600000 - (200000 // (n_touches - 2)) * (n_touches - 2)
      |    ELSE 200000 // (n_touches - 2) END AS BIGINT) AS credit_ppm
      |FROM p""".stripMargin

  /** Markov removal-effect attribution over event journeys: per
    * channel, how much the conversion probability drops when its node
    * is removed — 16 exact-integer absorption iterations, the
    * pagerank contract (see [[Funnel.markovAttribution]]). */
  private[graft] def qEventsAttributionMarkov(s: SparkSession,
                                       dir: String): DataFrame =
    Funnel.markovAttribution(readEvents(s, dir), "user_id", "ts",
      "event_id", "event_type", convType = "purchase")

  private[graft] val oEventsAttributionMarkov = {
    val step = (k: Int) =>
      s"""p$k AS MATERIALIZED (
         |  SELECT pv.variant, pv.state,
         |    CASE WHEN pv.state = 'CONV' THEN 1000000
         |         WHEN pv.state = 'NULL' THEN 0
         |         WHEN pv.state = pv.variant THEN 0
         |         ELSE coalesce(agg.val, 0) END AS p
         |  FROM p${k - 1} pv LEFT JOIN (
         |    SELECT pr.variant, t.src AS state,
         |      CAST(sum(t.cnt * pr.p) // tot.total AS BIGINT) AS val
         |    FROM tr t JOIN p${k - 1} pr ON pr.state = t.dst
         |      JOIN tot ON tot.src = t.src
         |    GROUP BY pr.variant, t.src, tot.total) agg
         |  ON agg.variant = pv.variant AND agg.state = pv.state)"""
        .stripMargin
    s"""WITH e AS MATERIALIZED (SELECT user_id, event_type, event_id,
       |    row_number() OVER (PARTITION BY user_id
       |      ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn
       |  FROM events),
       |pm AS MATERIALIZED (SELECT user_id, min(rn) AS prn FROM e
       |  WHERE event_type = 'purchase' GROUP BY 1),
       |j AS MATERIALIZED (SELECT e.user_id, e.event_type, e.rn,
       |    pm.prn IS NOT NULL AS conv
       |  FROM e LEFT JOIN pm USING (user_id)
       |  WHERE e.event_type <> 'purchase'
       |    AND (pm.prn IS NULL OR e.rn < pm.prn)),
       |sq AS MATERIALIZED (SELECT user_id, event_type AS src,
       |    lead(event_type) OVER (PARTITION BY user_id ORDER BY rn)
       |      AS nxt,
       |    conv, row_number() OVER (PARTITION BY user_id ORDER BY rn)
       |      AS jrn
       |  FROM j),
       |tr0 AS (
       |  SELECT src, coalesce(nxt,
       |    CASE WHEN conv THEN 'CONV' ELSE 'NULL' END) AS dst FROM sq
       |  UNION ALL SELECT 'START', src FROM sq WHERE jrn = 1
       |  UNION ALL SELECT 'START', 'CONV' FROM pm
       |    WHERE user_id NOT IN (SELECT DISTINCT user_id FROM j)),
       |tr AS MATERIALIZED (SELECT src, dst, count(*) AS cnt FROM tr0
       |  GROUP BY 1, 2),
       |tot AS MATERIALIZED (SELECT src, sum(cnt) AS total FROM tr
       |  GROUP BY 1),
       |v(variant) AS (VALUES ('FULL'), ('click'), ('error'),
       |  ('signup'), ('view')),
       |st AS (SELECT DISTINCT src AS state FROM tr
       |  UNION SELECT 'CONV' UNION SELECT 'NULL'),
       |p0 AS MATERIALIZED (SELECT v.variant, st.state,
       |    CASE st.state WHEN 'CONV' THEN 1000000 ELSE 0 END AS p
       |  FROM v, st),
       |${(1 to 16).map(step).mkString(",\n")},
       |fullp AS (SELECT p FROM p16
       |  WHERE variant = 'FULL' AND state = 'START'),
       |rem AS MATERIALIZED (SELECT variant AS channel,
       |    (SELECT p FROM fullp) - p AS removal
       |  FROM p16 WHERE state = 'START' AND variant <> 'FULL')
       |SELECT channel, CAST(removal AS BIGINT) AS removal_micro,
       |  CAST(CASE WHEN (SELECT sum(removal) FROM rem) > 0
       |    THEN removal * 1000000 // (SELECT sum(removal) FROM rem)
       |    ELSE 0 END AS BIGINT) AS credit_ppm
       |FROM rem""".stripMargin
  }

  /** Channel-level attribution report: total exact-ppm credit and
    * touch count per channel — the order-free BIGINT sum the per-touch
    * contract exists to make possible. */
  private[graft] def qEventsAttributionChannel(s: SparkSession,
                                        dir: String): DataFrame =
    qEventsAttribution(s, dir)
      .groupBy("touch_type")
      .agg(count(lit(1)).as("n_touches"),
        sum("credit_ppm").as("credit_ppm_total"))

  private[graft] val oEventsAttributionChannel =
    s"""WITH a AS ($oEventsAttribution)
       |SELECT touch_type, count(*) AS n_touches,
       |  CAST(sum(credit_ppm) AS BIGINT) AS credit_ppm_total
       |FROM a GROUP BY 1""".stripMargin

  /** Ordered funnel over the events table: view → click → purchase per
    * user, strict-after step times; the oracle replays the sequential
    * conditional mins (min view; min click after it; min purchase
    * after that) — provably the same as the fold's first-qualifying
    * fills. */
  private[graft] def qEventsFunnel(s: SparkSession, dir: String): DataFrame =
    Funnel.funnel(readEvents(s, dir), "user_id", "ts", "event_type",
      Seq("view", "click", "purchase"))

  private[graft] val oEventsFunnel =
    """WITH e AS (SELECT user_id,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS t, event_type FROM events),
      |s1 AS (SELECT user_id, min(t) AS view_us FROM e
      |  WHERE event_type = 'view' GROUP BY 1),
      |s2 AS (SELECT e.user_id, min(t) AS click_us FROM e
      |  JOIN s1 USING (user_id)
      |  WHERE event_type = 'click' AND t > view_us GROUP BY 1),
      |s3 AS (SELECT e.user_id, min(t) AS purchase_us FROM e
      |  JOIN s2 USING (user_id)
      |  WHERE event_type = 'purchase' AND t > click_us GROUP BY 1),
      |u AS (SELECT DISTINCT user_id FROM e)
      |SELECT u.user_id, s1.view_us, s2.click_us, s3.purchase_us,
      |  CAST(CASE WHEN s1.user_id IS NULL THEN 0
      |    WHEN s2.user_id IS NULL THEN 1
      |    WHEN s3.user_id IS NULL THEN 2 ELSE 3 END AS BIGINT) AS reached
      |FROM u LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id)
      |  LEFT JOIN s3 USING (user_id)""".stripMargin

  /** Conversion-time profile of completed funnels: exact quantiles of
    * purchase−view seconds over fully-converted users (Spark's exact
    * `percentile` interpolates identically to quantile_cont). */
  private[graft] def qEventsFunnelTiming(s: SparkSession, dir: String): DataFrame =
    Funnel.funnel(readEvents(s, dir), "user_id", "ts", "event_type",
        Seq("view", "click", "purchase"))
      .filter(col("reached") === 3)
      .withColumn("sec",
        (col("purchase_us") - col("view_us")).cast("double") / 1e6)
      .agg(count(lit(1)).as("n_converted"),
        expr("percentile(sec, 0.5)").as("p50_sec"),
        expr("percentile(sec, 0.9)").as("p90_sec"))

  private[graft] val oEventsFunnelTiming =
    """WITH e AS (SELECT user_id,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS t, event_type FROM events),
      |s1 AS (SELECT user_id, min(t) AS t1 FROM e
      |  WHERE event_type = 'view' GROUP BY 1),
      |s2 AS (SELECT e.user_id, min(t) AS t2 FROM e JOIN s1 USING (user_id)
      |  WHERE event_type = 'click' AND t > t1 GROUP BY 1),
      |s3 AS (SELECT e.user_id, min(t) AS t3 FROM e JOIN s2 USING (user_id)
      |  WHERE event_type = 'purchase' AND t > t2 GROUP BY 1),
      |c AS (SELECT s1.user_id, CAST(t3 - t1 AS DOUBLE) / 1e6 AS sec
      |  FROM s1 JOIN s2 USING (user_id) JOIN s3 USING (user_id))
      |SELECT count(*) AS n_converted,
      |  quantile_cont(sec, 0.5) AS p50_sec,
      |  quantile_cont(sec, 0.9) AS p90_sec
      |FROM c""".stripMargin

  /** Weekly cohort retention over the events table (7-day periods from
    * the epoch): cohort = first-activity week, offset = weeks since. */
  private[graft] def qEventsRetention(s: SparkSession, dir: String): DataFrame =
    Funnel.retention(readEvents(s, dir), "user_id", "ts",
      periodMs = 7L * 24 * 3600 * 1000)

  private[graft] val oEventsRetention =
    """WITH e AS (SELECT user_id, CAST(floor(
      |    epoch_us(CAST(ts AS TIMESTAMP)) / 604800000000.0) AS BIGINT) AS p
      |  FROM events),
      |f AS (SELECT user_id, min(p) AS cohort FROM e GROUP BY 1),
      |a AS (SELECT DISTINCT user_id, p FROM e)
      |SELECT cohort, p - cohort AS offset,
      |  count(DISTINCT a.user_id) AS n_users
      |FROM a JOIN f USING (user_id) GROUP BY 1, 2""".stripMargin

  /** The funnel's conversion summary (3 rows). */
  private[graft] def qEventsFunnelSummary(s: SparkSession, dir: String): DataFrame =
    Funnel.funnelSummary(
      Funnel.funnel(readEvents(s, dir), "user_id", "ts", "event_type",
        Seq("view", "click", "purchase")),
      Seq("view", "click", "purchase"))

  private[graft] val oEventsFunnelSummary =
    """WITH e AS (SELECT user_id,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS t, event_type FROM events),
      |s1 AS (SELECT user_id, min(t) AS t1 FROM e
      |  WHERE event_type = 'view' GROUP BY 1),
      |s2 AS (SELECT e.user_id, min(t) AS t2 FROM e JOIN s1 USING (user_id)
      |  WHERE event_type = 'click' AND t > t1 GROUP BY 1),
      |s3 AS (SELECT e.user_id, min(t) AS t3 FROM e JOIN s2 USING (user_id)
      |  WHERE event_type = 'purchase' AND t > t2 GROUP BY 1),
      |n AS (SELECT (SELECT count(*) FROM s1) AS n1,
      |  (SELECT count(*) FROM s2) AS n2, (SELECT count(*) FROM s3) AS n3)
      |SELECT * FROM (
      |  SELECT CAST(1 AS BIGINT) AS step, 'view' AS name, n1 AS n_users,
      |    CAST(NULL AS DOUBLE) AS conversion FROM n
      |  UNION ALL SELECT 2, 'click', n2,
      |    CASE WHEN n1 > 0 THEN CAST(n2 AS DOUBLE) / n1 END FROM n
      |  UNION ALL SELECT 3, 'purchase', n3,
      |    CASE WHEN n2 > 0 THEN CAST(n3 AS DOUBLE) / n2 END FROM n)""".stripMargin

  val registry: Seq[Query] = Seq(
    Query("text_mtld", qTextMtld, oTextMtld),
    Query("text_ngram_diversity", qTextNgramDiversity, oTextNgramDiversity),
    Query("events_funnel", qEventsFunnel, oEventsFunnel),
    Query("events_attribution", qEventsAttribution, oEventsAttribution),
    Query("events_rollup", qEventsRollup, oEventsRollup),
    Query("events_attribution_channel", qEventsAttributionChannel, oEventsAttributionChannel),
    Query("events_attribution_markov", qEventsAttributionMarkov, oEventsAttributionMarkov),
    Query("events_funnel_summary", qEventsFunnelSummary, oEventsFunnelSummary),
    Query("events_funnel_timing", qEventsFunnelTiming, oEventsFunnelTiming),
    Query("events_retention", qEventsRetention, oEventsRetention),
    Query("doc_vocab_coverage", qDocVocabCoverage, oDocVocabCoverage),
    Query("events_asof", qEventsAsof, oEventsAsof),
    Query("events_asof_forward", qEventsAsofForward, oEventsAsofForward),
    Query("doc_topn", qDocTopN, oDocTopN),
    Query("curation_pipeline", qCurationPipeline, oCurationPipeline),
    Query("pretrain_pipeline", qPretrainPipeline, oPretrainPipeline),
    Query("doc_tokens", qDocTokens, oDocTokens),
    Query("doc_tokens_bpe", qDocTokensBpe, oDocTokensBpe),
    Query("doc_tokens_bytebpe", qDocTokensByteBpe, oDocTokensByteBpe),
    Query("doc_tokens_bytebpe_exact", qDocTokensByteBpeExact, oDocTokensByteBpeExact),
    Query("doc_tokens_unigram", qDocTokensUnigram, oDocTokensUnigram),
    Query("doc_tokens_unigram_exact", qDocTokensUnigramExact, oDocTokensUnigramExact),
    Query("doc_chunks_sentences", qDocChunksSentences, oDocChunksSentences),
    Query("text_scrub", qTextScrub, oTextScrub),
    Query("text_card_scrub", qTextCardScrub, oTextCardScrub),
    Query("text_dedup_lines", qTextDedupLines, oTextDedupLines),
    Query("text_c4_clean", qTextC4Clean, oTextC4Clean),
    Query("text_repetition", qTextRepetition, oTextRepetition),
    Query("text_sentences", qTextSentences, oTextSentences),
    Query("text_boilerplate", qTextBoilerplate, oTextBoilerplate),
    Query("text_boilerplate_removed", qTextBoilerplateRemoved, oTextBoilerplateRemoved),
    Query("contamination", qContamination, oContamination)
  )
}
