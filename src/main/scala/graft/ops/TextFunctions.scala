package graft.ops

import org.apache.spark.sql.{Column, DataFrame, GraftShim}
import org.apache.spark.sql.functions._
import graft.functions.{CharClassProfile, DeflateSize, GopherStats, MtldRails, StopProfile}

/** Text-analysis primitives for large-scale training-data pipelines:
  * tokenization, token counting, quality scoring, language ID, and
  * document fingerprinting.
  *
  * All of these are pure column expressions (whole-stage codegen, no UDFs,
  * no shuffles) — at 100 TB they run as a single map pass over the corpus
  * and pipeline into whatever aggregation or filter follows. Regexes are
  * kept to the dialect subset that DuckDB's RE2 interprets identically, so
  * every function has an exact SQL oracle twin.
  */
object TextFunctions {

  /** Whitespace tokens (lowercased). */
  def tokens(text: Column): Column =
    split(regexp_replace(lower(trim(text)), "\\s+", " "), " ")

  /** Driver/executor JVM twin of [[tokens]] for the few places that
    * must tokenize outside an expression (BPE merge training on a
    * bounded sample, UDF scorers): space-only trim (Spark `trim` does
    * not strip tabs/newlines), Locale.ROOT lowercase (Spark `lower` is
    * locale-independent), `\s+` collapse, split keeping trailing
    * empties — byte-for-byte the expression pipeline. */
  private[graft] def tokensJvm(text: String): Array[String] = {
    var b = 0
    var e = text.length
    while (b < e && text.charAt(b) == ' ') b += 1
    while (e > b && text.charAt(e - 1) == ' ') e -= 1
    text.substring(b, e)
      .toLowerCase(java.util.Locale.ROOT)
      .replaceAll("\\s+", " ").split(" ", -1)
  }

  /** The one-pass codegen [[GopherStats]] struct. The composed battery
    * it replaced re-tokenized under five rule columns through
    * CodegenFallback higher-order functions (~80× the per-row cost);
    * GopherStatsSpec pins the two bit-equal. */
  private def gopherStats(text: Column): Column =
    GraftShim.column(GopherStats(GraftShim.expression(text)))

  /** Fraction of word 2-grams that are repeats — the Gopher/RefinedWeb
    * repetition signal (0 for no repetition; boilerplate-heavy docs
    * score high). 0.0 for docs with fewer than 2 tokens and for null
    * text. */
  def dupBigramFraction(text: Column): Column =
    coalesce(gopherStats(text).getField("dup2"), lit(0.0))

  /** Gopher-style quality rule battery: per-rule booleans plus the
    * conjunction. Thresholds follow the published Gopher filters where
    * the signal is computable from text alone. */
  def gopherRules(text: Column): Column = {
    val g = gopherStats(text)
    // null text: like the composed `size(null)` = -1 (legacy non-ANSI
    // sizeOfNull), word_count_ok is FALSE — not null — and
    // short-circuits pass to false; dup2 reads 0.0
    val wordCountOk = coalesce(g.getField("n_words"), lit(-1)).between(50, 100000)
    val meanLenOk = g.getField("mean_len").between(3.0, 10.0)
    val symbolOk = g.getField("symbol_ratio") < 0.1
    val dupOk = coalesce(g.getField("dup2"), lit(0.0)) < 0.2
    struct(
      wordCountOk.as("word_count_ok"), meanLenOk.as("mean_len_ok"),
      symbolOk.as("symbol_ok"), dupOk.as("dup_ok"),
      (wordCountOk && meanLenOk && symbolOk && dupOk).as("pass"))
  }

  /** The one-pass codegen [[StopProfile]] struct: one map lookup per
    * token, where the composed forms tokenized and filtered once per
    * language profile through CodegenFallback lambdas. Coalescing the
    * null struct's fields to -1 reproduces the composed `size(null)` =
    * -1 legacy semantics bit-exactly (StopProfileSpec). */
  private def stopProfile(text: Column): Column =
    GraftShim.column(StopProfile(GraftShim.expression(text)))

  /** Whitespace token count. */
  def tokenCountWs(text: Column): Column =
    coalesce(stopProfile(text).getField("n_words"), lit(-1))

  /** BPE-ish subword count: runs of letters, runs of digits, and single
    * non-alphanumeric marks each count as one token — the usual cheap
    * stand-in for a byte-pair-encoder budget estimate. */
  def tokenCountBpe(text: Column): Column =
    regexp_count(lower(text), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"))

  /** Mean whitespace-token length. */
  def avgTokenLen(text: Column): Column = gopherStats(text).getField("mean_len")

  private[graft] val enStop = Seq("the", "a", "and", "of", "to", "in", "is")
  private[graft] val langStops: Seq[(String, Seq[String])] = Seq(
    "en" -> enStop,
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un", "une"),
    "es" -> Seq("el", "los", "las", "y", "es", "un", "una"),
    "zh" -> Seq("的", "是", "了", "在", "和"))

  /** Stopword hits of `langStops(lang)`'s words among the tokens. */
  private def stopHits(text: Column, lang: Int): Column =
    coalesce(element_at(stopProfile(text).getField("hits"), lit(lang + 1)),
      lit(-1))

  /** Fraction of tokens that are (English) stopwords — a standard quality
    * signal: natural prose has a stable stopword rate, keyword spam and
    * boilerplate don't. */
  def stopwordRatio(text: Column): Column =
    stopHits(text, langStops.indexWhere(_._1 == "en")).cast("double") /
      tokenCountWs(text)

  /** Fraction of characters that are punctuation marks. */
  def punctRatio(text: Column): Column =
    (regexp_count(text, lit("[^a-zA-Z0-9\\s]")).cast("double") /
      greatest(length(text), lit(1)))

  /** Composite quality score in [0,1]: length band + stopword presence −
    * punctuation excess. Deliberately simple and fully expression-based;
    * tune weights per corpus. Weights are dyadic rationals (exact in
    * binary floating point) so the score is bit-identical across engines. */
  def qualityScore(text: Column): Column = {
    val lenOk = when(length(text).between(50, 10000), 0.5).otherwise(0.0)
    val stopOk = when(stopwordRatio(text) > 0.02, 0.25).otherwise(0.0)
    val punctOk = when(punctRatio(text) < 0.1, 0.25).otherwise(0.0)
    lenOk + stopOk + punctOk
  }

  /** N-gram/stopword-profile language ID: score each candidate language by
    * its stopword hit-rate, pick the best; fixed language order breaks
    * ties deterministically. Returns a (lang, score) struct. On real
    * multilingual corpora the stopword profiles above would be replaced by
    * per-language character-n-gram frequency tables — the plan shape
    * (single map pass, no shuffle) is identical. */
  def langId(text: Column): Column = {
    val n = greatest(tokenCountWs(text), lit(1)).cast("double")
    val scored = langStops.zipWithIndex.map { case ((lang, _), i) =>
      struct((stopHits(text, i).cast("double") / n).as("score"),
        lit(lang).as("lang"))
    }
    // Strict > keeps the earlier language on score ties, making the pick
    // deterministic in declaration order.
    val best = scored.reduceLeft((a, b) =>
      when(b.getField("score") > a.getField("score"), b).otherwise(a))
    struct(best.getField("lang").as("lang"), best.getField("score").as("score"))
  }

  /** Canonical-text fingerprint: md5 of lowercased, whitespace-collapsed
    * text. Stable across engines (md5 is md5 everywhere) — the join key
    * for exact dedup. */
  def fingerprint(text: Column): Column =
    md5(regexp_replace(lower(trim(text)), "\\s+", " "))

  /** Unicode NFC normalization (canonical composition) — the step that
    * makes "é" and "e"+U+0301 the SAME bytes before any fingerprint,
    * token, or dedup key is derived: without it, byte-twins that render
    * identically hash apart and every exact rail silently under-dedups
    * mixed-source corpora. JVM `java.text.Normalizer` UDF (no Spark
    * built-in exists; DuckDB's `nfc_normalize` implements the same
    * Unicode mapping — verified equal on the combining-mark cases the
    * audit query plants). Null passes through. */
  val nfc: Column => Column = {
    val f = udf { (s: String) =>
      if (s == null) null
      else java.text.Normalizer.normalize(s,
        java.text.Normalizer.Form.NFC)
    }
    c => f(c)
  }

  /** Character-level profile — class counts, distinct characters, and
    * Shannon entropy over the char distribution (bits): the
    * charset-health battery (encoding damage → high `n_other`,
    * binary-in-text → high entropy, repetitive spam → low). One pass of
    * the codegen [[CharClassProfile]] expression over code points. It
    * accumulates entropy in rounded 1e-6-bit integer units per distinct
    * character, so the sum is order-independent and engine-exact
    * (CharProfileSpec pins it bit-equal to the composed
    * higher-order-function spelling on BMP text; DuckDB oracle
    * `text_entropy`). */
  def charProfile(text: Column): Column =
    GraftShim.column(CharClassProfile(GraftShim.expression(text)))

  /** Unicode-SCRIPT mix profile — the multilingual-curation twin of
    * [[charProfile]]'s ASCII classes: per-script character counts
    * (Latin/Han/Cyrillic/Arabic/Greek/Hangul/Kana — the scripts that
    * cover the big crawl languages), the dominant script, and its
    * share in exact ppm (integer DIV — no float rounding to drift
    * cross-engine). The signal catches what n-gram langid cannot:
    * wrong-script spam inside a language bucket, mixed-script mashups,
    * and transliteration leakage — a doc whose langid says "en" but
    * whose chars are 40% Han is a labeling bug, not English.
    *
    * Counts use one codegen'd `regexp_count` per script class
    * (Unicode script properties — identical definitions in Java regex
    * `\p{IsX}` and RE2 `\p{X}`, so the DuckDB oracle matches per
    * char). All snippets BMP-safe: Spark counts code points, so
    * supplementary-plane text would count 1 where engines counting
    * UTF-16 units say 2 — keep oracle fixtures inside the BMP.
    *
    * @return struct(n_chars=non-whitespace count, latin, han,
    *         cyrillic, arabic, greek, hangul, kana, other,
    *         dominant_script, dominant_ppm); ties break in the listed
    *         script order, an all-zero profile is ("none", 0) */
  def scriptProfile(text: Column): Column = {
    val classes = Seq(
      "latin" -> "\\p{IsLatin}", "han" -> "\\p{IsHan}",
      "cyrillic" -> "\\p{IsCyrillic}", "arabic" -> "\\p{IsArabic}",
      "greek" -> "\\p{IsGreek}", "hangul" -> "\\p{IsHangul}",
      "kana" -> "[\\p{IsHiragana}\\p{IsKatakana}]")
    val counts = classes.map { case (name, re) =>
      name -> regexp_count(text, lit(re)).cast("long")
    }
    val n = regexp_count(text, lit("\\S")).cast("long")
    val maxC = greatest(counts.map(_._2): _*)
    val dominant = when(maxC === 0, lit("none")).otherwise(
      counts.tail.foldLeft(when(counts.head._2 === maxC,
          lit(counts.head._1))) {
        case (acc, (name, c)) => acc.when(c === maxC, lit(name))
      })
    val fields =
      n.as("n_chars") +:
        counts.map { case (name, c) => c.as(name) } :+
        (n - counts.map(_._2).reduce(_ + _)).as("other") :+
        dominant.as("dominant_script") :+
        when(n > 0, expr_intdiv(maxC * 1000000L, n))
          .otherwise(lit(0L)).as("dominant_ppm")
    struct(fields: _*)
  }

  /** `a DIV b` as a Column (IntegralDivide — exact, truncating). */
  private def expr_intdiv(a: Column, b: Column): Column =
    call_function("div", a, b)

  /** MTLD lexical diversity, forward pass (see
    * [[graft.functions.MtldRails]] for the walk semantics): per doc,
    * the factor state plus the derived ppm rails — remainder-TTR,
    * partial-factor credit (1−TTR)/0.28 as one integer division
    * (remainder TTR ≥ 0.72 by construction, so the credit is ≤ 10⁶),
    * and MTLD = n·10¹² div (factors·10⁶ + partial) in micro units
    * (null when the doc is empty or never leaves its first full-TTR
    * factor — plain TTR is the read there).
    *
    * @return (id, n_tokens, factors, rem_types, rem_tokens,
    *         partial_ppm, mtld_micro) */
  def mtld(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val rails = GraftShim.column(MtldRails(GraftShim.expression(tokens(col(textCol)))))
    df.select(col(idCol).as("id"), rails.as("__m"))
      .select(col("id"), col("__m.n_tokens").as("n_tokens"),
        col("__m.factors").as("factors"),
        col("__m.rem_types").as("rem_types"),
        col("__m.rem_tokens").as("rem_tokens"))
      .withColumn("partial_ppm", when(col("rem_tokens") > 0,
        expr("(1000000 - rem_types * 1000000 div rem_tokens) " +
          "* 1000000 div 280000")).otherwise(lit(0L)))
      .withColumn("mtld_micro",
        when(expr("factors * 1000000 + partial_ppm") > 0,
          expr("n_tokens * 1000000 * 1000000 " +
            "div (factors * 1000000 + partial_ppm)")))
  }

  /** DEFLATE-compressed byte count of the UTF-8 text: the codegen
    * [[DeflateSize]] expression. */
  private[graft] def deflateSize(text: Column): Column =
    GraftShim.column(DeflateSize(GraftShim.expression(text)))
}
