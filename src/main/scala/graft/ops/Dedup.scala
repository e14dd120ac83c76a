package graft.ops

import org.apache.spark.sql.{Column, DataFrame, GraftShim}
import org.apache.spark.sql.GraftShim.materialize
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{HashedShingles, MinHashOph, MinHashSig, SimHash64}

/** Deduplication operators for web-scale corpora: exact, MinHash+LSH,
  * SimHash, exact n-gram Jaccard, and embedding-cosine near-dup.
  *
  * Scale design notes (100 TB / 1000 executors):
  *   - Every operator is shuffle-bounded: exact dedup is ONE hash shuffle
  *     on the fingerprint; minhash is one explode + one groupBy + one
  *     bucket-join on banded signatures; nothing collects to the driver.
  *   - Shingle/bucket hot keys are the classic skew hazard — both
  *     inverted-index paths take a frequency cap (`maxDf` / `maxBucket`)
  *     that drops degenerate keys (a shingle shared by 10M docs carries no
  *     dedup signal but creates a quadratic join). Dropped keys only lose
  *     candidate recall on pairs that other shingles almost surely cover.
  *   - Candidate verification recomputes the exact measure on candidate
  *     pairs only, so LSH false positives cost one narrow join, never a
  *     full cross product.
  */
object Dedup {

  /** Word n-gram shingle set (distinct, lowercased) as an array column —
    * sliding windows over the whitespace tokens, built with
    * transform/slice (codegen, no UDF). Documents shorter than n words
    * yield an empty set. */
  def shingles(text: Column, n: Int = 3): Column = {
    val toks = TextFunctions.tokens(text)
    val cnt = size(toks) - (n - 1) // number of windows
    when(cnt >= 1,
      array_distinct(transform(sequence(lit(1), cnt),
        i => concat_ws(" ", slice(toks, i, lit(n))))))
      .otherwise(array().cast("array<string>"))
  }

  /** Hashed word n-gram shingle set (`array<long>`): the codegen
    * [[HashedShingles]] expression — the one shingle hash family shared
    * by the dedup, contamination, linkage and diversity operators, so
    * band tables, signatures and verification always agree. It has the
    * same set sizes as [[shingles]]; consumers rely only on hash
    * distinctness (set sizes, intersections, min-hash ordering). */
  private[graft] def hashedShingles(text: Column, n: Int): Column =
    GraftShim.column(HashedShingles(GraftShim.expression(text), n))

  /** WINNOWING document fingerprints (Schleimer–Wilkerson–Aiken, the
    * MOSS algorithm): hash every word `k`-gram, slide a window of `w`
    * consecutive hashes, and keep each window's minimum — guaranteeing
    * any shared run of ≥ w+k−1 words between two documents shares a
    * fingerprint, at ~2/(w+1) of the k-gram density. The local-min rule
    * beats "every j-th hash" (position-shift fragile) and plain min-hash
    * (no locality guarantee) for plagiarism/quotation span detection.
    *
    * Determinism: ties are broken to the RIGHTMOST minimal position by
    * minimizing the single integer key hash·2²⁰ + (2²⁰−1−pos) — hash is
    * the first 8 md5 hex digits (< 2³², engine-portable), so the key is
    * exact in a BIGINT (docs capped at 2²⁰ k-grams). One trailing
    * `rowsBetween(-(w−1), 0)` min per document (window partitioned by
    * doc — state is w keys), then a distinct on selected keys. Documents
    * with fewer than w k-grams have no full window and emit nothing.
    *
    * @return (idCol, n_kgrams, n_fps, fp_sum) — n_fps distinct selected
    *         fingerprints, fp_sum the sum of their hash values (the
    *         compact per-doc signature digest oracles can replay) */
  def winnowFingerprints(df: DataFrame, textCol: String, idCol: String,
                         k: Int = 3, w: Int = 4,
                         fastHash: Boolean = false): DataFrame =
    winnowSelected(df, textCol, idCol, k, w, fastHash)
      .groupBy(col(idCol), col("n_kgrams"))
      .agg(count(lit(1)).as("n_fps"),
        sum(expr("__key div 1048576")).as("fp_sum"))

  /** Shared winnowing core: one row per (doc, DISTINCT selected KEY) —
    * a key is (hash, position), so a periodic document that re-selects
    * the same hash at several positions keeps one row per position (the
    * per-doc digest counts selections; the pair shortlist collapses to
    * distinct hashes on top).
    *
    * `fastHash` swaps the per-k-gram hash from the md5 oracle rail to
    * xxhash64's low 32 bits — the PRODUCTION tier (r12 ask): md5 is a
    * cryptographic digest interpreted through string hex, xxhash64 is
    * one codegen'd long-returning expression. Measured at the 10×
    * soak: 6.9 → 6.0 s min (~15%) — the r12 "md5-per-3-gram law"
    * turned out to be a MISREAD of the per-gram re-tokenize bug fixed
    * below, not hash cost. Winnowing's span guarantee
    * is hash-agnostic (any shared run of ≥ w+k−1 words shares a
    * SELECTED print under EITHER hash because selection is a function
    * of the hash sequence, which the shared run reproduces), so the
    * two tiers shortlist the same planted-copy pairs (spec-pinned);
    * only the incidental fingerprint VALUES differ. Keep md5 for
    * oracle-replayed queries; flip fastHash for 100 TB runs — and
    * never mix tiers against one persisted [[winnowIndex]]. */
  private def winnowSelected(df: DataFrame, textCol: String, idCol: String,
                             k: Int, w: Int,
                             fastHash: Boolean = false): DataFrame = {
    require(k >= 1 && w >= 1, "winnow: k and w must be >= 1")
    // materialize the token ARRAY in its own projection before the
    // k-gram lambda touches it: a higher-order-function body is
    // interpreted with no subexpression reuse, so an inline tokens()
    // there re-ran the regex split PER K-GRAM — measured 38 s of the
    // 78 s 10x soak just to explode, vs 1.1 s to tokenize the corpus
    // once (r14 profile; this, not md5, was the family's cost law)
    val toks = col("__toks")
    val kgrams = transform(sequence(lit(1), size(toks) - (k - 1)),
      i => concat_ws(" ", slice(toks, i, lit(k))))
    val hash32 =
      if (fastHash) expr("xxhash64(__kg) & 4294967295")
      else conv(substring(md5(col("__kg")), 1, 8), 16, 10).cast("long")
    // posexplode_outer, not posexplode: InferFiltersFromGenerate would
    // push a size(kgrams) > 0 row filter that REBUILDS the whole gram
    // array once per row below the projection (the duplicatedSpanStats
    // explode_outer lesson); the filter above already guarantees ≥ w
    // grams, so the outer variant's null row never occurs
    val ex = df
      .select(col(idCol), TextFunctions.tokens(col(textCol)).as("__toks"))
      .filter(size(toks) - (k - 1) >= w)
      .select(col(idCol), (size(toks) - (k - 1)).cast("long").as("n_kgrams"),
        posexplode_outer(kgrams).as(Seq("__pos", "__kg")))
      .withColumn("__key",
        hash32 * lit(1048576L) + (lit(1048575L) - col("__pos")))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy("__pos")
      .rowsBetween(-(w - 1), 0)
    ex.withColumn("__wmin", min("__key").over(win))
      .filter(col("__pos") >= w - 1)
      .select(col(idCol), col("n_kgrams"), col("__wmin").as("__key"))
      .distinct()
  }

  /** Winnow-print PAIR SHORTLIST: document pairs sharing ≥ `minShared`
    * selected fingerprints, with the print-set overlap ratio — the
    * plagiarism/quotation candidate generator with winnowing's
    * GUARANTEE behind it: any shared run of ≥ w+k−1 words shares a
    * print, so every pair with a long verbatim overlap appears (at
    * minShared prints ≈ a run of ~w+k−1 + (minShared−1)·(w+1)/2 words,
    * or several shorter ones). MinHash bounds the Jaccard ESTIMATE;
    * winnowing bounds what a shared SPAN must leave behind — the right
    * shortlist when the question is "who copied a passage", not "who
    * is globally similar".
    *
    * Scale shape: the [[minhashPairs]] inverted-index discipline — one
    * (print → docs) aggregate with a document-frequency cap (`dfCap`
    * drops boilerplate prints that would square hot buckets; dropped
    * prints are exactly the non-discriminative ones), within-bucket
    * pair explode bounded by dfCap², then a count aggregate per pair.
    * Never an all-pairs join. Overlap ppm = shared·10⁶ div
    * (n_a + n_b − shared) on DISTINCT print sets (both sides long;
    * exact).
    *
    * @return (ida, idb, shared_prints, n_a, n_b, overlap_ppm) */
  def winnowPairs(df: DataFrame, textCol: String, idCol: String,
                  k: Int = 3, w: Int = 4, minShared: Int = 2,
                  dfCap: Int = 64, fastHash: Boolean = false): DataFrame = {
    require(minShared >= 1 && dfCap >= 2, "winnowPairs: bad thresholds")
    val sel = winnowSelected(df, textCol, idCol, k, w, fastHash)
      .select(col(idCol).as("__id"), expr("__key div 1048576").as("__hash"))
      .distinct()
    val sizes = sel.groupBy("__id").agg(count(lit(1)).as("__n"))
    val buckets = sel.groupBy("__hash")
      .agg(collect_set("__id").as("__ids"))
      .filter(size(col("__ids")) between (2, dfCap))
    // r16: in-bucket pairs via two codegen generators (posexplode +
    // sliced explode) instead of the nested-transform HOF, which is
    // CodegenFallback — the whole quadratic pair stream was built in
    // interpreted mode (same fix as basket_rules r15). sort_array
    // matches array_sort on non-null ids, so emitted (ida < idb) pairs
    // and their counts are identical.
    val pairs = buckets
      .select(sort_array(col("__ids")).as("xs"))
      .select(posexplode(col("xs")).as(Seq("i", "a")), col("xs"))
      .select(col("a").as("ida"), explode(slice(col("xs"), col("i") + lit(2),
        greatest(size(col("xs")) - col("i") - lit(1), lit(0)))).as("idb"))
      .groupBy(col("ida"), col("idb"))
      .agg(count(lit(1)).as("shared_prints"))
      .filter(col("shared_prints") >= minShared)
    pairs
      .join(sizes.select(col("__id").as("ida"), col("__n").as("n_a")), "ida")
      .join(sizes.select(col("__id").as("idb"), col("__n").as("n_b")), "idb")
      .select(col("ida"), col("idb"), col("shared_prints"),
        col("n_a"), col("n_b"),
        expr("shared_prints * 1000000 div (n_a + n_b - shared_prints)")
          .as("overlap_ppm"))
  }

  /** Persisted WINNOW-PRINT index: one (id, hash) row per document per
    * DISTINCT selected fingerprint — the rolling-ingest state for
    * [[incrementalWinnowPairs]] (the span-copy twin of
    * [[minhashIndex]]). Union each batch's `winnowIndex` rows in to
    * advance; history is never re-winnowed. */
  def winnowIndex(df: DataFrame, textCol: String, idCol: String,
                  k: Int = 3, w: Int = 4,
                  fastHash: Boolean = false): DataFrame =
    winnowSelected(df, textCol, idCol, k, w, fastHash)
      .select(col(idCol).as("id"), expr("__key div 1048576").as("hash"))
      .distinct()

  /** Incremental span-copy shortlist: (batch doc, historical doc) pairs
    * sharing ≥ `minShared` winnow prints, found by probing the persisted
    * [[winnowIndex]] — history is never re-tokenized; only its print
    * table is joined. Hot prints are capped ON THE INDEX SIDE (`dfCap`
    * occurrences — boilerplate prints that would square the bucket),
    * mirroring [[incrementalMinhashPairs]]' maxBucket discipline.
    * Batch-internal pairs are [[winnowPairs]] on the batch alone; this
    * emits only the batch×history frontier. Winnowing's guarantee
    * carries over: a batch document sharing a run of ≥ w+k−1 words with
    * any uncapped historical document surfaces here.
    *
    * @return (id_new, id_old, shared_prints, n_new, n_old, overlap_ppm) */
  def incrementalWinnowPairs(batch: DataFrame, textCol: String,
                             idCol: String, index: DataFrame,
                             k: Int = 3, w: Int = 4, minShared: Int = 2,
                             dfCap: Int = 64,
                             fastHash: Boolean = false): DataFrame = {
    // fastHash must match the tier the persisted `index` was built with
    require(minShared >= 1 && dfCap >= 1, "incrementalWinnow: bad thresholds")
    val sel = winnowIndex(batch, textCol, idCol, k, w, fastHash)
    val capped = index.groupBy("hash").agg(count(lit(1)).as("__n"))
      .filter(col("__n") <= dfCap).select("hash")
    val shared = sel.as("a")
      .join(index.join(capped, "hash").as("b"),
        col("a.hash") === col("b.hash") && col("a.id") =!= col("b.id"))
      .groupBy(col("a.id").as("id_new"), col("b.id").as("id_old"))
      .agg(count(lit(1)).as("shared_prints"))
      .filter(col("shared_prints") >= minShared)
    val nNew = sel.groupBy(col("id").as("id_new"))
      .agg(count(lit(1)).as("n_new"))
    val nOld = index.groupBy(col("id").as("id_old"))
      .agg(count(lit(1)).as("n_old"))
    shared.join(nNew, "id_new").join(nOld, "id_old")
      .select(col("id_new"), col("id_old"), col("shared_prints"),
        col("n_new"), col("n_old"),
        expr("shared_prints * 1000000 div (n_new + n_old - shared_prints)")
          .as("overlap_ppm"))
  }

  /** Exact dedup: keep the lowest-id document per canonical-text
    * fingerprint. One hash aggregate on md5 (uniform keys, no skew);
    * survivor choice is deterministic (min id). min_by over the whole row
    * beats a row_number window here: partial aggregation collapses
    * duplicates map-side BEFORE the shuffle (a duplicate-heavy corpus
    * ships one row per fingerprint per partition) and nothing is sorted. */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val fp = TextFunctions.fingerprint(col(textCol))
    val rowStruct = struct(df.columns.map(col).toSeq: _*)
    df.groupBy(fp.as("__fp"))
      .agg(min_by(rowStruct, col(idCol)).as("__row"))
      .select("__row.*")
  }

  /** [[exact]] with a caller-chosen survivor POLICY: keep the row
    * minimizing `keepMinOf` per fingerprint — real pipelines keep the
    * BEST duplicate (highest quality score, longest text, freshest
    * fetch), not the first-by-id. Pass a struct for composite order
    * (e.g. `struct(negated_quality, id)` = best quality, ties to the
    * lowest id — structs compare lexicographically, and ALWAYS append a
    * unique id so the choice is deterministic). Same min_by hash
    * aggregate as [[exact]]: duplicates collapse map-side before the
    * shuffle, nothing is sorted, no window. */
  def exactBest(df: DataFrame, textCol: String, idCol: String,
                keepMinOf: Column): DataFrame = {
    val fp = TextFunctions.fingerprint(col(textCol))
    val rowStruct = struct(df.columns.map(col).toSeq: _*)
    df.groupBy(fp.as("__fp"))
      .agg(min_by(rowStruct, keepMinOf).as("__row"))
      .select("__row.*")
  }

  /** ASYMMETRIC n-gram containment pairs: directed (src, dst,
    * containment) with containment = |sh(src) ∩ sh(dst)| / |sh(src)| ≥
    * threshold, src ≠ dst. Jaccard misses near-SUBSET relations — a
    * paragraph quoted inside a much larger document scores low Jaccard
    * but containment ≈ 1 from the quote's side — which is exactly the
    * partial-copy/quotation signal a training-data pipeline dedupes on
    * (and the set-measure form of the suffix-array substring dedup).
    *
    * Same single-explode inverted-index shape as [[ngramJaccardPairs]]
    * (hashed shingles, sizes riding along, optional df cap); one
    * unordered pair aggregation emits BOTH directions that clear the
    * threshold. Returns (src, dst, containment). */
  def ngramContainmentPairs(df: DataFrame, textCol: String, idCol: String,
                            threshold: Double, n: Int = 3,
                            maxDf: Option[Int] = None): DataFrame = {
    val sh = df.select(col(idCol).as("id"),
        hashedShingles(col(textCol), n).as("shs"))
      // explode_outer: the inferred size(shs) > 0 filter re-evaluates
      // the whole shingle expression per row (r14 sweep)
      .select(col("id"), size(col("shs")).as("n"),
        explode_outer(col("shs")).as("sh"))
      .filter(col("sh").isNotNull)
    val filtered = maxDf match {
      case None => sh
      case Some(cap) =>
        val dfreq = sh.groupBy("sh").agg(count(lit(1)).as("__df"))
          .filter(col("__df") <= cap).select("sh")
        val kept = sh.drop("n").join(dfreq, "sh")
        val sizes = kept.groupBy("id").agg(count(lit(1)).as("n"))
        kept.join(sizes, "id")
    }
    // postings-list pair counts — see [[pairCommonCounts]] (r16)
    val pairs = pairCommonCounts(filtered)
    val aInB = pairs.select(col("ida").as("src"), col("idb").as("dst"),
      (col("common").cast("double") / col("na")).as("containment"))
    val bInA = pairs.select(col("idb").as("src"), col("ida").as("dst"),
      (col("common").cast("double") / col("nb")).as("containment"))
    aInB.unionAll(bInA).filter(col("containment") >= threshold)
  }

  /** Persisted exact-dedup artifact: one (fp, id) row per distinct
    * canonical fingerprint with its surviving minimum id. This is what a
    * rolling ingest pipeline keeps between increments — dedup state the
    * size of the distinct corpus, never the raw corpus. */
  def exactIndex(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(TextFunctions.fingerprint(col(textCol)).as("fp"),
        col(idCol).as("id"))
      .groupBy("fp").agg(min("id").as("id"))

  /** Incremental exact dedup: the rows of `batch` that survive against a
    * persisted [[exactIndex]] — novel fingerprints only, lowest id per
    * fingerprint WITHIN the batch. The historical corpus is touched only
    * through its index (an anti join on uniformly-distributed md5 keys:
    * broadcast when the index is small, a plain hash join at scale — the
    * raw corpus text is never re-read). Union `exactIndex(result)` into
    * the index to advance the state one increment. */
  def incrementalExact(batch: DataFrame, textCol: String, idCol: String,
                       index: DataFrame): DataFrame = {
    val fp = TextFunctions.fingerprint(col(textCol))
    val rowStruct = struct(batch.columns.map(col).toSeq: _*)
    batch.groupBy(fp.as("__fp"))
      .agg(min_by(rowStruct, col(idCol)).as("__row"))
      .join(index.select(col("fp").as("__fp")), Seq("__fp"), "left_anti")
      .select("__row.*")
  }

  /** Driver-held bloom filter over a persisted [[exactIndex]]'s
    * fingerprints — the cheap membership tier of incremental exact
    * dedup. Size ~1.2 MB per million keys at 1% fpp. Maintain it as
    * rolling state next to the index: build once, then
    * `bloom.mergeInPlace(indexBloom(exactIndex(newRows), ...))` per
    * increment — the index is never rescanned. */
  def indexBloom(index: DataFrame, expectedKeys: Long,
                 fpp: Double = 0.01)
      : org.apache.spark.util.sketch.BloomFilter = {
    require(expectedKeys > 0, "expectedKeys must be positive")
    index.select(col("fp").cast("string").as("__k"))
      .filter(col("__k").isNotNull)
      .stat.bloomFilter("__k", expectedKeys, fpp)
  }

  /** [[incrementalExact]] with a bloom pre-filter: rows whose
    * fingerprint the bloom has never seen are CERTAIN survivors (no
    * false negatives) and skip the history join entirely; only
    * bloom-positive rows — true duplicates plus the fpp sliver — are
    * anti-joined against the index to strip false positives. Output is
    * row-identical to [[incrementalExact]].
    *
    * Why it matters at 100 TB: a rolling ingest is mostly novel
    * content, so the anti-join against a billions-row index shuffles
    * almost entirely rows that match nothing. The bloom answers those
    * at scan time from ~MBs of broadcast state; what reaches the
    * exchange is bounded by dup-rate + fpp of the batch, not the
    * batch itself. */
  def incrementalExactBloom(batch: DataFrame, textCol: String,
                            idCol: String, index: DataFrame,
                            bloom: org.apache.spark.util.sketch.BloomFilter)
      : DataFrame = {
    val fp = TextFunctions.fingerprint(col(textCol))
    val rowStruct = struct(batch.columns.map(col).toSeq: _*)
    val collapsed = batch.groupBy(fp.as("__fp"))
      .agg(min_by(rowStruct, col(idCol)).as("__row"))
    val seen = Join.mightContainExpr(bloom, col("__fp").cast("string"))
    val certain = collapsed.filter(!seen)
    val checked = collapsed.filter(seen)
      .join(index.select(col("fp").as("__fp")), Seq("__fp"), "left_anti")
    certain.unionAll(checked).select("__row.*")
  }

  /** Persisted LSH artifact for incremental NEAR-dup detection: the
    * banded minhash table (band, bh, id) of a corpus. ~`bands` rows per
    * document, keyed by band hash — the state a rolling ingest probes
    * instead of re-signing the history. */
  def minhashIndex(df: DataFrame, textCol: String, idCol: String,
                   numHashes: Int = 128, bands: Int = 32,
                   n: Int = 3, oph: Boolean = false): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    minhashSignatures(df, textCol, idCol, numHashes, n, oph = oph)
      .select(col("id"), posexplode(
        array((0 until bands).map(b =>
          hash(slice(col("sig"), b * r + 1, r))): _*)).as(Seq("band", "bh")))
  }

  /** Incremental near-dup: (batch id, corpus id, jaccard) pairs between a
    * NEW batch and the historical corpus, found by probing the persisted
    * [[minhashIndex]] — the history is never re-shingled or re-banded;
    * only its band table (and, for the exact verify, the few candidate
    * ROWS, fetched by id) are touched. Band hashes must come from the
    * same signature family (same numHashes/bands/n AND the same
    * scheme — classic vs `oph` — as the index; the schemes occupy
    * disjoint salt spaces, so a mismatch yields zero candidates).
    * `maxBucket` caps degenerate band buckets on the index side.
    * Verification is exact Jaccard, so emitted pairs have no false
    * positives; union `minhashIndex(batch)` into the index to advance. */
  def incrementalMinhashPairs(batch: DataFrame, corpus: DataFrame,
                              textCol: String, idCol: String,
                              index: DataFrame, threshold: Double,
                              numHashes: Int = 128, bands: Int = 32,
                              n: Int = 3, maxBucket: Int = 1000,
                              oph: Boolean = false): DataFrame =
    incrementalMinhashImpl(batch, corpus, textCol, idCol, index, threshold,
      numHashes, bands, n, maxBucket, bloom = None, oph = oph)

  /** Driver-held bloom over a persisted [[minhashIndex]]'s (band, bh)
    * keys — the NEAR-dup twin of [[indexBloom]]. Maintain it as rolling
    * state beside the band table: build once, then merge each
    * increment's `bandBloom(minhashIndex(batch))` in — the index is
    * never rescanned. Sizing: the index holds `bands` rows per
    * historical doc, so expectedKeys ≈ bands × corpus docs. */
  def bandBloom(index: DataFrame, expectedKeys: Long,
                fpp: Double = 0.01)
      : org.apache.spark.util.sketch.BloomFilter = {
    require(expectedKeys > 0, "expectedKeys must be positive")
    index.select(concat_ws(":", col("band"), col("bh")).as("__k"))
      .stat.bloomFilter("__k", expectedKeys, fpp)
  }

  /** [[incrementalMinhashPairs]] with a bloom pre-filter on the BATCH
    * side's band keys: a band row whose (band, bh) the bloom has never
    * seen cannot match any index row (no false negatives), so it skips
    * the band-table join entirely. Emitted pairs are row-identical —
    * novel band rows produce no candidates on either path; the fpp
    * sliver that leaks through meets the same exact-Jaccard verify.
    *
    * Why it matters at 100 TB: a mostly-novel ingest batch shuffles
    * `bands` rows per doc against a band table of bands × history
    * rows, almost all matching nothing. The bloom answers those at
    * scan time from ~MBs of broadcast state; what reaches the exchange
    * is bounded by the batch's near-dup band traffic + fpp. */
  def incrementalMinhashPairsBloom(batch: DataFrame, corpus: DataFrame,
                                   textCol: String, idCol: String,
                                   index: DataFrame, threshold: Double,
                                   bloom: org.apache.spark.util.sketch.BloomFilter,
                                   numHashes: Int = 128, bands: Int = 32,
                                   n: Int = 3, maxBucket: Int = 1000,
                                   oph: Boolean = false)
      : DataFrame =
    incrementalMinhashImpl(batch, corpus, textCol, idCol, index, threshold,
      numHashes, bands, n, maxBucket, Some(bloom), oph = oph)

  private def incrementalMinhashImpl(batch: DataFrame, corpus: DataFrame,
                                     textCol: String, idCol: String,
                                     index: DataFrame, threshold: Double,
                                     numHashes: Int, bands: Int,
                                     n: Int, maxBucket: Int,
                                     bloom: Option[org.apache.spark.util.sketch.BloomFilter],
                                     oph: Boolean = false)
      : DataFrame = {
    // The probe MUST band under the index's own signature scheme —
    // mixing classic and OPH values silently yields zero candidates
    // (distinct salt spaces by construction; spec-pinned), exactly
    // like a numHashes/bands mismatch would.
    val allBands = minhashIndex(batch, textCol, idCol, numHashes, bands, n,
      oph = oph)
    val batchBands = bloom match {
      case None => allBands
      case Some(bf) => allBands.filter(Join.mightContainExpr(bf,
        concat_ws(":", col("band"), col("bh"))))
    }
    val capped = index.groupBy("band", "bh")
      .agg(count(lit(1)).as("__bn"))
      .filter(col("__bn") <= maxBucket)
      .select("band", "bh")
    val cand = batchBands.as("a")
      .join(index.join(capped, Seq("band", "bh")).as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.id") =!= col("b.id"))
      .select(col("a.id").as("idb_new"), col("b.id").as("id_old"))
      .distinct()
    // exact verify on candidate rows only: the corpus side is pruned to
    // candidate ids BEFORE shingling (a semi join — at scale this is the
    // id-pushdown read of a few rows, not a corpus scan)
    val oldNeeded = corpus
      .join(cand.select(col("id_old").as(idCol)).distinct(), Seq(idCol),
        "left_semi")
    val shOld = oldNeeded.select(col(idCol).as("id_old"),
      hashedShingles(col(textCol), n).as("sho"))
    val shNew = batch.select(col(idCol).as("idb_new"),
      hashedShingles(col(textCol), n).as("shn"))
    cand.join(shNew, "idb_new").join(shOld, "id_old")
      .withColumn("common", size(array_intersect(col("shn"), col("sho"))))
      .withColumn("jaccard", col("common").cast("double") /
        (size(col("shn")) + size(col("sho")) - col("common")))
      .filter(col("jaccard") >= threshold)
      .select("idb_new", "id_old", "jaccard")
  }

  /** Exact n-gram Jaccard near-dup pairs: inverted index on shingles
    * (explode → per-shingle postings list → generator pair emission →
    * per-pair intersection count) then |A∩B| / (|A|+|B|−|A∩B|) ≥
    * threshold.
    *
    * This is the exact (oracle-checkable) path; `maxDf` drops shingles
    * appearing in more than that many docs to bound join fan-out at scale.
    * Returns (idA, idB, jaccard) with idA < idB. */
  def ngramJaccardPairs(df: DataFrame, textCol: String, idCol: String,
                        threshold: Double, n: Int = 3,
                        maxDf: Option[Int] = None): DataFrame = {
    // Explode once with the doc's shingle count attached — |A| and |B|
    // then ride along to the pair aggregation as first() aggregates, so no
    // post-join against a sizes table is needed. The inverted index is
    // built on HASHED shingles (8-byte join keys, no shingle strings
    // materialized; collision odds ~1e-8 at 1M distinct shingles —
    // negligible against the exact-measure guarantee).
    val sh = df.select(col(idCol).as("id"), hashedShingles(col(textCol), n).as("shs"))
      // explode_outer: see ngramContainmentPairs (r14 sweep)
      .select(col("id"), size(col("shs")).as("n"),
        explode_outer(col("shs")).as("sh"))
      .filter(col("sh").isNotNull)
    val filtered = maxDf match {
      case None => sh
      case Some(cap) =>
        // doc-frequency cap: one extra aggregation, removes quadratic
        // keys. Set sizes are recomputed over the SURVIVING shingles so
        // jaccard stays an unbiased measure of the capped sets (pre-cap
        // sizes would systematically underestimate similarity for pairs
        // overlapping mostly on hot shingles).
        val dfreq = sh.groupBy("sh").agg(count(lit(1)).as("__df"))
          .filter(col("__df") <= cap).select("sh")
        val kept = sh.drop("n").join(dfreq, "sh")
        val sizes = kept.groupBy("id").agg(count(lit(1)).as("n"))
        kept.join(sizes, "id")
    }
    pairCommonCounts(filtered)
      .withColumn("jaccard",
        col("common").cast("double") / (col("na") + col("nb") - col("common")))
      .filter(col("jaccard") >= threshold)
      .select(col("ida"), col("idb"), col("jaccard"))
  }

  /** Per-pair shared-shingle counts from an exploded inverted index
    * (id, n, sh): postings-list aggregation + generator pair emission
    * instead of the former index-to-index self-join (r16, guide §2.3
    * "shuffle fewer bytes"). The self-join exchanged the exploded table
    * TWICE (the a/b rename blocks exchange reuse) and paid two sorts +
    * an SMJ; here the index shuffles ONCE into per-shingle postings
    * lists and each in-postings pair streams out of two codegen
    * generators — the same trick as Graph.coOccurrenceEdgesCanonical
    * and basket_rules (r15). Each doc holds a shingle at most once, so
    * postings ids are unique; sort_array orders the (id, n) structs by
    * id, so emitted pairs satisfy ida < idb exactly like the old
    * a.id < b.id join predicate, and count-per-pair is the identical
    * shared-shingle count. Postings length = shingle doc-frequency —
    * bounded by maxDf when the caller caps it (the scale lever; an
    * uncapped hot shingle was quadratic in the join spelling too). */
  private def pairCommonCounts(filtered: DataFrame): DataFrame =
    filtered.groupBy("sh")
      .agg(sort_array(collect_list(struct(col("id"), col("n")))).as("ps"))
      .filter(size(col("ps")) >= 2)
      .select(posexplode(col("ps")).as(Seq("i", "a")), col("ps"))
      .select(col("a"), explode(slice(col("ps"), col("i") + lit(2),
        greatest(size(col("ps")) - col("i") - lit(1), lit(0)))).as("b"))
      .groupBy(col("a.id").as("ida"), col("b.id").as("idb"))
      .agg(count(lit(1)).as("common"),
        first(col("a.n")).as("na"), first(col("b.n")).as("nb"))

  /** MinHash signatures — a PER-DOCUMENT map, not an aggregation.
    *
    * This is the [[MinHashSig]] codegen expression over
    * [[hashedShingles]]: one fused loop per row, no shuffle at all —
    * signatures stream from the scan straight into LSH banding.
    *
    * The earlier formulation (explode shingles → groupBy(id) → k
    * min-aggregates) shuffled |docs|×|shingles| rows and paid seconds of
    * Janino compile for the k-wide aggregate; at corpus scale the shuffle
    * alone disqualifies it. Rows whose shingle set is empty (docs shorter
    * than n words) carry a null signature and are dropped, as they can
    * never pair. */
  def minhashSignatures(df: DataFrame, textCol: String, idCol: String,
                        numHashes: Int = 128, n: Int = 3,
                        oph: Boolean = false): DataFrame = {
    val sh = GraftShim.expression(hashedShingles(col(textCol), n))
    // One-permutation tier: ONE avalanche per shingle instead of
    // numHashes — the signature stage's CPU drops ~k× on long
    // documents (see MinHashOph's scaladoc for the recall trade).
    val sigCol = GraftShim.column(
      if (oph) MinHashOph(sh, numHashes) else MinHashSig(sh, numHashes))
    df.select(col(idCol).as("id"), sigCol.as("sig"))
      .filter(col("sig").isNotNull)
  }

  /** MinHash + LSH banding near-dup candidates, verified with exact
    * Jaccard. Signature of `numHashes` split into `bands` bands of
    * r = numHashes/bands rows; docs sharing any band hash are candidates;
    * candidates are verified against the exact shingle Jaccard so the
    * output has no false positives (recall is the only LSH approximation,
    * P(detect) = 1-(1-j^r)^bands). `maxBucket` caps degenerate buckets.
    * Returns (ida, idb, jaccard). */
  def minhashLshPairs(df: DataFrame, textCol: String, idCol: String,
                      threshold: Double, numHashes: Int = 128,
                      bands: Int = 32, n: Int = 3,
                      maxBucket: Int = 1000,
                      oph: Boolean = false): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    val sig = minhashSignatures(df, textCol, idCol, numHashes, n, oph = oph)
    val banded = sig.select(col("id"), posexplode(
        array((0 until bands).map(b =>
          hash(slice(col("sig"), b * r + 1, r))): _*)).as(Seq("band", "bh")))
    // Candidate pairs in ONE shuffle: collect each bucket's id list
    // (ids only — a capped bucket is at most maxBucket longs, so the
    // aggregation buffer is bounded), drop degenerate buckets, and
    // explode the in-bucket pairs. Replaces the earlier bucket-count
    // join + banded self-join (3 shuffles of the banded table).
    // r16: in-bucket pairs via codegen generators instead of the
    // CodegenFallback nested-transform HOF (see winnowPairs). The old
    // spelling walked the UNsorted bucket and canonicalized with
    // least/greatest; sorting the bucket first emits the identical
    // canonical (ida < idb) pair set directly.
    val cand = banded
      .groupBy("band", "bh")
      .agg(collect_list(col("id")).as("ids"))
      .filter(size(col("ids")).between(2, maxBucket))
      .select(sort_array(col("ids")).as("xs"))
      .select(posexplode(col("xs")).as(Seq("i", "ida")), col("xs"))
      .select(col("ida"), explode(slice(col("xs"), col("i") + lit(2),
        greatest(size(col("xs")) - col("i") - lit(1), lit(0)))).as("idb"))
      .distinct()
    verifyJaccard(df, textCol, idCol, cand, threshold, n)
  }

  /** Exact Jaccard on a candidate-pair set only: join each pair to its two
    * shingle arrays and intersect — narrow (|candidates| rows), no
    * re-explode of the corpus. */
  private def verifyJaccard(df: DataFrame, textCol: String, idCol: String,
                            cand: DataFrame, threshold: Double, n: Int): DataFrame = {
    val docs = df.select(col(idCol).as("id"), hashedShingles(col(textCol), n).as("sh"))
    cand
      .join(docs.select(col("id").as("ida"), col("sh").as("sha")), "ida")
      .join(docs.select(col("id").as("idb"), col("sh").as("shb")), "idb")
      .withColumn("common", size(array_intersect(col("sha"), col("shb"))))
      .withColumn("jaccard", col("common").cast("double") /
        (size(col("sha")) + size(col("shb")) - col("common")))
      .filter(col("jaccard") >= threshold)
      .select("ida", "idb", "jaccard")
  }

  /** SimHash fingerprints for a whole table: the per-row codegen
    * [[SimHash64]] expression (no shuffle, no aggregation — SimHash is
    * per-document). Returns (id, fp); null text has a null fp. */
  def simhashTable(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(col(idCol).as("id"),
      GraftShim.column(SimHash64(GraftShim.expression(col(textCol)))).as("fp"))

  /** SimHash near-dup pairs with Hamming distance ≤ maxDist, found by
    * banding the 64-bit fingerprint into `bands` chunks (pigeonhole: any
    * pair within maxDist < bands shares at least one exact chunk).
    * Verification recomputes the exact Hamming distance via bit_count.
    * Candidates come from one bucket aggregation (same shape as
    * [[minhashLshPairs]]); `maxBucket` drops degenerate chunk buckets —
    * e.g. the all-zero chunk a templated corpus shares — which would
    * otherwise explode quadratically. */
  def simhashPairs(df: DataFrame, textCol: String, idCol: String,
                   maxDist: Int = 3, bands: Int = 4,
                   maxBucket: Int = 1000): DataFrame =
    hammingPairs64(simhashTable(df, textCol, idCol), maxDist, bands,
      maxBucket)

  /** Near-dup pairs over ANY 64-bit fingerprint table (id, fp) with
    * Hamming distance ≤ maxDist — the banding/verify engine behind
    * [[simhashPairs]], shared by perceptual image hashing
    * ([[Multimodal.perceptualPairs]]) and any other bit-fingerprint
    * near-dup. Pigeonhole guarantee: maxDist < bands ⇒ any qualifying
    * pair shares at least one exact band chunk. */
  def hammingPairs64(fp: DataFrame, maxDist: Int = 3, bands: Int = 4,
                     maxBucket: Int = 1000): DataFrame = {
    require(maxDist < bands, "pigeonhole needs maxDist < bands")
    val w = 64 / bands
    val banded = fp.select(col("id"), col("fp"), posexplode(
      array((0 until bands).map(b =>
        shiftright(col("fp"), b * w).bitwiseAND((1L << w) - 1)): _*))
      .as(Seq("band", "chunk")))
    // r16: in-bucket pairs via codegen generators instead of the
    // CodegenFallback nested-transform HOF (see winnowPairs). Sorting
    // the (id, fp) structs orders buckets by id, so pairs come out
    // canonical (a.id < b.id) without least/greatest; the hamming
    // distance is symmetric in (ha, hb), so the post-distinct rows are
    // identical to the old spelling's.
    banded
      .groupBy("band", "chunk")
      .agg(sort_array(collect_list(struct(col("id"), col("fp")))).as("ds"))
      .filter(size(col("ds")).between(2, maxBucket))
      .select(posexplode(col("ds")).as(Seq("i", "a")), col("ds"))
      .select(col("a"), explode(slice(col("ds"), col("i") + lit(2),
        greatest(size(col("ds")) - col("i") - lit(1), lit(0)))).as("b"))
      .select(col("a.id").as("ida"), col("b.id").as("idb"),
        bit_count(col("a.fp").bitwiseXOR(col("b.fp"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxDist)
  }

  /** Duplicated-substring statistics (the bounded, exact cousin of
    * suffix-array training-data dedup à la "Deduplicating Training Data
    * Makes Language Models Better"): every POSITIONED `n`-token span of
    * every document is keyed by its md5; a span text occurring ≥ 2 times
    * corpus-wide (including within-document template repetition) is a
    * duplicated span, and each document reports how much of it is
    * covered. Suffix arrays find variable-length repeats; fixed-`n`
    * spans find every repeat of length ≥ n — the signal curation
    * actually gates on — with plain dataflow: one explode, one count
    * aggregation on the span key (map-side partial, uniform md5 keys),
    * one semi-join back. Nothing is quadratic and nothing collects.
    *
    * Returns (id, n_spans, n_dup_spans, dup_frac) for documents with at
    * least one full span (shorter docs carry no length-n signal). */
  def duplicatedSpanStats(df: DataFrame, textCol: String, idCol: String,
                          n: Int = 20): DataFrame = {
    // positioned spans — same slice windows as shingles but WITHOUT the
    // distinct: positions matter (a doc repeating one span 50 times is
    // 50 duplicated spans), and md5 keys keep the oracle cross-engine.
    // Tokens are bound to a column FIRST: inlining the tokenizer in the
    // transform lambda would re-run the regex once per span (the
    // Importance.gramsFromTokens lesson). The positioned index feeds
    // three consumers (occurrence counts, per-doc totals, the dup join),
    // so it is materialized once — it is the span-index artifact a
    // suffix-array pipeline would persist anyway.
    val toks = col("__t")
    val cnt = size(toks) - (n - 1)
    val spans = materialize(df
      .select(col(idCol).as("id"),
        TextFunctions.tokens(col(textCol)).as("__t"))
      .select(col("id"),
        when(cnt >= 1, transform(sequence(lit(1), cnt),
          i => md5(concat_ws(" ", slice(toks, i, lit(n))))))
          .otherwise(array().cast("array<string>")).as("sps"))
      // explode_outer, NOT explode: InferFiltersFromGenerate would turn
      // a plain explode into a pushed-down size(sps) > 0 row filter with
      // the whole span expression (tokenizer included) inlined — the
      // corpus would pay span-building twice. The outer variant infers
      // nothing; empty-span docs surface one null row dropped right
      // after the generate, where the predicate costs nothing.
      .select(col("id"), explode_outer(col("sps")).as("sp"))
      .filter(col("sp").isNotNull)).df
    val dupSpans = spans.groupBy("sp")
      .agg(count(lit(1)).as("__occ"))
      .filter(col("__occ") >= 2)
      .select("sp")
    val perDoc = spans.groupBy("id").agg(count(lit(1)).as("n_spans"))
    val dupPerDoc = spans.join(dupSpans, "sp")
      .groupBy("id").agg(count(lit(1)).as("n_dup_spans"))
    perDoc.join(dupPerDoc, Seq("id"), "left")
      .select(col("id"),
        col("n_spans"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
        (coalesce(col("n_dup_spans"), lit(0L)).cast("double") /
          col("n_spans")).as("dup_frac"))
  }

  /** Multi-length duplicated-span statistics: [[duplicatedSpanStats]]
    * swept over several span lengths in ONE corpus pass — the
    * logarithmic-ladder approximation of variable-length suffix-array
    * matching (a repeat of length L is caught by every n ≤ L, so a
    * ladder like 10/20/40 brackets any repeat ≥ its smallest rung;
    * fixed n=20 alone misses a 12-token verbatim repeat entirely and
    * reports a 45-token one identically to a 20-token one).
    *
    * One tokenize + one explode emits (n, span-md5) for every rung;
    * occurrence counting, per-doc totals and the dup semi-join key on
    * (n, sp) — same uniform-key, nothing-quadratic, nothing-collected
    * dataflow as the single-n form, ~|ns|× the span rows.
    *
    * Returns (id, n, n_spans, n_dup_spans, dup_frac) — one row per doc
    * per rung the doc is long enough to carry. */
  def duplicatedSpanStatsMulti(df: DataFrame, textCol: String,
                               idCol: String,
                               ns: Seq[Int] = Seq(10, 20, 40)): DataFrame = {
    require(ns.nonEmpty && ns.forall(_ >= 2) && ns.distinct.size == ns.size,
      s"span lengths must be distinct and >= 2: $ns")
    val toks = col("__t")
    val spanStruct = "array<struct<n:int,sp:string>>"
    val perN = ns.map { n =>
      val cnt = size(toks) - (n - 1)
      when(cnt >= 1, transform(sequence(lit(1), cnt),
        i => struct(lit(n).as("n"),
          md5(concat_ws(" ", slice(toks, i, lit(n)))).as("sp"))))
        .otherwise(array().cast(spanStruct))
    }
    // same explode_outer / materialize-once reasoning as the single-n
    // form (see duplicatedSpanStats)
    val spans = materialize(df
      .select(col(idCol).as("id"),
        TextFunctions.tokens(col(textCol)).as("__t"))
      .select(col("id"), flatten(array(perN: _*)).as("sps"))
      .select(col("id"), explode_outer(col("sps")).as("s"))
      .filter(col("s").isNotNull)
      .select(col("id"), col("s.n").as("n"), col("s.sp").as("sp"))).df
    val dupSpans = spans.groupBy("n", "sp")
      .agg(count(lit(1)).as("__occ"))
      .filter(col("__occ") >= 2)
      .select("n", "sp")
    val perDoc = spans.groupBy("id", "n").agg(count(lit(1)).as("n_spans"))
    val dupPerDoc = spans.join(dupSpans, Seq("n", "sp"))
      .groupBy("id", "n").agg(count(lit(1)).as("n_dup_spans"))
    perDoc.join(dupPerDoc, Seq("id", "n"), "left")
      .select(col("id"), col("n"),
        col("n_spans"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
        (coalesce(col("n_dup_spans"), lit(0L)).cast("double") /
          col("n_spans")).as("dup_frac"))
  }

  /** ExactSubstr REMOVAL (the action half of [[duplicatedSpanStats]],
    * following Lee et al., "Deduplicating Training Data Makes Language
    * Models Better": cut duplicated spans out of the corpus, keeping
    * one canonical occurrence) over a LENGTH LADDER in one pass: a token
    * is cut when any rung's `n`-token span whose text occurs ≥ 2 times
    * corpus-wide covers it at a non-keeper occurrence — so a single
    * sweep removes both the 12-token repeat the n=20 rung cannot see (no
    * 20-span exists) and the long-form mass the n=10 rung under-trims,
    * exactly the brackets [[duplicatedSpanStatsMulti]] detects. Each
    * rung keeps its own corpus-first occurrence (min (id, pos) per
    * (n, span) — the same deterministic keeper rule as
    * [[Scrub.dedupLinesGlobal]]); `ns = Seq(n)` is the single-length
    * form. Documents come back with their surviving tokens rejoined in
    * order; a fully-duplicated document returns empty text.
    *
    * Shape at 100 TB: one tokenize feeds all rungs (the span structs
    * carry (n, pos, hash) through ONE explode ~|ns|× the corpus — not
    * a pass per rung), aggregations key on uniform (n, md5) pairs
    * (map-side partials collapse hot boilerplate), and the coverage
    * explode stays bounded by n × dup-occurrences summed over rungs —
    * the dup mass, never the corpus. No driver state, no window over
    * the corpus.
    *
    * Returns (id, text) with `text` rebuilt from canonical tokens. */
  def removeDupSpansMulti(df: DataFrame, textCol: String, idCol: String,
                          ns: Seq[Int] = Seq(10, 20, 40)): DataFrame = {
    require(ns.nonEmpty && ns.forall(_ >= 2) && ns.distinct.size == ns.size,
      s"span lengths must be distinct and >= 2: $ns")
    val toks = col("__t")
    val spanStruct = "array<struct<n:int,pos:int,sp:string>>"
    val perN = ns.map { n =>
      val cnt = size(toks) - (n - 1)
      when(cnt >= 1, transform(sequence(lit(0), cnt - 1),
        i => struct(lit(n).as("n"), i.as("pos"),
          md5(concat_ws(" ", slice(toks, i + 1, lit(n)))).as("sp"))))
        .otherwise(array().cast(spanStruct))
    }
    val tokens = materialize(df
      .select(col(idCol).as("id"),
        posexplode(TextFunctions.tokens(col(textCol)))
          .as(Seq("pos", "w")))).df
    // explode_outer / materialize-once: see duplicatedSpanStats
    val spans = materialize(df
      .select(col(idCol).as("id"),
        TextFunctions.tokens(col(textCol)).as("__t"))
      .select(col("id"), flatten(array(perN: _*)).as("sps"))
      .select(col("id"), explode_outer(col("sps")).as("s"))
      .filter(col("s").isNotNull)
      .select(col("id"), col("s.n").as("n"), col("s.pos").as("pos"),
        col("s.sp").as("sp"))).df
    val dupStats = spans.groupBy("n", "sp")
      .agg(count(lit(1)).as("__occ"),
        min(struct(col("id"), col("pos"))).as("__keep"))
      .filter(col("__occ") >= 2)
    // non-keeper occurrences of duplicated spans cover their n tokens
    val covered = spans.join(dupStats, Seq("n", "sp"))
      .filter(struct(col("id"), col("pos")) =!= col("__keep"))
      .select(col("id"),
        explode(sequence(col("pos"), col("pos") + col("n") - lit(1)))
          .as("pos"))
      .distinct()
    val kept = tokens.join(covered, Seq("id", "pos"), "left_anti")
    val rebuilt = kept.groupBy("id")
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("pos"), col("w")))),
          x => x.getField("w")), " ").as("__clean"))
    df.select(col(idCol).as("id"))
      .join(rebuilt, Seq("id"), "left")
      .select(col("id"), coalesce(col("__clean"), lit("")).as("text"))
  }

  /** Per-document LONGEST duplicated-span length at power-of-two
    * granularity, by suffix-array-style PREFIX DOUBLING (Manber-Myers;
    * the construction behind "Deduplicating Training Data Makes
    * Language Models Better"'s ExactSubstr): the positioned span-hash
    * table for length 2k is built from the length-k table by one
    * self-join on (id, pos+k) — so covering every power up to
    * 2^`maxPow` costs O(maxPow) linear-size joins TOTAL, where the
    * span-ladder form pays one full span materialization per rung and
    * an explode ~L× the corpus to reach length L. Rows never exceed
    * one per (doc, position) at every round and shrink as spans stop
    * fitting; each round's table is materialized once and feeds both
    * the duplicate check and the next doubling.
    *
    * Returns (id, dup_pow_len): the largest k ∈ {1, 2, 4, ..,
    * 2^maxPow} such that some k-token span of the doc occurs ≥ 2 times
    * corpus-wide (within-doc repeats count), 0 when not even one token
    * recurs. By downward closure (any sub-span of a duplicated span is
    * duplicated) the TRUE longest duplicated span length lies in
    * [dup_pow_len, 2·dup_pow_len). Span identity is xxhash64-keyed
    * (collisions 2^-64 — the same contract as every hash-keyed dedup
    * here). */
  def longestDupSpanPow(df: DataFrame, textCol: String, idCol: String,
                        maxPow: Int = 6): DataFrame = {
    require(maxPow >= 0 && maxPow <= 16, s"maxPow out of range: $maxPow")
    val docs = df.select(col(idCol).as("id"))
    var cur = materialize(df
      .select(col(idCol).as("id"),
        posexplode(TextFunctions.tokens(col(textCol)))
          .as(Seq("pos", "__w")))
      .select(col("id"), col("pos"), xxhash64(col("__w")).as("h")))
    var found: DataFrame = null
    var p = 0
    // the emptiness check reads the row count of the round's own job
    while (p <= maxPow && cur.rows > 0) {
      val k = 1 << p
      val t = cur.df
      val dupKeys = t.groupBy("h").agg(count(lit(1)).as("__c"))
        .filter(col("__c") >= 2).select("h")
      val hit = t.join(dupKeys, "h")
        .select(col("id")).distinct()
        .withColumn("__k", lit(k.toLong))
      found = if (found == null) hit else found.unionAll(hit)
      if (p < maxPow) {
        // H_{2k}(pos) = hash(H_k(pos), H_k(pos+k)); rows whose second
        // half no longer fits fall out of the table
        cur = materialize(t.as("a")
          .join(t.as("b"),
            col("a.id") === col("b.id") &&
              col("b.pos") === col("a.pos") + lit(k))
          .select(col("a.id").as("id"), col("a.pos").as("pos"),
            xxhash64(col("a.h"), col("b.h")).as("h")))
      }
      p += 1
    }
    val best =
      if (found == null) docs.limit(0).withColumn("__k", lit(0L))
      else found.groupBy("id").agg(max(col("__k")).as("__k"))
    docs.join(best, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("__k"), lit(0L)).as("dup_pow_len"))
  }

  /** EXACT per-document longest duplicated-span length (capped at
    * 2^`maxPow` tokens), closing [[longestDupSpanPow]]'s [k, 2k)
    * bracket: a distributed suffix array to depth 2^maxPow by
    * Manber-Myers prefix doubling over RANKS (Flick & Aluru's
    * distributed construction shape), then LCP against each suffix's
    * two neighbors in suffix order — the pair that maximizes LCP is
    * always adjacent, so 2n bounded pairs replace the quadratic
    * all-occurrence-pairs LCE.
    *
    * Ranks (dense, order-preserving: r_2k = rank of (r_k(i),
    * r_k(i+k)), off-end sentinel −1 sorts shorter suffixes first) make
    * every comparison EXACT — no hash-collision caveat anywhere in
    * this operator. LCE between neighbor suffixes descends the saved
    * rank tables from the top power: equal ranks at depth 2^p extend
    * the match by 2^p; the final extension is clamped by both suffix
    * lengths (rank equality of two short suffixes means they agree to
    * their common end, not to depth 2^p).
    *
    * Returns (id, dup_len): the exact length of the doc's longest
    * token span occurring ≥ 2 times corpus-wide when that length <
    * 2^maxPow, saturated at 2^maxPow above (downward closure makes
    * the cap itself exact: a doc reports the cap iff some cap-length
    * span is duplicated); 0 when not even one token recurs.
    *
    * Shape at 100 TB: O(maxPow) rounds, each linear — one self-join
    * to compose rank pairs, one distinct + range-shuffle global index
    * to re-rank (never a corpus-wide window), rows stay (id, pos,
    * rank) narrow at every depth (the span-ladder alternative pays a
    * ×L token blowup to reach length L). The LCE descent is O(maxPow)
    * equi-joins of the 2n neighbor pairs against the checkpointed
    * rank tables. */
  def longestDupSpanExact(df: DataFrame, textCol: String, idCol: String,
                          maxPow: Int = 5): DataFrame = {
    val (_, _, posD) = positionDupLens(df, textCol, idCol, maxPow)
    val perDoc = posD.groupBy("id").agg(max(col("d")).as("__best"))
    df.select(col(idCol).as("id")).join(perDoc, Seq("id"), "left")
      .select(col("id"), coalesce(col("__best"), lit(0L)).as("dup_len"))
  }

  /** Shared suffix-array machinery behind [[longestDupSpanExact]] and
    * [[removeDupSpansExact]]: prefix-doubling rank tables to depth
    * 2^`maxPow`, per-doc token lengths, and the EXACT per-position
    * longest duplicated-span length — (id, pos, d) where d is the
    * length of the longest token span starting at `pos` that occurs
    * ≥ 2 times corpus-wide, capped at 2^maxPow (the max-LCP partner of
    * a suffix is always one of its two suffix-order neighbors, so 2n
    * adjacent pairs suffice). Returns (rank tables per power, lens,
    * position table); every (doc, position) with ≥ 1 corpus co-suffix
    * appears, d = 0 when not even the single token recurs. */
  private def positionDupLens(df: DataFrame, textCol: String,
                              idCol: String, maxPow: Int)
      : (Array[DataFrame], DataFrame, DataFrame) = {
    require(maxPow >= 0 && maxPow <= 16, s"maxPow out of range: $maxPow")
    val cap = 1L << maxPow
    // r15 (guide §3.1 + the r14 k-core precedent): every table in this
    // operator is checkpointed and therefore carries NO size stats, so
    // all ~4·maxPow joins planned SMJ — two exchanges and two sorts
    // each, on (id, pos)-keyed tables that are TOKEN-count sized. The
    // token count is known from the first materialization (GraftShim —
    // the checkpoint job IS the count job), so every rank-table side
    // now broadcasts under a row cap and the whole doubling + LCE
    // cascade runs as hash probes with zero exchanges. Tokens are also
    // materialized ONCE (the old spelling re-tokenized the corpus for
    // the length table and again for rank 0).
    val tm = materialize(df.select(col(idCol).as("id"),
      posexplode(TextFunctions.tokens(col(textCol))).as(Seq("pos", "w"))))
    val (toksM, nToks) = (tm.df, tm.rows)
    // dense order-preserving rank of (kl, kr): distinct keys get their
    // global sorted index (two-pass range shuffle), then join back —
    // the index table (≤ nToks rows) broadcasts under the cap
    def rerank(t: DataFrame): DataFrame = {
      // r16: materialize the distinct key table BEFORE globalIndex —
      // its range exchange samples its child with a full computation
      // pass (RangePartitioner.sketch) and then computes it again for
      // the real shuffle, so the un-materialized spelling ran the
      // distinct (an exchange + aggregate over the token-sized table)
      // TWICE per doubling round.
      val keys = materialize(t.select("kl", "kr").distinct()).df
      t.join(
          BroadcastCap.hint(Order.globalIndex(keys,
            struct(col("kl"), col("kr")), "r"), nToks),
          Seq("kl", "kr"))
        .select("id", "pos", "r")
    }
    val lens = materialize(toksM.groupBy("id")
      .agg((max(col("pos")) + 1).as("len"))).df
    // rank tables per power; ranks(p) orders depth-2^p prefixes
    val ranks = new Array[DataFrame](maxPow + 1)
    ranks(0) = materialize(rerank(toksM
        .select(col("id"), col("pos"), col("w").as("kl"), lit("").as("kr")))).df
    var p = 0
    while (p < maxPow) {
      val k = 1 << p
      val cur = ranks(p)
      ranks(p + 1) = materialize(rerank(cur.as("a")
          .join(BroadcastCap.hint(cur.as("b"), nToks),
            col("a.id") === col("b.id") &&
              col("b.pos") === col("a.pos") + lit(k), "left")
          .select(col("a.id").as("id"), col("a.pos").as("pos"),
            col("a.r").as("kl"), coalesce(col("b.r"), lit(-1L)).as("kr")))).df
      p += 1
    }
    // suffix order (exact to depth 2^maxPow; ties beyond share LCP ≥
    // cap, so any tiebreak is safe) → adjacent-neighbor pairs; the
    // index is materialized once so the self-join's broadcast build
    // does not re-run the range shuffle
    val indexed = materialize(Order.globalIndex(ranks(maxPow),
      struct(col("r"), col("id"), col("pos")), "g")).df
    var pairs = materialize(indexed.as("a")
      .join(BroadcastCap.hint(indexed.as("b"), nToks),
        col("b.g") === col("a.g") + 1)
      .select(col("a.id").as("ida"), col("a.pos").as("posa"),
        col("b.id").as("idb"), col("b.pos").as("posb"))
      .withColumn("ext", lit(0L))).df
    // greedy LCE descent over the rank tables, top power first.
    // r16 (guide §2.6 — the cascade is job-count-bound, not
    // exchange-bound): each round is TWO broadcast hash probes against
    // already-checkpointed rank tables, referenced once by the next
    // round — the per-round eager checkpoint existed only to truncate
    // lineage, so checkpointing every SECOND round halves the descent's
    // serial scheduler round-trips while the chained plan stays a
    // shallow 4-join tree. Identical arithmetic, identical pairs.
    p = maxPow
    var unchk = 0
    while (p >= 0) {
      val step = 1L << p
      val ra = ranks(p).withColumnRenamed("r", "ra")
      val rb = ranks(p).withColumnRenamed("r", "rb")
      pairs = pairs
        .join(BroadcastCap.hint(ra, nToks), col("ida") === ra("id") &&
          ra("pos") === col("posa") + col("ext"), "left")
        .drop("id", "pos")
        .join(BroadcastCap.hint(rb, nToks), col("idb") === rb("id") &&
          rb("pos") === col("posb") + col("ext"), "left")
        .drop("id", "pos")
        .withColumn("ext",
          when(col("ra").isNotNull && col("ra") === col("rb"),
            col("ext") + lit(step)).otherwise(col("ext")))
        .drop("ra", "rb")
      unchk += 1
      if (unchk == 2 || p == 0) {
        pairs = materialize(pairs).df
        unchk = 0
      }
      p -= 1
    }
    // clamp by both suffix lengths (short-suffix rank equality means
    // agreement to the common end), cap, and take each doc's best
    val la = lens.select(col("id").as("ida"), col("len").as("lena"))
    val lb = lens.select(col("id").as("idb"), col("len").as("lenb"))
    val lce = pairs.join(BroadcastCap.hint(la, nToks), "ida")
      .join(BroadcastCap.hint(lb, nToks), "idb")
      .withColumn("lce",
        least(col("ext"), col("lena") - col("posa"),
          col("lenb") - col("posb"), lit(cap)))
    val posD = lce.select(col("ida").as("id"), col("posa").as("pos"),
        col("lce"))
      .unionAll(lce.select(col("idb").as("id"), col("posb").as("pos"),
        col("lce")))
      .groupBy("id", "pos").agg(max(col("lce")).as("d"))
    (ranks, lens, posD)
  }

  /** EXACT maximal-repeat removal — the action half of
    * [[longestDupSpanExact]], closing the ladder approximation of
    * [[removeDupSpansMulti]]: instead of cutting fixed-rung brackets,
    * every MAXIMAL duplicated span (one that no longer duplicated span
    * contains) of EXACT length ≥ `minLen` is cut at all but its
    * corpus-first occurrence. A 9-token repeat invisible to the
    * 10/20/40 ladder is removed once `minLen` ≤ 9, and a 45-token
    * repeat is cut as one 45-token occurrence, not as overlapping
    * rung-40 brackets.
    *
    * Mechanics: per-position longest-dup length d(id, pos) comes from
    * the suffix-array neighbor LCE ([[positionDupLens]]); an
    * occurrence at `pos` is maximal iff no occurrence at `pos − 1`
    * extends over it (d(pos−1) ≠ d(pos)+1 — left-extension can add at
    * most one token). Occurrences are grouped into identical-content
    * classes by TWO OVERLAPPING RANK BLOCKS at depth 2^⌊log2 d⌋
    * (blocks [pos, pos+w) and [pos+d−w, pos+d) with w = 2^⌊log2 d⌋
    * cover the span since d ≤ 2w−1, and depth-w rank equality is
    * exact token equality — no hashes anywhere); the class keeper is
    * min (id, pos). Tokens covered by any non-keeper occurrence are
    * dropped and documents rebuilt in order, '' when fully duplicated.
    *
    * Spans longer than the 2^`maxPow` cap degrade gracefully: each
    * window of a saturated plateau forms its own cap-length class, so
    * a repeat shared by two documents is still fully cut from the
    * non-first one, window by window.
    *
    * Shape at 100 TB: everything [[positionDupLens]] does (O(maxPow)
    * linear rank-doubling rounds, range-shuffle re-ranks, 2n neighbor
    * pairs) plus O(maxPow) equi-joins for the content keys, one
    * min-struct aggregation, and a coverage explode bounded by the dup
    * mass — no window over the corpus, no driver state, nothing
    * quadratic.
    *
    * Returns (id, text) with `text` rebuilt from surviving tokens
    * (canonical: lowercased, whitespace-collapsed). */
  def removeDupSpansExact(df: DataFrame, textCol: String, idCol: String,
                          minLen: Int = 20, maxPow: Int = 6): DataFrame = {
    require(minLen >= 1, s"minLen must be >= 1: $minLen")
    require((1L << maxPow) >= minLen,
      s"cap 2^$maxPow below minLen $minLen: no span can qualify")
    val (ranks, _, posD0) = positionDupLens(df, textCol, idCol, maxPow)
    // r15: counts from the materializations drive broadcast hints on
    // every small-side join below (same rationale as positionDupLens —
    // checkpointed tables carry no stats, so these all planned SMJ)
    val pm = materialize(posD0) // feeds occ filter + maximality
    val (posD, nPos) = (pm.df, pm.rows)
    val occ = posD.filter(col("d") >= minLen)
      .join(BroadcastCap.hint(posD.select(col("id"),
          (col("pos") + 1).as("pos"), col("d").as("dprev")), nPos),
        Seq("id", "pos"), "left")
      .filter(col("dprev").isNull || col("dprev") =!= col("d") + 1)
      .select(col("id"), col("pos"), col("d"))
    val km = materialize((0 to maxPow).map { p =>
      val w = 1 << p
      val r1 = ranks(p).select(col("id").as("i1"), col("pos").as("p1"),
        col("r").as("r1"))
      val r2 = ranks(p).select(col("id").as("i2"), col("pos").as("p2"),
        col("r").as("r2"))
      occ.filter(col("d") >= w && col("d") <= 2L * w - 1)
        .join(BroadcastCap.hint(r1, nPos),
          col("id") === col("i1") && col("pos") === col("p1"))
        .join(BroadcastCap.hint(r2, nPos), col("id") === col("i2") &&
          col("p2") === col("pos") + col("d").cast("int") - w)
        .select(col("id"), col("pos"), col("d"), col("r1"), col("r2"))
    }.reduce(_ unionAll _))
    val (keyed, nKeyed) = (km.df, km.rows)
    val keep = keyed.groupBy("d", "r1", "r2")
      .agg(min(struct(col("id"), col("pos"))).as("__keep"))
    val covered = keyed
      .join(BroadcastCap.hint(keep, nKeyed), Seq("d", "r1", "r2"))
      .filter(struct(col("id"), col("pos")) =!= col("__keep"))
      .select(col("id"),
        explode(sequence(col("pos"),
          col("pos") + col("d").cast("int") - 1)).as("pos"))
      .distinct()
    val tokens = df.select(col(idCol).as("id"),
      posexplode(TextFunctions.tokens(col(textCol))).as(Seq("pos", "w")))
    val kept = tokens.join(BroadcastCap.hint(covered, nKeyed << maxPow),
      Seq("id", "pos"), "left_anti")
    val rebuilt = kept.groupBy("id")
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("pos"), col("w")))),
          x => x.getField("w")), " ").as("__clean"))
    df.select(col(idCol).as("id"))
      .join(rebuilt, Seq("id"), "left")
      .select(col("id"), coalesce(col("__clean"), lit("")).as("text"))
  }

  /** Connected components over an undirected pair list (ida, idb) by
    * alternating large-star/small-star contraction (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond"). It converges in
    * O(log n) rounds on any topology and SHRINKS the edge set every
    * round (each round is two groupBy-min aggregations + joins, all
    * spillable), where min-label propagation needs one materializing
    * round per unit of component diameter.
    *
    *   - large-star: every neighbor v > u re-attaches to
    *     m(u) = min(N(u) ∪ u)
    *   - small-star: every neighbor v ≤ u (and u itself) attaches to m(u)
    *
    * At fixpoint the edges form stars whose centers are the component
    * minima. Returns (id, component = min id of the group), one row per
    * vertex that appears in `pairs`. Ids may be of any orderable type
    * (integral or string): the rounds use only `least`, `greatest`,
    * `min`, ordered comparison and `xxhash64`.
    *
    * Skew: a mega-component (boilerplate-heavy crawl) makes one star
    * center carry millions of attach rows in the m-lookup join; AQE's
    * skew-join handling (`spark.sql.adaptive.skewJoin`, on by default)
    * splits that oversized sort-merge partition at runtime. The
    * min-aggregation itself is skew-immune (algebraic min => map-side
    * partial aggregation).
    *
    * Rounds are capped at [[StarMaxRounds]]: star contraction needs
    * O(log n) of them, so the cap is reached only by a defect, and it
    * throws rather than return partly contracted labels. */
  def connectedComponentsStar(pairs: DataFrame): DataFrame = {
    // Each round references its input several times, so the LOGICAL plan
    // would grow exponentially under plain persist() (persist caches
    // execution but not the analyzer tree — the classic iterative-
    // DataFrame trap). materialize truncates the lineage each round:
    // plans stay O(1), blocks are reclaimed by the ContextCleaner. On a
    // cluster with executor churn, swap for reliable checkpoint().
    var edges = materialize(pairs
      .select(least(col("ida"), col("idb")).as("u"),
        greatest(col("ida"), col("idb")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()).df
    // Convergence: the canonical (u < v) edge set is stable. Checksum
    // compare (sum of a symmetric hash) — one cheap aggregate per round
    // instead of a set-difference self-join.
    def checksum(e: DataFrame): Option[java.math.BigDecimal] =
      Option(e.agg(sum(xxhash64(col("u"), col("v")).cast("decimal(38,0)")))
        .head().getDecimal(0))
    // NOTE (r15, measured): materializing the mirrored adjacency on a
    // declared hash(u) layout per star step (the graph-loop shim) was
    // tried and REVERTED — same-window A/B at sf0.1 read
    // dedup_incremental_components min 4.61 → 6.35 s (+38%) and
    // cluster_report/survivors_star flat-to-worse. Near-dup pair lists
    // are tiny relative to the corpus, so scheduler job count
    // dominates; the declared-layout variant only pays once the pair
    // volume itself is shuffle-bound (crawl-scale mega-components) —
    // if that regime materializes, gate the shim on the pair count.
    def star(e: DataFrame, large: Boolean): DataFrame = {
      val nbrs = e.select(col("u"), col("v"))
        .unionAll(e.select(col("v").as("u"), col("u").as("v")))
      val m = nbrs.groupBy("u")
        .agg(least(min(col("v")), first(col("u"))).as("m"))
      val attach =
        if (large) nbrs.filter(col("v") > col("u"))
        else nbrs.filter(col("v") <= col("u"))
          .unionAll(nbrs.select(col("u"), col("u").as("v")).distinct())
      attach.join(m, "u")
        .select(least(col("v"), col("m")).as("u"),
          greatest(col("v"), col("m")).as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
    }
    var prev = checksum(edges)
    var iter = 0
    var converged = false
    while (!converged) {
      if (iter == StarMaxRounds)
        throw new IllegalStateException(
          s"connectedComponentsStar unconverged after $StarMaxRounds rounds")
      val next =
        materialize(star(star(edges, large = true), large = false)).df
      val c = checksum(next)
      edges = next
      converged = c == prev
      prev = c
      iter += 1
    }
    // Stars: (center u) — every v maps to u; centers map to themselves.
    val members = edges.select(col("v").as("id"), col("u").as("component"))
    val centers = edges.select(col("u").as("id")).distinct()
      .select(col("id"), col("id").as("component"))
      // a center that is itself a member of a larger star would be
      // double-listed; at fixpoint that cannot happen, but convergence is
      // read from a checksum and the anti-join keeps the output
      // well-formed even if a collision stopped the loop early
      .join(members.select(col("id")), Seq("id"), "left_anti")
    materialize(members.unionAll(centers)).df
  }

  /** INCREMENTAL connected components — the rolling-ingest tier of
    * transitive dup-cluster maintenance, completing the incremental
    * family (exact: [[incrementalExact]], near: [[incrementalMinhashPairs]],
    * semantic: [[graft.ops.Cluster.incrementalSemanticPairs]] — those
    * find the new PAIRS; this folds the pairs into the persisted
    * cluster labels without re-clustering history). `labels` is a
    * persisted (id, component) table ([[connectedComponentsStar]]
    * output over all history pairs); `newPairs` is the latest batch.
    *
    * Correctness rests on star equivalence: the edge set
    * {id — component} has exactly the connectivity of the history
    * pairs it summarizes, so CC over (star edges ∪ new pairs) equals
    * CC from scratch over (history ∪ batch). Cost is the incremental
    * contract: history pairs (≫ |V| after heavy crawling — every
    * O(n²)-ish near-dup clique compresses to a star) are never
    * re-read; the loop input is |labels| + |batch| rows and the star
    * half is already depth-1, so convergence takes ~1 round beyond
    * the batch's own diameter. Components never split on edge
    * addition, so labeled ids untouched by the batch keep their rows
    * (passed through, including caller-materialized singletons).
    * Incremental ≡ from-scratch is spec-pinned; the min-id component
    * convention is preserved.
    *
    * @return updated (id, component) covering every id in `labels` or
    *         in a `newPairs` edge */
  def incrementalComponents(labels: DataFrame,
                            newPairs: DataFrame): DataFrame = {
    val star = labels.filter(col("id") =!= col("component"))
      .select(col("id").as("ida"), col("component").as("idb"))
    val updated = connectedComponentsStar(
      star.unionAll(newPairs.select(col("ida"), col("idb"))))
    val untouched = labels
      .join(updated.select("id"), Seq("id"), "left_anti")
    // a brand-new id whose only batch pair is a SELF-pair is dropped by
    // the star loop's u ≠ v filter — it is its own singleton component
    // and must still appear (coverage contract; r13 review)
    val selfOnly = newPairs.select(col("ida").as("id"))
      .unionAll(newPairs.select(col("idb").as("id"))).distinct()
      .join(updated.select("id"), Seq("id"), "left_anti")
      .join(labels.select("id"), Seq("id"), "left_anti")
      .select(col("id"), col("id").as("component"))
    updated.unionAll(untouched.select(col("id"), col("component")))
      .unionAll(selfOnly)
  }

  /** Round cap of [[connectedComponentsStar]] (a round is one
    * large-star + small-star step). */
  private val StarMaxRounds = 50

  /** Near-duplicate SURVIVORS: the corpus minus all but the min-id member
    * of each transitive near-dup group (pairs from
    * [[ngramJaccardPairs]]). This is the operator a training pipeline
    * actually runs — pairs are the intermediate, the deduped corpus is
    * the product.
    *
    * Adaptive connected components: the pair list is usually TINY
    * relative to the corpus (near-dup rate of a few percent), so when it
    * fits comfortably on the driver ([[BroadcastCap.DriverRows]],
    * long/int ids)
    * a driver-side union-find replaces the distributed loop — one
    * collect instead of a job per star round, and the victim set
    * broadcasts into the anti-join. Above the cap, or for non-integral
    * ids such as string doc ids, [[connectedComponentsStar]] runs — same
    * result, spec-pinned. */
  def nearDupSurvivors(df: DataFrame, textCol: String, idCol: String,
                       threshold: Double, n: Int = 3): DataFrame = {
    // materialized once: the pair count rides the same job, and both
    // the size decision and either components path read the pairs
    val pm = materialize(ngramJaccardPairs(df, textCol, idCol, threshold, n))
    val (pairs, nPairs) = (pm.df, pm.rows)
    val victims: DataFrame =
      if (Graph.integralIds(df, idCol) && nPairs <= BroadcastCap.DriverRows) {
        val spark = df.sparkSession
        val (a, b) = Graph.collectPairs(pairs, "ida", "idb")
        import spark.implicits._
        broadcast(driverVictims(a, b).toSeq.toDF(idCol)
          .select(col(idCol).cast(df.schema(idCol).dataType)))
      } else
        // victim set may be corpus-sized here — let AQE pick the join
        connectedComponentsStar(pairs)
          .filter(col("id") =!= col("component"))
          .select(col("id").as(idCol))
    df.join(victims, Seq(idCol), "left_anti")
  }

  /** DUPLICATE-CLUSTER report — the audit a dedup decision ships with:
    * per transitive near-dup group, its size, id span, and total char
    * mass (how much of the corpus each template/mirror family
    * occupies; the biggest rows are the boilerplate sources worth
    * fixing at the CRAWLER, not the dedup stage). `component` is the
    * group's min id — the same survivor [[nearDupSurvivors]] keeps, so
    * the two outputs join directly. Pair generation and CC are the
    * audited banded/star paths; the report adds one key-bounded
    * aggregate. */
  def dupClusterReport(df: DataFrame, textCol: String, idCol: String,
                       threshold: Double, n: Int = 3): DataFrame = {
    val pairs = ngramJaccardPairs(df, textCol, idCol, threshold, n)
    connectedComponentsStar(pairs)
      .join(df.select(col(idCol).as("id"),
        length(col(textCol)).cast("long").as("__len")), "id")
      .groupBy("component")
      .agg(count(lit(1)).as("n_docs"),
        max("id").as("max_doc_id"),
        sum("__len").as("total_chars"))
  }

  /** Union-find over collected edges; returns every member that is NOT
    * the minimum id of its component. */
  private def driverVictims(a: Array[Long], b: Array[Long]): Array[Long] = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val nxt = parent(c); parent(c) = r; c = nxt }
      r
    }
    for (i <- a.indices) {
      val (ra, rb) = (find(a(i)), find(b(i)))
      if (ra != rb) { // union by min root so the root IS the survivor
        if (ra < rb) parent(rb) = ra else parent(ra) = rb
      }
    }
    val members = Array.concat(a, b).distinct
    members.filter(m => find(m) != m)
  }

  /** Embedding cosine near-dup pairs (exact, brute-force): normalized dot
    * product ≥ threshold over all pairs. Exact path for moderate corpora
    * and for verifying the LSH path; at billion-vector scale use
    * [[Similarity.lshBuckets]] candidates + this verification. Arithmetic
    * is in double (cast from float32 input) for cross-engine stability.
    * Returns (ida, idb, cos) with ida < idb, cos rounded to 6 dp. */
  def embeddingNearDupPairs(df: DataFrame, vecCol: String, idCol: String,
                            threshold: Double): DataFrame = {
    // The streamed side of the pair join drives parallelism; a small
    // single-file input would otherwise score all |V|² pairs in one task.
    // Only repartition when the input is under-partitioned — at scale the
    // corpus already has plenty of splits and a shuffle would be waste.
    val par = df.sparkSession.sparkContext.defaultParallelism
    val a0 = df.select(col(idCol).as("ida"), col(vecCol).as("va"))
    val a = if (a0.rdd.getNumPartitions < par / 2) a0.repartition(par) else a0
    val b = df.select(col(idCol).as("idb"), col(vecCol).as("vb"))
    a.join(b, col("ida") < col("idb"))
      .withColumn("cos",
        round(Similarity.cosineFast(col("va"), col("vb")), 6))
      .filter(col("cos") >= threshold)
      .select("ida", "idb", "cos")
  }

  /** Embedding cosine near-dup pairs via multi-table sign-LSH blocking —
    * the scale path that replaces [[embeddingNearDupPairs]]'s corpus ×
    * corpus join: candidates come from `tables` independent sign-bucket
    * tables (one explode + a bucket-capped equi-self-join on (table,
    * bucket) + one distinct — never a cross product), and every
    * candidate is verified with the exact cosine, so emitted pairs are a
    * SUBSET of the exact answer (precision 1; recall is the only LSH
    * approximation, miss prob per pair = (1 − p_bit^nbits)^tables with
    * p_bit = 1 − angle/π).
    *
    * Tuning: `nbits` sets bucket granularity (choose ≈ log2(corpus /
    * desired bucket size) so buckets stay bounded at scale) and `tables`
    * sets recall (more tables = fewer misses, linearly more candidate
    * volume). The low-threshold regime (τ ≤ ~0.5, near-orthogonal data)
    * is cosine-LSH's worst case — p_bit ≈ 0.65 forces small bands and
    * many tables, and the candidate set approaches all pairs; on real
    * near-dup corpora (τ ≥ 0.8, clustered) the same machinery prunes
    * aggressively. `maxBucket` drops degenerate buckets (e.g. a zero
    * vector colliding everywhere). Same output as the exact path:
    * (ida, idb, cos ≥ threshold), ida < idb, cos rounded to 6 dp. */
  def embeddingNearDupPairsLsh(df: DataFrame, vecCol: String, idCol: String,
                               threshold: Double, nbits: Int = 4,
                               tables: Int = 48, dim: Int = 64,
                               seedBase: Long = 42L,
                               maxBucket: Int = 1 << 16): DataFrame = {
    val sig = Similarity.lshSignatures(col(vecCol), nbits, dim,
      tables, seedBase)
    // materialized once: the band table feeds the size cap AND both
    // sides of the candidate self-join — without it the fused
    // graft_lsh_sig expression (tables × dim dot products) would run
    // 4× per corpus row. It is also the persistable LSH state (the
    // embedding twin of minhashIndex).
    val banded = materialize(df.select(col(idCol).as("id"), sig.as("sigs"))
      .select(col("id"), posexplode(col("sigs")).as(Seq("tbl", "bucket")))).df
    // Pair generation is a bucket-count-capped SELF-JOIN, not the
    // collect_list + in-row pair flatten minhashLshPairs uses: near-dup
    // LSH buckets are ~corpus/2^nbits by construction (only 2^nbits
    // buckets per table), so a bucket's id list is NOT small — a
    // collected list would be an unbounded aggregation buffer and its
    // pair flatten a single giant array in one row. The self-join keeps
    // every stage row-shaped and spillable; AQE handles residual bucket
    // skew. Buckets above maxBucket are dropped (quadratic-work guard) —
    // if genuine buckets exceed it, nbits is too small for the corpus:
    // keep nbits ≈ log2(corpus / desired bucket size).
    val sizes = banded.groupBy("tbl", "bucket")
      .agg(count(lit(1)).as("__bn"))
      .filter(col("__bn").between(2, maxBucket))
      .select("tbl", "bucket")
    val kept = banded.join(sizes, Seq("tbl", "bucket"))
    val cand = kept.as("a")
      .join(kept.as("b"), col("a.tbl") === col("b.tbl") &&
        col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .select(col("a.id").as("ida"), col("b.id").as("idb"))
      .distinct()
    // Exact-cosine verification on the candidate set only: two id joins
    // against the (id, vector) table — broadcast when the corpus is
    // small, hash joins on id at scale — never a cross product.
    val vecs = df.select(col(idCol).as("id"), col(vecCol).as("v"))
    cand
      .join(vecs.select(col("id").as("ida"), col("v").as("va")), "ida")
      .join(vecs.select(col("id").as("idb"), col("v").as("vb")), "idb")
      .withColumn("cos",
        round(Similarity.cosineFast(col("va"), col("vb")), 6))
      .filter(col("cos") >= threshold)
      .select("ida", "idb", "cos")
  }
}
