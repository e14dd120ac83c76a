package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.GraftShim.materialize
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops._
import graft.pivot.PivotOps
import graft.QueryShared._

/** Deduplication verification queries — one family of
  * [[graft.SparkEntry.registry]]; see [[graft.SparkEntry]] for the
  * oracle conventions. */
private[graft] object DedupQueries {
  // =====================================================================
  // Deduplication
  // =====================================================================

  /** documents with a full duplicate copy planted at doc_id + 10^7 — the
    * dedup input (real table, derived duplicates). The offset keeps the
    * copies above any real doc_id at every bench/verify scale factor
    * (documents is 500 rows per 0.01 sf — collision would need sf 200),
    * so the originals win min-id survivor selection. */
  private[graft] def dupCorpus(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select("doc_id", "text")
    d.unionAll(d.select((col("doc_id") + 10000000L).as("doc_id"), col("text")))
  }

  private[graft] def qDedupExact(s: SparkSession, dir: String): DataFrame =
    Dedup.exact(dupCorpus(s, dir), "text", "doc_id").select("doc_id")

  private[graft] val oDedupExact =
    """WITH corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL SELECT doc_id + 10000000, text FROM documents),
      |ranked AS (SELECT doc_id, row_number() OVER (
      |    PARTITION BY md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
      |    ORDER BY doc_id) AS rn FROM corpus)
      |SELECT doc_id FROM ranked WHERE rn = 1""".stripMargin

  /** Policy-based exact dedup: survivors by HIGHEST quality (ties to
    * the lowest id) instead of first-by-id — originals and planted
    * copies carry different planted quality, so the winner flips per
    * pair and the policy is observable. */
  private[graft] def qDedupExactBest(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select("doc_id", "text")
    val corpus = d.withColumn("q", (col("doc_id") % 5).cast("long"))
      .unionAll(
        d.select((col("doc_id") + 10000000L).as("doc_id"), col("text"))
          .withColumn("q", ((col("doc_id") - 10000000L + 1) % 5).cast("long")))
    Dedup.exactBest(corpus, "text", "doc_id",
        struct((lit(4L) - col("q")).as("nq"), col("doc_id").as("id")))
      .select("doc_id", "q")
  }

  private[graft] val oDedupExactBest =
    """WITH corpus AS (
      |  SELECT doc_id, text, doc_id % 5 AS q FROM documents
      |  UNION ALL
      |  SELECT doc_id + 10000000, text, (doc_id + 1) % 5 FROM documents),
      |r AS (SELECT doc_id, q, row_number() OVER (
      |    PARTITION BY md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
      |    ORDER BY q DESC, doc_id) AS rn FROM corpus)
      |SELECT doc_id, q FROM r WHERE rn = 1""".stripMargin

  /** DuckDB twin of the exact shingle-jaccard pair computation. */
  private[graft] def oJaccardPairs(threshold: Double): String =
    s"""WITH docs AS (SELECT doc_id, list_distinct(list_transform(
      |    generate_series(1, greatest(len($oToks) - 2, 0)),
      |    i -> $oToks[i] || ' ' || $oToks[i+1] || ' ' || $oToks[i+2])) AS sh
      |  FROM documents),
      |ex AS (SELECT doc_id, unnest(sh) AS s FROM docs),
      |sizes AS (SELECT doc_id, count(*) AS n FROM ex GROUP BY doc_id),
      |pairs AS (SELECT a.doc_id AS ida, b.doc_id AS idb, count(*) AS c
      |  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)
      |SELECT ida, idb, c * 1.0 / (sa.n + sb.n - c) AS jaccard
      |FROM pairs JOIN sizes sa ON sa.doc_id = ida JOIN sizes sb ON sb.doc_id = idb
      |WHERE c * 1.0 / (sa.n + sb.n - c) >= $threshold""".stripMargin

  /** LSH S-curve audit — the banding-parameter tuning read ("what
    * similarity does THIS (bands, rows) config actually catch"):
    * every doc < 2200 pairs with a mutated twin whose token-mutation
    * rate m/11 walks the Jaccard range j ≈ (9−m)/(9+m) from 1.0 to 0,
    * each pair gets an EXACT trigram Jaccard (integer bucket
    * j·20 div 1) and a minhash-LSH capture bit from the shipped
    * 128-hash/32-band [[Dedup.minhashIndex]] self-probe. Output per
    * bucket: exact pair count (oracle-replayed) + the S-curve CONTRACT
    * — capture ≥ 90% where j ≥ 0.6 (theory ≥ 98.8% at the boundary),
    * ≤ 10% where j < 0.15 (theory ≤ 1.6%) — the hash-family-dependent
    * capture side stays TRUE-contract like every sketch oracle.
    * Per-pair joins are all co-keyed on the pair id; the band
    * self-join probes (band, bh) buckets exactly like production
    * near-dup. */
  private[graft] def qDedupLshScurve(s: SparkSession, dir: String): DataFrame = {
    val off = 5000000L
    val base = t(s, dir, "documents").filter(col("doc_id") < 2200)
      .select("doc_id", "text")
    def toks(c: org.apache.spark.sql.Column) = TextFunctions.tokens(c)
    // The mutation rate m must read the ORIGINAL doc_id: a bare
    // col("doc_id") inside the transform lambda would lateral-alias-
    // resolve against the earlier `(doc_id + off).as("doc_id")` output
    // in the same select, silently shifting every pair's rate to
    // (m + off%11) % 11 — the r11 red row. Stage the original id under
    // an unshadowed name first.
    val twin = base.select(col("doc_id").as("__orig"), col("text"))
      .select((col("__orig") + off).as("doc_id"),
        array_join(transform(toks(col("text")),
          (t, i) => when(i % 11 < col("__orig") % 11,
            concat(t, lit("q9"))).otherwise(t)),
          " ").as("text"))
    // r16: the twin mutation and the 3-gram build are interpreted
    // higher-order transforms (CodegenFallback); un-materialized, the
    // twin ran once per consumer (grams + minhash index) and the gram
    // stream THREE times (sizes + both intersection join sides).
    // Checkpoint each once; the intersection join probes a broadcast
    // of the twin-side grams under the [[BroadcastCap]] instead of
    // exchanging both string-gram streams into an SMJ.
    val all = materialize(base.unionByName(twin)).df
    val tk = toks(col("text"))
    val gm = materialize(
      all.select(pmod(col("doc_id"), lit(off)).as("pid"),
        (col("doc_id") >= off).as("tw"),
        explode(array_distinct(when(size(tk) >= 3,
          transform(sequence(lit(1), size(tk) - 2),
            i => concat_ws(" ", slice(tk, i, lit(3)))))
          .otherwise(array().cast("array<string>")))).as("g")))
    val grams = gm.df
    val sizes = grams.groupBy("pid")
      .agg(sum(when(col("tw"), 0L).otherwise(1L)).as("na"),
        sum(when(col("tw"), 1L).otherwise(0L)).as("nb"))
    val inter = grams.filter(!col("tw")).select("pid", "g")
      .join(BroadcastCap.hint(
        grams.filter(col("tw")).select("pid", "g"), gm.rows),
        Seq("pid", "g"))
      .groupBy("pid").agg(count(lit(1)).as("c"))
    val buckets = sizes.join(inter, Seq("pid"), "left")
      .select(col("pid"),
        expr("least(coalesce(c, 0) * 20 div (na + nb - coalesce(c, 0)), 19)")
          .as("bucket"))
    // checkpointed: both self-join sides read it (r16)
    val idx = materialize(Dedup.minhashIndex(all, "text", "doc_id")).df
    val cap = idx.as("a").join(idx.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("b.id") === col("a.id") + off)
      .select(col("a.id").as("pid")).distinct()
      .withColumn("__cap", lit(1L))
    buckets.join(cap, Seq("pid"), "left")
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_pairs"),
        sum(coalesce(col("__cap"), lit(0L))).as("__capt"))
      .select(col("bucket"), col("n_pairs"),
        when(col("bucket") >= 12, col("__capt") * 10 >= col("n_pairs") * 9)
          .when(col("bucket") <= 2, col("__capt") * 10 <= col("n_pairs"))
          .otherwise(lit(true)).as("contract_ok"))
  }

  private[graft] val oDedupLshScurve = {
    val toks = oToks
    s"""WITH b0 AS (SELECT doc_id, $toks AS t FROM documents
      |  WHERE doc_id < 2200),
      |tw AS (SELECT doc_id, list_transform(
      |    generate_series(1, len(t)),
      |    i -> CASE WHEN (i - 1) % 11 < doc_id % 11
      |      THEN t[i] || 'q9' ELSE t[i] END) AS t
      |  FROM b0),
      |sh AS (
      |  SELECT doc_id AS pid, FALSE AS tww, unnest(list_distinct(
      |    list_transform(generate_series(1, greatest(len(t) - 2, 0)),
      |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS g FROM b0
      |  UNION ALL
      |  SELECT doc_id, TRUE, unnest(list_distinct(
      |    list_transform(generate_series(1, greatest(len(t) - 2, 0)),
      |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) FROM tw),
      |sizes AS (SELECT pid,
      |    sum(CASE WHEN tww THEN 0 ELSE 1 END) AS na,
      |    sum(CASE WHEN tww THEN 1 ELSE 0 END) AS nb
      |  FROM sh GROUP BY 1),
      |inter AS (SELECT a.pid, count(*) AS c
      |  FROM (SELECT pid, g FROM sh WHERE NOT tww) a
      |  JOIN (SELECT pid, g FROM sh WHERE tww) b
      |    ON a.pid = b.pid AND a.g = b.g
      |  GROUP BY 1),
      |bk AS (SELECT s.pid, least(coalesce(i.c, 0) * 20
      |    // (s.na + s.nb - coalesce(i.c, 0)), 19) AS bucket
      |  FROM sizes s LEFT JOIN inter i ON i.pid = s.pid)
      |SELECT CAST(bucket AS BIGINT) AS bucket,
      |  count(*) AS n_pairs, TRUE AS contract_ok
      |FROM bk GROUP BY 1""".stripMargin
  }

  /** Directed containment pairs at 0.6 — the near-subset/quotation
    * signal Jaccard misses. */
  private[graft] def qDedupContainment(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramContainmentPairs(t(s, dir, "documents"), "text", "doc_id",
      threshold = 0.6, n = 3)

  private[graft] val oDedupContainment =
    s"""WITH docs AS (SELECT doc_id, list_distinct(list_transform(
      |    generate_series(1, greatest(len($oToks) - 2, 0)),
      |    i -> $oToks[i] || ' ' || $oToks[i+1] || ' ' || $oToks[i+2])) AS sh
      |  FROM documents),
      |ex AS (SELECT doc_id, unnest(sh) AS s FROM docs),
      |sizes AS (SELECT doc_id, count(*) AS n FROM ex GROUP BY doc_id),
      |pairs AS (SELECT a.doc_id AS ida, b.doc_id AS idb, count(*) AS c
      |  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
      |directed AS (
      |  SELECT ida AS src, idb AS dst, c * 1.0 / sa.n AS containment
      |  FROM pairs JOIN sizes sa ON sa.doc_id = ida
      |  UNION ALL
      |  SELECT idb AS src, ida AS dst, c * 1.0 / sb.n AS containment
      |  FROM pairs JOIN sizes sb ON sb.doc_id = idb)
      |SELECT src, dst, containment FROM directed
      |WHERE containment >= 0.6""".stripMargin

  private[graft] def qDedupNgramJaccard(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairs(t(s, dir, "documents"), "text", "doc_id",
      threshold = 0.5, n = 3)

  private[graft] def qDedupMinhash(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashLshPairs(t(s, dir, "documents"), "text", "doc_id",
      threshold = 0.5, numHashes = 128, bands = 32, n = 3)

  /** One-permutation-hashing tier of the same LSH pipeline — ONE
    * avalanche per shingle instead of 128 (the signature stage is the
    * dedup CPU bill at corpus scale; see [[graft.functions.MinHashOph]]).
    * SAME ORACLE as `dedup_minhash`: the exact-Jaccard verify strips
    * LSH false positives, and the testdata's qualifying pairs sit at
    * j ≥ 0.9 where the per-pair miss probability is ≲1e-7 even with
    * densification correlation — the scheme must be invisible in the
    * output. */
  private[graft] def qDedupMinhashOph(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashLshPairs(t(s, dir, "documents"), "text", "doc_id",
      threshold = 0.5, numHashes = 128, bands = 32, n = 3, oph = true)

  /** Incremental exact dedup: docs ≥400 are "today's batch", deduped
    * against the persisted fingerprint index of docs <400 — the corpus
    * text is never re-read. */
  private[graft] def qDedupIncrementalExact(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val index = Dedup.exactIndex(d.filter(col("doc_id") < 400), "text", "doc_id")
    Dedup.incrementalExact(d.filter(col("doc_id") >= 400), "text", "doc_id",
      index).select("doc_id", "lang", "n_chars")
  }

  private[graft] val oDedupIncrementalExact =
    """WITH fp AS (SELECT doc_id, lang, n_chars,
      |    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
      |  FROM documents),
      |firsts AS (SELECT fp, min(doc_id) AS doc_id FROM fp
      |  WHERE doc_id >= 400 GROUP BY fp)
      |SELECT b.doc_id, b.lang, b.n_chars
      |FROM fp b JOIN firsts f ON b.doc_id = f.doc_id
      |WHERE b.fp NOT IN (SELECT fp FROM fp WHERE doc_id < 400)""".stripMargin

  /** Bloom-tiered incremental exact dedup: same split and SAME ORACLE
    * as `dedup_incremental_exact` — the bloom tier must be invisible
    * in the output (no false negatives; the anti-join strips the fpp
    * sliver). The bloom is sized for the history index and probed via
    * the codegen graft_bloom_contains expression. */
  private[graft] def qDedupIncrementalBloom(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val hist = d.filter(col("doc_id") < 400)
    val index = Dedup.exactIndex(hist, "text", "doc_id")
    val bloom = Dedup.indexBloom(index, expectedKeys = 4096)
    Dedup.incrementalExactBloom(d.filter(col("doc_id") >= 400), "text",
        "doc_id", index, bloom)
      .select("doc_id", "lang", "n_chars")
  }

  /** Incremental near-dup: today's batch probed against the persisted
    * minhash band index of the history; candidates verified with exact
    * Jaccard (no false positives), and every qualifying cross pair in
    * the testdata has j ≥ 0.9 — per-pair LSH miss probability
    * (1−j⁴)³² ≈ 1e-15 — so the output hash-matches the exact oracle. */
  private[graft] def qDedupIncrementalMinhash(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val corpus = d.filter(col("doc_id") < 400)
    val index = Dedup.minhashIndex(corpus, "text", "doc_id")
    // probe through the band-key bloom tier: the pre-filter must be
    // invisible in the emitted pairs (this oracle is the proof)
    Dedup.incrementalMinhashPairsBloom(d.filter(col("doc_id") >= 400), corpus,
      "text", "doc_id", index, threshold = 0.5,
      bloom = Dedup.bandBloom(index, expectedKeys = 16384L))
  }

  private[graft] val oDedupIncrementalMinhash =
    s"""WITH docs AS (SELECT doc_id, list_distinct(list_transform(
      |    generate_series(1, greatest(len($oToks) - 2, 0)),
      |    i -> $oToks[i] || ' ' || $oToks[i+1] || ' ' || $oToks[i+2])) AS sh
      |  FROM documents),
      |ex AS (SELECT doc_id, unnest(sh) AS s FROM docs),
      |sizes AS (SELECT doc_id, count(*) AS n FROM ex GROUP BY doc_id),
      |pairs AS (SELECT a.doc_id AS idb_new, b.doc_id AS id_old, count(*) AS c
      |  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id >= 400 AND b.doc_id < 400
      |  GROUP BY 1, 2)
      |SELECT idb_new, id_old, c * 1.0 / (sa.n + sb.n - c) AS jaccard
      |FROM pairs JOIN sizes sa ON sa.doc_id = idb_new
      |  JOIN sizes sb ON sb.doc_id = id_old
      |WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.5""".stripMargin

  /** Incremental SEMANTIC dedup — the semantic twin of the exact/minhash
    * incrementals: history (vec_id < 400) builds the persisted
    * [[graft.ops.Cluster.semanticIndex]] (centroids + assigned cells
    * with stored own-centroid cosines), the batch probes it, and every
    * qualifying pair with at least one batch side must come out. The
    * path is LOSSLESS (triangle-inequality shortlist over union cell
    * stats, history never rescored) with the batch × union brute escape,
    * so the oracle is full pair-set equality restricted to
    * batch-involving pairs. */
  private[graft] def qDedupIncrementalSemantic(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val path = new java.io.File(scratchRoot, "sem_index").getAbsolutePath
    Cluster.semanticIndex(e.filter(col("vec_id") < 400), "embedding",
      "vec_id", path)
    Cluster.incrementalSemanticPairs(e.filter(col("vec_id") >= 400),
      "embedding", "vec_id", path, threshold = 0.45)
  }

  private[graft] val oDedupIncrementalSemantic =
    """WITH u AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
      |    generate_subscripts(embedding, 1) AS i FROM embeddings),
      |norms AS (SELECT vec_id, sqrt(sum(x * x)) AS n FROM u GROUP BY vec_id),
      |dots AS (SELECT a.vec_id AS ida, b.vec_id AS idb, sum(a.x * b.x) AS d
      |  FROM u a JOIN u b ON a.i = b.i AND a.vec_id < b.vec_id GROUP BY 1, 2)
      |SELECT ida, idb, round(d / (na.n * nb.n), 6) AS cos
      |FROM dots JOIN norms na ON na.vec_id = ida JOIN norms nb ON nb.vec_id = idb
      |WHERE round(d / (na.n * nb.n), 6) >= 0.45
      |  AND (ida >= 400 OR idb >= 400)""".stripMargin

  /** Transitive near-dup survivors: min-id member per connected group of
    * jaccard≥0.5 pairs. */
  private[graft] def qDedupSurvivors(s: SparkSession, dir: String): DataFrame =
    Dedup.nearDupSurvivors(t(s, dir, "documents"), "text", "doc_id",
      threshold = 0.5).select("doc_id")

  /** Same survivors contract, but the transitive grouping always runs
    * [[Dedup.connectedComponentsStar]] — the path
    * [[Dedup.nearDupSurvivors]] takes when the pair list is too big for
    * its driver union-find or the ids are not integral. Hash-matching
    * the same recursive-CTE oracle as `dedup_survivors` pins the union-
    * find and star contraction equal on real data end-to-end. */
  private[graft] def qDedupSurvivorsStar(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val pairs = Dedup.ngramJaccardPairs(d, "text", "doc_id", threshold = 0.5)
    val victims = Dedup.connectedComponentsStar(pairs)
      .filter(col("id") =!= col("component"))
      .select(col("id").as("doc_id"))
    d.join(victims, Seq("doc_id"), "left_anti").select("doc_id")
  }

  private[graft] val oDedupSurvivors =
    s"""WITH RECURSIVE docs AS (SELECT doc_id, list_distinct(list_transform(
      |    generate_series(1, greatest(len($oToks) - 2, 0)),
      |    i -> $oToks[i] || ' ' || $oToks[i+1] || ' ' || $oToks[i+2])) AS sh
      |  FROM documents),
      |ex AS (SELECT doc_id, unnest(sh) AS s FROM docs),
      |sizes AS (SELECT doc_id, count(*) AS n FROM ex GROUP BY doc_id),
      |p AS (SELECT a.doc_id AS ida, b.doc_id AS idb, count(*) AS c
      |  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
      |jp AS (SELECT ida, idb FROM p
      |  JOIN sizes sa ON sa.doc_id = ida JOIN sizes sb ON sb.doc_id = idb
      |  WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.5),
      |edges AS (SELECT ida AS src, idb AS dst FROM jp
      |  UNION SELECT idb, ida FROM jp),
      |reach(src, dst) AS (
      |  SELECT src, dst FROM edges
      |  UNION
      |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
      |    WHERE r.src <> e.dst)
      |SELECT doc_id FROM documents
      |WHERE doc_id NOT IN (SELECT DISTINCT dst FROM reach WHERE src < dst)""".stripMargin

  /** INCREMENTAL transitive dup-cluster maintenance (see
    * [[Dedup.incrementalComponents]]): the 0.5-Jaccard pairs split
    * into a "history" half (both endpoints < 250 — labeled once by
    * star CC) and an "increment" (everything touching a newer doc);
    * the increment folds into the persisted labels without re-reading
    * history pairs. The oracle is FROM-SCRATCH components over ALL
    * pairs (recursive min-reachable per id) — passing it IS the
    * incremental ≡ one-shot guarantee, on real corpus pairs including
    * cross-batch merges of previously separate clusters. */
  private[graft] def qDedupIncrementalComponents(s: SparkSession,
                                                 dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    // base + increment read it
    val pairs = materialize(Dedup.ngramJaccardPairs(d, "text", "doc_id",
        threshold = 0.5)
      .select("ida", "idb")).df
    val base = pairs.filter(col("ida") < 250 && col("idb") < 250)
    val inc = pairs.filter(col("ida") >= 250 || col("idb") >= 250)
    val labels = Dedup.connectedComponentsStar(base)
    Dedup.incrementalComponents(labels, inc)
      .select(col("id").as("doc_id"), col("component"))
  }

  private[graft] val oDedupIncrementalComponents =
    s"""WITH RECURSIVE docs AS (SELECT doc_id, list_distinct(list_transform(
      |    generate_series(1, greatest(len($oToks) - 2, 0)),
      |    i -> $oToks[i] || ' ' || $oToks[i+1] || ' ' || $oToks[i+2])) AS sh
      |  FROM documents),
      |ex AS (SELECT doc_id, unnest(sh) AS s FROM docs),
      |sizes AS (SELECT doc_id, count(*) AS n FROM ex GROUP BY doc_id),
      |p AS (SELECT a.doc_id AS ida, b.doc_id AS idb, count(*) AS c
      |  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
      |jp AS (SELECT ida, idb FROM p
      |  JOIN sizes sa ON sa.doc_id = ida JOIN sizes sb ON sb.doc_id = idb
      |  WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.5),
      |edges AS (SELECT ida AS src, idb AS dst FROM jp
      |  UNION SELECT idb, ida FROM jp),
      |reach(src, dst) AS (
      |  SELECT src, dst FROM edges
      |  UNION
      |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
      |    WHERE r.src <> e.dst)
      |SELECT src AS doc_id, least(src, min(dst)) AS component
      |FROM reach GROUP BY src""".stripMargin

  /** SimHash CONTRACT row — the raw (ida, idb, hamming) pair list is
    * hash-family-dependent, but the properties a user relies on are not:
    * RECALL (at least half of the exact jaccard≥0.9 near-dup pairs are
    * found; measured 0.60 at sf0.01, 0.76 at sf0.1) and PRECISION (at
    * least half of the emitted pairs ARE jaccard≥0.9 near-dups; measured
    * 1.0 / 0.75 — hamming≤3 collisions between genuinely different docs
    * are real SimHash behavior on a small-vocabulary bag-of-words corpus,
    * where per-bit token votes concentrate fingerprints). n_true is
    * engine-agnostic and oracle-checked exactly. */
  /** Exact duplicated-substring stats at 20-token granularity — fully
    * engine-agnostic (md5 span keys, integer counts), so the oracle is
    * an exact twin, not a contract. */
  private[graft] def qTextDupSpans(s: SparkSession, dir: String): DataFrame =
    Dedup.duplicatedSpanStats(t(s, dir, "documents"), "text", "doc_id",
        n = 20)
      .withColumnRenamed("id", "doc_id")

  private[graft] val oTextDupSpans =
    s"""WITH d AS (SELECT doc_id, $oToks AS toks FROM documents),
      |sp AS (SELECT doc_id,
      |    md5(array_to_string(toks[i:i+19], ' ')) AS sp
      |  FROM d, unnest(generate_series(1, len(toks) - 19)) AS t(i)
      |  WHERE len(toks) >= 20),
      |dup AS (SELECT sp FROM sp GROUP BY sp HAVING count(*) >= 2),
      |per AS (SELECT doc_id, count(*) AS n_spans FROM sp GROUP BY doc_id),
      |dp AS (SELECT s.doc_id, count(*) AS n_dup FROM sp s
      |  JOIN dup USING (sp) GROUP BY s.doc_id)
      |SELECT per.doc_id, per.n_spans,
      |  COALESCE(dp.n_dup, 0) AS n_dup_spans,
      |  CAST(COALESCE(dp.n_dup, 0) AS DOUBLE) / per.n_spans AS dup_frac
      |FROM per LEFT JOIN dp ON dp.doc_id = per.doc_id""".stripMargin

  /** Unicode canonicalization over docs with PLANTED decomposed
    * accents, NBSP, zero-width space, a control character, and an
    * ideographic space — the exact mojibake set that silently splits
    * fingerprints and tokens. The oracle rebuilds the same planted
    * string with chr() and replays NFC + the three replace passes with
    * the SAME regex constants (\x{...} classes parse identically in
    * Java regex and RE2). */
  private[graft] def qTextNormalize(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").filter(col("doc_id") < 200)
    val planted = concat(col("text"),
      lit(" caf" + "e\u0301"),
      lit("\u00A0x\u200By\u0007z\u3000w"))
    d.select(col("doc_id"),
        Scrub.normalizeUnicode(planted).as("clean"))
      .withColumn("n_clean_chars", length(col("clean")).cast("long"))
  }

  private[graft] val oTextNormalize =
    s"""WITH p AS (SELECT doc_id,
      |    text || ' caf' || 'e' || chr(769) || chr(160) || 'x' ||
      |      chr(8203) || 'y' || chr(7) || 'z' || chr(12288) || 'w' AS t
      |  FROM documents WHERE doc_id < 200),
      |n AS (SELECT doc_id, regexp_replace(regexp_replace(
      |    nfc_normalize(
      |      regexp_replace(t, '${Scrub.ZeroWidthRe}', '', 'g')),
      |    '${Scrub.ExoticSpaceRe}', ' ', 'g'),
      |    '${Scrub.ControlRe}', '', 'g') AS clean FROM p)
      |SELECT doc_id, clean,
      |  CAST(length(clean) AS BIGINT) AS n_clean_chars FROM n""".stripMargin

  /** Encoding repair over docs with PLANTED mojibake: a 2-byte
    * (cafÃ© → café), 3-byte (â€™ → ’), and 4-byte (ðŸ˜€ → U+1F600)
    * UTF-8-as-cp1252 sequence must each be re-decoded, while genuine
    * Latin-1 (über), a lone €, and an overlong C0 AF stay untouched.
    * The corpus text is ASCII (verified across SFs), so the oracle
    * constructs the expected repaired string directly with chr() —
    * the repair rules themselves are pinned by the JVM spec. */
  private[graft] def qTextFixEncoding(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").filter(col("doc_id") < 200)
    val planted = concat(col("text"), lit(
      " cafÃ© aâ€™b ðŸ˜€" +
        " über €5 À¯"))
    d.select(col("doc_id"),
      Scrub.fixMojibake(planted).as("fixed"),
      Scrub.mojibakeRepairs(planted).as("repairs"))
  }

  private[graft] val oTextFixEncoding =
    """SELECT doc_id,
      |  text || ' caf' || chr(233) || ' a' || chr(8217) || 'b ' ||
      |    chr(128512) || ' ' || chr(252) || 'ber ' || chr(8364) ||
      |    '5 ' || chr(192) || chr(175) AS fixed,
      |  CAST(3 AS BIGINT) AS repairs
      |FROM documents WHERE doc_id < 200""".stripMargin

  // planted verbatim repeats at lengths the fixed n=20 form cannot see
  // (12 < 20: no span at all) or cannot distinguish (45 ≈ 20): shared
  // between the Spark query and the oracle so they cannot drift
  private[graft] val dupSpanP12 = (1 to 12).map(i => s"q$i").mkString(" ")
  private[graft] val dupSpanP45 = (1 to 45).map(i => s"r$i").mkString(" ")
  private[graft] val dupSpanPlanted = Seq(
    1000001L -> dupSpanP12,
    1000002L -> s"lead $dupSpanP12 trail",
    1000003L -> dupSpanP45,
    1000004L -> s"$dupSpanP45 tailtok")
  private[graft] val dupSpanNs = Seq(10, 20, 40)
  // + a 9-token repeat BELOW the smallest rung: only exact-length
  // removal can see it (shared Spark/oracle so they cannot drift)
  private[graft] val dupSpanP9 = (1 to 9).map(i => s"s$i").mkString(" ")
  private[graft] val dupSpanPlantedExact = dupSpanPlanted ++ Seq(
    1000005L -> s"alpha $dupSpanP9 omega",
    1000006L -> s"pre $dupSpanP9 post")

  /** Multi-length duplicated-span sweep over a corpus with PLANTED
    * 12- and 45-token verbatim repeats: the n=10 rung must catch the
    * 12-token repeat (n=20 yields no row at all for those docs — the
    * miss the ladder exists to close), and the n=40 rung must see the
    * 45-token repeat as long-form duplication. Exact twin oracle (md5
    * span keys, integer counts), one row per (doc, rung). */
  private[graft] def qTextDupSpansMulti(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val corpus = t(s, dir, "documents").filter(col("doc_id") < 100)
      .select("doc_id", "text")
      .unionAll(dupSpanPlanted.toDF("doc_id", "text"))
    Dedup.duplicatedSpanStatsMulti(corpus, "text", "doc_id", dupSpanNs)
      .withColumnRenamed("id", "doc_id")
  }

  private[graft] val oTextDupSpansMulti = {
    val plantedVals = dupSpanPlanted
      .map { case (id, tx) => s"(CAST($id AS BIGINT), '$tx')" }
      .mkString(",\n      |  ")
    val spanArms = dupSpanNs.map { n =>
      s"""SELECT doc_id, $n AS n,
        |    md5(array_to_string(toks[i:i+${n - 1}], ' ')) AS sp
        |  FROM d, unnest(generate_series(1, len(toks) - ${n - 1})) AS t(i)
        |  WHERE len(toks) >= $n""".stripMargin
    }.mkString("\n      |  UNION ALL\n      |  ")
    s"""WITH c AS (SELECT doc_id, text FROM documents WHERE doc_id < 100
      |  UNION ALL SELECT * FROM (VALUES
      |  $plantedVals) AS v(doc_id, text)),
      |d AS (SELECT doc_id, $oToks AS toks FROM c),
      |sp AS (
      |  $spanArms
      |),
      |dup AS (SELECT n, sp FROM sp GROUP BY n, sp HAVING count(*) >= 2),
      |per AS (SELECT doc_id, n, count(*) AS n_spans FROM sp
      |  GROUP BY doc_id, n),
      |dp AS (SELECT s.doc_id, s.n, count(*) AS n_dup FROM sp s
      |  JOIN dup USING (n, sp) GROUP BY s.doc_id, s.n)
      |SELECT per.doc_id, per.n, per.n_spans,
      |  COALESCE(dp.n_dup, 0) AS n_dup_spans,
      |  CAST(COALESCE(dp.n_dup, 0) AS DOUBLE) / per.n_spans AS dup_frac
      |FROM per LEFT JOIN dp
      |  ON dp.doc_id = per.doc_id AND dp.n = per.n""".stripMargin
  }

  /** ExactSubstr removal over the LENGTH LADDER (10/20/40) in one
    * pass: every non-corpus-first occurrence of a duplicated span at
    * ANY rung is cut — the 12-token planted repeat (invisible to
    * n=20) and the 45-token one are both removed in the same sweep.
    * The oracle replays tokenization, per-rung span keys, the
    * (id, pos) keeper rule, unioned per-token coverage, and
    * reassembly — the full removal pipeline, row for row. Output text
    * is canonical (lowercased, whitespace-collapsed) on both sides. */
  private[graft] def qTextDupSpansRemoved(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val corpus = t(s, dir, "documents").filter(col("doc_id") < 60)
      .select("doc_id", "text")
      .unionAll(dupSpanPlanted.toDF("doc_id", "text"))
    Dedup.removeDupSpansMulti(corpus, "text", "doc_id", dupSpanNs)
      .withColumnRenamed("id", "doc_id")
  }

  private[graft] val oTextDupSpansRemoved = {
    val plantedVals = dupSpanPlanted
      .map { case (id, tx) => s"(CAST($id AS BIGINT), '$tx')" }
      .mkString(",\n      |  ")
    val spanArms = dupSpanNs.map { n =>
      s"""SELECT doc_id, $n AS n, i - 1 AS pos,
        |    md5(array_to_string(toks[i:i+${n - 1}], ' ')) AS sp
        |  FROM d, unnest(generate_series(1, len(toks) - ${n - 1})) AS t(i)
        |  WHERE len(toks) >= $n""".stripMargin
    }.mkString("\n      |  UNION ALL\n      |  ")
    s"""WITH c AS (SELECT doc_id, text FROM documents WHERE doc_id < 60
      |  UNION ALL SELECT * FROM (VALUES
      |  $plantedVals) AS v(doc_id, text)),
      |d AS (SELECT doc_id, $oToks AS toks FROM c),
      |tok AS (SELECT doc_id, i - 1 AS pos, toks[i] AS w
      |  FROM d, unnest(generate_series(1, len(toks))) AS t(i)),
      |sp AS (
      |  $spanArms
      |),
      |dup AS (SELECT n, sp, min(doc_id * 1000000 + pos) AS keep FROM sp
      |  GROUP BY n, sp HAVING count(*) >= 2),
      |cov0 AS (SELECT s.doc_id, s.pos, s.n
      |  FROM sp s JOIN dup USING (n, sp)
      |  WHERE s.doc_id * 1000000 + s.pos <> dup.keep),
      |cov AS (SELECT DISTINCT doc_id,
      |    pos + unnest(generate_series(0, n - 1)) AS pos FROM cov0),
      |kept AS (SELECT t.doc_id, t.pos, t.w FROM tok t
      |  LEFT JOIN cov ON cov.doc_id = t.doc_id AND cov.pos = t.pos
      |  WHERE cov.doc_id IS NULL),
      |reb AS (SELECT doc_id, array_to_string(list(w ORDER BY pos), ' ')
      |    AS text FROM kept GROUP BY doc_id)
      |SELECT c.doc_id, COALESCE(reb.text, '') AS text
      |FROM c LEFT JOIN reb USING (doc_id)""".stripMargin
  }

  /** EXACT longest-dup-span (suffix-array refinement of the pow
    * bracket) over the planted corpus: the 12-token cross-doc repeat
    * must report dup_len = 12 exactly and the 45-token one the cap 32
    * (maxPow = 5 saturation). The oracle brute-forces EVERY length
    * 1..32 from the raw token arrays; the Spark side reaches the same
    * answers through O(log) rank-doubling + adjacent-suffix LCE,
    * never materializing length-l span text. */
  private[graft] def qTextDupSpanExact(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val corpus = t(s, dir, "documents").filter(col("doc_id") < 40)
      .select("doc_id", "text")
      .unionAll(dupSpanPlanted.toDF("doc_id", "text"))
    Dedup.longestDupSpanExact(corpus, "text", "doc_id", maxPow = 5)
      .withColumnRenamed("id", "doc_id")
  }

  private[graft] val oTextDupSpanExact = {
    val plantedVals = dupSpanPlanted
      .map { case (id, tx) => s"(CAST($id AS BIGINT), '$tx')" }
      .mkString(",\n      |  ")
    s"""WITH c AS (SELECT doc_id, text FROM documents WHERE doc_id < 40
      |  UNION ALL SELECT * FROM (VALUES
      |  $plantedVals) AS v(doc_id, text)),
      |d AS (SELECT doc_id, $oToks AS toks FROM c),
      |ls AS (SELECT i AS l FROM unnest(generate_series(1, 32)) AS t(i)),
      |sp AS (SELECT doc_id, l,
      |    md5(array_to_string(toks[i:i+l-1], ' ')) AS sp
      |  FROM d CROSS JOIN ls,
      |    unnest(generate_series(1, len(toks) - l + 1)) AS t(i)),
      |dup AS (SELECT l, sp FROM sp GROUP BY l, sp HAVING count(*) >= 2),
      |best AS (SELECT s.doc_id, max(s.l) AS dup_len
      |  FROM sp s JOIN dup USING (l, sp) GROUP BY s.doc_id)
      |SELECT c.doc_id, CAST(COALESCE(best.dup_len, 0) AS BIGINT) AS dup_len
      |FROM c LEFT JOIN best USING (doc_id)""".stripMargin
  }

  /** EXACT maximal-repeat removal (suffix-array LCE + rank-block
    * content classes) over the planted corpus PLUS a 9-token repeat no
    * 10/20/40 rung can see: doc 1000006 must lose exactly its 9-token
    * span while 1000005 (corpus-first) keeps it, and the 12- and
    * 45-token plants are cut whole from their non-first docs. The
    * oracle brute-forces per-position longest-dup lengths from every
    * span length 1..32, then replays the maximality rule (kept unless
    * the pos−1 occurrence extends over it), the keep-first-per-
    * (length, content) rule, per-token coverage, and reassembly. */
  private[graft] def qTextDupSpansRemovedExact(s: SparkSession,
                                        dir: String): DataFrame = {
    import s.implicits._
    val corpus = t(s, dir, "documents").filter(col("doc_id") < 30)
      .select("doc_id", "text")
      .unionAll(dupSpanPlantedExact.toDF("doc_id", "text"))
    Dedup.removeDupSpansExact(corpus, "text", "doc_id",
        minLen = 8, maxPow = 5)
      .withColumnRenamed("id", "doc_id")
  }

  private[graft] val oTextDupSpansRemovedExact = {
    val plantedVals = dupSpanPlantedExact
      .map { case (id, tx) => s"(CAST($id AS BIGINT), '$tx')" }
      .mkString(",\n      |  ")
    s"""WITH c AS (SELECT doc_id, text FROM documents WHERE doc_id < 30
      |  UNION ALL SELECT * FROM (VALUES
      |  $plantedVals) AS v(doc_id, text)),
      |d AS (SELECT doc_id, $oToks AS toks FROM c),
      |tok AS (SELECT doc_id, i - 1 AS pos, toks[i] AS w
      |  FROM d, unnest(generate_series(1, len(toks))) AS t(i)),
      |ls AS (SELECT i AS l FROM unnest(generate_series(1, 32)) AS t(i)),
      |sp AS (SELECT doc_id, l, i - 1 AS pos,
      |    md5(array_to_string(toks[i:i+l-1], ' ')) AS sp
      |  FROM d CROSS JOIN ls,
      |    unnest(generate_series(1, len(toks) - l + 1)) AS t(i)),
      |dup AS (SELECT l, sp FROM sp GROUP BY l, sp HAVING count(*) >= 2),
      |pd0 AS (SELECT s.doc_id, s.pos, max(s.l) AS dl FROM sp s
      |  JOIN dup USING (l, sp) GROUP BY s.doc_id, s.pos),
      |pd AS (SELECT t.doc_id, t.pos, COALESCE(pd0.dl, 0) AS dl
      |  FROM tok t LEFT JOIN pd0 ON pd0.doc_id = t.doc_id
      |    AND pd0.pos = t.pos),
      |occ AS (SELECT p.doc_id, p.pos, p.dl,
      |    array_to_string(dd.toks[p.pos + 1 : p.pos + p.dl], ' ') AS ck
      |  FROM pd p JOIN d dd ON dd.doc_id = p.doc_id
      |  LEFT JOIN pd q ON q.doc_id = p.doc_id AND q.pos = p.pos - 1
      |  WHERE p.dl >= 8 AND (q.doc_id IS NULL OR q.dl <> p.dl + 1)),
      |kp AS (SELECT dl, ck, min(doc_id * 1000000 + pos) AS kmin
      |  FROM occ GROUP BY dl, ck),
      |cov0 AS (SELECT o.doc_id, o.pos, o.dl FROM occ o
      |  JOIN kp USING (dl, ck)
      |  WHERE o.doc_id * 1000000 + o.pos <> kp.kmin),
      |cov AS (SELECT DISTINCT doc_id,
      |    pos + unnest(generate_series(0, dl - 1)) AS pos FROM cov0),
      |kept AS (SELECT t.doc_id, t.pos, t.w FROM tok t
      |  LEFT JOIN cov ON cov.doc_id = t.doc_id AND cov.pos = t.pos
      |  WHERE cov.doc_id IS NULL),
      |reb AS (SELECT doc_id, array_to_string(list(w ORDER BY pos), ' ')
      |    AS text FROM kept GROUP BY doc_id)
      |SELECT c.doc_id, COALESCE(reb.text, '') AS text
      |FROM c LEFT JOIN reb USING (doc_id)""".stripMargin
  }

  /** Prefix-doubling longest-dup-span over the same planted corpus as
    * the ladder query: the 12-token cross-doc repeat must report
    * dup_pow_len = 8 and the 45-token one 32 (largest powers ≤ true
    * length). The oracle brute-forces every power rung from the raw
    * token arrays — the Spark side reaches the same answer through
    * O(log) doubling joins, never materializing length-k span text. */
  private[graft] def qTextDupSpanLongest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val corpus = t(s, dir, "documents").filter(col("doc_id") < 60)
      .select("doc_id", "text")
      .unionAll(dupSpanPlanted.toDF("doc_id", "text"))
    Dedup.longestDupSpanPow(corpus, "text", "doc_id", maxPow = 6)
      .withColumnRenamed("id", "doc_id")
  }

  private[graft] val oTextDupSpanLongest = {
    val plantedVals = dupSpanPlanted
      .map { case (id, tx) => s"(CAST($id AS BIGINT), '$tx')" }
      .mkString(",\n      |  ")
    val arms = (0 to 6).map(1 << _).map { k =>
      s"""SELECT doc_id, $k AS k,
        |    array_to_string(toks[i:i+${k - 1}], ' ') AS sp
        |  FROM d, unnest(generate_series(1, len(toks) - ${k - 1})) AS t(i)
        |  WHERE len(toks) >= $k""".stripMargin
    }.mkString("\n      |  UNION ALL\n      |  ")
    s"""WITH c AS (SELECT doc_id, text FROM documents WHERE doc_id < 60
      |  UNION ALL SELECT * FROM (VALUES
      |  $plantedVals) AS v(doc_id, text)),
      |d AS (SELECT doc_id, $oToks AS toks FROM c),
      |sp AS (
      |  $arms
      |),
      |dup AS (SELECT k, sp FROM sp GROUP BY k, sp HAVING count(*) >= 2),
      |hitk AS (SELECT DISTINCT s.doc_id, s.k FROM sp s
      |  JOIN dup USING (k, sp)),
      |best AS (SELECT doc_id, max(k) AS m FROM hitk GROUP BY doc_id)
      |SELECT c.doc_id, CAST(COALESCE(best.m, 0) AS BIGINT) AS dup_pow_len
      |FROM c LEFT JOIN best USING (doc_id)""".stripMargin
  }

  private[graft] def qDedupSimhash(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val emitted = Dedup.simhashPairs(docs, "text", "doc_id",
      maxDist = 3, bands = 4)
    val exact = Dedup.ngramJaccardPairs(docs, "text", "doc_id", threshold = 0.9)
    // One full-outer join of the two pair sets, one aggregation: each
    // side (the shingle self-join, the simhash banding) is evaluated
    // ONCE — the crossJoin-of-three-aggregates formulation re-ran both
    // expensive inputs twice (DataFrames do no common-subplan reuse).
    exact.select(col("ida"), col("idb"), lit(1).as("__t"))
      .join(emitted.select(col("ida"), col("idb"), lit(1).as("__e")),
        Seq("ida", "idb"), "full_outer")
      .agg(count(col("__t")).as("n_true"),
        count(col("__e")).as("__n_emit"),
        count(when(col("__t").isNotNull && col("__e").isNotNull, 1)).as("__n_hit"))
      .select(col("n_true"),
        (col("__n_hit") >= col("n_true") * lit(0.5)).as("recall_ok"),
        (col("__n_hit") >= col("__n_emit") * lit(0.5)).as("precision_ok"))
  }

  private[graft] val oDedupSimhash =
    s"""SELECT count(*) AS n_true, TRUE AS recall_ok, TRUE AS precision_ok
      |FROM (${oJaccardPairs(0.9)}) jp""".stripMargin

  /** LSH-blocked path (no corpus × corpus join); emitted pairs are
    * exact-cosine-verified, and at nbits=4 × 48 tables the per-pair miss
    * probability for the weakest qualifying pair (cos ≈ 0.45) is ~8e-5 —
    * recall measured 1.0 at sf0.01 AND sf0.1 (deterministic plane family;
    * still 1.0 with half the tables), so the output hash-matches the
    * exact-pairs oracle. Plan shape (no cartesian) is spec-asserted. */
  private[graft] def qDedupEmbedding(s: SparkSession, dir: String): DataFrame =
    Dedup.embeddingNearDupPairsLsh(t(s, dir, "embeddings"), "embedding", "vec_id",
      threshold = 0.45)

  private[graft] val oDedupEmbedding =
    """WITH u AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
      |    generate_subscripts(embedding, 1) AS i FROM embeddings),
      |norms AS (SELECT vec_id, sqrt(sum(x * x)) AS n FROM u GROUP BY vec_id),
      |dots AS (SELECT a.vec_id AS ida, b.vec_id AS idb, sum(a.x * b.x) AS d
      |  FROM u a JOIN u b ON a.i = b.i AND a.vec_id < b.vec_id GROUP BY 1, 2)
      |SELECT ida, idb, round(d / (na.n * nb.n), 6) AS cos
      |FROM dots JOIN norms na ON na.vec_id = ida JOIN norms nb ON nb.vec_id = idb
      |WHERE round(d / (na.n * nb.n), 6) >= 0.45""".stripMargin

  /** Lossless cell-pair-pruned SemDeDup (the loose-threshold SCALE
    * path, SURVEY round-10 lead 2): fine k-means cells + triangle-
    * inequality shortlist over cell pairs + exact verify. The oracle is
    * the FULL all-pairs SQL recomputation — equality, not a recall gate:
    * pruning is provably lossless, so the emitted set must hash-match
    * the exact pair set at every SF. */
  private[graft] def qDedupSemanticPruned(s: SparkSession, dir: String): DataFrame =
    Cluster.semdedupPairsPruned(t(s, dir, "embeddings"), "embedding",
      "vec_id", threshold = 0.45)

  private[graft] val oDedupSemanticPruned = oDedupEmbedding

  /** SemDeDup contract: k-means-blocked semantic near-dup pairs vs the
    * exact pair set. `n_exact` is engine-agnostic (the oracle recomputes
    * it); precision is 1 by construction (every emitted pair is
    * exact-cosine verified, so found ⊆ exact) and recall must clear 0.8
    * (measured 1.0 at sf0.01 and sf0.1 with ncentroids=8, nassign=4 —
    * deterministic: fixed sample + Lloyd, no runtime randomness). */
  private[graft] def qDedupSemantic(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val exact = Dedup.embeddingNearDupPairs(e, "embedding", "vec_id",
      threshold = 0.45).select("ida", "idb")
    // ncentroids pinned GENEROUS (8): the 0.45 threshold on near-uniform
    // synthetic embeddings is the loose-pair regime where blocking recall
    // needs big cells; the size-adaptive default is the tight-threshold
    // scale path (spec-pinned on planted clusters in OpsSpec)
    val found = Cluster.semdedupPairs(e, "embedding", "vec_id",
      threshold = 0.45, ncentroids = 8).select("ida", "idb")
    val hits = exact.join(found, Seq("ida", "idb"), "left_semi")
    val misses = found.join(exact, Seq("ida", "idb"), "left_anti")
    exact.agg(count(lit(1)).as("n_exact"))
      .crossJoin(hits.agg(count(lit(1)).as("__nh")))
      .crossJoin(misses.agg(count(lit(1)).as("__nm")))
      .select(col("n_exact"),
        (col("__nm") === 0).as("precision_ok"),
        (col("__nh") >= col("n_exact") * 0.8).as("recall_ok"))
  }

  private[graft] val oDedupSemantic =
    """WITH u AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
      |    generate_subscripts(embedding, 1) AS i FROM embeddings),
      |norms AS (SELECT vec_id, sqrt(sum(x * x)) AS n FROM u GROUP BY vec_id),
      |dots AS (SELECT a.vec_id AS ida, b.vec_id AS idb, sum(a.x * b.x) AS d
      |  FROM u a JOIN u b ON a.i = b.i AND a.vec_id < b.vec_id GROUP BY 1, 2)
      |SELECT count(*) AS n_exact, TRUE AS precision_ok, TRUE AS recall_ok
      |FROM dots JOIN norms na ON na.vec_id = ida JOIN norms nb ON nb.vec_id = idb
      |WHERE round(d / (na.n * nb.n), 6) >= 0.45""".stripMargin

  /** End-to-end SEMANTIC dedup: k-means-blocked cosine pairs (recall 1.0
    * at both SFs vs exact, per the dedup_semantic contract) → star-
    * contraction connected components → min-id survivor per semantic
    * group. Oracle: recursive-CTE transitive closure over the EXACT
    * cosine pairs — the whole composition replayed in SQL. */
  private[graft] def qDedupSemanticSurvivors(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val pairs = Cluster.semdedupPairsPruned(e, "embedding", "vec_id",
      threshold = 0.45) // lossless pruned path: exact pairs at any scale
    val cc = Dedup.connectedComponentsStar(pairs)
    val victims = cc.filter(col("id") =!= col("component")).select("id")
    e.select(col("vec_id"))
      .join(victims.select(col("id").as("vec_id")), Seq("vec_id"),
        "left_anti")
  }

  private[graft] val oDedupSemanticSurvivors =
    """WITH RECURSIVE u AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
      |    generate_subscripts(embedding, 1) AS i FROM embeddings),
      |norms AS (SELECT vec_id, sqrt(sum(x * x)) AS n FROM u GROUP BY vec_id),
      |dots AS (SELECT a.vec_id AS ida, b.vec_id AS idb, sum(a.x * b.x) AS d
      |  FROM u a JOIN u b ON a.i = b.i AND a.vec_id < b.vec_id GROUP BY 1, 2),
      |jp AS (SELECT ida, idb
      |  FROM dots JOIN norms na ON na.vec_id = ida
      |    JOIN norms nb ON nb.vec_id = idb
      |  WHERE round(d / (na.n * nb.n), 6) >= 0.45),
      |edges AS (SELECT ida AS src, idb AS dst FROM jp
      |  UNION SELECT idb, ida FROM jp),
      |reach(src, dst) AS (
      |  SELECT src, dst FROM edges
      |  UNION
      |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
      |    WHERE r.src <> e.dst)
      |SELECT vec_id FROM embeddings
      |WHERE vec_id NOT IN (SELECT DISTINCT dst FROM reach WHERE src < dst)""".stripMargin

  val registry: Seq[Query] = Seq(
    Query("dedup_exact_best", qDedupExactBest, oDedupExactBest),
    Query("dedup_exact", qDedupExact, oDedupExact),
    Query("dedup_ngram_jaccard", qDedupNgramJaccard, oJaccardPairs(0.5)),
    Query("dedup_containment", qDedupContainment, oDedupContainment),
    Query("dedup_survivors", qDedupSurvivors, oDedupSurvivors),
    Query("dedup_lsh_scurve", qDedupLshScurve, oDedupLshScurve),
    Query("dedup_survivors_star", qDedupSurvivorsStar, oDedupSurvivors),
    Query("dedup_incremental_components",
      qDedupIncrementalComponents, oDedupIncrementalComponents),
    Query("dedup_minhash", qDedupMinhash, oJaccardPairs(0.5)),
    Query("dedup_minhash_oph", qDedupMinhashOph, oJaccardPairs(0.5)),
    Query("dedup_simhash", qDedupSimhash, oDedupSimhash),
    Query("dedup_embedding", qDedupEmbedding, oDedupEmbedding),
    Query("dedup_semantic", qDedupSemantic, oDedupSemantic),
    Query("dedup_semantic_pruned", qDedupSemanticPruned, oDedupSemanticPruned),
    Query("dedup_semantic_survivors", qDedupSemanticSurvivors, oDedupSemanticSurvivors),
    Query("dedup_incremental_exact", qDedupIncrementalExact, oDedupIncrementalExact),
    Query("dedup_incremental_bloom", qDedupIncrementalBloom, oDedupIncrementalExact),
    Query("dedup_incremental_minhash", qDedupIncrementalMinhash, oDedupIncrementalMinhash),
    Query("dedup_incremental_semantic", qDedupIncrementalSemantic, oDedupIncrementalSemantic),
    Query("text_normalize", qTextNormalize, oTextNormalize),
    Query("text_fix_encoding", qTextFixEncoding, oTextFixEncoding),
    Query("text_dup_spans", qTextDupSpans, oTextDupSpans),
    Query("text_dup_spans_multi", qTextDupSpansMulti, oTextDupSpansMulti),
    Query("text_dup_span_longest", qTextDupSpanLongest, oTextDupSpanLongest),
    Query("text_dup_span_exact", qTextDupSpanExact, oTextDupSpanExact),
    Query("text_dup_spans_removed", qTextDupSpansRemoved, oTextDupSpansRemoved),
    Query("text_dup_spans_removed_exact", qTextDupSpansRemovedExact, oTextDupSpansRemovedExact)
  )
}
