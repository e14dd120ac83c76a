package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.GraftShim.materialize
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops._
import graft.pivot.PivotOps
import graft.QueryShared._
import graft.TextQueries.{bm25Queries, oTextBm25, oTextBm25From}

/** Similarity search + embedding quantization verification queries — one family of
  * [[graft.SparkEntry.registry]]; see [[graft.SparkEntry]] for the
  * oracle conventions. */
private[graft] object SimilarityQueries {
  // =====================================================================
  // Similarity search
  // =====================================================================

  private[graft] def qSimTopK(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    Similarity.bruteForceTopK(e, annQueries(e), "embedding", "vec_id", k = 5)
  }

  /** The bounded-Aggregator top-k path (map-side k-row partials, no
    * sort of the scored set) — same deterministic output contract as
    * the window formulation, so it shares sim_topk's SQL oracle. */
  private[graft] def qSimTopKAgg(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    Similarity.bruteForceTopKAgg(e, annQueries(e), "embedding", "vec_id",
      k = 5)
  }

  /** Margin-based bitext mining across the two vec_id parities of the
    * embeddings table (stand-ins for the two languages): best pair per
    * source by ratio margin over k=4 neighbourhoods, with the
    * mutual-best flag. Exact micro-unit arithmetic throughout (see
    * [[Similarity.bitextMarginPairs]]). */
  private[graft] def qSimBitext(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings").filter(col("vec_id") < 200)
    Similarity.bitextMarginPairs(
      e.filter(col("vec_id") % 2 === 0), e.filter(col("vec_id") % 2 === 1),
      "embedding", "vec_id", k = 4)
  }

  private[graft] val oSimBitext =
    """WITH u AS MATERIALIZED (SELECT vec_id,
      |    CAST(unnest(embedding) AS DOUBLE) AS x,
      |    generate_subscripts(embedding, 1) AS i FROM embeddings
      |  WHERE vec_id < 200),
      |norms AS MATERIALIZED (SELECT vec_id, sqrt(sum(x * x)) AS n
      |  FROM u GROUP BY vec_id),
      |dots AS (SELECT a.vec_id AS src, b.vec_id AS dst, sum(a.x * b.x) AS d
      |  FROM u a JOIN u b ON a.i = b.i
      |    AND a.vec_id % 2 = 0 AND b.vec_id % 2 = 1
      |  GROUP BY 1, 2),
      |cm0 AS (SELECT src, dst,
      |    CAST(round(d / (ns.n * nd.n) * 1000000) AS BIGINT) AS cm
      |  FROM dots JOIN norms ns ON ns.vec_id = src
      |    JOIN norms nd ON nd.vec_id = dst),
      |cand AS MATERIALIZED (SELECT src, dst, cm,
      |    row_number() OVER (PARTITION BY src ORDER BY cm DESC, dst) AS rx,
      |    row_number() OVER (PARTITION BY dst ORDER BY cm DESC, src) AS ry
      |  FROM cm0 WHERE cm > 0),
      |sx AS (SELECT src, sum(cm) AS sx FROM cand WHERE rx <= 4 GROUP BY 1),
      |sy AS (SELECT dst, sum(cm) AS sy FROM cand WHERE ry <= 4 GROUP BY 1),
      |m AS MATERIALIZED (SELECT c.src, c.dst, c.cm, c.rx, c.ry,
      |    CAST(c.cm * 8 * 1000000 // (sx.sx + sy.sy) AS BIGINT) AS margin
      |  FROM cand c JOIN sx ON sx.src = c.src JOIN sy ON sy.dst = c.dst
      |  WHERE (c.rx <= 4 OR c.ry <= 4)),
      |bf AS (SELECT * FROM (SELECT src, dst, cm, margin, row_number()
      |    OVER (PARTITION BY src ORDER BY margin DESC, dst) AS bf
      |  FROM m WHERE rx <= 4) WHERE bf = 1),
      |bb AS (SELECT dst, src AS bsrc FROM (SELECT dst, src, row_number()
      |    OVER (PARTITION BY dst ORDER BY margin DESC, src) AS bb
      |  FROM m WHERE ry <= 4) WHERE bb = 1)
      |SELECT f.src, f.dst, f.cm AS cos_micro, f.margin AS margin_micro,
      |  coalesce(bb.bsrc = f.src, FALSE) AS mutual
      |FROM bf f LEFT JOIN bb ON bb.dst = f.dst""".stripMargin

  /** MMR diversity re-rank of the BM25 top-8 per keyword query, λ=1/2,
    * over the aligned dense embeddings (vec_id ≡ doc_id): 4 greedy
    * selections balancing rank-normalized relevance against max
    * similarity to what's already picked (see [[Rank.mmrRerank]]). */
  private[graft] def qSimMmr(s: SparkSession, dir: String): DataFrame = {
    // the embedding-ALIGNED corpus slice (vec_id ≡ doc_id < 500): at
    // larger SFs the full table's top candidates have no vector
    val cand = TextRank.bm25TopK(
      t(s, dir, "documents").filter(col("doc_id") < 500),
      "text", "doc_id", bm25Queries, k = 8)
    val vecs = t(s, dir, "embeddings")
      .select(col("vec_id").as("doc_id"), col("embedding"))
    Rank.mmrRerank(cand, vecs, "qid", "doc_id", "rank", "embedding",
        m = 4)
      .select(col("qid"), col("sel_rank"), col("id").as("doc_id"),
        col("mmr_units"))
  }

  private[graft] val oSimMmr = {
    val m = 4
    val level = (t: Int) =>
      s"""s$t AS MATERIALIZED (SELECT qid, id,
         |    CAST($t AS BIGINT) AS sel_rank, score AS mmr_units FROM (
         |  SELECT r.qid, r.id, CAST(r.rel - ms.maxsim AS BIGINT) AS score,
         |    row_number() OVER (PARTITION BY r.qid
         |      ORDER BY (r.rel - ms.maxsim) DESC, r.id) AS rn
         |  FROM rel r JOIN (SELECT p2.qid, p2.a AS id,
         |      max(p2.sim) AS maxsim
         |    FROM pairs p2 JOIN pk${t - 1} p
         |      ON p2.qid = p.qid AND p2.b = p.id GROUP BY 1, 2) ms
         |    ON ms.qid = r.qid AND ms.id = r.id
         |  WHERE NOT EXISTS (SELECT 1 FROM pk${t - 1} p
         |    WHERE p.qid = r.qid AND p.id = r.id))
         |  WHERE rn = 1),
         |pk$t AS MATERIALIZED (SELECT * FROM pk${t - 1}
         |  UNION ALL SELECT * FROM s$t)""".stripMargin
    val bm25Aligned =
      oTextBm25From("(SELECT * FROM documents WHERE doc_id < 500)")
    s"""WITH bm AS MATERIALIZED ($bm25Aligned),
       |base AS MATERIALIZED (SELECT qid, doc_id AS id, rank FROM bm
       |  WHERE rank <= 8),
       |kk AS (SELECT qid, CAST(max(rank) AS BIGINT) AS kmax FROM base
       |  GROUP BY 1),
       |rel AS MATERIALIZED (SELECT b.qid, b.id, b.rank,
       |    CASE WHEN kmax = 1 THEN 1000000
       |      ELSE CAST((kmax - rank) * 1000000 // (kmax - 1) AS BIGINT)
       |    END AS rel
       |  FROM base b JOIN kk USING (qid)),
       |u AS MATERIALIZED (SELECT vec_id,
       |    CAST(unnest(embedding) AS DOUBLE) AS x,
       |    generate_subscripts(embedding, 1) AS i FROM embeddings
       |  WHERE vec_id IN (SELECT id FROM base)),
       |norms AS MATERIALIZED (SELECT vec_id, sqrt(sum(x * x)) AS n
       |  FROM u GROUP BY vec_id),
       |dots AS (SELECT a.vec_id AS x, b.vec_id AS c, sum(a.x * b.x) AS d
       |  FROM u a JOIN u b ON a.i = b.i AND a.vec_id <> b.vec_id
       |  GROUP BY 1, 2),
       |cm AS MATERIALIZED (SELECT x, c,
       |    CAST(round(d / (nx.n * nc.n) * 1000000) AS BIGINT) AS sim
       |  FROM dots JOIN norms nx ON nx.vec_id = x
       |    JOIN norms nc ON nc.vec_id = c),
       |pairs AS MATERIALIZED (SELECT r1.qid, r1.id AS a, r2.id AS b,
       |    cm.sim
       |  FROM rel r1 JOIN rel r2 ON r1.qid = r2.qid AND r1.id <> r2.id
       |  JOIN cm ON cm.x = r1.id AND cm.c = r2.id),
       |pk1 AS MATERIALIZED (SELECT qid, id, CAST(1 AS BIGINT) AS sel_rank,
       |    CAST(NULL AS BIGINT) AS mmr_units FROM rel WHERE rank = 1),
       |${(2 to m).map(level).mkString(",\n")}
       |SELECT qid, sel_rank, id AS doc_id, mmr_units FROM pk$m"""
      .stripMargin
  }

  /** METADATA-FILTERED vector search — the production retrieval shape
    * "top-k among documents matching a predicate" (permissioning,
    * language routing, freshness windows): the corpus side is
    * restricted to English documents via the aligned metadata table
    * (vec_id ≡ doc_id) BEFORE scoring, so the filter rides the join
    * build and the scan prunes to the eligible subset — pre-filtering,
    * not the post-filter-and-hope-k-survive anti-pattern (which
    * silently returns < k when the filter is selective). Spark-first:
    * the predicate is a broadcast semi-join into the streamed corpus;
    * scoring work is |eligible| × |queries|, never |corpus|. Exact
    * oracle — same cosine replay as `sim_topk` over the filtered set. */
  private[graft] def qSimTopKFiltered(s: SparkSession,
                                      dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val eligible = e.join(
      t(s, dir, "documents").filter(col("lang") === "en")
        .select(col("doc_id").as("vec_id")),
      Seq("vec_id"), "left_semi")
    Similarity.bruteForceTopKAgg(eligible, annQueries(e),
      "embedding", "vec_id", k = 5)
  }

  private[graft] val oSimTopKFiltered =
    """WITH el AS (SELECT e.vec_id, e.embedding FROM embeddings e
      |  JOIN documents d ON d.doc_id = e.vec_id AND d.lang = 'en'),
      |u AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
      |    generate_subscripts(embedding, 1) AS i FROM el),
      |uq AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
      |    generate_subscripts(embedding, 1) AS i FROM embeddings
      |  WHERE vec_id < 8),
      |norms AS (SELECT vec_id, sqrt(sum(x * x)) AS n FROM u GROUP BY vec_id),
      |qnorms AS (SELECT vec_id, sqrt(sum(x * x)) AS n FROM uq
      |  GROUP BY vec_id),
      |dots AS (SELECT q.vec_id AS qid, c.vec_id AS id, sum(q.x * c.x) AS d
      |  FROM uq q JOIN u c ON q.i = c.i AND c.vec_id <> q.vec_id
      |  GROUP BY 1, 2),
      |scored AS (SELECT qid, id, round(d / (nq.n * nc.n), 6) AS sim
      |  FROM dots JOIN qnorms nq ON nq.vec_id = qid
      |  JOIN norms nc ON nc.vec_id = id),
      |ranked AS (SELECT qid, id, sim, CAST(row_number() OVER (
      |    PARTITION BY qid ORDER BY sim DESC, id) AS INTEGER) AS rank
      |  FROM scored)
      |SELECT qid, rank, id, sim FROM ranked WHERE rank <= 5""".stripMargin

  /** INCREMENTAL IVF index maintenance — the missing lifecycle piece
    * between one-shot [[Similarity.ivfTopK]] and a production vector
    * store: the quantizer trains ONCE on the base corpus and persists;
    * each new batch is assigned under the frozen quantizer and APPENDED
    * (history never re-read — the `dedup_incremental_*` shape for
    * search). Contract: (a) the incrementally-grown index equals a
    * one-shot assignment of the full corpus under the same centroids,
    * row for row (cell stability through the parquet round-trip —
    * doubles are bit-exact); (b) probing the incremental index returns
    * exactly the one-shot index's top-k. Counts replay in SQL; the
    * parity checks ride the engine (both sides same expressions, the
    * check is the PLUMBING: no dropped, duplicated, or re-celled ids). */
  private[graft] def qSimIvfIncremental(s: SparkSession,
                                        dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val path = new java.io.File(scratchRoot, "ivf_inc").getAbsolutePath
    val base = e.filter(col("vec_id") < 300)
    Similarity.ivfIndexSave(base, "embedding", "vec_id", path,
      ncentroids = 16)
    Similarity.ivfIndexUpsert(s, path, e.filter(col("vec_id") >= 300),
      "embedding", "vec_id")
    val cents = Similarity.ivfCentroidsLoad(s, path)
    val inc = s.read.parquet(s"$path/assign")
    val full = Similarity.ivfAssign(e, "embedding", "vec_id", cents)
    // r16 (guide §2.6, same treatment as qSimIvfPqIncremental): after
    // the serial save+upsert, the five verification actions (two cell
    // except directions, two search except directions, the count
    // aggregate) are mutually independent — run 3 in flight so one
    // job's task tail back-fills with the next. Identical actions and
    // deterministic counts, only the submission order changed.
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val fCellsA = Future(
        inc.select("cid", "id").except(full.select("cid", "id")).count())
      val fCellsB = Future(
        full.select("cid", "id").except(inc.select("cid", "id")).count())
      val qz = e.filter(col("vec_id") < 8)
      val sInc = Similarity.ivfTopKIndexed(inc, cents, qz,
        "embedding", "vec_id", k = 5)
      val sFull = Similarity.ivfTopKIndexed(full, cents, qz,
        "embedding", "vec_id", k = 5)
      val fSearchA = Future(sInc.except(sFull).count())
      val fSearchB = Future(sFull.except(sInc).count())
      val fN = Future(e.agg(
        sum(when(col("vec_id") < 300, 1L).otherwise(0L)).as("nb"),
        sum(when(col("vec_id") >= 300, 1L).otherwise(0L)).as("nn"),
        count(lit(1)).as("nt")).head())
      val cellsMatch =
        Await.result(fCellsA, Duration.Inf) +
          Await.result(fCellsB, Duration.Inf)
      val searchMatch =
        Await.result(fSearchA, Duration.Inf) +
          Await.result(fSearchB, Duration.Inf)
      val n = Await.result(fN, Duration.Inf)
      import s.implicits._
      Seq((n.getLong(0), n.getLong(1), n.getLong(2),
        cellsMatch == 0L, searchMatch == 0L))
        .toDF("n_base", "n_new", "n_total",
          "assignments_match", "search_match")
    } finally pool.shutdown()
  }

  private[graft] val oSimIvfIncremental =
    """SELECT CAST(sum(CASE WHEN vec_id < 300 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_base,
      |  CAST(sum(CASE WHEN vec_id >= 300 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_new,
      |  count(*) AS n_total,
      |  TRUE AS assignments_match, TRUE AS search_match
      |FROM embeddings""".stripMargin

  /** INCREMENTAL IVF-PQ index maintenance — [[qSimIvfIncremental]] on
    * the CODE tier (16 B/vector, the index a 100 TB corpus ships):
    * coarse quantizer + PQ codebooks train once and persist
    * ([[Similarity.ivfPqIndexSave]]); each batch encodes under the
    * FROZEN quantizers and appends ([[Similarity.ivfPqIndexUpsert]]).
    * Contract: (a) the grown code table equals a one-shot encode of
    * the full corpus under the same quantizers (codebook round-trip is
    * bit-exact); (b) ADC search over the incremental index returns the
    * one-shot index's top-k; (c) the codebook-staleness rail EXISTS —
    * train-time reconstruction ppm is recorded and positive (PQ is
    * lossy on these embeddings at every SF). The >25% re-train TRIGGER
    * is deliberately NOT oracle-checked here: at sf0.001 the base
    * slice is 300 vectors against kCent=256 codebooks, which memorize
    * the training slice, so even a same-distribution held-out batch
    * legitimately reconstructs >25% worse. Counts replay in SQL; the
    * parity booleans ride the engine (the check is the plumbing). */
  private[graft] def qSimIvfPqIncremental(s: SparkSession,
                                          dir: String): DataFrame = {
    // r16 (guide §2.6 "overlap independent jobs"): this lifecycle query
    // is ~15 sequential driver ACTIONS by construction (train/save,
    // upsert, re-encode, two except directions twice, two search legs,
    // recon reads, counts) — wall-clock-bound on scheduler round-trips,
    // not compute. The actions form a small DAG: everything after the
    // index save that does not consume another leg's output now runs
    // from a 3-thread pool (2-3 in flight per the guide), so one leg's
    // task tail back-fills with the next leg's work. Same actions, same
    // deterministic counts — only the submission order changed.
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val e = t(s, dir, "embeddings")
    val path = new java.io.File(scratchRoot, "ivfpq_inc").getAbsolutePath
    val base = e.filter(col("vec_id") < 300)
    Similarity.ivfPqIndexSave(base, "embedding", "vec_id", path,
      ncentroids = 16, m = 16, kCent = 256)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val cents = Similarity.ivfCentroidsLoad(s, path)
      val cb = Quantize.loadPqCodebooks(s, s"$path/codebooks")
      // upsert WRITES $path/codes; the full re-encode only reads the
      // frozen quantizers — independent legs
      val fAppended = Future(materialize(Similarity.ivfPqIndexUpsert(s, path,
        e.filter(col("vec_id") >= 300), "embedding", "vec_id")).df)
      val fFull = Future(materialize(Similarity.ivfPqEncode(
        e, "embedding", "vec_id", cents, cb)).df)
      val fN = Future(e.agg(
        sum(when(col("vec_id") < 300, 1L).otherwise(0L)).as("nb"),
        sum(when(col("vec_id") >= 300, 1L).otherwise(0L)).as("nn"),
        count(lit(1)).as("nt")).head())
      val fBasePpm =
        Future(s.read.parquet(s"$path/recon").head().getLong(1))
      val appended = Await.result(fAppended, Duration.Inf)
      val fReconBatch = Future(Similarity.reconPpm(appended)._1)
      val inc = s.read.parquet(s"$path/codes")
      val full = Await.result(fFull, Duration.Inf)
      def key(df: DataFrame) = df.select(col("cid"), col("id"),
        concat_ws(",", col("codes").cast("array<string>")).as("cs"))
      val fCodesA = Future(key(inc).except(key(full)).count())
      val fCodesB = Future(key(full).except(key(inc)).count())
      val qz = e.filter(col("vec_id") < 8)
      val fSInc = Future(materialize(Similarity.ivfPqTopK(
        Similarity.IvfPq(inc.select("cid", "id", "codes"), cents, cb),
        qz, "embedding", "vec_id", k = 5)).df)
      val fSFull = Future(materialize(Similarity.ivfPqTopK(
        Similarity.IvfPq(full.select("cid", "id", "codes"), cents, cb),
        qz, "embedding", "vec_id", k = 5)).df)
      val codesMatch =
        Await.result(fCodesA, Duration.Inf) +
          Await.result(fCodesB, Duration.Inf)
      val sInc = Await.result(fSInc, Duration.Inf)
      val sFull = Await.result(fSFull, Duration.Inf)
      val fSearchA = Future(sInc.except(sFull).count())
      val fSearchB = Future(sFull.except(sInc).count())
      val searchMatch =
        Await.result(fSearchA, Duration.Inf) +
          Await.result(fSearchB, Duration.Inf)
      val basePpm = Await.result(fBasePpm, Duration.Inf)
      val nBatch = Await.result(fReconBatch, Duration.Inf)
      val n = Await.result(fN, Duration.Inf)
      import s.implicits._
      Seq((n.getLong(0), n.getLong(1), n.getLong(2),
        codesMatch == 0L, searchMatch == 0L,
        basePpm > 0L && nBatch == n.getLong(1)))
        .toDF("n_base", "n_new", "n_total",
          "codes_match", "search_match", "recon_recorded")
    } finally pool.shutdown()
  }

  private[graft] val oSimIvfPqIncremental =
    """SELECT CAST(sum(CASE WHEN vec_id < 300 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_base,
      |  CAST(sum(CASE WHEN vec_id >= 300 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_new,
      |  count(*) AS n_total,
      |  TRUE AS codes_match, TRUE AS search_match, TRUE AS recon_recorded
      |FROM embeddings""".stripMargin

  private[graft] val oSimTopK =
    """WITH u AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
      |    generate_subscripts(embedding, 1) AS i FROM embeddings),
      |norms AS (SELECT vec_id, sqrt(sum(x * x)) AS n FROM u GROUP BY vec_id),
      |dots AS (SELECT a.vec_id AS qid, b.vec_id AS id, sum(a.x * b.x) AS d
      |  FROM u a JOIN u b ON a.i = b.i AND a.vec_id < 8 AND b.vec_id <> a.vec_id
      |  GROUP BY 1, 2),
      |scored AS (SELECT qid, id, round(d / (nq.n * nc.n), 6) AS sim
      |  FROM dots JOIN norms nq ON nq.vec_id = qid JOIN norms nc ON nc.vec_id = id),
      |ranked AS (SELECT qid, id, sim, CAST(row_number() OVER (
      |    PARTITION BY qid ORDER BY sim DESC, id) AS INTEGER) AS rank FROM scored)
      |SELECT qid, rank, id, sim FROM ranked WHERE rank <= 5""".stripMargin

  /** kth-NN OUTLIER scoring over the full embedding corpus (Ramaswamy
    * et al.'s classic distance-to-kth-neighbor read, on the cosine
    * rail): every vector is its own query against the rest, the score
    * is its 10th-best cosine similarity, and the 50 LOWEST scores —
    * the isolation tail valuation-driven pruning inspects first — are
    * reported. Reuses [[Similarity.bruteForceTopK]]'s bounded two-stage
    * top-k (map-side k-row prune per partition, no global sort of the
    * N² scored set) with the whole corpus broadcast as the query side;
    * at crawl scale the probe side swaps to the IVF index, same
    * contract shape. Round-6 sim + id tie-break keeps the ranking a
    * total order any engine replays. */
  private[graft] def qEmbKnnOutlier(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    Similarity.bruteForceTopK(e, e, "embedding", "vec_id", k = 10)
      .filter(col("rank") === 10)
      .select(col("qid").as("vec_id"), col("sim").as("knn_sim"))
      .orderBy(col("knn_sim").asc, col("vec_id")).limit(50)
  }

  private[graft] val oEmbKnnOutlier =
    """WITH u AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
      |    generate_subscripts(embedding, 1) AS i FROM embeddings),
      |norms AS (SELECT vec_id, sqrt(sum(x * x)) AS n FROM u
      |  GROUP BY vec_id),
      |dots AS (SELECT a.vec_id AS qid, b.vec_id AS id, sum(a.x * b.x) AS d
      |  FROM u a JOIN u b ON a.i = b.i AND b.vec_id <> a.vec_id
      |  GROUP BY 1, 2),
      |scored AS (SELECT qid, id, round(d / (nq.n * nc.n), 6) AS sim
      |  FROM dots JOIN norms nq ON nq.vec_id = qid
      |  JOIN norms nc ON nc.vec_id = id),
      |ranked AS (SELECT qid, sim, row_number() OVER (
      |    PARTITION BY qid ORDER BY sim DESC, id) AS rank FROM scored)
      |SELECT qid AS vec_id, sim AS knn_sim FROM ranked
      |WHERE rank = 10 ORDER BY knn_sim, qid LIMIT 50""".stripMargin

  /** Hybrid retrieval: BM25 keyword ranking over documents fused with
    * exact dense cosine ranking over the aligned embeddings (vec_id ≡
    * doc_id) by reciprocal-rank fusion — dense query-by-example uses
    * vec_id < 3 paired with the three BM25 keyword queries. Both rank
    * lists AND the fusion are replayed in SQL (fixed-order reciprocal
    * adds, id ties), so the whole hybrid is hash-compared. */
  private[graft] def qSimHybridRrf(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val dense = Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 3),
        "embedding", "vec_id", k = 10)
      .select(col("qid"), col("id"), col("rank"))
    val sparse = TextRank.bm25TopK(t(s, dir, "documents"), "text", "doc_id",
        bm25Queries, k = 10)
      .select(col("qid").cast("long").as("qid"), col("doc_id").as("id"),
        col("rank"))
    TextRank.rrfFuse(dense, sparse, "qid", "id", "rank", k = 10)
  }

  private[graft] val oSimHybridRrf =
    s"""WITH u AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
      |    generate_subscripts(embedding, 1) AS i FROM embeddings),
      |norms AS (SELECT vec_id, sqrt(sum(x * x)) AS n FROM u GROUP BY vec_id),
      |dots AS (SELECT a.vec_id AS qid, b.vec_id AS id, sum(a.x * b.x) AS d
      |  FROM u a JOIN u b ON a.i = b.i AND a.vec_id < 3
      |    AND b.vec_id <> a.vec_id
      |  GROUP BY 1, 2),
      |dscored AS (SELECT qid, id, round(d / (nq.n * nc.n), 6) AS sim
      |  FROM dots JOIN norms nq ON nq.vec_id = qid
      |    JOIN norms nc ON nc.vec_id = id),
      |dense AS (SELECT * FROM (SELECT qid, id, CAST(row_number() OVER (
      |    PARTITION BY qid ORDER BY sim DESC, id) AS INTEGER) AS rank
      |  FROM dscored) WHERE rank <= 10),
      |sparse AS ($oTextBm25),
      |fused AS (SELECT COALESCE(d.qid, s.qid) AS qid,
      |    COALESCE(d.id, s.doc_id) AS id,
      |    COALESCE(CAST(1 AS DOUBLE) / (60 + d.rank), CAST(0 AS DOUBLE)) +
      |      COALESCE(CAST(1 AS DOUBLE) / (60 + s.rank), CAST(0 AS DOUBLE))
      |      AS rrf_score
      |  FROM dense d FULL JOIN sparse s
      |    ON d.qid = s.qid AND d.id = s.doc_id)
      |SELECT * FROM (SELECT qid, CAST(row_number() OVER (
      |    PARTITION BY qid ORDER BY rrf_score DESC, id) AS INTEGER) AS rank,
      |  id, rrf_score FROM fused) WHERE rank <= 10""".stripMargin

  /** nbits=7 × 8 tables: measured recall@5 0.85 (sf0.01) / 0.80 (sf0.1)
    * at the same local cost as the old 8×4 setting's 0.45 — each table
    * probes (nbits+1)/2^nbits of the corpus, so raise nbits (and tables
    * with it) as corpus size grows to hold the probed fraction flat. */
  /** The ANN query set: one definition shared by the raw top-k queries
    * and the contracts, so n_queries can never drift from the rank
    * lists it is compared against. */
  private[graft] def annQueries(e: DataFrame): DataFrame = e.filter(col("vec_id") < 8)

  /** Matryoshka truncation-quality curve (see
    * [[Similarity.matryoshkaOverlap]]): top-5 agreement between
    * full-64-dim cosine retrieval and prefix-8/16/32-dim retrieval for
    * the 8 standard ANN probes. Exact oracle: both rank lists replay
    * in SQL on the shared 6-dp cosine grid (the `sim_topk` scoring
    * twin, once per tier with `i <= d`), agreement is a list
    * intersection. */
  private[graft] def qSimMatryoshka(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    Similarity.matryoshkaOverlap(e, annQueries(e), "embedding", "vec_id",
      k = 5, prefixDims = Seq(8, 16, 32))
  }

  private[graft] val oSimMatryoshka = {
    def tier(d: Int) =
      s"""ids$d AS MATERIALIZED (SELECT qid, list(id ORDER BY rank) AS ids
         |  FROM (SELECT qid, id, row_number() OVER (PARTITION BY qid
         |      ORDER BY sim DESC, id) AS rank
         |    FROM (SELECT dots.qid, dots.id,
         |        round(dots.dt / (nq.n * nc.n), 6) AS sim
         |      FROM (SELECT q.vec_id AS qid, c.vec_id AS id,
         |          sum(q.x * c.x) AS dt
         |        FROM u q JOIN u c ON q.i = c.i AND q.i <= $d
         |          AND c.vec_id <> q.vec_id
         |        WHERE q.vec_id < 8
         |        GROUP BY 1, 2) dots
         |      JOIN (SELECT vec_id, sqrt(sum(x * x)) AS n FROM u
         |        WHERE i <= $d AND vec_id < 8 GROUP BY 1) nq
         |        ON nq.vec_id = dots.qid
         |      JOIN (SELECT vec_id, sqrt(sum(x * x)) AS n FROM u
         |        WHERE i <= $d GROUP BY 1) nc ON nc.vec_id = dots.id))
         |  WHERE rank <= 5 GROUP BY qid)""".stripMargin
    s"""WITH u AS MATERIALIZED (SELECT vec_id,
      |    CAST(unnest(embedding) AS DOUBLE) AS x,
      |    generate_subscripts(embedding, 1) AS i FROM embeddings),
      |${tier(64)},
      |${tier(8)},
      |${tier(16)},
      |${tier(32)}
      |SELECT f.qid, t.d AS prefix_dim,
      |  CAST(len(list_intersect(f.ids, t.ids)) AS BIGINT) AS overlap,
      |  t.ids[1] = f.ids[1] AS top1_match
      |FROM ids64 f JOIN (
      |  SELECT qid, 8 AS d, ids FROM ids8
      |  UNION ALL SELECT qid, 16 AS d, ids FROM ids16
      |  UNION ALL SELECT qid, 32 AS d, ids FROM ids32) t
      |  ON t.qid = f.qid""".stripMargin
  }

  private[graft] def rawSimTopKLsh(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    Similarity.lshTopK(e, annQueries(e),
      "embedding", "vec_id", k = 5, nbits = 7, dim = 64, tables = 8)
  }

  /** Measured recall@5 (sf0.01/sf0.1): lloyd=0 0.925/1.000, lloyd=2
    * 0.900/0.925 — Lloyd refinement REDUCES recall on this synthetic
    * near-uniform data, because balancing the cells shrinks the corpus
    * fraction nprobe=4/16 scans (the unrefined seed quantizer's skewed
    * cells were scanning more). On clustered real embeddings refinement
    * aligns cells with the clusters and helps; here the honest default
    * is the deterministic seed quantizer. */
  private[graft] def rawSimTopKIvf(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    Similarity.ivfTopK(e, annQueries(e),
      "embedding", "vec_id", k = 5, ncentroids = 16, nprobe = 4)
  }

  /** Well-formedness CONTRACT of an ANN rank list — the list itself is
    * hash/sketch-family-dependent (its recall is the separate
    * sim_*_recall contract), but these properties are engine-agnostic:
    * every query returns exactly k rows; every reported sim IS the exact
    * cosine of (query, candidate) re-computed from the vectors (ANN
    * selects candidates, it never fabricates scores); ranks are exactly
    * row_number by (sim DESC, id). */
  private[graft] def annWellFormed(s: SparkSession, dir: String, approx: DataFrame,
                            k: Int): DataFrame = {
    val e = t(s, dir, "embeddings")
    val withVecs = approx
      .join(e.select(col("vec_id").as("qid"), col("embedding").as("__qv")), "qid")
      .join(e.select(col("vec_id").as("id"), col("embedding").as("__cv")), "id")
      .withColumn("__true_sim",
        round(Similarity.cosineFast(col("__qv"), col("__cv")), 6))
    val w = Window.partitionBy("qid").orderBy(col("sim").desc, col("id"))
    val checked = withVecs
      .withColumn("__rn", row_number().over(w))
      .select(
        when(col("sim") === col("__true_sim"), 1).otherwise(0).as("__sim_ok"),
        when(col("rank") === col("__rn"), 1).otherwise(0).as("__rank_ok"))
    annQueries(e).agg(count(lit(1)).as("n_queries"))
      .crossJoin(checked.agg(
        count(lit(1)).as("n_rows"),
        (min(col("__sim_ok")) === 1).as("sims_exact_ok"),
        (min(col("__rank_ok")) === 1).as("ranked_ok")))
      .select(col("n_queries"), lit(k).cast("long").as("k"), col("n_rows"),
        col("sims_exact_ok"), col("ranked_ok"))
  }

  private[graft] def qSimTopKLsh(s: SparkSession, dir: String): DataFrame =
    annWellFormed(s, dir, rawSimTopKLsh(s, dir), k = 5)

  private[graft] def qSimTopKIvf(s: SparkSession, dir: String): DataFrame =
    annWellFormed(s, dir, rawSimTopKIvf(s, dir), k = 5)

  private[graft] val oAnnWellFormed =
    """SELECT count(*) AS n_queries, CAST(5 AS BIGINT) AS k,
      |  count(*) * CAST(5 AS BIGINT) AS n_rows,
      |  TRUE AS sims_exact_ok, TRUE AS ranked_ok
      |FROM embeddings WHERE vec_id < 8""".stripMargin

  /** Recall of an ANN result against the exact brute-force top-k, as an
    * oracle-checkable CONTRACT row: the raw approximate rankings are
    * hash-family-dependent (rows-only checks `sim_topk_lsh`/`sim_topk_ivf`
    * pin them), but "finds at least `bound` of the true top-k" is
    * engine-agnostic and is what a user of the operator relies on. */
  private[graft] def annRecall(exact: DataFrame, approx: DataFrame, k: Int,
                        bound: Double): DataFrame = {
    val hits = exact.select("qid", "id")
      .join(approx.select("qid", "id"), Seq("qid", "id"), "left_semi")
    exact.agg(
        count_distinct(col("qid")).as("n_queries"),
        count(lit(1)).as("n_exact"))
      .crossJoin(hits.agg(count(lit(1)).as("n_hit")))
      .select(col("n_queries"), lit(k).cast("long").as("k"),
        (col("n_hit") >= col("n_exact") * lit(bound)).as("recall_ok"))
  }

  /** LSH top-k must recover ≥60% of the exact top-5 set (measured 0.85
    * at sf0.01, 0.80 at sf0.1 — deterministic for the fixed hyperplane
    * family). */
  private[graft] def qSimLshRecall(s: SparkSession, dir: String): DataFrame =
    annRecall(qSimTopK(s, dir), rawSimTopKLsh(s, dir), k = 5, bound = 0.6)

  /** IVF top-k (nprobe 4 of 16 cells) must recover ≥90% of the exact
    * top-5 set — measured 0.925 at sf0.01, 1.000 at sf0.1, and
    * deterministic (fixed sample + seed quantizer, no runtime
    * randomness), so the slim sf0.01 margin cannot drift. */
  private[graft] def qSimIvfRecall(s: SparkSession, dir: String): DataFrame =
    annRecall(qSimTopK(s, dir), rawSimTopKIvf(s, dir), k = 5, bound = 0.9)

  /** Search over PQ-RECONSTRUCTED vectors (m=16 × 256 centroids — 16
    * bytes/vec, 16x smaller than float32) must recover ≥40% of the
    * exact top-5 (measured 0.83/0.58 at sf0.01/sf0.1 on these
    * near-random synthetic embeddings — clustered real embeddings
    * quantize far better; deterministic: fixed sample + Lloyd). */
  private[graft] def qEmbPqRecall(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val cb = Quantize.pqTrain(e, "embedding", "vec_id", m = 16, k = 256)
    val codes = Quantize.pqEncode(e, "embedding", "vec_id", cb)
    // ADC search straight over the 16-byte codes (never reconstructs);
    // spec-pinned equal to brute force over the decoded vectors
    val approx = Similarity.pqTopK(codes, "codes", "vec_id",
      annQueries(e), "embedding", "vec_id", cb, k = 5)
    annRecall(qSimTopK(s, dir), approx, k = 5, bound = 0.4)
  }

  /** OPQ-lite composed compression: PCA-rotate 64-dim embeddings to the
    * top-32 principal dims (decorrelation is exactly what PQ's
    * independent-subspace assumption wants), then PQ to 8 bytes/vector
    * — 32× smaller than float32, HALF the bytes of the flat 16-byte PQ
    * — and ADC-search in the projected space. Recall is judged against
    * the ORIGINAL-space exact top-5, so the contract covers both the
    * rotation and the quantization loss. Near-ISOTROPIC synthetic
    * embeddings are PCA's worst case (all 64 eigvals comparable, so
    * dropping 32 dims discards ~half the variance — same caveat as
    * cosine-LSH at low thresholds): measured 0.35–0.45 at sf0.01 and
    * 0.25–0.35 at sf0.1, floor 0.2; clustered REAL embeddings
    * concentrate variance and recall rises toward the flat-PQ level.
    * Deterministic: fixed sample + Jacobi + Lloyd, no runtime
    * randomness. */
  private[graft] def qEmbPcaPqRecall(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val pca = Pca.fit(e, "embedding", k = 32)
    val proj = e.select(col("vec_id"),
      Pca.projectCol(pca, col("embedding")).as("z"))
    val cb = Quantize.pqTrain(proj, "z", "vec_id", m = 8, k = 256)
    val codes = Quantize.pqEncode(proj, "z", "vec_id", cb)
    val approx = Similarity.pqTopK(codes, "codes", "vec_id",
      proj.filter(col("vec_id") < 8), "z", "vec_id", cb, k = 5)
    annRecall(qSimTopK(s, dir), approx, k = 5, bound = 0.2)
  }

  /** IVF-PQ composed search (16 cells × nprobe 4, PQ m=16 × 256 — the
    * faiss IVFADC shape: probing bounds rows scored, ADC bounds cost per
    * row, the index is 16 B + cell id per vector and the float corpus is
    * never read at search time). Recall compounds both approximations
    * (IVF ≈ 0.93+, PQ ≈ 0.58-0.83 on these near-random synthetic
    * embeddings), so the contract floor matches `emb_pq_recall`'s 0.4;
    * deterministic (fixed sample + seed quantizers). */
  private[graft] def qSimIvfPqRecall(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val idx = Similarity.ivfPqIndex(e, "embedding", "vec_id")
    val approx = Similarity.ivfPqTopK(idx, annQueries(e), "embedding", "vec_id", k = 5)
    annRecall(qSimTopK(s, dir), approx, k = 5, bound = 0.4)
  }

  private[graft] val oAnnRecall =
    """SELECT count(*) AS n_queries, CAST(5 AS BIGINT) AS k, TRUE AS recall_ok
      |FROM embeddings WHERE vec_id < 8""".stripMargin

  // =====================================================================
  // Embedding quantization
  // =====================================================================

  /** int8 scalar quantization of the embeddings: codes serialized to a
    * string (the driver compare cannot sort array cells), scale/error
    * float-quantized. */
  private[graft] def qEmbQuantize(s: SparkSession, dir: String): DataFrame =
    Quantize.int8Table(t(s, dir, "embeddings"), "embedding", "vec_id")
      .select(col("vec_id"), col("scale").cast("float").as("scale"),
        array_join(col("codes").cast("array<string>"), ",").as("codes"),
        col("err").cast("float").as("err"))

  private[graft] val oEmbQuantize =
    """WITH q AS (SELECT vec_id, embedding,
      |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS sc
      |  FROM embeddings),
      |c AS (SELECT vec_id, embedding, sc,
      |    list_transform(embedding, x -> CASE WHEN sc = 0 THEN 0
      |      ELSE CAST(round(CAST(x AS DOUBLE) / sc) AS BIGINT) END) AS codes
      |  FROM q)
      |SELECT vec_id, CAST(sc AS REAL) AS scale,
      |  array_to_string(codes, ',') AS codes,
      |  CAST(sqrt(list_sum(list_transform(list_zip(embedding, codes),
      |    p -> pow(CAST(p[1] AS DOUBLE) - p[2] * sc, 2)))) AS REAL) AS err
      |FROM c""".stripMargin

  val registry: Seq[Query] = Seq(
    Query("sim_hybrid_rrf", qSimHybridRrf, oSimHybridRrf),
    Query("sim_topk", qSimTopK, oSimTopK),
    Query("emb_knn_outlier", qEmbKnnOutlier, oEmbKnnOutlier),
    Query("sim_matryoshka", qSimMatryoshka, oSimMatryoshka),
    Query("sim_topk_filtered", qSimTopKFiltered, oSimTopKFiltered),
    Query("sim_ivf_incremental", qSimIvfIncremental, oSimIvfIncremental),
    Query("sim_ivfpq_incremental", qSimIvfPqIncremental, oSimIvfPqIncremental),
    Query("sim_bitext", qSimBitext, oSimBitext),
    Query("sim_mmr", qSimMmr, oSimMmr),
    Query("sim_topk_agg", qSimTopKAgg, oSimTopK),
    Query("sim_topk_lsh", qSimTopKLsh, oAnnWellFormed),
    Query("sim_topk_ivf", qSimTopKIvf, oAnnWellFormed),
    Query("emb_quantize", qEmbQuantize, oEmbQuantize),
    Query("emb_pca_pq_recall", qEmbPcaPqRecall, oAnnRecall),
    Query("sim_lsh_recall", qSimLshRecall, oAnnRecall),
    Query("sim_ivf_recall", qSimIvfRecall, oAnnRecall),
    Query("sim_ivfpq_recall", qSimIvfPqRecall, oAnnRecall),
    Query("emb_pq_recall", qEmbPqRecall, oAnnRecall)
  )
}
