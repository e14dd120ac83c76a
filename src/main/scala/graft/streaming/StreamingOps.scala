package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Mutable-session accumulator state (top-level: Catalyst's encoder
  * codegen mishandles object-nested state classes). */
final case class SessionState(start: Long, last: Long, n: Long, total: Double)

/** One document routed to one LSH band bucket (streaming minhash).
  * `ts` is the document's event time when the evicting path is on
  * (null on the unbounded-replay path — never read there). */
final case class BandedDoc(band: Int, bh: Long, doc_id: Long, sig: Seq[Long],
                           ts: Timestamp)

/** A bucket member retained in state: id + its full signature. */
final case class MemberSig(id: Long, sig: Seq[Long])

/** Per-band-bucket streaming state. */
final case class BucketState(docs: List[MemberSig])

/** A detected near-dup candidate with its minhash similarity estimate
  * (fraction of agreeing signature components ≈ Jaccard). */
final case class CandidatePair(ida: Long, idb: Long, simhat: Double)

/** One (table, bucket) sign-LSH posting of an arriving embedding. */
final case class BandedVec(tbl: Int, bucket: Long, vec_id: Long,
                           vec: Seq[Float], ts: Timestamp)

final case class MemberVec(id: Long, vec: Seq[Float])

final case class VecBucketState(vecs: List[MemberVec])

/** Exact-cosine-verified embedding near-dup pair from the stream. */
final case class EmbPair(ida: Long, idb: Long, cos: Double)

/** One document at the per-domain admission gate. */
final case class DomainDoc(domain: String, ts: Timestamp, id: Long)

/** An admitted document: its domain's running admission sequence
  * (1-based, ≤ cap). */
final case class DomainAdmit(domain: String, ts: Timestamp, id: Long,
                             admit_seq: Long)

/** Per-domain gate state: how many this domain has admitted. */
final case class DomainCount(n: Long)

final case class ParetoPoint(id: Long, x: Long, y: Long)
final case class ParetoState(pts: List[ParetoPoint], seen: Long)
final case class ParetoOut(id: Long, x: Long, y: Long, n_seen: Long)

/** Structured-Streaming transforms for the events stream shape
  * (event_id, ts, user_id, event_type, value, props).
  *
  * Everything here takes a streaming OR batch DataFrame — the transforms
  * are declarative, so the same code runs `spark.read` for backfill and
  * `spark.readStream` for the live path (the classic kappa setup). State
  * and correctness notes:
  *
  *   - Watermarks bound state: windowed aggregations drop window state
  *     once the watermark passes the window end; late events beyond the
  *     watermark are dropped rather than growing state forever — at
  *     100 TB/day the alternative is an unbounded state store.
  *   - Sessionization keeps one state entry per active user; the
  *     processing-time timeout closes idle sessions even if the user
  *     never returns.
  *   - Exact dedup keyed by event_id with a watermark is Spark's
  *     dropDuplicates-with-watermark; state is bounded by the lateness
  *     horizon.
  */
object StreamingOps {

  /** Tumbling-window event counts + value sums per event type, with a
    * watermark so window state is dropped `lateness` after window end. */
  def windowedCounts(events: DataFrame, window_ : String = "1 hour",
                     lateness: String = "15 minutes"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), window_).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("total"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n"), col("total"))

  /** ε-DP windowed count release on a live stream — the streaming twin
    * of [[graft.ops.Diff.dpGeometricCounts]]: watermarked tumbling-
    * window counts with geometric-mechanism noise applied AT EMISSION,
    * keyed on (salt, window_start, group) so every (window, group)
    * cell is an independent, deterministic release (each event falls
    * in exactly one window and shifts one cell's count by 1, so a
    * per-window release is ε-DP for add/remove-one-event; composition
    * ACROSS windows is the caller's budget accounting, as in batch —
    * and as in batch, production supplies a fresh salt per release).
    * State is count-only per open (window, group), bounded by the
    * watermark; the noise CASE is a projection after the aggregate —
    * nothing about the mechanism touches state management. */
  def dpCountsStream(events: DataFrame, groupCols: Seq[String],
                     eps: Double, window_ : String = "1 hour",
                     lateness: String = "15 minutes",
                     tsCol: String = "ts",
                     salt: String = "dp"): DataFrame = {
    require(groupCols.nonEmpty, "need at least one group column")
    val gkey = graft.ops.Diff.dpNoiseKey(salt,
      col("window_start") +: groupCols.map(col))
    events
      .withWatermark(tsCol, lateness)
      .groupBy(window(col(tsCol), window_).as("w") +:
        groupCols.map(col): _*)
      .agg(count(lit(1)).as("__n"))
      .withColumn("window_start", col("w.start"))
      .withColumn("__gkey", gkey)
      .withColumn("__noise",
        expr(graft.ops.Diff.geometricNoiseSql("__gkey", eps)))
      .select(col("window_start") +: groupCols.map(col) :+
        expr("greatest(0L, __n + __noise)").as("n_released"): _*)
  }

  /** The pivot operator on a live stream: the batch pivot's cell
    * semantics as one-pass (cell × aggregate) conditional aggregates
    * ([[graft.pivot.PivotOps.cellColumns]] — a streaming aggregation
    * cannot chain the batch pivot's two phases), hosted in a watermarked
    * tumbling-window aggregation — one cross-tab row per (window, pivot-row key)
    * emitted when the watermark closes the window. State is bounded by
    * the watermark exactly like [[windowedCounts]]; off-list values feed
    * no cell (skip-error semantics — error routing needs the whole group,
    * which append-mode streaming only has at window close, so the other
    * on-error modes stay batch-only).
    *
    * Restriction: aggregates must be watermark-compatible (no
    * COLLECTLIST/COLLECTSET sorted arrays in append mode is fine — they
    * aggregate like any other; FIRST/LAST remain arrival-order-dependent
    * as in batch). */
  def pivotStream(events: DataFrame, spec: graft.pivot.PivotSpec,
                  tsCol: String = "ts", window_ : String = "1 hour",
                  lateness: String = "15 minutes"): DataFrame = {
    spec.validateOrThrow(events.schema)
    val cells = graft.pivot.PivotOps.cellColumns(spec, events.schema)
    events
      .withWatermark(tsCol, lateness)
      .groupBy((window(col(tsCol), window_).as("w") +:
        spec.pivotRows.map(col)): _*)
      .agg(cells.head, cells.tail: _*)
      .withColumn("window_start", col("w.start"))
      .drop("w")
  }

  /** Streaming hierarchical ROLLUP — the live twin of
    * [[graft.ops.Report.rollupReport]]: every prefix level of the
    * dimension list ("by (a,b), by (a), grand total") aggregated per
    * watermarked tumbling window, emitted with the same `gid` bitmask
    * when the watermark closes the window.
    *
    * Structured Streaming rejects rollup/cube/grouping-sets outright
    * (UnsupportedOperationChecker), so this twin spells the SAME plan
    * shape Catalyst builds internally for batch rollup — an Expand
    * (each row explodes into |dims|+1 level copies via
    * [[graft.ops.Report.rollupExpand]], trailing dims nulled,
    * gid = 2^L − 1) feeding ONE hash aggregate — which streaming
    * accepts, because after the explode it is just a single windowed
    * aggregation. Equivalence to the batch operator is spec-pinned at
    * both seams (expand ≡ native rollup; stream ≡ batch).
    *
    * State: one row per (open window × live group × level) — the
    * |dims|+1 level fan-out multiplies state rows exactly like it
    * multiplies batch shuffle rows, and every level evicts at window
    * close like [[windowedCounts]]. Aggregates must be append-mode
    * compatible and order-free (counts, sums) — the same contract as
    * the batch report when it feeds a hash compare. */
  def rollupStream(events: DataFrame, dims: Seq[String],
                   aggs: Seq[org.apache.spark.sql.Column],
                   tsCol: String = "ts", window_ : String = "1 hour",
                   lateness: String = "15 minutes"): DataFrame = {
    require(aggs.nonEmpty, "rollupStream needs at least one aggregate")
    graft.ops.Report.rollupExpand(events, dims)
      .withWatermark(tsCol, lateness)
      .groupBy((window(col(tsCol), window_).as("w") +:
        dims.map(col)) :+ col("gid"): _*)
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("window_start", col("w.start"))
      .drop("w")
  }

  /** Streaming distinct-count sketches — the live leg of the
    * [[graft.ops.Profile.hllSketches]] incremental-aggregation pattern:
    * each watermarked (window × keys) slice aggregates its values into
    * ONE fixed-size DataSketches HLL sketch row, emitted when the
    * watermark closes the window. The emitted sketch table is the same
    * shape the batch path persists, and sketch union is associative, so
    * live slices and backfill slices mix freely in one
    * [[graft.ops.Profile.hllRollup]] — a coarser rollup (daily → all
    * time, per type → global) never rescans raw events from either
    * source. State per open (window × keys) group is one HLL register
    * set (~2^lgK bytes), dropped at window close — bounded exactly like
    * [[windowedCounts]]. */
  def hllSketchStream(events: DataFrame, keys: Seq[String], valueCol: String,
                      tsCol: String = "ts", window_ : String = "1 day",
                      lateness: String = "15 minutes",
                      lgK: Int = 12): DataFrame =
    events
      .withWatermark(tsCol, lateness)
      .groupBy((window(col(tsCol), window_).as("w") +: keys.map(col)): _*)
      .agg(hll_sketch_agg(col(valueCol), lgK).as("hll"))
      .withColumn("window_start", col("w.start"))
      .drop("w")

  /** Streaming QUANTILE sketches — the live leg of
    * [[graft.ops.Profile.kllSketches]]: each watermarked (window × keys)
    * slice aggregates its values into one DataSketches KLL sketch row
    * via the [[graft.functions.KllSketchAgg]] TypedImperativeAggregate
    * (streaming aggregation needs a true incremental aggregate, a
    * mapPartitions pre-pass cannot watermark). Emitted rows are
    * byte-compatible with the batch sketch table, so live and backfill
    * slices mix freely in one [[graft.ops.Profile.kllQuantiles]] rollup.
    * State per open group is one ~KB sketch, dropped at window close. */
  def kllSketchStream(events: DataFrame, keys: Seq[String], valueCol: String,
                      tsCol: String = "ts", window_ : String = "1 day",
                      lateness: String = "15 minutes",
                      k: Int = 200): DataFrame = {
    events
      .withWatermark(tsCol, lateness)
      .groupBy((window(col(tsCol), window_).as("w") +: keys.map(col)): _*)
      .agg(graft.ops.Profile.kllAgg(col(valueCol), k).as("kll"))
      .withColumn("window_start", col("w.start"))
      .drop("w")
  }

  /** Streaming EXACT-MOMENT partials — the live leg of
    * [[graft.ops.Insight.groupMoments]]: each watermarked (window ×
    * group) slice emits its exact integer moments (n, Σv, Σv² on
    * DECIMAL(38,0)), which ADD-merge across windows and with batch
    * backfill partials — so the k-arm tests
    * ([[graft.ops.Insight.anovaFromMoments]], Welch, Cohen's d) run
    * over a live stream without ever rescanning raw events, and the
    * merged read is BIT-EQUAL to the batch test on the union of the
    * slices (integer addition is associative — no sketch error bar,
    * unlike the HLL/KLL legs). State per open (window × group) is one
    * 3-number row, dropped at window close. */
  def momentsStream(events: DataFrame, groupCol: String, valueCol: String,
                    tsCol: String = "ts", window_ : String = "1 day",
                    lateness: String = "15 minutes"): DataFrame =
    events
      .select(col(tsCol), col(groupCol).as("group"),
        col(valueCol).cast("long").as("__v"))
      .filter(col("group").isNotNull && col("__v").isNotNull)
      .withWatermark(tsCol, lateness)
      .groupBy(window(col(tsCol), window_).as("w"), col("group"))
      .agg(count(lit(1)).as("n"), sum("__v").as("s"),
        sum(expr("CAST(__v AS DECIMAL(38,0)) * __v")).as("q"))
      .withColumn("window_start", col("w.start"))
      .drop("w")

  /** Streaming windowed top-k — the live leg of
    * [[graft.ops.Rank.topNPerGroup]]: per watermarked (window × keys)
    * group, the k highest-`scoreCol` rows (ties broken by ascending
    * `idCol`), emitted when the watermark closes the window. The ranking
    * state is the bounded [[graft.functions.TopKAggregator]] buffer — at
    * most k (score, id) entries per open group, merged incrementally
    * across micro-batches exactly like its batch map-side partials, so
    * an unbounded stream never buffers more than k rows per group.
    * Returns (window_start, keys…, rank, id, score). */
  def topKStream(events: DataFrame, keys: Seq[String], scoreCol: String,
                 idCol: String, k: Int, tsCol: String = "ts",
                 window_ : String = "1 day",
                 lateness: String = "15 minutes"): DataFrame = {
    import graft.functions.TopKAggregator
    val topk = udaf(new TopKAggregator(k), TopKAggregator.inputEncoder)
    events
      .withWatermark(tsCol, lateness)
      .groupBy((window(col(tsCol), window_).as("w") +: keys.map(col)): _*)
      .agg(topk(col(scoreCol).cast("double"), col(idCol).cast("long")).as("top"))
      .withColumn("window_start", col("w.start"))
      .drop("w")
      .select(col("window_start") +: keys.map(col) :+
        posexplode(col("top")).as(Seq("r0", "s")): _*)
      .select(col("window_start") +: keys.map(col) :+
        (col("r0") + 1).cast("int").as("rank") :+
        col("s.id").as("id") :+ col("s.sim").as("score"): _*)
  }

  /** Streaming preference pairs — the live twin of
    * [[graft.ops.Chat.preferencePairs]]: scored candidate responses
    * arrive continuously; per watermarked (window × prompt) group the
    * best/worst candidate pair (same unique (score, cand-id) ordering
    * key, same minimum-gap gate) emits when the watermark closes the
    * window. State per open group is ONE aggregation buffer (two
    * candidate structs + two extremes + a count), merged incrementally
    * across micro-batches exactly like the batch partial aggregates —
    * an unbounded candidate stream never buffers its raw rows.
    *
    * @return (window_start, promptCol, chosen_id, chosen, rejected_id,
    *         rejected, score_gap, n_cands) */
  def preferencePairStream(cands: DataFrame, promptCol: String,
                           candCol: String, textCol: String,
                           scoreCol: String, minGap: Long,
                           tsCol: String = "ts", window_ : String = "1 day",
                           lateness: String = "15 minutes"): DataFrame = {
    require(minGap >= 1, "minGap must be >= 1")
    val cand = struct(col(candCol).as("c"), col(textCol).as("t"))
    cands.withWatermark(tsCol, lateness)
      .groupBy(window(col(tsCol), window_).as("w"), col(promptCol))
      .agg(
        // Negation rides the (numeric-by-contract) score, not the
        // candidate id — string ids order correctly (see batch twin
        // graft.ops.Chat.preferencePairs).
        min_by(cand, struct((-col(scoreCol)).as("ns"),
          col(candCol).as("c"))).as("__hi"),
        max(col(scoreCol)).as("__smax"),
        min_by(cand, struct(col(scoreCol).as("s"),
          col(candCol).as("c"))).as("__lo"),
        min(col(scoreCol)).as("__smin"),
        count(lit(1)).as("n_cands"))
      .filter(col("__smax") - col("__smin") >= minGap)
      .withColumn("window_start", col("w.start"))
      .drop("w")
      .select(col("window_start"), col(promptCol),
        col("__hi.c").as("chosen_id"), col("__hi.t").as("chosen"),
        col("__lo.c").as("rejected_id"), col("__lo.t").as("rejected"),
        (col("__smax") - col("__smin")).as("score_gap"), col("n_cands"))
  }

  /** Streaming exact dedup on event_id: duplicates arriving within the
    * watermark horizon are dropped; state ages out beyond it. */
  def dedupEvents(events: DataFrame, lateness: String = "1 hour"): DataFrame =
    events.withWatermark("ts", lateness)
      .dropDuplicatesWithinWatermark("event_id")

  /** Streaming CONTENT dedup — the live twin of [[graft.ops.Dedup.exact]]:
    * a document whose canonical-text fingerprint was already seen within
    * the watermark horizon is dropped. First-arrival wins (a stream has
    * no min-id retrospective choice); state is one fingerprint per unique
    * document inside the horizon. */
  def dedupByContent(docs: DataFrame, textCol: String, tsCol: String,
                     lateness: String = "1 hour"): DataFrame =
    docs
      .withColumn("__fp", graft.ops.TextFunctions.fingerprint(col(textCol)))
      .withWatermark(tsCol, lateness)
      .dropDuplicatesWithinWatermark("__fp")
      .drop("__fp")

  /** Streaming INCREMENTAL dedup against persisted history — the live
    * twin of [[graft.ops.Dedup.incrementalExact]]: arriving documents
    * whose fingerprint exists in the batch-built
    * [[graft.ops.Dedup.exactIndex]] are dropped via a stream-static
    * LEFT ANTI join (Spark re-plans the static side per micro-batch, so
    * swapping the index table between batches advances the state), then
    * within-stream duplicates inside the watermark horizon are dropped
    * first-arrival-wins. History is consulted only through its
    * KB-per-million-docs index — the live gate never reads old text. */
  def dedupAgainstIndex(docs: DataFrame, textCol: String, tsCol: String,
                        index: DataFrame,
                        lateness: String = "1 hour"): DataFrame =
    docs
      .withColumn("__fp", graft.ops.TextFunctions.fingerprint(col(textCol)))
      .join(index.select(col("fp").as("__fp")), Seq("__fp"), "left_anti")
      .withWatermark(tsCol, lateness)
      .dropDuplicatesWithinWatermark("__fp")
      .drop("__fp")

  /** Streaming MinHash near-dup detection — the live twin of
    * [[graft.ops.Dedup.minhashLshPairs]]. Each arriving document's
    * minhash signature (same hash family as the batch path, so live and
    * backfill agree) is banded; each band bucket keeps its members'
    * signatures in state, and a new arrival is compared against them,
    * emitting a [[CandidatePair]] whenever the signature agreement
    * (≈ Jaccard) reaches `threshold`. The batch path verifies candidates
    * with exact shingle Jaccard; a stream cannot revisit past documents'
    * shingles, so the minhash ESTIMATE is the verdict here — with 128
    * components its σ is ~0.04, and the estimate is what the pair
    * carries, clearly named `simhat`.
    *
    * A pair sharing several bands is emitted once per band — dedup
    * downstream (`dropDuplicates("ida","idb")` under a watermark, or at
    * the sink) rather than carrying cross-bucket state here.
    *
    * State: ≤ `maxBucket` (id, signature) entries per bucket —
    * `numHashes`·8 bytes each — bounded per bucket, and EXPIRED when
    * `tsCol` is given: the stream is watermarked on it and each bucket
    * carries an event-time timeout `idle` past the watermark, renewed
    * whenever the bucket sees a document. A bucket no document touched
    * for `idle` of event time is dropped whole — on an infinite crawl
    * the state store holds only the active working set, and a dropped
    * bucket's members simply can't pair with far-future arrivals (the
    * batch op is the backfill corrector across evictions, same contract
    * as the funnel). Event-time (not wall-clock) timers keep replays
    * deterministic. Without `tsCol` no state expires — the bounded-
    * input/backfill mode. */
  def minhashPairsStream(docs: DataFrame, textCol: String, idCol: String,
                         threshold: Double, numHashes: Int = 128,
                         bands: Int = 32, n: Int = 3,
                         maxBucket: Int = 1000,
                         tsCol: Option[String] = None,
                         idle: String = "1 hour",
                         lateness: String = "15 minutes"): Dataset[CandidatePair] = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val spark = docs.sparkSession
    import spark.implicits._
    val r = numHashes / bands
    val src = tsCol.map(tc => docs.withWatermark(tc, lateness)).getOrElse(docs)
    val banded = graft.ops.Dedup.minhashSignatures(src, textCol, idCol,
        numHashes, n, keep = tsCol.toSeq)
      .select(col("id").as("doc_id"), posexplode(
        array((0 until bands).map(b =>
          hash(slice(col("sig"), b * r + 1, r))): _*)).as(Seq("band", "bh")),
        col("sig"),
        tsCol.map(tc => col(tc).as("ts"))
          .getOrElse(lit(null).cast("timestamp").as("ts")))
      .as[BandedDoc]
    val timeoutConf =
      if (tsCol.isDefined) GroupStateTimeout.EventTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    banded.groupByKey(d => (d.band, d.bh))
      .flatMapGroupsWithState[BucketState, CandidatePair](
        OutputMode.Append(), timeoutConf) {
        case (_, it, state: GroupState[BucketState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val it0 = it.toSeq
            var members = state.getOption.map(_.docs).getOrElse(Nil)
            val seen = scala.collection.mutable.Set(members.map(_.id): _*)
            val out = List.newBuilder[CandidatePair]
            // id-sorted batch ⇒ deterministic pairs regardless of arrival
            // interleaving within a micro-batch
            it0.sortBy(_.doc_id).foreach { d =>
              if (!seen.contains(d.doc_id)) {
                members.foreach { m =>
                  val eq = m.sig.iterator.zip(d.sig.iterator).count { case (a, b) => a == b }
                  val simhat = eq.toDouble / numHashes
                  if (simhat >= threshold)
                    out += CandidatePair(math.min(m.id, d.doc_id),
                      math.max(m.id, d.doc_id), simhat)
                }
                if (members.size < maxBucket) {
                  members = MemberSig(d.doc_id, d.sig) :: members
                  seen += d.doc_id
                }
              }
            }
            state.update(BucketState(members))
            if (tsCol.isDefined) {
              // anchor at this bucket's newest event (not the watermark,
              // which lags a batch — anchoring there would evict buckets
              // the moment the watermark catches up)
              val groupMax = it0.iterator.map(_.ts.getTime).max
              state.setTimeoutTimestamp(
                math.max(state.getCurrentWatermarkMs(), groupMax), idle)
            }
            out.result().iterator
          }
      }
  }

  /** Streaming EMBEDDING near-dup detection — the live twin of
    * [[graft.ops.Dedup.embeddingNearDupPairsLsh]] and the semantic
    * complement of [[minhashPairsStream]]: each arriving vector's
    * sign-LSH signature (same deterministic plane family as the batch
    * path — live and backfill agree) posts it into `tables` bucket
    * states; a new arrival is compared against its buckets' members
    * with the EXACT cosine (the same fused JVM loop the batch
    * `graft_cosine` expression calls, so verified pairs are bit-equal
    * to the batch answer — unlike minhash, the vector itself is in
    * state, so the stream CAN verify exactly). Emits (ida, idb,
    * cos ≥ threshold) with cos rounded to 6 dp, at-least-once per pair
    * across tables — dedup downstream, same contract as
    * [[minhashPairsStream]].
    *
    * State: ≤ `maxBucket` (id, vector) entries per bucket (dim·4 bytes
    * each), expired via the same watermark-anchored event-time timeout
    * as the minhash twin when `tsCol` is given; the batch op is the
    * backfill corrector across evictions. */
  def embeddingPairsStream(vecs: DataFrame, vecCol: String, idCol: String,
                           threshold: Double, nbits: Int = 4,
                           tables: Int = 48, dim: Int = 64,
                           seedBase: Long = 42L, maxBucket: Int = 1000,
                           tsCol: Option[String] = None,
                           idle: String = "1 hour",
                           lateness: String = "15 minutes"): Dataset[EmbPair] = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val src = tsCol.map(tc => vecs.withWatermark(tc, lateness))
      .getOrElse(vecs)
    val sig = graft.ops.Similarity.lshSignatures(col(vecCol), nbits,
      dim, tables, seedBase)
    val banded = src
      .select(col(idCol).as("vec_id"), col(vecCol).as("vec"),
        posexplode(sig).as(Seq("tbl", "bucket")),
        tsCol.map(tc => col(tc).as("ts"))
          .getOrElse(lit(null).cast("timestamp").as("ts")))
      .as[BandedVec]
    val timeoutConf =
      if (tsCol.isDefined) GroupStateTimeout.EventTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    def round6(v: Double): Double =
      BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    banded.groupByKey(d => (d.tbl, d.bucket))
      .flatMapGroupsWithState[VecBucketState, EmbPair](
        OutputMode.Append(), timeoutConf) {
        case (_, it, state: GroupState[VecBucketState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val it0 = it.toSeq
            var members = state.getOption.map(_.vecs).getOrElse(Nil)
            val seen = scala.collection.mutable.Set(members.map(_.id): _*)
            val out = List.newBuilder[EmbPair]
            it0.sortBy(_.vec_id).foreach { d =>
              if (!seen.contains(d.vec_id)) {
                val dv = d.vec.toArray
                members.foreach { m =>
                  val c = round6(graft.functions.CosineSimilarity
                    .compute(m.vec.toArray, dv))
                  if (c >= threshold)
                    out += EmbPair(math.min(m.id, d.vec_id),
                      math.max(m.id, d.vec_id), c)
                }
                if (members.size < maxBucket) {
                  members = MemberVec(d.vec_id, d.vec) :: members
                  seen += d.vec_id
                }
              }
            }
            state.update(VecBucketState(members))
            if (tsCol.isDefined) {
              val groupMax = it0.iterator.map(_.ts.getTime).max
              state.setTimeoutTimestamp(
                math.max(state.getCurrentWatermarkMs(), groupMax), idle)
            }
            out.result().iterator
          }
      }
  }

  /** Streaming per-domain admission cap — the live-ingest twin of
    * [[graft.ops.Web.perDomainCap]]: each domain admits only its first
    * `cap` documents; everything later from that domain drops at the
    * gate, BEFORE any expensive downstream stage (dedup, scoring)
    * spends anything on it. A stream cannot rank retrospectively — the
    * batch cap keeps the BEST `cap` rows by a quality order; the gate
    * necessarily keeps the FIRST `cap` in event order ((ts, id)-sorted
    * within each micro-batch, so interleaved arrival inside a batch is
    * deterministic; equal to the batch first-N when micro-batches
    * respect event order, spec-pinned). State per domain is ONE long —
    * the whole crawl's gate state is |domains| × 8 bytes. */
  def domainCapStream(docs: Dataset[DomainDoc],
                      cap: Int): Dataset[DomainAdmit] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.groupByKey(_.domain)
      .flatMapGroupsWithState[DomainCount, DomainAdmit](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (domain, it, state: GroupState[DomainCount]) =>
          var n = state.getOption.map(_.n).getOrElse(0L)
          val out = List.newBuilder[DomainAdmit]
          val sorted = it.toSeq.sortBy(d => (d.ts.getTime, d.id))
          val iter = sorted.iterator
          while (n < cap && iter.hasNext) {
            val d = iter.next()
            n += 1
            out += DomainAdmit(domain, d.ts, d.id, n)
          }
          state.update(DomainCount(n))
          out.result().iterator
      }
  }

  /** Streaming quality-classifier gate — the live-ingest twin of the
    * batch classifier tier (`quality_classifier`): score each arriving
    * document under a TRAINED (usually [[graft.ops.Classify.loadModel
    * reloaded]]) model and admit only rows at or above `minScore`.
    * [[graft.ops.Classify.scoreCol]] is stateless and broadcast-only
    * (~8 KB weights, per-row map, no state store, no shuffle), so the
    * identical expression serves batch backfill and the live path
    * (kappa) — stream≡batch is spec-pinned across micro-batches.
    * Train on a curated batch, persist, reload at stream start; never
    * train on the stream (the sample contract needs a bounded corpus).
    * Returns the input plus `quality_score`, filtered. */
  def qualityGateStream(docs: DataFrame, textCol: String,
                        model: graft.ops.Classify.LinearModel,
                        minScore: Double): DataFrame = {
    require(minScore >= 0.0 && minScore <= 1.0, "minScore in [0, 1]")
    docs.withColumn("quality_score",
        graft.ops.Classify.scoreCol(docs, textCol, model))
      .filter(col("quality_score") >= minScore)
  }

  /** Streaming COMPLIANCE gate — the live-ingest leg of
    * [[graft.ops.Scrub.secretScan]] + [[graft.ops.Scrub.licenseScan]]
    * (r15): each arriving document is scanned for credentials and
    * classified for license; documents carrying any secret tier or a
    * license category outside `allowedCategories` are rejected (route
    * the complement to quarantine by flipping the filter). Both scans
    * are stateless per-row projections — no state store, no shuffle,
    * no watermark — so batch backfill and the live path run the
    * IDENTICAL expressions (stream≡batch spec-pinned). Returns the
    * input plus `has_secret`, `license`, `license_category`,
    * filtered to admitted documents. */
  def complianceGateStream(docs: DataFrame, textCol: String,
                           allowedCategories: Seq[String] =
                             Seq("permissive", "cc", "none")): DataFrame = {
    require(allowedCategories.nonEmpty, "allowedCategories must be non-empty")
    val sec = graft.ops.Scrub.secretScan(col(textCol))
    val lic = graft.ops.Scrub.licenseScan(col(textCol))
    docs
      .withColumn("has_secret", sec.getField("has_secret"))
      .withColumn("license", lic.getField("license"))
      .withColumn("license_category", lic.getField("category"))
      .filter(!col("has_secret") &&
        col("license_category").isin(allowedCategories: _*))
  }

  /** Streaming Fellegi–Sunter linkage gate — the live-ingest leg of
    * [[graft.ops.Link.fellegiSunterEm]] (r13 ask #6): score each
    * arriving candidate pair's agreement pattern under a TRAINED
    * persisted [[graft.ops.Link.FsModel]]
    * ([[graft.ops.Link.loadFsModel]] at stream start) and admit only
    * pairs at-or-above `minW` (review threshold by default; raise to
    * the match threshold for auto-link). The posterior is one
    * stateless DECIMAL projection over literal micro-integer
    * parameters — no state store, no shuffle — so the identical
    * expression serves batch backfill and the live path (kappa;
    * stream≡batch spec-pinned). Train on a bounded clerical batch,
    * never on the stream. Returns the input plus `w_micro` and
    * `decision`, filtered. */
  def fsGateStream(cands: DataFrame, model: graft.ops.Link.FsModel,
                   minW: Long = 100000L): DataFrame =
    graft.ops.Link.fsScoreRows(cands, model)
      .filter(col("w_micro") >= minW)

  /** Streaming C4 cleaning gate — the live-ingest twin of the batch
    * line cleaner (`text_c4_clean`): clean each arriving document's
    * lines under the C4 rules and admit only documents passing the
    * document gates (enough surviving lines, no poison phrases).
    * [[graft.ops.Clean]]'s functions are stateless column expressions
    * (no state store, no shuffle, no watermark), so the identical
    * expressions serve batch backfill and the live path — stream≡batch
    * is spec-pinned across micro-batches. Returns the input with
    * `textCol` replaced by its cleaned lines plus `kept_lines`,
    * filtered to passing documents. */
  def c4GateStream(docs: DataFrame, textCol: String, minWords: Int = 5,
                   minLines: Int = 3): DataFrame = {
    val flags = graft.ops.Clean.c4DocFlags(col(textCol),
      minWords = minWords, minLines = minLines)
    docs
      .withColumn("kept_lines", flags.getField("kept_lines"))
      .filter(flags.getField("pass"))
      .withColumn(textCol,
        graft.ops.Clean.c4CleanLines(col(textCol), minWords = minWords))
  }

  /** Streaming URL blocklist gate — [[graft.ops.Web.applyBlocklist]]
    * on the live path. The literal tier is stateless expressions; the
    * broadcast tier is a stream-static join (supported, stateless).
    * Admits only non-blocked rows; same flags as batch. */
  def blocklistGateStream(urls: DataFrame, urlCol: String,
                          blockedDomains: Seq[String],
                          blockedPatterns: Seq[String] = Nil): DataFrame =
    graft.ops.Web.applyBlocklist(urls, urlCol, blockedDomains,
      blockedPatterns).filter(col("allowed"))

  /** Streaming phrase (badword-list) gate — the broadcast Aho–Corasick
    * automaton of [[graft.ops.Phrases.flagPhrases]] on the live path:
    * one O(text) pass per arriving row, cost independent of list size,
    * no state store. Admits only phrase-free rows. */
  def phraseGateStream(docs: DataFrame, textCol: String,
                       phrases: Seq[String],
                       caseInsensitive: Boolean = true): DataFrame =
    graft.ops.Phrases.flagPhrases(docs, textCol, phrases, caseInsensitive)
      .filter(col("phrase_allowed"))

  /** Streaming covariance/PCA maintenance — the live leg of
    * [[graft.ops.Pca]]'s rolling-corpus recipe. A `foreachBatch` sink:
    * each micro-batch's sufficient statistics ([[graft.ops.Pca.fitState]]
    * — one shuffle-free pass over the batch) MERGE into the persisted
    * [[graft.ops.Pca.CovState]], so the rotation is re-derivable at any
    * moment via [[graft.ops.Pca.finish]] without touching history. The
    * kappa twin: a backfill that merges drop-wise [[graft.ops.Pca.fitState]]
    * calls lands on the same state (to float-add-grouping ulps).
    *
    * Exactly-once under retries: foreachBatch re-delivers a batch id
    * after a failure; the state carries a high-water batch id and the
    * sink SKIPS any batch at-or-below it rather than double-counting.
    * (Batch ids are monotonically increasing per query — the standard
    * foreachBatch idempotence contract.) State is driver-tiny
    * (d + d(d+1)/2 doubles), so the read-merge-write per micro-batch is
    * milliseconds; at 100 TB/day the per-batch fitState pass is the
    * only data-sized work and it is map-side combined.
    *
    * Usage: `vecs.writeStream.foreachBatch(pcaStateSink(vecCol, path)).start()`.
    */
  def pcaStateSink(vecCol: String, statePath: String)
      : (DataFrame, Long) => Unit = { (batch: DataFrame, batchId: Long) =>
    val spark = batch.sparkSession
    // path.getFileSystem, NOT FileSystem.get: the latter returns the
    // DEFAULT scheme's FS, so a state path on s3a://, abfs://, … would
    // be probed on the wrong filesystem and the high-water skip would
    // never see prior commits (the Warc/AvroSink/Layout pattern).
    val fs = new org.apache.hadoop.fs.Path(statePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val exists = fs.exists(new org.apache.hadoop.fs.Path(statePath))
    val prior =
      if (exists) Some(graft.ops.Pca.loadStateWithBatch(spark, statePath))
      else None
    if (prior.forall(_._2 < batchId)) {
      if (batch.isEmpty) {
        // still advance the high-water mark so a retry of this empty
        // batch is recognized
        prior.foreach { case (st, _) =>
          graft.ops.Pca.saveState(spark, st, statePath, batchId) }
      } else {
        val inc = graft.ops.Pca.fitState(batch, vecCol)
        val merged = prior.map(_._1.merge(inc)).getOrElse(inc)
        graft.ops.Pca.saveState(spark, merged, statePath, batchId)
      }
    }
  }

  /** Streaming CHANGELOG sink — the live leg of
    * [[graft.ops.Diff.applyChangelog]]: a `foreachBatch` sink that
    * folds each micro-batch of keyed I/U/D changes into a persisted
    * snapshot table. Layout: `snapshotDir/v<batchId>/` parquet
    * versions plus a `_latest` one-line marker naming the committed
    * version — the marker write is the commit point, so a crash
    * between data write and marker leaves an orphan directory the
    * retry simply overwrites.
    *
    * Exactly-once under retries: the marker carries the high-water
    * batch id and the sink SKIPS any batch at-or-below it (the
    * [[pcaStateSink]] idempotence contract). Correctness contract:
    * per-key sequence numbers must be NON-DECREASING across batches
    * (the ordering a keyed CDC stream provides) — then incremental
    * application equals the one-shot batch apply, spec-pinned; a
    * lower-seq change arriving after a later one was already folded
    * would need tombstone retention, which this sink deliberately
    * does not do.
    *
    * Usage: `changes.writeStream.foreachBatch(
    *   changelogSink(dir, Seq("k"), "seq", "op")).start()`; read the
    * current snapshot with [[readSnapshot]]. */
  def changelogSink(snapshotDir: String, keyCols: Seq[String],
                    seqCol: String, opCol: String)
      : (DataFrame, Long) => Unit = { (batch: DataFrame, batchId: Long) =>
    val spark = batch.sparkSession
    // path.getFileSystem so the marker lives on snapshotDir's own
    // scheme (s3a://, abfs://, …), matching the parquet version writes
    // — FileSystem.get would consult the default FS and break the
    // exactly-once high-water skip.
    val fs = new org.apache.hadoop.fs.Path(snapshotDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new org.apache.hadoop.fs.Path(snapshotDir, "_latest")
    val current: Option[Long] =
      if (fs.exists(marker)) {
        val in = fs.open(marker)
        try Some(scala.io.Source.fromInputStream(in).mkString.trim.toLong)
        finally in.close()
      } else None
    if (current.forall(_ < batchId)) {
      val base = current match {
        case Some(v) => spark.read.parquet(s"$snapshotDir/v$v")
        case None => batch.drop(opCol, seqCol).limit(0)
      }
      val next = graft.ops.Diff.applyChangelog(base, batch, keyCols,
        seqCol, opCol)
      next.write.mode("overwrite").parquet(s"$snapshotDir/v$batchId")
      val out = fs.create(marker, true)
      try out.write(s"$batchId\n".getBytes("UTF-8")) finally out.close()
    }
  }

  /** The committed snapshot a [[changelogSink]] maintains (empty-schema
    * error if no batch has committed yet). */
  def readSnapshot(spark: org.apache.spark.sql.SparkSession,
                   snapshotDir: String): DataFrame = {
    val fs = new org.apache.hadoop.fs.Path(snapshotDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new org.apache.hadoop.fs.Path(snapshotDir, "_latest")
    require(fs.exists(marker), s"no committed snapshot at $snapshotDir")
    val in = fs.open(marker)
    val v = try scala.io.Source.fromInputStream(in).mkString.trim.toLong
      finally in.close()
    spark.read.parquet(s"$snapshotDir/v$v")
  }

  /** Streaming IVF index upsert — the live ingest leg of
    * [[graft.ops.Similarity.ivfIndexUpsert]] (r12 ask #6): each
    * micro-batch of vectors is assigned under the PERSISTED FROZEN
    * quantizer (centroids trained once by
    * [[graft.ops.Similarity.ivfIndexSave]] — a live stream never moves
    * cells, the standard IVF ingest contract) and appended to the
    * index, so [[graft.ops.Similarity.ivfTopKIndexed]] queries see new
    * vectors one micro-batch after arrival without any re-read of
    * history.
    *
    * Exactly-once under retries: plain `mode("append")` would
    * duplicate rows when foreachBatch re-delivers a batch after a
    * partial write, so each batch writes its OWN directory
    * `stream_assign/b=<batchId>` with overwrite (a retry clobbers the
    * orphan) and then advances the `_stream_latest` high-water marker
    * — the [[changelogSink]] commit-point layout on an append-only
    * index. Batches at-or-below the marker are skipped.
    *
    * First-write-wins id dedup (the batch upsert's contract): arriving
    * ids already present in the base index or any COMMITTED stream
    * batch are dropped via an id-only anti-join (the existing-id scan
    * reads one column; at 100 TB the id projection is the only part of
    * the index the ingest path touches). Ids duplicated WITHIN one
    * micro-batch keep both rows, exactly like the batch twin — dedup
    * upstream if sources can repeat inside a batch.
    *
    * Usage: `vecs.writeStream.foreachBatch(
    *   ivfUpsertSink(indexPath, "vec", "id")).start()`; read the full
    * index body with [[ivfStreamAssigns]] and query it with
    * `ivfTopKIndexed(ivfStreamAssigns(spark, path),
    * ivfCentroidsLoad(spark, path), …)`. Stream ≡ batch: the committed
    * assignments equal ivfAssign of the same rows under the same
    * centroids (spec-pinned across micro-batches).
    *
    * REQUIRES a stable checkpoint location and a SINGLE writer per
    * index: the high-water marker is what makes retries no-ops, so a
    * restart with a FRESH checkpoint directory (batchIds reset to 0)
    * or a second writer would have every batch at-or-below the marker
    * silently dropped while the query reports success. A batchId more
    * than one below the marker is beyond any plausible foreachBatch
    * retry and THROWS instead of losing data (r14 advice). */
  def ivfUpsertSink(indexPath: String, vecCol: String, idCol: String)
      : (DataFrame, Long) => Unit = { (batch: DataFrame, batchId: Long) =>
    val spark = batch.sparkSession
    // path.getFileSystem, not FileSystem.get — the marker must live on
    // indexPath's own scheme (the pcaStateSink/changelogSink pattern)
    val fs = new org.apache.hadoop.fs.Path(indexPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new org.apache.hadoop.fs.Path(indexPath, "_stream_latest")
    val current: Option[Long] =
      if (fs.exists(marker)) {
        val in = fs.open(marker)
        try Some(scala.io.Source.fromInputStream(in).mkString.trim.toLong)
        finally in.close()
      } else None
    // Skip-at-or-below-marker is exactly-once ONLY for genuine retries
    // (batchId == marker, or marker−1 when the marker write raced the
    // streaming commit). Anything further below means a fresh checkpoint
    // dir (ids reset to 0) or a second writer — fail loudly rather than
    // silently dropping the batch's vectors.
    current.filter(_ > batchId + 1).foreach { hw =>
      throw new IllegalStateException(
        s"ivfUpsertSink($indexPath): batchId $batchId is ${hw - batchId} " +
          s"below the committed high-water marker $hw — not a retry. The " +
          "sink requires a stable checkpoint location and a single " +
          "writer; processing this batch would clobber committed data, " +
          "skipping it would lose vectors.")
    }
    current.filter(_ == batchId + 1).foreach { hw =>
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"ivfUpsertSink($indexPath): skipping batchId $batchId one below " +
          s"marker $hw — legitimate only as a marker/checkpoint race retry")
    }
    if (current.forall(_ < batchId)) {
      val cents = graft.ops.Similarity.ivfCentroidsLoad(spark, indexPath)
      val existing = ivfStreamAssigns(spark, indexPath).select("id")
      val fresh = batch.join(existing,
        batch(idCol) === existing("id"), "left_anti")
      graft.ops.Similarity.ivfAssign(fresh, vecCol, idCol, cents)
        .write.mode("overwrite")
        .parquet(s"$indexPath/stream_assign/b=$batchId")
      val out = fs.create(marker, true)
      try out.write(s"$batchId\n".getBytes("UTF-8")) finally out.close()
    }
  }

  /** The full IVF index body (cid, id, vec) as of the last COMMITTED
    * stream batch: the base [[graft.ops.Similarity.ivfIndexSave]]
    * assignments plus every `stream_assign/b=*` directory at-or-below
    * the high-water marker (uncommitted orphans from a crashed batch
    * are invisible until their retry commits). */
  def ivfStreamAssigns(spark: org.apache.spark.sql.SparkSession,
                       indexPath: String): DataFrame = {
    val fs = new org.apache.hadoop.fs.Path(indexPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val base = spark.read.parquet(s"$indexPath/assign")
      .select("cid", "id", "cv")
    val marker = new org.apache.hadoop.fs.Path(indexPath, "_stream_latest")
    if (!fs.exists(marker)) base
    else {
      val in = fs.open(marker)
      val hw = try scala.io.Source.fromInputStream(in).mkString.trim.toLong
        finally in.close()
      val dir = new org.apache.hadoop.fs.Path(indexPath, "stream_assign")
      val committed =
        if (!fs.exists(dir)) Seq.empty[String]
        else fs.listStatus(dir).toSeq
          .map(_.getPath)
          .filter(p => p.getName.startsWith("b=") &&
            p.getName.stripPrefix("b=").toLong <= hw)
          .map(_.toString)
      if (committed.isEmpty) base
      else base.unionAll(
        spark.read.parquet(committed: _*).select("cid", "id", "cv"))
    }
  }

  /** Streaming IVF-PQ index upsert — the [[ivfUpsertSink]] twin on the
    * CODE tier (the 16-byte-per-vector index a 100 TB corpus actually
    * ships): each micro-batch's new ids are encoded under the FROZEN
    * persisted quantizers ([[graft.ops.Similarity.ivfPqIndexSave]]) and
    * appended as `stream_codes/b=<batchId>`, with the same
    * overwrite-then-advance-marker exactly-once contract, first-write-
    * wins id dedup (the id scan reads base + committed codes, one
    * column), and the batchId-regression guard (throws more than one
    * below the marker — stable checkpoint dir, single writer).
    *
    * CODEBOOK STALENESS: frozen quantizers slowly drift off a rolling
    * corpus — new vectors quantize worse and recall decays silently.
    * Each committed batch therefore also writes a `drift/b=<batchId>`
    * row: its row count, its mean L2 reconstruction error in integer
    * ppm ([[graft.ops.Similarity.reconPpm]]), the base index's
    * train-time ppm, the delta, and `retrain` — true when the batch
    * reconstructs >25% worse than training (recon·4 > base·5), the
    * default re-train trigger. Read the log with [[ivfPqDriftLog]];
    * when `retrain` fires, rebuild with ivfPqIndexSave (re-encoding is
    * one corpus pass) — until then the frozen codebooks keep every
    * persisted code valid. Stream ≡ batch: committed codes equal
    * [[graft.ops.Similarity.ivfPqIndexUpsert]] of the same rows under
    * the same quantizers (spec-pinned). */
  def ivfPqUpsertSink(indexPath: String, vecCol: String, idCol: String)
      : (DataFrame, Long) => Unit = { (batch: DataFrame, batchId: Long) =>
    val spark = batch.sparkSession
    import spark.implicits._
    val fs = new org.apache.hadoop.fs.Path(indexPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new org.apache.hadoop.fs.Path(indexPath, "_stream_latest")
    val current: Option[Long] =
      if (fs.exists(marker)) {
        val in = fs.open(marker)
        try Some(scala.io.Source.fromInputStream(in).mkString.trim.toLong)
        finally in.close()
      } else None
    current.filter(_ > batchId + 1).foreach { hw =>
      throw new IllegalStateException(
        s"ivfPqUpsertSink($indexPath): batchId $batchId is ${hw - batchId} " +
          s"below the committed high-water marker $hw — not a retry. The " +
          "sink requires a stable checkpoint location and a single writer.")
    }
    if (current.forall(_ < batchId)) {
      val cents = graft.ops.Similarity.ivfCentroidsLoad(spark, indexPath)
      val cb = graft.ops.Quantize.loadPqCodebooks(spark, s"$indexPath/codebooks")
      val existing = ivfPqStreamCodes(spark, indexPath).select("id")
      val fresh = batch.join(existing,
        batch(idCol) === existing("id"), "left_anti")
      val coded = graft.ops.Similarity
        .ivfPqEncode(fresh, vecCol, idCol, cents, cb)
      coded.write.mode("overwrite")
        .parquet(s"$indexPath/stream_codes/b=$batchId")
      // drift row rides the SAME commit: compute from the just-written
      // parquet (one scan of this batch's codes, never the history)
      val (n, ppm) = graft.ops.Similarity.reconPpm(
        spark.read.parquet(s"$indexPath/stream_codes/b=$batchId"))
      val basePpm = spark.read.parquet(s"$indexPath/recon")
        .head().getLong(1)
      Seq((batchId, n, ppm, basePpm, ppm - basePpm,
          n > 0 && ppm * 4 > basePpm * 5))
        .toDF("batch_id", "n", "recon_ppm", "base_ppm", "drift_ppm",
          "retrain")
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$indexPath/drift/b=$batchId")
      val out = fs.create(marker, true)
      try out.write(s"$batchId\n".getBytes("UTF-8")) finally out.close()
    }
  }

  /** The full IVF-PQ code table (cid, id, codes) as of the last
    * COMMITTED stream batch — base index plus committed
    * `stream_codes/b=*` (the [[ivfStreamAssigns]] read on the code
    * tier); feed it to ivfPqTopK via `IvfPq(this, centroids,
    * codebooks)`. */
  def ivfPqStreamCodes(spark: org.apache.spark.sql.SparkSession,
                       indexPath: String): DataFrame = {
    val fs = new org.apache.hadoop.fs.Path(indexPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val base = spark.read.parquet(s"$indexPath/codes")
      .select("cid", "id", "codes")
    val marker = new org.apache.hadoop.fs.Path(indexPath, "_stream_latest")
    if (!fs.exists(marker)) base
    else {
      val in = fs.open(marker)
      val hw = try scala.io.Source.fromInputStream(in).mkString.trim.toLong
        finally in.close()
      val dir = new org.apache.hadoop.fs.Path(indexPath, "stream_codes")
      val committed =
        if (!fs.exists(dir)) Seq.empty[String]
        else fs.listStatus(dir).toSeq
          .map(_.getPath)
          .filter(p => p.getName.startsWith("b=") &&
            p.getName.stripPrefix("b=").toLong <= hw)
          .map(_.toString)
      if (committed.isEmpty) base
      else base.unionAll(
        spark.read.parquet(committed: _*).select("cid", "id", "codes"))
    }
  }

  /** Committed codebook-staleness rows, one per stream batch
    * (batch_id, n, recon_ppm, base_ppm, drift_ppm, retrain) — the
    * operator's re-train dashboard for [[ivfPqUpsertSink]]. */
  def ivfPqDriftLog(spark: org.apache.spark.sql.SparkSession,
                    indexPath: String): DataFrame = {
    val fs = new org.apache.hadoop.fs.Path(indexPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new org.apache.hadoop.fs.Path(indexPath, "_stream_latest")
    val dir = new org.apache.hadoop.fs.Path(indexPath, "drift")
    if (!fs.exists(marker) || !fs.exists(dir))
      return spark.emptyDataFrame
        .select(lit(0L).as("batch_id"), lit(0L).as("n"),
          lit(0L).as("recon_ppm"), lit(0L).as("base_ppm"),
          lit(0L).as("drift_ppm"), lit(false).as("retrain"))
        .limit(0)
    val in = fs.open(marker)
    val hw = try scala.io.Source.fromInputStream(in).mkString.trim.toLong
      finally in.close()
    val committed = fs.listStatus(dir).toSeq.map(_.getPath)
      .filter(p => p.getName.startsWith("b=") &&
        p.getName.stripPrefix("b=").toLong <= hw)
      .map(_.toString)
    spark.read.parquet(committed: _*)
  }

  /** STREAM-STREAM interval join (attribution: "right events with the
    * same key within [leftTs − beforeSec, leftTs + afterSec]") — the
    * join Structured Streaming supports only when BOTH sides carry
    * watermarks and the condition bounds event time on both sides;
    * Spark then ages join state out at watermark + interval instead of
    * buffering both streams forever. This wrapper enforces those
    * conditions so the state bound is guaranteed by construction, not
    * by the caller remembering the rules.
    *
    * Column names must be disjoint (stream-stream joins cannot alias
    * their way out of ambiguity after the fact — rename before
    * joining). `withWatermark` is a no-op on batch inputs, so the same
    * call is the backfill twin (kappa).
    *
    * `joinType`: "inner" (default — unmatched rows on either side
    * expire silently with their state) or "left_outer" (an unmatched
    * LEFT row is emitted null-padded once the watermark passes its
    * join window and Spark can PROVE no future match exists — the
    * un-attributed-impressions report; emission therefore lags by the
    * lateness horizon, the price of a sound negative). */
  def intervalJoinStream(left: DataFrame, right: DataFrame,
                         leftKey: String, rightKey: String,
                         leftTs: String, rightTs: String,
                         beforeSec: Long, afterSec: Long,
                         lateness: String = "1 hour",
                         joinType: String = "inner"): DataFrame = {
    val overlap = left.columns.toSet intersect right.columns.toSet
    require(overlap.isEmpty,
      s"intervalJoinStream: columns ${overlap.mkString(", ")} exist on both " +
        "sides; rename one side first")
    require(beforeSec >= 0 && afterSec >= 0,
      "intervalJoinStream: beforeSec/afterSec must be >= 0")
    require(joinType == "inner" || joinType == "left_outer",
      "intervalJoinStream: joinType must be inner or left_outer " +
        "(right_outer: swap the sides)")
    val l = left.withWatermark(leftTs, lateness)
    val r = right.withWatermark(rightTs, lateness)
    l.join(r, col(leftKey) === col(rightKey) &&
      col(rightTs) >= col(leftTs) - expr(s"INTERVAL $beforeSec SECONDS") &&
      col(rightTs) <= col(leftTs) + expr(s"INTERVAL $afterSec SECONDS"),
      joinType)
  }

  /** One user event as consumed by the sessionizer. */
  final case class UserEvent(user_id: Long, ts: Timestamp, event_type: String,
                             value: Double)

  /** One arriving vector for the [[ivfUpsertSink]] ingest leg. */
  final case class VecUpsert(id: Long, vec: Seq[Float])

  /** A closed (or force-flushed) session. */
  final case class Session(user_id: Long, start: Timestamp, end: Timestamp,
                           n_events: Long, total_value: Double,
                           closed_by_timeout: Boolean)

  /** The streaming funnel's per-user progress row: step first-reach
    * times in epoch micros (-1 = unfilled), `reached` monotone. */
  final case class FunnelProgress(user_id: Long, times: Seq[Long],
                                  reached: Int)

  /** Streaming ordered funnel — the live twin of
    * [[graft.ops.Funnel.funnel]] via mapGroupsWithState: one tiny state
    * entry per user (the step-time array), each micro-batch's events
    * folded in (ts, type)-sorted order under the batch op's exact
    * strict-after rule, the user's current progress emitted per batch
    * (`reached` is monotone — downstream keeps the max). In-order
    * streams reproduce the batch funnel exactly (spec-pinned); an event
    * arriving AFTER a later-timed event already advanced the funnel is
    * ignored, the honest append-mode approximation (the batch op is the
    * backfill corrector). Step times are exact epoch micros
    * (getTime/getNanos — same grid as the batch op's unix_micros).
    *
    * State eviction: a COMPLETED funnel (all steps filled) is final —
    * its state is removed immediately (a monotone funnel can never
    * change once full; should the user ever re-emit the step sequence,
    * a fresh low-`reached` row appears, which downstream max-keeping
    * absorbs). With `idle` set, the stream is additionally watermarked
    * on `ts` and every INCOMPLETE user carries an event-time timeout
    * `idle` past the watermark, renewed on every event: a user idle
    * that long is emitted once more (final progress) and evicted, so
    * the state store holds only active + recently-active users instead
    * of every user ever seen. Event-time (not wall-clock) timers keep
    * replays deterministic; evicted users who return restart from
    * scratch, with the batch op as the backfill corrector — the same
    * contract as late events. `idle = None` keeps state forever
    * (bounded-input/backfill mode). */
  def funnelStream(events: Dataset[UserEvent], steps: Seq[String],
                   idle: Option[String] = None,
                   lateness: String = "15 minutes"): Dataset[FunnelProgress] = {
    require(steps.nonEmpty && steps.distinct.size == steps.size,
      "steps must be non-empty and distinct")
    val spark = events.sparkSession
    import spark.implicits._
    val n = steps.length
    def micros(ts: Timestamp): Long =
      Math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000L
    val src = idle.map(_ => events.withWatermark("ts", lateness))
      .getOrElse(events)
    val timeoutConf =
      if (idle.isDefined) GroupStateTimeout.EventTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    src.groupByKey(_.user_id)
      .mapGroupsWithState[Seq[Long], FunnelProgress](timeoutConf) {
        case (uid, it, state: GroupState[Seq[Long]]) =>
          if (state.hasTimedOut) {
            val st = state.get
            state.remove()
            FunnelProgress(uid, st, st.count(_ != -1L))
          } else {
            val st = state.getOption.map(_.toArray)
              .getOrElse(Array.fill(n)(-1L))
            val sorted = it.toSeq.sortBy(e => (micros(e.ts), e.event_type))
            sorted.foreach { e =>
              val k = st.indexWhere(_ == -1L)
              if (k >= 0 && e.event_type == steps(k)) {
                val t = micros(e.ts)
                if (k == 0 || t > st(k - 1)) st(k) = t
              }
            }
            val reached = st.count(_ != -1L)
            if (reached == n) state.remove() // complete = final: evict now
            else {
              state.update(st.toSeq)
              // anchor at the user's newest event (not the watermark,
              // which lags a batch — anchoring there would evict users
              // the moment the watermark catches up)
              if (idle.isDefined)
                state.setTimeoutTimestamp(math.max(
                  state.getCurrentWatermarkMs(),
                  sorted.iterator.map(_.ts.getTime).max), idle.get)
            }
            FunnelProgress(uid, st.toSeq, reached)
          }
      }
  }

  /** A key's decayed-count progress: `decayed_micro` is the
    * recency-weighted count in micro-units anchored at the key's own
    * newest event (`last_us`). */
  final case class DecayProgress(key: String, last_us: Long, n: Long,
                                 decayed_micro: Long)

  /** Streaming EXPONENTIAL-DECAY counters — the live twin of
    * [[graft.ops.Insight.decayedCounts]] with O(1) state per key: on
    * each event the stored mass rescales by 2^(−Δ/halfLife) (rounded
    * back to micro) and gains 10⁶; the anchor is the key's own newest
    * event. For one or two events this is BIT-EQUAL to the batch op
    * anchored at the key's last event; beyond that the
    * rescale-the-aggregate recurrence can drift from the batch's
    * per-row rounding by at most ±1 micro per decay hop (spec-bounded)
    * — the price of not storing every timestamp. Emits the key's
    * progress each batch (downstream keeps the latest).
    *
    * Eviction: with `idle` set, the stream is watermarked and idle
    * keys are dropped via event-time timeout after emitting once more
    * — correct for a decayed counter, since an evicted key's mass is
    * itself near-decayed; a returning key restarts, with the batch op
    * as backfill corrector. Out-of-order events within a batch sort by
    * (ts, type); an event OLDER than the stored anchor contributes its
    * own decayed weight without moving the anchor. */
  def decayStream(events: Dataset[UserEvent], halfLifeDays: Double,
                  idle: Option[String] = None,
                  lateness: String = "15 minutes")
  : Dataset[DecayProgress] = {
    require(halfLifeDays > 0, "halfLifeDays must be positive")
    val spark = events.sparkSession
    import spark.implicits._
    val hlUs = halfLifeDays * 86400000000.0
    def micros(ts: Timestamp): Long =
      Math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000L
    val src = idle.map(_ => events.withWatermark("ts", lateness))
      .getOrElse(events)
    val timeoutConf =
      if (idle.isDefined) GroupStateTimeout.EventTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    src.groupByKey(_.event_type)
      .mapGroupsWithState[(Long, Long, Long), DecayProgress](timeoutConf) {
        case (key, it, state: GroupState[(Long, Long, Long)]) =>
          if (state.hasTimedOut) {
            val (a, n, m) = state.get
            state.remove()
            DecayProgress(key, a, n, m)
          } else {
            var (anchor, n, mass) = state.getOption.getOrElse((Long.MinValue, 0L, 0L))
            val sorted = it.toSeq.sortBy(e => (micros(e.ts), e.event_type))
            sorted.foreach { e =>
              val us = micros(e.ts)
              if (us >= anchor) {
                val decay =
                  if (anchor == Long.MinValue) 0L
                  else mass - math.floor(
                    mass * math.pow(2.0, -((us - anchor) / hlUs)) + 0.5).toLong
                mass = mass - decay + 1000000L
                anchor = us
              } else {
                // late event: its own weight at the CURRENT anchor
                mass += math.floor(
                  math.pow(2.0, -((anchor - us) / hlUs)) * 1e6 + 0.5).toLong
              }
              n += 1
            }
            state.update((anchor, n, mass))
            if (idle.isDefined)
              state.setTimeoutTimestamp(math.max(
                state.getCurrentWatermarkMs(),
                sorted.iterator.map(_.ts.getTime).max), idle.get)
            DecayProgress(key, anchor, n, mass)
          }
      }
  }

  /** Per-key running TWAP snapshot: `twap_micro` is None until the key
    * has a second event (the batch op's zero-span null). */
  final case class TwapProgress(key: Long, n_events: Long, span_us: Long,
                                twap_micro: Option[Long])

  /** Streaming time-weighted mean — the live twin of
    * [[graft.ops.Insight.timeWeightedMean]] via mapGroupsWithState:
    * one tiny state entry per key (last observation + the running
    * duration-weighted sum), each micro-batch folded in
    * (ts, event_type)-sorted order under the batch op's exact rail
    * (micro values, integer-µs durations, terminal observation weight
    * 0), the key's current TWAP emitted per batch. The weighted sum
    * lives in state as a BigInt (Decimal(38,0) in the state store) —
    * duration × micro-value products pass BIGINT on day-long holds,
    * the same overflow the batch op absorbs in DECIMAL(38,0).
    *
    * An in-order stream reproduces the batch TWAP exactly
    * (spec-pinned). An event arriving with ts BEHIND the key's anchor
    * cannot retro-split an already-credited hold interval in O(1)
    * state: it counts into n_events with zero duration and the batch
    * op is the backfill corrector — funnelStream's late-event
    * contract. State eviction mirrors [[decayStream]]: with `idle`
    * set, event-time timers emit a final snapshot and evict. */
  def twapStream(events: Dataset[UserEvent], idle: Option[String] = None,
                 lateness: String = "15 minutes"): Dataset[TwapProgress] = {
    val spark = events.sparkSession
    import spark.implicits._
    def micros(ts: Timestamp): Long =
      Math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000L
    val src = idle.map(_ => events.withWatermark("ts", lateness))
      .getOrElse(events)
    val timeoutConf =
      if (idle.isDefined) GroupStateTimeout.EventTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    src.groupByKey(_.user_id)
      .mapGroupsWithState[(Long, Long, Long, BigInt, Long), TwapProgress](
        timeoutConf) {
        case (key, it, state) =>
          def snap(s: (Long, Long, Long, BigInt, Long)) = {
            val (_, _, span, ws, n) = s
            TwapProgress(key, n, span,
              if (span > 0) Some((ws / span).toLong) else None)
          }
          if (state.hasTimedOut) {
            val st = state.get
            state.remove()
            snap(st)
          } else {
            var (lastUs, lastVm, span, ws, n) =
              state.getOption.getOrElse((0L, 0L, 0L, BigInt(0), 0L))
            val sorted = it.toSeq.sortBy(e => (micros(e.ts), e.event_type))
            sorted.foreach { e =>
              val us = micros(e.ts)
              val vm = math.floor(e.value * 1e6 + 0.5).toLong
              if (n == 0L) { lastUs = us; lastVm = vm }
              else if (us >= lastUs) {
                val dur = us - lastUs
                ws += BigInt(dur) * lastVm
                span += dur
                lastUs = us; lastVm = vm
              } // else: late event — zero duration, anchor unchanged
              n += 1
            }
            val st = (lastUs, lastVm, span, ws, n)
            state.update(st)
            if (idle.isDefined)
              state.setTimeoutTimestamp(math.max(
                state.getCurrentWatermarkMs(),
                sorted.iterator.map(_.ts.getTime).max), idle.get)
            snap(st)
          }
      }
  }

  /** One identified event for the streaming attributor. */
  final case class IdEvent(event_id: Long, user_id: Long, ts: Timestamp,
                           event_type: String)

  /** One attributed (conversion, touch) credit row; `conv_us` is the
    * conversion time in epoch micros (the batch op's unix_micros
    * grid). */
  final case class Attribution(conv_id: Long, user_id: Long, conv_us: Long,
                               touch_id: Long, touch_type: String,
                               pos: Long, n_touches: Long, credit_ppm: Long)

  /** Streaming U-shaped attribution — the live twin of
    * [[graft.ops.Funnel.positionAttribution]] via
    * flatMapGroupsWithState: one state entry per user holding only the
    * touches inside the lookback window (pruned on every batch, so
    * state per user is bounded by the window's touch count, not the
    * stream's length). Each micro-batch's events are folded in
    * (ts, touch-before-conversion, id) order: touches enter the
    * window; a conversion immediately emits its credit rows over the
    * CURRENT window under the batch op's exact rules — same 40/20/40
    * ppm credit table, remainder to the first touch, inclusive-at-
    * conversion / strict-at-edge bounds, (ts, id) position order. An
    * in-order stream reproduces the batch output exactly
    * (spec-pinned); a touch arriving after its conversion was
    * processed does not retro-credit — the honest append-mode
    * approximation, with the batch op as backfill corrector.
    *
    * State eviction mirrors [[funnelStream]]: with `idle` set the
    * stream is watermarked and each user carries an event-time timeout
    * renewed per event — idle users are silently dropped (their
    * window's touches could never credit a future conversion anyway
    * once the watermark passed the lookback). Without `idle`, a user
    * whose window empties releases state immediately. */
  def attributionStream(events: Dataset[IdEvent], convType: String,
                        touchTypes: Seq[String], lookbackMs: Long,
                        idle: Option[String] = None,
                        lateness: String = "15 minutes")
  : Dataset[Attribution] = {
    require(touchTypes.nonEmpty && !touchTypes.contains(convType),
      "touch types must be non-empty and exclude the conversion type")
    require(lookbackMs > 0, "lookback must be positive")
    val spark = events.sparkSession
    import spark.implicits._
    def micros(ts: Timestamp): Long =
      Math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000L
    def credit(pos: Long, n: Long): Long =
      if (n == 1L) 1000000L
      else if (n == 2L) 500000L
      else if (pos == n) 400000L
      else {
        val mid = 200000L / (n - 2)
        if (pos == 1L) 600000L - mid * (n - 2) else mid
      }
    val lookUs = lookbackMs * 1000L
    val touchSet = touchTypes.toSet
    val src = idle.map(_ => events.withWatermark("ts", lateness))
      .getOrElse(events)
    val timeoutConf =
      if (idle.isDefined) GroupStateTimeout.EventTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    src.groupByKey(_.user_id)
      .flatMapGroupsWithState[Seq[(Long, Long, String)], Attribution](
        OutputMode.Append(), timeoutConf) {
        case (uid, it, state: GroupState[Seq[(Long, Long, String)]]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var touches = state.getOption.getOrElse(Seq.empty).toVector
            val out = scala.collection.mutable.ArrayBuffer.empty[Attribution]
            // touches sort BEFORE conversions at equal timestamps so an
            // equal-ts touch credits the conversion — batch-join parity
            val sorted = it.toSeq.sortBy(e =>
              (micros(e.ts), if (touchSet(e.event_type)) 0 else 1,
                e.event_id))
            sorted.foreach { e =>
              val us = micros(e.ts)
              if (touchSet(e.event_type))
                touches = (touches :+ ((us, e.event_id, e.event_type)))
                  .filter(_._1 > us - lookUs)
              else if (e.event_type == convType) {
                val win = touches.filter(t => t._1 <= us && t._1 > us - lookUs)
                  .sortBy(t => (t._1, t._2))
                val n = win.size.toLong
                win.iterator.zipWithIndex.foreach {
                  case ((_, tid, tty), i) =>
                    out += Attribution(e.event_id, uid, us, tid, tty,
                      i + 1L, n, credit(i + 1L, n))
                }
              }
            }
            sorted.lastOption.foreach { last =>
              touches = touches.filter(_._1 > micros(last.ts) - lookUs)
            }
            if (touches.isEmpty && idle.isEmpty) state.remove()
            else {
              state.update(touches)
              if (idle.isDefined)
                state.setTimeoutTimestamp(math.max(
                  state.getCurrentWatermarkMs(),
                  sorted.iterator.map(_.ts.getTime).max), idle.get)
            }
            out.iterator
          }
      }
  }

  /** Gap-based sessionization with flatMapGroupsWithState: events of one
    * user belong to a session until a gap > `gapMs`; with
    * `idleTimeout=true`, idle sessions are additionally closed by a
    * processing-time timer (continuous production streams), without it
    * the final partial session stays open until more data arrives
    * (deterministic — right for tests and replays). One state entry per
    * active user — the canonical custom-state streaming operator. */
  def sessionize(events: Dataset[UserEvent], gapMs: Long,
                 idleTimeout: Boolean = true): Dataset[Session] = {
    val spark = events.sparkSession
    import spark.implicits._

    def flush(uid: Long, st: SessionState, byTimeout: Boolean): Session =
      Session(uid, new Timestamp(st.start), new Timestamp(st.last), st.n,
        st.total, byTimeout)

    val timeoutConf =
      if (idleTimeout) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()

    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append(), timeoutConf) {
        case (uid, it, state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val out = state.getOption.map(flush(uid, _, byTimeout = true))
            state.remove()
            out.iterator
          } else {
            val sorted = it.toSeq.sortBy(_.ts.getTime)
            var closed = List.empty[Session]
            var cur = state.getOption
            sorted.foreach { e =>
              val t = e.ts.getTime
              cur match {
                // within gap of the session span on either side — merge
                // (late cross-batch events extend `start` backwards)
                case Some(s) if t >= s.start - gapMs && t <= s.last + gapMs =>
                  cur = Some(s.copy(start = math.min(s.start, t),
                    last = math.max(s.last, t), n = s.n + 1,
                    total = s.total + e.value))
                // too late to belong to the open session: emit it as its
                // own immediate session (we can't retroactively merge with
                // already-emitted output in append mode)
                case Some(s) if t < s.start - gapMs =>
                  closed ::= flush(uid, SessionState(t, t, 1, e.value),
                    byTimeout = false)
                // beyond the gap after the session — close it, start anew
                case Some(s) =>
                  closed ::= flush(uid, s, byTimeout = false)
                  cur = Some(SessionState(t, t, 1, e.value))
                case None =>
                  cur = Some(SessionState(t, t, 1, e.value))
              }
            }
            cur match {
              case Some(s) =>
                state.update(s)
                if (idleTimeout) state.setTimeoutDuration(gapMs)
              case None => ()
            }
            closed.reverseIterator
          }
      }
  }

  /** Batch twin of [[sessionize]] for backfill: same session definition
    * via window functions (gap → new-session flag → cumulative session
    * id). Used to validate the streaming path and to process history. */
  def sessionizeBatch(events: DataFrame, gapMs: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy("user_id").orderBy("ts")
    val sess = events
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_sess",
        // cast only inside the gap arithmetic: unix_millis rejects
        // TIMESTAMP_NTZ (what parquet TIMESTAMP columns read as), and
        // the NTZ->TIMESTAMP cast is value-preserving in the UTC
        // session; start/end keep the input's own timestamp flavor
        (col("prev_ts").isNull ||
          unix_millis(col("ts").cast("timestamp")) -
            unix_millis(col("prev_ts").cast("timestamp")) > gapMs)
          .cast("long"))
      .withColumn("sess_id", sum("new_sess").over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    sess.groupBy("user_id", "sess_id")
      .agg(min("ts").as("start"), max("ts").as("end"),
        count(lit(1)).as("n_events"), sum("value").as("total_value"))
      .drop("sess_id")
  }

  /** A CUSUM rate alarm: `key`'s event rate left its baseline at
    * `bucket` (direction +1 = rate up, -1 = rate down), with the
    * cumulative-sum statistic that crossed the threshold. */
  final case class RateAlarm(event_type: String, bucket: Long,
                             direction: Int, stat: Double)

  /** Per-key CUSUM state: the open (still-filling) time bucket, the
    * closed-bucket baseline moments, and the two one-sided sums. */
  private[streaming] final case class CusumState(openBucket: Long,
                                                 openCount: Long,
                                                 n: Long, sum: Double,
                                                 pos: Double, neg: Double)

  /** Streaming twin of [[graft.ops.Insight.rateChangepoint]]: a
    * sequential CUSUM detector over per-key event-rate buckets. The
    * batch op finds the single best split in hindsight; this one
    * raises an ALARM while the stream runs — the classic
    * detection-latency trade (Page 1954). Each closed bucket's count c
    * updates the one-sided sums against the running baseline mean μ of
    * the buckets closed before it:
    *
    *   pos ← max(0, pos + (c − μ − slack));  alarm when pos > h
    *   neg ← max(0, neg + (μ − c − slack));  alarm when neg > h
    *
    * then folds c into μ. After an alarm the sums and baseline reset,
    * so a sustained shift re-baselines instead of alarming forever.
    * `warmup` buckets must close before scoring starts. State is one
    * fixed-size row per key (key cardinality, like
    * [[zOutlierStream]]); buckets close in event-time order inside
    * each batch, and an event older than the open bucket is dropped —
    * append-mode honesty, with the batch op as the corrector (the
    * same contract as the funnel and the z-outlier gate). */
  def cusumStream(events: Dataset[UserEvent], bucketMs: Long = 60000L,
                  slack: Double = 0.5, threshold: Double = 5.0,
                  warmup: Int = 5): Dataset[RateAlarm] = {
    require(bucketMs > 0 && threshold > 0 && warmup >= 1,
      "bucketMs, threshold and warmup must be positive")
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_.event_type)
      .flatMapGroupsWithState[CusumState, RateAlarm](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (key, it, state: GroupState[CusumState]) =>
          var st = state.getOption.getOrElse(
            CusumState(Long.MinValue, 0L, 0L, 0.0, 0.0, 0.0))
          val alarms = List.newBuilder[RateAlarm]
          def close(): Unit = if (st.openBucket != Long.MinValue) {
            val c = st.openCount.toDouble
            if (st.n >= warmup) {
              val mu = st.sum / st.n
              val pos = math.max(0.0, st.pos + (c - mu - slack))
              val neg = math.max(0.0, st.neg + (mu - c - slack))
              if (pos > threshold || neg > threshold) {
                alarms += RateAlarm(key, st.openBucket,
                  if (pos > threshold) 1 else -1,
                  math.max(pos, neg))
                // re-baseline from the post-shift regime
                st = CusumState(st.openBucket, st.openCount, 0L, 0.0, 0.0, 0.0)
              } else st = st.copy(pos = pos, neg = neg)
            }
            st = st.copy(n = st.n + 1, sum = st.sum + c)
          }
          it.toSeq.sortBy(e => e.ts.getTime).foreach { e =>
            val b = Math.floorDiv(e.ts.getTime, bucketMs)
            if (b > st.openBucket) {
              close()
              st = st.copy(openBucket = b, openCount = 1L)
            } else if (b == st.openBucket)
              st = st.copy(openCount = st.openCount + 1L)
            // b < openBucket: late event for a closed bucket — dropped
          }
          state.update(st)
          alarms.result().iterator
      }
  }

  /** An event flagged anomalous against its type's running statistics. */
  final case class Anomaly(user_id: Long, ts: Timestamp, event_type: String,
                           value: Double, z: Double)

  /** Per-type running moments for the streaming outlier gate. */
  private[streaming] final case class MomentState(n: Long, mean: Double,
                                                  m2: Double)

  /** Streaming twin of [[graft.ops.Insight.zOutliers]] — PREQUENTIAL
    * semantics, the honest streaming contract: each event is scored
    * against its type's running mean/stddev over all PRIOR events
    * (event-time order inside a batch, batch order across batches),
    * then folded into the state. The batch op scores against GLOBAL
    * moments — on a stable distribution the two converge, and the
    * batch op is the backfill corrector exactly as for the funnel.
    * Welford's update keeps the fold numerically stable and
    * deterministic for a fixed event order; `minHistory` suppresses
    * the cold-start region where the running stddev is noise. State is
    * one 3-field row per event TYPE — key cardinality, not corpus, so
    * no timeout is needed (nothing here grows with the stream). */
  def zOutlierStream(events: Dataset[UserEvent], threshold: Double = 3.0,
                     minHistory: Long = 30): Dataset[Anomaly] = {
    require(threshold > 0 && minHistory >= 2,
      "threshold must be > 0 and minHistory >= 2")
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_.event_type)
      .flatMapGroupsWithState[MomentState, Anomaly](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (_, it, state: GroupState[MomentState]) =>
          var st = state.getOption.getOrElse(MomentState(0L, 0.0, 0.0))
          val flagged = List.newBuilder[Anomaly]
          it.toSeq.sortBy(e => (e.ts.getTime, e.user_id)).foreach { e =>
            if (st.n >= minHistory) {
              val sd = math.sqrt(st.m2 / st.n)
              if (sd > 0) {
                val z = (e.value - st.mean) / sd
                if (math.abs(z) > threshold)
                  flagged += Anomaly(e.user_id, e.ts, e.event_type, e.value, z)
              }
            }
            val n1 = st.n + 1
            val d = e.value - st.mean
            val mean1 = st.mean + d / n1
            st = MomentState(n1, mean1, st.m2 + d * (e.value - mean1))
          }
          state.update(st)
          flagged.result().iterator
      }
  }

  /** Streaming PARETO-FRONTIER maintenance — the live twin of
    * [[graft.ops.Insight.paretoFrontier]]: the frontier of everything
    * seen so far, updated per micro-batch. State is the frontier
    * ITSELF (never the history) under one constant key: the frontier
    * is a global object, and its maintenance is the same unavoidable
    * global step as the batch run's distinct-x window — but state
    * size is frontier-sized (typically tiny), points are filtered
    * against it per batch in O(batch·frontier), and dominated points
    * are dropped forever, so the stream never re-reads or re-shuffles
    * history. Same dominance semantics as batch: strict on one axis,
    * duplicates of a frontier (x, y) all survive.
    *
    * Emits the FULL current frontier after every batch, stamped with
    * `n_seen` (total points processed) — consumers keep the rows of
    * the highest stamp; the final stamp's set equals the batch
    * operator over the same points exactly (StreamingSpec). */
  def paretoStream(points: Dataset[ParetoPoint]): Dataset[ParetoOut] = {
    val spark = points.sparkSession
    import spark.implicits._
    def dominated(p: ParetoPoint, q: ParetoPoint): Boolean =
      (q.x >= p.x && q.y > p.y) || (q.x > p.x && q.y >= p.y)
    points.groupByKey(_ => 0)
      .flatMapGroupsWithState[ParetoState, ParetoOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (_, it, state: GroupState[ParetoState]) =>
          val st = state.getOption.getOrElse(ParetoState(Nil, 0L))
          val batch = it.toList
          val all = st.pts ++ batch
          val front = all.filter(p => !all.exists(q => dominated(p, q)))
          val seen = st.seen + batch.size
          state.update(ParetoState(front, seen))
          front.map(p => ParetoOut(p.id, p.x, p.y, seen)).iterator
      }
  }

  /** Streaming Bradley–Terry count matrix — the live half of
    * [[graft.ops.Chat.btRanking]]'s arena leaderboard: outcomes
    * accumulate into the UNWINDOWED (winner, loser) count aggregate
    * (complete output mode; state = one long per observed ordered pair
    * — systems², bounded by the model-variant catalog, never by
    * traffic). The fit is a pure function of the matrix snapshot
    * ([[graft.ops.Chat.btRankingFromCounts]]), so the live leaderboard
    * equals the batch one over the same outcomes exactly
    * (StreamingSpec). */
  def btCountsStream(outcomes: DataFrame, winCol: String,
                     loseCol: String): DataFrame =
    outcomes
      .filter(col(winCol).isNotNull && col(loseCol).isNotNull)
      .groupBy(col(winCol).cast("string").as("__w"),
        col(loseCol).cast("string").as("__l"))
      .agg(count(lit(1)).as("__n"))
}
