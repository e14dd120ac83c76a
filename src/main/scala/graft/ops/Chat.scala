package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType, StructField, StructType}

/** Conversation / SFT-data operators: parse chat transcripts stored as
  * JSON (`[{"role":"user","content":"…"}, …]` — the interchange shape
  * every instruction-tuning corpus ships in), audit their structure,
  * and unroll them into (prompt, response) training pairs.
  *
  * All shapes are per-conversation local: one `from_json` + generator
  * per row, windows partitioned by the conversation id (state = one
  * conversation's turns) — nothing global, nothing driver-side.
  */
object Chat {

  /** Schema of one parsed conversation. */
  val turnSchema: ArrayType = ArrayType(StructType(Seq(
    StructField("role", StringType), StructField("content", StringType))))

  /** Schema of one parsed TOOL-USE conversation: assistant turns may
    * carry `tool_calls` [{id, name, args}], tool turns answer by
    * `tool_call_id` — the OpenAI-interchange shape agentic training
    * corpora ship in. Plain chat transcripts parse fine under it (the
    * extra fields read as null). */
  val toolTurnSchema: ArrayType = ArrayType(StructType(Seq(
    StructField("role", StringType),
    StructField("content", StringType),
    StructField("tool_calls", ArrayType(StructType(Seq(
      StructField("id", StringType),
      StructField("name", StringType),
      StructField("args", StringType))))),
    StructField("tool_call_id", StringType))))

  /** Structural audit of TOOL-USE transcripts — the gate before agent
    * trajectories enter a training mix. Per conversation: how many
    * tool calls the assistant issued, how many tool-result turns came
    * back, how many calls are answered (id-matched within the SAME
    * conversation), unanswered calls, DANGLING results (a
    * tool_call_id no assistant turn issued — the classic truncation
    * artifact), and calls whose `args` payload is not valid JSON.
    * `tools_ok` = zero unanswered + zero dangling + zero bad args.
    *
    * Shape: one from_json + two generators per conversation, then a
    * full-outer id join whose keys are (conv, call_id) — call/result
    * matching never leaves the conversation, so the join is uniform
    * and conversation-local at any corpus scale; the final aggregate
    * is one map-side-combinable groupBy(conv).
    *
    * @return (idCol, n_turns, n_tool_calls, n_tool_results, n_matched,
    *         n_unanswered, n_dangling, n_bad_args, tools_ok) */
  def toolAudit(df: DataFrame, convCol: String, idCol: String): DataFrame = {
    val parsed = df
      .select(col(idCol), posexplode_outer(
        from_json(col(convCol), toolTurnSchema)).as(Seq("turn_idx", "t")))
      .filter(col("t").isNotNull)
      .select(col(idCol), col("turn_idx"), col("t.role").as("role"),
        col("t.tool_calls").as("tool_calls"),
        col("t.tool_call_id").as("tool_call_id"))
    val calls = parsed
      .filter(col("role") === "assistant" && col("tool_calls").isNotNull)
      .select(col(idCol), explode(col("tool_calls")).as("c"))
      .select(col(idCol), col("c.id").as("call_id"),
        // args must parse as a JSON object; from_json -> null flags it
        when(from_json(col("c.args"),
            org.apache.spark.sql.types.MapType(StringType, StringType)).isNull,
          1L).otherwise(0L).as("bad_args"))
    val results = parsed
      .filter(col("role") === "tool" && col("tool_call_id").isNotNull)
      .select(col(idCol), col("tool_call_id").as("call_id"),
        lit(1L).as("is_result"))
    val joined = calls.withColumn("is_call", lit(1L))
      .join(results, Seq(idCol, "call_id"), "full_outer")
    val perConv = joined.groupBy(col(idCol))
      .agg(
        sum(coalesce(col("is_call"), lit(0L))).as("n_tool_calls"),
        sum(coalesce(col("is_result"), lit(0L))).as("n_tool_results"),
        sum(when(col("is_call").isNotNull && col("is_result").isNotNull, 1L)
          .otherwise(0L)).as("n_matched"),
        sum(when(col("is_result").isNull, 1L).otherwise(0L))
          .as("n_unanswered"),
        sum(when(col("is_call").isNull, 1L).otherwise(0L)).as("n_dangling"),
        sum(coalesce(col("bad_args"), lit(0L))).as("n_bad_args"))
    val nTurns = parsed.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_turns"))
    nTurns.join(perConv, Seq(idCol), "left")
      .select(col(idCol), col("n_turns"),
        coalesce(col("n_tool_calls"), lit(0L)).as("n_tool_calls"),
        coalesce(col("n_tool_results"), lit(0L)).as("n_tool_results"),
        coalesce(col("n_matched"), lit(0L)).as("n_matched"),
        coalesce(col("n_unanswered"), lit(0L)).as("n_unanswered"),
        coalesce(col("n_dangling"), lit(0L)).as("n_dangling"),
        coalesce(col("n_bad_args"), lit(0L)).as("n_bad_args"))
      .withColumn("tools_ok",
        col("n_unanswered") + col("n_dangling") + col("n_bad_args") === 0)
  }

  /** Explode a JSON conversation column into one row per turn:
    * (idCol, turn_idx, role, content). Malformed JSON parses to null
    * and contributes no rows (from_json's PERMISSIVE contract). */
  def turns(df: DataFrame, convCol: String, idCol: String): DataFrame =
    // posexplode_outer: the inferred size(...) > 0 filter would parse
    // the conversation JSON a second time per row (r14 sweep); null
    // turn ELEMENTS (a literal null in the JSON array) drop with the
    // null-array rows, which the audit treats as malformed anyway
    df.select(col(idCol),
      posexplode_outer(from_json(col(convCol), turnSchema))
        .as(Seq("turn_idx", "t")))
      .filter(col("t").isNotNull)
      .select(col(idCol), col("turn_idx"),
        col("t.role").as("role"), col("t.content").as("content"))

  /** Structural AUDIT per conversation — the gate before a transcript
    * enters an SFT mix: turn counts by role, whether roles strictly
    * alternate user-first (the canonical shape; anything else needs
    * review), how many turns are empty, and the char mass.
    *
    * @return (idCol, n_turns, n_user, n_assistant, alternating,
    *         n_empty, total_chars) */
  def audit(df: DataFrame, convCol: String, idCol: String): DataFrame = {
    val expected = when(col("turn_idx") % 2 === 0, "user")
      .otherwise("assistant")
    turns(df, convCol, idCol)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_turns"),
        sum(when(col("role") === "user", 1L).otherwise(0L)).as("n_user"),
        sum(when(col("role") === "assistant", 1L).otherwise(0L))
          .as("n_assistant"),
        (sum(when(col("role") =!= expected, 1L).otherwise(0L)) === 0)
          .as("alternating"),
        sum(when(coalesce(col("content"), lit("")) === "", 1L)
          .otherwise(0L)).as("n_empty"),
        sum(length(coalesce(col("content"), lit(""))).cast("long"))
          .as("total_chars"))
  }

  /** Unroll each conversation into SFT (prompt, response) PAIRS: one
    * row per assistant turn, `response` = that turn's content, `prompt`
    * = every preceding turn rendered as "role: content" lines joined by
    * newlines (the flattened-context convention; swap the renderer for
    * a chat template downstream). `pair_idx` numbers a conversation's
    * pairs 1..k in turn order. The window is conversation-partitioned —
    * state is one transcript, never the corpus.
    *
    * @return (idCol, pair_idx, prompt, response) */
  def sftPairs(df: DataFrame, convCol: String, idCol: String): DataFrame = {
    val w = Window.partitionBy(col(idCol)).orderBy("turn_idx")
    val hist = w.rowsBetween(Window.unboundedPreceding, -1)
    turns(df, convCol, idCol)
      .withColumn("__line",
        concat(col("role"), lit(": "), coalesce(col("content"), lit(""))))
      .withColumn("prompt", array_join(collect_list("__line").over(hist), "\n"))
      .withColumn("__aidx",
        sum(when(col("role") === "assistant", 1).otherwise(0)).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .filter(col("role") === "assistant")
      .select(col(idCol), col("__aidx").cast("long").as("pair_idx"),
        col("prompt"), col("content").as("response"))
  }

  /** Prompt-injection screen over chat transcripts — the safety gate
    * before a conversation enters an SFT/RLHF mix: flag turns whose
    * content contains any of a small list of injection phrases
    * (case-insensitive substring), and report per conversation the
    * flagged-turn count, the first flagged turn, and a clean verdict.
    *
    * The phrase list compiles to a codegen `contains` when-chain —
    * right for the handful of canonical injection markers this gate
    * screens; at real blocklist sizes (hundreds+), tier up to
    * [[Phrases.flagPhrases]]'s broadcast Aho–Corasick automaton
    * (one O(len) pass, cost independent of list size). One
    * conversation-keyed hash aggregate; nothing global.
    *
    * @return (idCol, n_turns, n_flagged, first_flagged_turn|null,
    *         clean) */
  def injectionScreen(df: DataFrame, convCol: String, idCol: String,
                      phrases: Seq[String]): DataFrame = {
    require(phrases.nonEmpty, "need at least one phrase")
    val lc = lower(coalesce(col("content"), lit("")))
    val flagged = phrases.map(p => lc.contains(lit(p.toLowerCase)))
      .reduce(_ || _)
    turns(df, convCol, idCol)
      .withColumn("__f", flagged)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_turns"),
        sum(when(col("__f"), 1L).otherwise(0L)).as("n_flagged"),
        min(when(col("__f"), col("turn_idx"))).cast("long")
          .as("first_flagged_turn"),
        (sum(when(col("__f"), 1L).otherwise(0L)) === 0).as("clean"))
  }

  /** Preference-pair construction for DPO/RLHF-style training: from a
    * frame of scored candidate responses (one row per (prompt,
    * candidate)), emit per prompt the best-scored response as `chosen`
    * and the worst as `rejected`, keeping only prompts whose score gap
    * is at least `minGap` (pairs the reward signal can't separate are
    * noise, not training data).
    *
    * Selection is ONE aggregate — `max_by`/`min_by` keyed on
    * `(score, candidate-id)` so the ordering key is UNIQUE per prompt
    * (lowest id wins either side on score ties; max_by's
    * first-encountered tie rule never engages). Any arg-max spelling
    * that carries a payload (max_by, max(struct…)) has a struct
    * aggregation buffer, which Spark's hash aggregates cannot hold —
    * the plan is SortAggregate. That is still the right single-pass
    * shape: the PARTIAL SortAggregate collapses each prompt's
    * candidates to two rows map-side (the sort is partition-local
    * over raw candidates), so the shuffle moves two rows per
    * (prompt, partition) — a window/row_number spelling would shuffle
    * EVERY raw candidate with its full text and collapse nothing.
    * Prompts where every candidate scores equally select the same
    * candidate on both sides and fall to the gap filter
    * (gap 0 < minGap).
    *
    * @return (promptCol, chosen_id, chosen, rejected_id, rejected,
    *         score_gap, n_cands) */
  def preferencePairs(df: DataFrame, promptCol: String, candCol: String,
                      textCol: String, scoreCol: String,
                      minGap: Long): DataFrame = {
    require(minGap >= 1, "minGap must be >= 1 (0 admits degenerate pairs)")
    val cand = struct(col(candCol).as("c"), col(textCol).as("t"))
    df.groupBy(col(promptCol))
      .agg(
        // chosen = min_by over (−score, id): the negation rides the
        // score (numeric by contract — score_gap arithmetic), never the
        // candidate id, so string ids order correctly instead of
        // silently nulling the tie-break key.
        min_by(cand, struct((-col(scoreCol)).as("ns"),
          col(candCol).as("c"))).as("__hi"),
        max(col(scoreCol)).as("__smax"),
        min_by(cand, struct(col(scoreCol).as("s"),
          col(candCol).as("c"))).as("__lo"),
        min(col(scoreCol)).as("__smin"),
        count(lit(1)).as("n_cands"))
      .filter(col("__smax") - col("__smin") >= minGap)
      .select(col(promptCol),
        col("__hi.c").as("chosen_id"), col("__hi.t").as("chosen"),
        col("__lo.c").as("rejected_id"), col("__lo.t").as("rejected"),
        (col("__smax") - col("__smin")).as("score_gap"), col("n_cands"))
  }

  /** BRADLEY–TERRY strength ranking from pairwise preference outcomes —
    * the arena-style readout over [[preferencePairs]]' output (or any
    * (winner, loser) stream): which SYSTEM wins head-to-heads, as a
    * latent strength rather than a raw win rate (win rate rewards easy
    * matchups; BT conditions on WHO was beaten). Strengths come from
    * Hunter 2004's MM iterations,
    *
    *   s_i ← w_i / Σ_j n_ij / (s_i + s_j),
    *
    * run a FIXED `iters` rounds on the EXACT integer rail: strengths
    * in micro-units, each pair term `n_ij·10¹² div (s_i + s_j)` one
    * integral division (so the per-system sums are order-free
    * integers), the update `w_i·10¹² div D_i`, and a mean-10⁶
    * renormalization each round — bit-identical on any engine, which
    * is what lets the SQL oracle replay the whole fit.
    *
    * Scale shape: the only distributed work is ONE aggregate compressing
    * the outcome stream to the (winner, loser) count matrix —
    * systems² rows (model variants: tens, not millions). The MM loop
    * runs on the driver over that bounded matrix, the same honest
    * bounded-driver contract as BPE merges or PQ training.
    *
    * @return (system, s_micro, rank, wins, losses, games) —
    *         rank by (s_micro desc, system) */
  def btRanking(pairs: DataFrame, winCol: String, loseCol: String,
                iters: Int = 8): DataFrame = {
    require(iters >= 1, "need iters >= 1")
    val spark = pairs.sparkSession
    val counts = pairs.filter(col(winCol).isNotNull && col(loseCol).isNotNull)
      .groupBy(col(winCol).cast("string"), col(loseCol).cast("string"))
      .agg(count(lit(1)))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    require(counts.nonEmpty, "btRanking needs at least one outcome")
    val systems = counts.flatMap(c => Seq(c._1, c._2)).distinct.sorted
    val idx = systems.zipWithIndex.toMap
    val nSys = systems.length
    val games = Array.ofDim[Long](nSys, nSys) // games(i)(j): i beat j
    counts.foreach { case (w, l, n) => games(idx(w))(idx(l)) += n }
    val wins = Array.tabulate(nSys)(i => games(i).sum)
    val losses = Array.tabulate(nSys)(j => games.map(_(j)).sum)
    val T = BigInt(1000000000000L)
    var s = Array.fill(nSys)(BigInt(1000000))
    for (_ <- 1 to iters) {
      val next = Array.tabulate(nSys) { i =>
        var d = BigInt(0)
        var j = 0
        while (j < nSys) {
          val nij = games(i)(j) + games(j)(i)
          // two zero-strength opponents would divide by zero; the limit
          // of n/(s_i+s_j) as both → 0 contributes nothing decidable —
          // skip the term (the oracle replays the same guard)
          if (j != i && nij > 0 && s(i) + s(j) > 0)
            d += BigInt(nij) * T / (s(i) + s(j))
          j += 1
        }
        if (d == 0) BigInt(0) else BigInt(wins(i)) * T / d
      }
      val tot = next.sum
      s = if (tot == 0) next
          else next.map(_ * nSys * 1000000 / tot)
    }
    import spark.implicits._
    val ranked = systems.indices
      .map(i => (systems(i), s(i).toLong, wins(i), losses(i),
        wins(i) + losses(i)))
      .sortBy { case (sys, sm, _, _, _) => (-sm, sys) }
      .zipWithIndex
      .map { case ((sys, sm, w, l, g), r) => (sys, sm, r + 1, w, l, g) }
    ranked.toDF("system", "s_micro", "rank", "wins", "losses", "games")
      .withColumn("rank", col("rank").cast("long"))
  }
}
