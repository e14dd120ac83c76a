package graft.ops

import org.apache.spark.sql.{Column, DataFrame, GraftShim}
import org.apache.spark.sql.GraftShim.Layout.Hash
import org.apache.spark.sql.GraftShim.materialize
import org.apache.spark.sql.functions._
import graft.functions.{SortedIntersectArr, SortedIntersectCount}

/** Iterative graph analytics on edge DataFrames. Companion to the
  * connected-components family in [[Dedup]]: where CC labels groups,
  * PageRank ranks within them — the centrality a crawl-curation
  * pipeline uses to weight hosts/documents by link authority (the
  * original use) or parts by co-purchase affinity.
  */
object Graph {

  /** Rank mass scale: ranks are integers in units of 1e-12. */
  val Scale: Long = 1000000000000L

  /** |a ∩ b| for two SORTED long arrays: the codegen merge-walk
    * [[SortedIntersectCount]] (r16 — array_intersect builds a per-row
    * hash set although the triangle-census neighbour lists are
    * sort_array'd). Same set semantics as size(array_intersect) on
    * sorted input. */
  private def sortedIntersectCount(a: Column, b: Column): Column =
    GraftShim.column(SortedIntersectCount(
      GraftShim.expression(a), GraftShim.expression(b)))

  /** a ∩ b (ascending, deduped) for two SORTED long arrays — the
    * array-returning sibling, identical to array_intersect on sorted
    * input (which preserves first-array order and dedups). */
  private def sortedIntersectArr(a: Column, b: Column): Column =
    GraftShim.column(SortedIntersectArr(
      GraftShim.expression(a), GraftShim.expression(b)))

  /** PageRank in EXACT integer arithmetic — every quantity is a BIGINT
    * in units of 1e-12 rank mass, all divisions are integer `div`, so
    * the result is bit-identical on ANY engine and ANY aggregation
    * order (a float spelling would make the per-vertex inflow sum
    * order-dependent at ulp scale, which an unlucky 6-dp rounding
    * boundary turns into a cross-engine mismatch):
    *
    *   units_0(v)   = Scale div N
    *   units_k+1(v) = (dNum·Scale div (dDen·N·… )) — spelled:
    *                  ((Scale·(dDen−dNum)) div dDen) div N
    *                  + (dNum · Σ_{u→v} (units_k(u) div outdeg(u))) div dDen
    *
    * with damping d = dNum/dDen (default 85/100). The truncation of
    * each integer div loses < 1e-12·|E| total mass per iteration —
    * noise at the 6-dp reporting precision — in exchange for exact
    * portability and order-free BIGINT sums.
    *
    * Shape per iteration: edges ⋈ ranks (co-keyed on src), one
    * map-side-combinable BIGINT sum by dst, one left join back onto the
    * vertex set (vertices with no in-edges keep only the teleport
    * term). Unlike the CC loop — whose result feeds the next round
    * SEVERAL times and must truncate lineage every iteration — each
    * rank frame is referenced exactly once, so the plan grows LINEARLY
    * and a checkpoint every 8 iterations suffices: typical 5-10
    * iteration runs execute as ONE pipelined job instead of one
    * materialization per iteration (measured ~2× on the bench query).
    * Dangling vertices (no
    * out-edges) leak their mass, the common simplification; add
    * back-edges or a sink vertex upstream if that matters.
    *
    * @param edges directed edges with columns (src, dst); duplicates
    *              count as parallel edges
    * @param weightCol optional POSITIVE-INTEGER edge-weight column:
    *              rank flows proportional to weight — per edge the
    *              transfer is (units·w) div Σ_out w, still exact
    *              integer arithmetic (weight 1 everywhere reproduces
    *              the unweighted numbers bit-for-bit). Keep weights
    *              small enough that Scale·max(w) fits a BIGINT
    *              (w ≤ ~10⁶ is always safe).
    * @return (id, rank_units BIGINT, rank DOUBLE = units/Scale) */
  def pagerank(edges: DataFrame, iterations: Int = 5,
               dampingNum: Long = 85, dampingDen: Long = 100,
               weightCol: Option[String] = None): DataFrame = {
    require(iterations >= 0, "iterations must be >= 0")
    require(dampingDen > 0 && dampingNum >= 0 && dampingNum <= dampingDen,
      "damping must be a fraction in [0, 1]")
    val w = weightCol.map(col(_).cast("long")).getOrElse(lit(1L))
    // The r15 lesson (executed-plan dump, r14 weak flag): the old
    // "declare hash(dst), let AQE broadcast" spelling still shuffle-
    // WROTE the edge table twice per iteration — EnsureRequirements
    // plans the ranks join as SMJ on src, AQE's broadcast conversion
    // lands only after the edge-side shuffle stage has already
    // materialized, and that src-shuffle destroys the declared dst
    // layout so the inflow aggregate re-exchanges too. The coreness
    // pattern fixes both: ranks is MATERIALIZED per iteration
    // (vertex-sized checkpoint — cheap) and broadcast EXPLICITLY under
    // a vertex cap, so the static plan is two broadcast probes over
    // the stationary edge list and the groupBy(dst) rides the declared
    // layout with ZERO exchanges (spec-pinned). The earlier "broadcast
    // lost 57 s" note measured broadcasting the CHAINED ranks plan
    // (checkpoint-every-8) — a driver-serialized re-execution per
    // build; materialize-then-broadcast is a plain scan. Past the cap
    // the edge list is partitioned by SRC instead: the ranks join goes
    // co-partitioned (vertex-sized exchange only) and the aggregate
    // pays the loop's single edge-sized shuffle.
    // the upstream edge plan executes ONCE (vertices derive from the
    // materialized table, not from `edges` — link extraction can be the
    // expensive part); only the rare big-vertex fallback pays one extra
    // edge shuffle to re-key the stationary table by src
    val e0 = materialize(
      edges.select(col("src"), col("dst"), w.as("__w")), Hash(Seq("dst"))).df
    val v = materialize(e0.select(col("src").as("id"))
      .unionAll(e0.select(col("dst").as("id"))).distinct(), Hash(Seq("id")))
    val (vertices, n) = (v.df, v.rows)
    require(n > 0, "pagerank: empty graph")
    val bcast = BroadcastCap.fits(n)
    val e = if (bcast) e0 else materialize(e0, Hash(Seq("src"))).df
    val outdeg = e.groupBy("src").agg(sum("__w").as("outdeg"))
      .localCheckpoint(true)
    val teleport = (Scale * (dampingDen - dampingNum) / dampingDen) / n
    var ranks = vertices.withColumn("rank_units", lit(Scale / n))
    for (it <- 1 to iterations) {
      // r15 (guide §2.3/§3): outdeg rides the per-iteration VERTEX
      // broadcast instead of a second broadcast probe over the
      // stationary edge list — the 2m-row edge stream passes ONE join
      // per iteration, and the outdeg⋈ranks join costs |V| rows inside
      // the broadcast build. For the unweighted case the per-edge term
      // (rank_units * 1 DIV outdeg) is a per-VERTEX constant, so the
      // integer division is precomputed on the |V| broadcast rows —
      // identical arithmetic, 2m divisions fewer per iteration.
      // Dangling vertices drop from the inner join exactly as they
      // never matched the edge join before. outdeg broadcasts under
      // the same vertex cap so the fold join is itself exchange-free
      // (the zero-shuffle iteration pin stays green).
      val rs0 = ranks.join(BroadcastCap.hint(outdeg, n),
        ranks("id") === outdeg("src"))
      val rs = if (weightCol.isEmpty)
        rs0.select(col("src"), expr("rank_units DIV outdeg").as("__q"))
      else rs0.select(col("src"), col("rank_units"), col("outdeg"))
      val inflow = e.join(BroadcastCap.hint(rs, n), Seq("src"))
        .select(col("dst").as("id"),
          (if (weightCol.isEmpty) col("__q")
           else expr("rank_units * __w DIV outdeg")).as("c"))
        .groupBy("id").agg(sum("c").as("inflow"))
      val next = vertices.join(inflow, Seq("id"), "left")
        .select(col("id"),
          (lit(teleport) +
            expr(s"$dampingNum * coalesce(inflow, 0L) DIV $dampingDen"))
            .as("rank_units"))
      // per-iteration materialization is what makes the broadcast build
      // a cheap scan; in the big-vertex branch it is the shim so the
      // co-partitioned src join stays exchange-free on the edge side
      ranks =
        if (it == iterations) next
        else if (bcast) next.localCheckpoint(true)
        else materialize(next, Hash(Seq("id"))).df
    }
    ranks.withColumn("rank",
      round(col("rank_units").cast("double") / Scale, 6))
  }

  /** PERSONALIZED PageRank / TrustRank (Gyöngyi, Garcia-Molina,
    * Pedersen 2004): identical to [[pagerank]] except ALL teleport
    * mass returns to a curated SEED set instead of spreading
    * uniformly — rank becomes "trust flowing out of the seeds", the
    * anti-spam / crawl-frontier-quality signal (a domain unreachable
    * from any trusted domain scores 0, however many spam farms link
    * it). Same exact-integer rails as [[pagerank]]: seed teleport is
    * (Scale·(1−d)) div |S|, initial mass Scale div |S| on seeds and 0
    * elsewhere, every step order-free BIGINT.
    *
    * Plan shape: one extra left-semi-flag join of the vertex table
    * against the seed list per iteration (seed lists are tiny —
    * AQE broadcasts), everything else identical to [[pagerank]].
    *
    * @param seeds one-column DataFrame of trusted vertex ids (rows not
    *              present in the graph are ignored)
    * @return (id, trust_units BIGINT, trust DOUBLE) */
  def trustRank(edges: DataFrame, seeds: DataFrame, iterations: Int = 5,
                dampingNum: Long = 85, dampingDen: Long = 100,
                weightCol: Option[String] = None): DataFrame = {
    require(iterations >= 0, "iterations must be >= 0")
    require(dampingDen > 0 && dampingNum >= 0 && dampingNum <= dampingDen,
      "damping must be a fraction in [0, 1]")
    val w = weightCol.map(col(_).cast("long")).getOrElse(lit(1L))
    val seedCol = seeds.columns.head
    // same per-iteration materialize-then-broadcast shape as
    // [[pagerank]] (see the r15 note there: the AQE-broadcast spelling
    // shuffle-wrote the edge list twice per iteration)
    val e0 = materialize(
      edges.select(col("src"), col("dst"), w.as("__w")), Hash(Seq("dst"))).df
    val v = materialize(e0.select(col("src").as("id"))
      .unionAll(e0.select(col("dst").as("id"))).distinct()
      .join(seeds.select(col(seedCol).as("id")).distinct()
        .withColumn("__seed", lit(true)), Seq("id"), "left")
      .select(col("id"),
        coalesce(col("__seed"), lit(false)).as("__seed")), Hash(Seq("id")))
    val (vertices, nV) = (v.df, v.rows)
    val bcast = BroadcastCap.fits(nV)
    val e = if (bcast) e0 else materialize(e0, Hash(Seq("src"))).df
    val outdeg = e.groupBy("src").agg(sum("__w").as("outdeg"))
      .localCheckpoint(true)
    val nSeeds = vertices.filter(col("__seed")).count()
    require(nSeeds > 0, "trustRank: no seed is present in the graph")
    val teleport = (Scale * (dampingDen - dampingNum) / dampingDen) / nSeeds
    var ranks = vertices.withColumn("rank_units",
      when(col("__seed"), lit(Scale / nSeeds)).otherwise(lit(0L)))
    for (it <- 1 to iterations) {
      // r15: outdeg folded into the per-iteration vertex broadcast —
      // see [[pagerank]] (one edge-stream join per iteration; the
      // unweighted per-edge term precomputes per vertex; outdeg
      // broadcasts under the same cap to keep the fold exchange-free)
      val rs0 = ranks.join(BroadcastCap.hint(outdeg, nV),
        ranks("id") === outdeg("src"))
      val rs = if (weightCol.isEmpty)
        rs0.select(col("src"), expr("rank_units DIV outdeg").as("__q"))
      else rs0.select(col("src"), col("rank_units"), col("outdeg"))
      val inflow = e.join(BroadcastCap.hint(rs, nV), Seq("src"))
        .select(col("dst").as("id"),
          (if (weightCol.isEmpty) col("__q")
           else expr("rank_units * __w DIV outdeg")).as("c"))
        .groupBy("id").agg(sum("c").as("inflow"))
      val next = vertices.join(inflow, Seq("id"), "left")
        .select(col("id"), col("__seed"),
          (when(col("__seed"), lit(teleport)).otherwise(lit(0L)) +
            expr(s"$dampingNum * coalesce(inflow, 0L) DIV $dampingDen"))
            .as("rank_units"))
      ranks =
        if (it == iterations) next
        else if (bcast) next.localCheckpoint(true)
        else materialize(next, Hash(Seq("id"))).df
    }
    ranks
      .select(col("id"), col("rank_units").as("trust_units"),
        round(col("rank_units").cast("double") / Scale, 6).as("trust"))
  }

  /** PER-SEED personalized PageRank (labeled PPR) — [[trustRank]]
    * gives ONE trust vector for a seed SET; this gives each seed its
    * OWN proximity vector (π_s = α·e_s + (1−α)·Pᵀπ_s), the standard
    * graph-relevance primitive behind "more like this seed" retrieval,
    * PPR-seeded community extraction, and per-source influence audits.
    *
    * Same exact-integer rails as [[pagerank]] (Scale-units mass,
    * truncating DIV per flow step, order-free BIGINT sums), but the
    * state is SPARSE and LABELED: (label, id, mass) rows exist only
    * where a seed's mass has actually reached — no |seeds|×|V| dense
    * table, so per-iteration cost is |edges touched by live mass| ×
    * live labels, and seeds are a bounded constant (harmonic-pivots
    * rule). Each iteration is one (src-keyed join + (label, dst)
    * aggregate); teleport returns each label's (1−d) to ITS OWN seed.
    *
    * @return top-`k` nodes per seed: (label, rank, id, mass_units) */
  def pprTopK(edges: DataFrame, seeds: DataFrame, iterations: Int = 4,
              k: Int = 10, dampingNum: Long = 85,
              dampingDen: Long = 100): DataFrame = {
    require(iterations >= 0 && k >= 1, "pprTopK: bad iterations/k")
    require(dampingDen > 0 && dampingNum >= 0 && dampingNum <= dampingDen,
      "damping must be a fraction in [0, 1]")
    val seedCol = seeds.columns.head
    val e =
      materialize(edges.select(col("src"), col("dst")), Hash(Seq("src"))).df
    // r16: checkpointed tables carry no stats, so the per-iteration
    // state⋈outdeg and edge⋈state joins planned as shuffle joins —
    // the same stat-less trap pagerank/trustRank fixed in r15. Counts
    // ride the materializations and both joins broadcast under the
    // [[BroadcastCap]]: the edge stream then passes one hash probe
    // per iteration with zero exchanges on the stationary (hash(src))
    // edge table.
    val od = materialize(e.groupBy("src").agg(count(lit(1)).as("outdeg")))
    val (outdeg, nV) = (od.df, od.rows)
    val sd = materialize(seeds.select(col(seedCol).as("label")).distinct()).df
    val teleport = Scale * (dampingDen - dampingNum) / dampingDen
    val seedRows = sd.select(col("label"), col("label").as("id"),
      lit(teleport).as("m"))
    var state = sd.select(col("label"), col("label").as("id"),
      lit(Scale).as("mass"))
    var nState = 0L // seeds-only state broadcasts trivially
    for (it <- 1 to iterations) {
      // r15: the per-edge flow (mass DIV outdeg) is constant per
      // SOURCE state row — precompute it on the sparse state table
      // (state ⋈ outdeg, state-sized) so the edge expansion passes one
      // join and zero divisions (identical integer arithmetic; the
      // pagerank outdeg-fold, see there)
      val st = state.join(BroadcastCap.hint(outdeg, nV),
          state("id") === outdeg("src"))
        .select(col("label"), col("src"), expr("mass DIV outdeg").as("__q"))
      val inflow = e.join(BroadcastCap.hint(st, nState), Seq("src"))
        .select(col("label"), col("dst").as("id"), col("__q").as("c"))
        .groupBy("label", "id").agg(sum("c").as("inflow"))
        .select(col("label"), col("id"),
          expr(s"$dampingNum * inflow DIV $dampingDen").as("m"))
      val next = materialize(inflow.unionAll(seedRows)
        .groupBy("label", "id").agg(sum("m").as("mass")))
      state = next.df
      nState = next.rows
    }
    val w = org.apache.spark.sql.expressions.Window.partitionBy("label")
      .orderBy(col("mass").desc, col("id"))
    state.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("label"), col("rank"), col("id"),
        col("mass").as("mass_units"))
  }

  /** HITS hubs-and-authorities (Kleinberg 1999) on the exact-integer
    * rails of [[pagerank]]: a good HUB points at many good authorities
    * (hub(u) = Σ_{u→v} auth(v)); a good AUTHORITY is pointed at by many
    * good hubs (auth(v) = Σ_{u→v} hub(u)). On a crawl's outlink host
    * graph the two scores separate link DIRECTORIES (high hub, low
    * auth) from link TARGETS (the reverse) — a distinction PageRank's
    * single score cannot make, and the signal a curation pipeline uses
    * to keep list-page boilerplate out of the training set while
    * keeping what the lists point AT.
    *
    * Kleinberg's L2 normalization is replaced by L1 in integer units —
    * after each half-step every score is rescaled so the total mass is
    * exactly [[Scale]]:
    *
    *   norm(x) = (x · Scale) div Σ x
    *
    * computed in DECIMAL(38,0) (x ≤ outdeg·Scale, so x·Scale ≤ ~1e29 —
    * far inside 38 digits, and DIV truncation loses < 1e-12·|V| mass:
    * noise at the 6-dp reporting precision). Every sum is an order-free
    * BIGINT/DECIMAL sum and every division integral, so a FIXED
    * iteration count is bit-identical on any engine — the same
    * cross-engine contract as the rest of the family. (The L1/L2
    * difference only rescales scores within an iteration; the relative
    * ORDER of hubs and of authorities — the useful output — matches the
    * classical formulation.)
    *
    * Shape per iteration: two edge⋈score equi-joins (one per
    * direction), each followed by a map-side-combinable sum and a
    * 1-row total that AQE broadcasts back — no driver action inside
    * the loop. Score tables are vertex-cardinality; the edge list is
    * scanned twice per iteration, shuffle-partitioned on the join key.
    *
    * @param edges directed edges (src, dst); duplicates count as
    *              parallel links
    * @return full vertex table (id, hub_units, auth_units, hub, auth);
    *         a vertex with no out-edges has hub 0, no in-edges auth 0 */
  def hits(edges: DataFrame, iterations: Int = 4): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    // TWO stationary edge copies, one per half-step's GROUPING key
    // (r15, the pagerank lesson: AQE's broadcast conversion lands
    // after the edge shuffle stage already materialized, so the old
    // spelling shuffle-wrote the edge list twice per iteration): the
    // hub step joins broadcast(auth) on dst and aggregates on src —
    // riding the hash(src) copy — while the auth step joins
    // broadcast(hubs) on src and aggregates on dst on the hash(dst)
    // copy. 2× stationary storage buys zero edge-sized exchanges
    // across all iterations; past the broadcast cap the second copy
    // is skipped and the joins fall back to co-keyed shuffles.
    val eBySrc = materialize(
      edges.select(col("src"), col("dst")), Hash(Seq("src"))).df
    val v = materialize(eBySrc.select(col("src").as("id"))
      .unionAll(eBySrc.select(col("dst").as("id"))).distinct(), Hash(Seq("id")))
    val (vertices, n) = (v.df, v.rows)
    require(n > 0, "hits: empty graph")
    val bcast = BroadcastCap.fits(n)
    val eByDst = if (bcast) materialize(eBySrc, Hash(Seq("dst"))).df
    else eBySrc
    // Each renorm references its input aggregate TWICE (the total and
    // the join back onto the vertex set), so without materialization
    // the lineage re-executes and the plan DOUBLES per half-step —
    // 2^(2·iters) recomputation (measured 20.9 s vs 1.9 s at sf0.1).
    // The materialization now DECLARES hash(rid) so the renorm join is
    // co-partitioned with the vertex table (zero exchange), and the
    // materialized score table is what the next half-step broadcasts
    // (a plain scan per build — never a chained plan).
    // r16: the mass total rides the materializing job itself
    // (the materialization's sum column) instead of a separate
    // 1-row aggregate + broadcast per half-step — the total becomes a
    // literal in the renorm projection (identical integer arithmetic:
    // same BIGINT total, same DECIMAL(38,0) product, same DIV), and
    // 2 scheduler round-trips per iteration disappear.
    def renorm(rawIn: DataFrame): DataFrame = {
      val m = materialize(rawIn, Hash(Seq("rid")), Some("raw"))
      val raw = m.df
      vertices.join(raw, vertices("id") === raw("rid"), "left")
        .select(col("id"),
          expr("CAST(coalesce(raw, 0L) AS DECIMAL(38,0)) " +
            s"* $Scale DIV ${m.sum}L").as("units"))
    }
    var auth = vertices.withColumn("units", lit(Scale / n))
    var hubs = auth
    for (it <- 1 to iterations) {
      hubs = renorm(
        eBySrc.join(BroadcastCap.hint(auth, n), eBySrc("dst") === auth("id"))
          .groupBy(eBySrc("src").as("rid")).agg(sum("units").as("raw")))
      auth = renorm(
        eByDst.join(BroadcastCap.hint(hubs, n), eByDst("src") === hubs("id"))
          .groupBy(eByDst("dst").as("rid")).agg(sum("units").as("raw")))
    }
    hubs.select(col("id"), col("units").as("hub_units"))
      .join(auth.select(col("id"), col("units").as("auth_units")), "id")
      .select(col("id"), col("hub_units"), col("auth_units"),
        round(col("hub_units").cast("double") / Scale, 6).as("hub"),
        round(col("auth_units").cast("double") / Scale, 6).as("auth"))
  }

  /** Exact triangle census by DEGREE-ORDERED ORIENTATION — the classic
    * trick that makes exact triangle counting scale: orient each
    * undirected edge from its (degree, id)-smaller endpoint to the
    * larger, giving a DAG whose max out-degree is O(√m) regardless of
    * how skewed the raw degree distribution is (a hub of degree d keeps
    * only its edges toward HIGHER-degree vertices), so the wedge join
    * below is Σ outdeg² ≤ O(m^1.5) — never the Σ deg² blowup a naive
    * shared-neighbor join pays on a power-law graph. Each triangle has
    * exactly one source, one middle and one sink in the orientation, so
    * it is counted exactly once by closing u→v→w wedges with the u→w
    * edge: two equi-joins, both shuffle-partitioned on the join key, AQE
    * soaking residual hub skew.
    *
    * One-row output of exact integers — (n_nodes, n_edges,
    * n_triangles, n_wedges = Σ C(deg,2)) — plus the global transitivity
    * 3·T/W as a double of exact integers (6 dp): bit-stable
    * cross-engine. Accepts a DIRECTED edge list (both orientations, the
    * [[coOccurrenceEdges]] shape) or an undirected one; self-loops and
    * duplicates are dropped by the canonicalization. */
  def triangleStats(edges: DataFrame,
                    assumeCanonical: Boolean = false): DataFrame = {
    // assumeCanonical: skip the least/greatest + distinct pre-shuffle
    // when the caller guarantees (src < dst, deduplicated) input — the
    // labelPropagation opt-in (r14), adopted family-wide in the r15
    // optimization round (guide §2.4: a distinct on already-unique
    // rows is a removable edge-sized exchange). Wrong input silently
    // miscounts, so it stays opt-in.
    // The materializing job also counts the edges; the count picks the
    // join strategy below.
    val em = materialize(if (assumeCanonical)
      edges.select(col("src").as("u"), col("dst").as("v"))
    else edges
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct())
    val (e, m) = (em.df, em.rows)
    // The oriented edge list is two longs per edge — up to the
    // [[BroadcastCap]] (~64 MB) it broadcasts, turning BOTH triangle
    // joins into map-side hash probes: the ~Σ outdeg² wedge stream
    // pipelines through them with ZERO shuffle (the wedge set is the
    // dominant intermediate — m^1.5-ish — and never materializes).
    // Beyond the cap the hints drop away and AQE plans shuffle joins —
    // the crawl-scale path where no single edge list fits an executor.
    val deg = e.select(col("u").as("id"))
      .unionAll(e.select(col("v").as("id")))
      .groupBy("id").agg(count(lit(1)).as("d"))
      .localCheckpoint(true)
    val ew = e
      .join(BroadcastCap.hint(
        deg.select(col("id").as("u"), col("d").as("du")), m), "u")
      .join(BroadcastCap.hint(
        deg.select(col("id").as("v"), col("d").as("dv")), m), "v")
    val uFirst = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    val o = ew.select(
        when(uFirst, col("u")).otherwise(col("v")).as("s"),
        when(uFirst, col("v")).otherwise(col("u")).as("t"))
      .localCheckpoint(true)
    // Edge-iterator closure instead of a wedge JOIN: per oriented edge
    // (s, t), the triangles through it are |N⁺(s) ∩ N⁺(t)|. The work is
    // the same Σ outdeg² comparisons, but as one set-intersection
    // expression per EDGE row instead of materializing the m^1.5 wedge
    // stream through two join operators — measured ~3× faster at sf0.1
    // (the join spelling paid per-wedge row overhead on 83M rows).
    // Orientation still bounds each list at O(√m), hub-proof.
    val nbrs = o.groupBy("s").agg(sort_array(collect_list(col("t"))).as("ns"))
      .localCheckpoint(true)
    val tri = o
      .join(BroadcastCap.hint(nbrs, m), "s")
      .join(BroadcastCap.hint(
        nbrs.select(col("s").as("t"), col("ns").as("nt")), m),
        Seq("t"), "left")
      .select(when(col("nt").isNull, lit(0L))
        .otherwise(sortedIntersectCount(col("ns"), col("nt")))
        .cast("long").as("c"))
      .agg(sum("c").as("n_triangles"))
    val stats = deg.agg(count(lit(1)).as("n_nodes"),
      sum(expr("d * (d - 1) DIV 2")).as("n_wedges"))
    val nEdges = e.agg(count(lit(1)).as("n_edges"))
    stats.crossJoin(nEdges).crossJoin(tri)
      .select(col("n_nodes"), col("n_edges"), col("n_triangles"),
        col("n_wedges"),
        round(when(col("n_wedges") > 0,
          lit(3) * col("n_triangles").cast("double") / col("n_wedges"))
          .otherwise(lit(0.0)), 6).as("transitivity"))
  }

  /** Coreness (k-core number) of every vertex by the H-INDEX ITERATION
    * (Lü, Zhou, Zhang, Stanley, PNAS 2016): start every vertex at its
    * degree and repeatedly replace each vertex's value with the H-index
    * of its neighbours' current values —
    *
    *   c_0(v)   = deg(v)
    *   c_t+1(v) = max { h : ≥ h neighbours u have c_t(u) ≥ h }
    *
    * The sequence is pointwise non-increasing and converges to the
    * coreness; every step is a deterministic integer function of the
    * previous step, so a fixed iteration count is bit-identical on any
    * engine (the same exactness contract as [[pagerank]]).
    *
    * Shape per iteration: adjacency ⋈ values (the adjacency is
    * pre-partitioned on the neighbour key and checkpointed, so only the
    * small per-vertex value table shuffles), then the H-index per
    * vertex from the VALUE HISTOGRAM — groupBy(id, value) with map-side
    * combine first, so a 10M-degree hub compresses to at most
    * max-coreness distinct-value rows BEFORE the shuffle, then a tiny
    * per-vertex window over the distinct values descending:
    * H = max(min(value, cumulative count)). No per-neighbour sort, no
    * collect_list array — the histogram is the difference between
    * surviving a crawl hub and sorting 10M rows for it every
    * iteration. Each value frame is referenced once per iteration, so
    * the plan grows linearly; a localCheckpoint every 8 iterations
    * truncates lineage like [[pagerank]].
    *
    * Convergence: bounded by the graph's degeneracy ordering depth — a
    * handful of iterations on real (power-law) graphs; long induced
    * paths are the slow case. `converge = true` adds one cheap count
    * action per iteration and stops early once no value changed (use
    * for production; keep the fixed count for cross-engine oracles).
    *
    * @param edges undirected edge list (either one or both directions;
    *              self-loops and duplicates are dropped)
    * @return (id, coreness INT) for every non-isolated vertex */
  def coreness(edges: DataFrame, iterations: Int = 8,
               converge: Boolean = false,
               assumeCanonical: Boolean = false): DataFrame = {
    require(iterations >= 0, "iterations must be >= 0")
    // symmetric adjacency: each undirected edge contributes both rows.
    // assumeCanonical skips the re-canonicalization distinct when the
    // input is already (src < dst, distinct) — the labelPropagation
    // opt-in (r14), adopted family-wide r15 (guide §2.4)
    val canon = if (assumeCanonical)
      edges.select(col("src").as("u"), col("dst").as("v"))
    else edges
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
    // materialized ONCE with a DECLARED hash(id) layout (GraftShim):
    // HashPartitioning(id) satisfies the ClusteredDistribution of the
    // degree aggregate AND both per-iteration aggregates (id is a
    // subset of each key set), so they all plan with zero exchanges —
    // a plain localCheckpoint erases the layout and re-exchanges
    // every iteration (r14; measured 13.5 -> 7.8 s from layout alone,
    // further with the declaration)
    val adj0 = materialize(canon.select(col("u").as("id"), col("v").as("nbr"))
      .unionAll(canon.select(col("v").as("id"), col("u").as("nbr"))),
      Hash(Seq("id"))).df
    // A checkpointed value table carries no size stats, so without a
    // hint every iteration's join plans sort-merge — re-SORTING the full
    // adjacency each round. The value table is one (id, c) row per
    // vertex; up to ~4M vertices (~64 MB) broadcast it and the whole
    // iteration runs map-side up to the histogram shuffle. The
    // materialization job itself supplies the vertex count (GraftShim —
    // one job, not checkpoint + count). Past the cap, the adjacency is
    // instead pre-partitioned ONCE on the join key so the
    // per-iteration sort-merge join exchanges only the value table.
    val c0 =
      materialize(adj0.groupBy("id").agg(count(lit(1)).cast("int").as("c")))
    var c = c0.df
    val nVertices = c0.rows
    val bcast = BroadcastCap.fits(nVertices)
    // broadcast branch: pre-partition the adjacency by id ONCE —
    // HashPartitioning(id) satisfies ClusteredDistribution(id, nc) (a
    // subset of the grouping keys), so BOTH per-iteration aggregates
    // then plan with no exchange at all: the broadcast join preserves
    // the id-partitioning and 8 iterations run shuffle-free (r14; the
    // eager localCheckpoint preserves outputPartitioning)
    val adj = if (bcast) adj0
      else adj0.repartition(col("nbr")).localCheckpoint(true)
    // H-index over the per-vertex value histogram as ONE hash aggregate
    // + an inline fold: sort the ≤max-coreness (value, cnt) pairs desc
    // and take max(min(value, cumulative count)). The previous window
    // spelling paid an exchange + SORT of the full histogram per
    // iteration; collect_list+fold keeps the same shuffle but replaces
    // the sort with per-vertex work on a tiny array (the fold is an
    // interpreted higher-order fn — fine, it runs on vertex-cardinality
    // rows, not the adjacency).
    val histAgg = sort_array(collect_list(struct(col("nc"), col("cnt"))),
      asc = false)
    def hIndex(hist: org.apache.spark.sql.Column) =
      aggregate(hist,
        struct(lit(0L).as("cum"), lit(0L).as("h")),
        (acc, x) => {
          val cum = acc("cum") + x("cnt")
          struct(cum.as("cum"),
            greatest(acc("h"), least(x("nc").cast("long"), cum)).as("h"))
        },
        acc => acc("h").cast("int"))
    var it = 0
    var done = iterations == 0
    while (!done) {
      it += 1
      val next = adj
        .join(BroadcastCap.hint(
          c.select(col("id").as("nbr"), col("c").as("nc")), nVertices), "nbr")
        .groupBy("id", "nc").agg(count(lit(1)).as("cnt"))
        .groupBy("id").agg(histAgg.as("hist"))
        .select(col("id"), hIndex(col("hist")).as("c"))
      if (converge) {
        // must materialize to compare; the checkpoint doubles as the
        // lineage truncation
        val nextCp = next.localCheckpoint(true)
        val changed = nextCp.join(c.withColumnRenamed("c", "c0"), "id")
          .filter(col("c") =!= col("c0")).limit(1).count()
        c = nextCp
        done = changed == 0 || it >= iterations
      } else {
        // cadence 3, not [[pagerank]]'s 8: an iteration here chains a
        // join + two aggregations + a window, and the optimizer's cost
        // on the nested plan grows superlinearly — measured 4.8 s at
        // 4 chained iterations but 17 s at 8 on the sf0.1 co-purchase
        // graph, vs ~1.2 s/iteration with the cadence-3 truncation
        c = if (it % 3 == 0) next.localCheckpoint(true) else next
        done = it >= iterations
      }
    }
    c.withColumnRenamed("c", "coreness")
  }

  /** The k-CORE SUBGRAPH by iterative peeling: drop vertices of degree
    * < k, recompute degrees on the surviving edges, repeat to fixpoint.
    * Each round is one degree aggregation + two semi-joins; rounds are
    * bounded by the peel depth (a handful on real graphs). The result
    * is the maximal subgraph of minimum degree ≥ k — exactly the
    * vertices with [[coreness]] ≥ k (spec-pinned equivalence), but
    * peeling reaches the FIXPOINT directly and also returns the
    * surviving EDGES, which the coreness table alone doesn't.
    *
    * @return surviving canonical edges (src < dst) */
  def kCore(edges: DataFrame, k: Int, maxIter: Int = 100,
            assumeCanonical: Boolean = false): DataFrame = {
    require(k >= 1, "k must be >= 1")
    // every materialization folds its row count into the checkpoint
    // job (GraftShim) — the peel loop needs BOTH per round (broadcast
    // eligibility + termination), and the eager-checkpoint +
    // separate-count spelling paid 4 jobs/round where 2 suffice (the
    // r13 betweenness action-economy contract, adopted family-wide r14).
    // assumeCanonical: skip the re-canonicalization distinct on
    // guaranteed (src < dst, distinct) input (r15 opt; guide §2.4)
    // r15 audit note: a declared-hash(id) adjacency peel (zero
    // per-round exchange via a layout-preserving re-materialization)
    // was prototyped and MEASURED SLOWER (4.10 → 4.84 s min on the
    // bench k-core, within-window ratio vs coreness 1.46 → 1.75): the
    // round's degree exchange only carries vertex-sized rows after
    // map-side combine, while the adjacency spelling doubles the
    // per-round checkpoint copy volume (2m vs m rows). Reverted —
    // kept the r14 canonical-edge loop below.
    var e = materialize(if (assumeCanonical) edges.select("src", "dst")
    else edges
      .select(least(col("src"), col("dst")).as("src"),
        greatest(col("src"), col("dst")).as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct())
    var done = e.rows == 0
    var it = 0
    while (!done && it < maxIter) {
      it += 1
      val deg = e.df.select(col("src").as("id"))
        .unionAll(e.df.select(col("dst").as("id")))
        .groupBy("id").agg(count(lit(1)).as("d"))
      // keep is materialized (reused by both semi joins) and therefore
      // carries no size stats — unhinted, both semi joins plan SMJ and
      // SORT the surviving edge list twice per round. It is one id per
      // surviving vertex: broadcast below the cap (hash semi-probe, no
      // edge sort — measured 6.8 s → 4.7 s on the bench k-core), AQE beyond.
      val keep = materialize(deg.filter(col("d") >= k).select("id"))
      val kb = BroadcastCap.hint(keep.df, keep.rows)
      val e2 = materialize(e.df
        .join(kb.withColumnRenamed("id", "src"), Seq("src"), "left_semi")
        .join(kb.withColumnRenamed("id", "dst"), Seq("dst"), "left_semi")
        .select("src", "dst"))
      done = e2.rows == e.rows || e2.rows == 0
      e = e2
    }
    e.df
  }

  /** COMMUNITY DETECTION by synchronous label propagation (Raghavan,
    * Albert, Kumara 2007): every vertex starts as its own label and
    * repeatedly adopts the most frequent label among its NEIGHBOURS,
    * ties to the smallest label. Each step is a deterministic integer
    * function of the previous step, so a FIXED iteration count is
    * bit-identical on any engine — the same contract as [[coreness]]
    * (synchronous LPA can oscillate on bipartite structure; the fixed
    * count IS the spec, and production callers pick iterations ≈ the
    * expected community diameter).
    *
    * Shape per iteration: adjacency ⋈ labels (label table broadcast ≤
    * [[BroadcastCap]] vertices, the [[coreness]] contract), then
    * the per-vertex argmax from the LABEL HISTOGRAM — groupBy(id, lbl)
    * with map-side combine collapses a hub's neighbour list to its
    * distinct incident labels BEFORE the shuffle, and the argmax is
    * max(struct(count, −label)) — one hash aggregate, no window, no
    * sort. Labels must be NUMERIC (they are negated for the min-label
    * tie-break); vertex ids themselves are the initial labels.
    * Cadence-3 lineage truncation like [[coreness]].
    *
    * @param edges undirected edge list (either or both directions)
    * @return (id, community) — community = converged label */
  def labelPropagation(edges: DataFrame, iterations: Int = 4,
                       assumeCanonical: Boolean = false): DataFrame = {
    require(iterations >= 0, "iterations must be >= 0")
    // assumeCanonical skips the least/greatest + distinct pre-shuffle
    // when the caller guarantees (src < dst, deduplicated) input —
    // e.g. coOccurrenceEdgesCanonical output reused across LPA AND a
    // downstream modularity read; wrong input silently double-counts
    // neighbor votes, so it is opt-in
    val canon = if (assumeCanonical)
      edges.select(col("src").as("u"), col("dst").as("v"))
    else edges
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
    // pre-partitioned by id ONCE: HashPartitioning(id) satisfies the
    // ClusteredDistribution of BOTH per-iteration aggregates
    // (groupBy(id, lbl) then groupBy(id) — id is a subset of each key
    // set), so every LPA iteration plans with no exchange after the
    // broadcast label join (the r14 coreness co-partitioning trick;
    // measured 13.5 → 7.8 s there in the same window)
    val adj = materialize(canon.select(col("u").as("id"), col("v").as("nbr"))
      .unionAll(canon.select(col("v").as("id"), col("u").as("nbr"))),
      Hash(Seq("id"))).df
    // label-table materialization and vertex count in ONE job
    val l0 = materialize(adj.select(col("id")).distinct()
      .select(col("id"), col("id").as("lbl")))
    var l = l0.df
    for (it <- 1 to iterations) {
      val next = adj
        .join(BroadcastCap.hint(
          l.select(col("id").as("nbr"), col("lbl")), l0.rows), "nbr")
        .groupBy("id", "lbl").agg(count(lit(1)).as("cnt"))
        .groupBy("id")
        .agg(max(struct(col("cnt"),
          (lit(-1L) * col("lbl")).as("nl"))).as("m"))
        .select(col("id"), (lit(-1L) * col("m.nl")).as("lbl"))
      l = if (it % 3 == 0) next.localCheckpoint(true) else next
    }
    l.withColumnRenamed("lbl", "community")
  }

  /** Degree ASSORTATIVITY — the Pearson correlation of (deg(u), deg(v))
    * over the directed edge multiset (both directions of each
    * undirected edge, Newman 2002). Everything before the final
    * division is an exact integer: with S1 = Σ du, S2 = Σ du·dv,
    * S3 = Σ du² over the 2m directed endpoints,
    *
    *   r = (2m·S2 − S1²) / (2m·S3 − S1²)
    *
    * Sums accumulate as DECIMAL(38,0) (a 10⁷-degree hub squared times
    * 10⁹ edges overflows BIGINT), the ratio is one double division of
    * exact integers, rounded to 6 dp — bit-identical cross-engine, the
    * same rails as [[pagerank]] and [[triangleStats]]. Plan: degree
    * aggregate, two broadcast joins of the degree table (≤ ~4M vertices;
    * past the cap the hints drop and AQE shuffles), one global
    * aggregate. Disassortative graphs (hubs link to leaves — most
    * crawl/co-purchase graphs) give r < 0; r is null for degree-regular
    * graphs (zero variance). */
  def assortativity(edges: DataFrame,
                    assumeCanonical: Boolean = false): DataFrame = {
    // assumeCanonical: see [[triangleStats]] (r15, guide §2.4)
    val e = (if (assumeCanonical)
      edges.select(col("src").as("u"), col("dst").as("v"))
    else edges
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct())
      .localCheckpoint(true)
    // the vertex count rides the degree table's materializing job
    val dm = materialize(e.select(col("u").as("id"))
      .unionAll(e.select(col("v").as("id")))
      .groupBy("id").agg(count(lit(1)).as("d")))
    val (deg, n) = (dm.df, dm.rows)
    val dec = "decimal(38,0)"
    val ends = e
      .join(BroadcastCap.hint(
        deg.select(col("id").as("u"), col("d").as("du")), n), "u")
      .join(BroadcastCap.hint(
        deg.select(col("id").as("v"), col("d").as("dv")), n), "v")
      // both directions of each edge: (du,dv) and (dv,du)
      .select(col("du"), col("dv"))
    val sums = ends.agg(
      count(lit(1)).as("m"),
      sum((col("du") + col("dv")).cast(dec)).as("s1"),
      sum((col("du") * col("dv") * lit(2)).cast(dec)).as("s2"),
      sum((col("du") * col("du") + col("dv") * col("dv")).cast(dec))
        .as("s3"))
    sums.select(
      col("m").as("n_edges"),
      round(
        when(lit(2) * col("m") * col("s3") - col("s1") * col("s1") =!= 0,
          (lit(2) * col("m") * col("s2") - col("s1") * col("s1"))
            .cast("double") /
          (lit(2) * col("m") * col("s3") - col("s1") * col("s1"))
            .cast("double")),
        6).as("assortativity"))
  }

  /** Per-vertex LOCAL CLUSTERING COEFFICIENT — for each vertex, the
    * fraction of its neighbour pairs that are themselves connected:
    * lcc(v) = 2·tri(v) / (d(v)·(d(v)−1)). Per-vertex triangle counts
    * come from the same degree-ordered orientation as
    * [[triangleStats]] (each triangle closes exactly one oriented
    * wedge, so the wedge stream is Σ outdeg² ≤ O(m^1.5) — hub-proof),
    * with each closed wedge exploded to its three corners and counted
    * per corner: one extra map-side explode + one aggregate over
    * TRIANGLE rows (bounded by the triangle count, typically ≪ the
    * wedge count) beyond the census. Triangle counts and degrees are
    * exact integers; lcc reports in INTEGER MICRO-UNITS
    * (lcc_micro = 2·tri·10⁶ div (d·(d−1)) — integer div truncates the
    * same on every engine) plus the display double lcc_micro/10⁶ (one
    * exact-input IEEE division) — the same rails as [[pagerank]],
    * chosen because a per-vertex round() would fork engines on any
    * vertex whose lcc happens to terminate one digit past the rounding
    * precision (e.g. 1/128). Vertices of degree < 2 report null (no
    * neighbour pair to close).
    *
    * @param edges undirected edge list (either or both directions;
    *              self-loops and duplicates dropped)
    * @return (id, deg BIGINT, triangles BIGINT, lcc_micro BIGINT,
    *         lcc DOUBLE) */
  def localClustering(edges: DataFrame,
                      assumeCanonical: Boolean = false): DataFrame = {
    // assumeCanonical: see [[triangleStats]] (r15, guide §2.4); the
    // edge count rides the materializing job, as there
    val em = materialize(if (assumeCanonical)
      edges.select(col("src").as("u"), col("dst").as("v"))
    else edges
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct())
    val (e, m) = (em.df, em.rows)
    val deg = e.select(col("u").as("id"))
      .unionAll(e.select(col("v").as("id")))
      .groupBy("id").agg(count(lit(1)).as("d"))
      .localCheckpoint(true)
    val ew = e
      .join(BroadcastCap.hint(
        deg.select(col("id").as("u"), col("d").as("du")), m), "u")
      .join(BroadcastCap.hint(
        deg.select(col("id").as("v"), col("d").as("dv")), m), "v")
    val uFirst = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    val o = ew.select(
        when(uFirst, col("u")).otherwise(col("v")).as("s"),
        when(uFirst, col("v")).otherwise(col("u")).as("t"))
      .localCheckpoint(true)
    // Edge-iterator closure (see [[triangleStats]]): per oriented edge
    // (s, t), ws = N⁺(s) ∩ N⁺(t) lists this edge's triangles' third
    // corners. Each found triangle increments s and t by |ws| and each
    // w by 1.
    //
    // r15 (guide §1.2 per-task work): the old single-generator
    // emission built concat(array(structs), transform(ws, ...)) per
    // edge — `transform` is a CodegenFallback higher-order function,
    // so the WHOLE 2m+3T corner stream was produced in interpreted
    // mode (profiled 4.6 s vs 0.9 s for the identical joins +
    // intersect with a plain size()). Now the intersection is
    // computed ONCE into a checkpoint (arrays total T elements) and
    // consumed by three fully-codegen aggregates: endpoint sums over
    // the edge rows and a plain explode of ws for the apex counts —
    // same corner multiset, same integer totals.
    val nbrs = o.groupBy("s").agg(sort_array(collect_list(col("t"))).as("ns"))
      .localCheckpoint(true)
    val empty = slice(col("ns"), 1, 0) // typed empty array
    val ws = coalesce(when(col("nt").isNotNull,
      sortedIntersectArr(col("ns"), col("nt"))), empty)
    val withWs = o
      .join(BroadcastCap.hint(nbrs, m), "s")
      .join(BroadcastCap.hint(
        nbrs.select(col("s").as("t"), col("ns").as("nt")), m),
        Seq("t"), "left")
      .select(col("s"), col("t"), size(ws).cast("long").as("c"),
        ws.as("ws"))
      .localCheckpoint(true)
    val endpoints = withWs.select(col("s").as("id"), col("c"))
      .unionAll(withWs.select(col("t").as("id"), col("c")))
      .groupBy("id").agg(sum("c").as("tri_st"))
    val apexes = withWs.select(explode(col("ws")).as("id"))
      .groupBy("id").agg(count(lit(1)).as("tri_w"))
    // every vertex with an edge appears as an endpoint of some
    // oriented edge, so the endpoint aggregate covers the vertex set
    val tri = endpoints.join(apexes, Seq("id"), "left")
      .select(col("id"),
        (col("tri_st") + coalesce(col("tri_w"), lit(0L))).as("tri"))
    deg.join(tri, Seq("id"), "left")
      .select(col("id"), col("d").as("deg"),
        coalesce(col("tri"), lit(0L)).as("triangles"))
      .withColumn("lcc_micro",
        when(col("deg") >= 2,
          expr("2 * triangles * 1000000 DIV (deg * (deg - 1))")))
      .withColumn("lcc", col("lcc_micro").cast("double") / 1000000)
  }

  /** COMMON-NEIGHBOR link prediction — for every NON-adjacent vertex
    * pair sharing at least one neighbour, the exact number of shared
    * neighbours (the classic link-prediction baseline; Liben-Nowell &
    * Kleinberg 2003). Wedges are generated through each CENTER vertex
    * (adjacency self-joined on the center, emitting each unordered end
    * pair once), counted per pair with map-side partial aggregation,
    * then already-connected pairs leave via one anti-join against the
    * canonical edge set. Counts are exact integers, so the top-k order
    * (count desc, then (u, v)) is total and cross-engine stable.
    *
    * Cost is Σ_v C(d(v), 2) wedge rows — quadratic in the HUB degree.
    * That is the honest cost of exact common-neighbor counting;
    * `maxCenterDeg` caps it for crawl-scale graphs by skipping centers
    * above the cap (a star hub's million ends pairwise share only that
    * hub — dropping it loses exactly those count-1 pairs first, the
    * standard recall trade, OFF by default so the default answer is
    * exact).
    *
    * Besides the raw count, each pair carries its NEIGHBORHOOD JACCARD
    * |N(u)∩N(v)| / |N(u)∪N(v)| in integer micro-units
    * (common·10⁶ div (d(u)+d(v)−common) — same no-round() rails as
    * [[localClustering]]): the degree-normalized score that stops hubs
    * from dominating every ranking, and the graph-side analogue of the
    * shingle Jaccard the dedup family uses.
    *
    * @param edges undirected edge list (either or both directions)
    * @return (u, v, common BIGINT, du, dv BIGINT, jaccard_micro BIGINT)
    *         with u < v, non-adjacent pairs only */
  def commonNeighbors(edges: DataFrame,
                      maxCenterDeg: Option[Long] = None,
                      assumeCanonical: Boolean = false): DataFrame = {
    // assumeCanonical: see [[triangleStats]] (r15, guide §2.4)
    val em = materialize(if (assumeCanonical)
      edges.select(col("src").as("u"), col("dst").as("v"))
    else edges
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct())
    val e = em.df
    val adj = e.select(col("u").as("id"), col("v").as("nbr"))
      .unionAll(e.select(col("v").as("id"), col("u").as("nbr")))
    // r16 (guide §2.3/§2.4, the postings-list pattern of the dedup
    // ngram family): wedge ends come from each center's SORTED
    // neighbour list through two codegen generators instead of the
    // adjacency self-join on the center id, which exchanged the 2m-row
    // adjacency TWICE (self-join rename blocks exchange reuse) and
    // paid two sorts + an SMJ. Neighbour lists are distinct per center
    // (e is a canonical edge SET), so sorted-list pairs (i < j)
    // reproduce the old nbr < nbr2 predicate exactly; the list
    // aggregate ALSO yields each vertex's degree (size of its list)
    // and the vertex count, deleting the separate degree aggregate,
    // its checkpoint, and the maxCenterDeg semi-join.
    val lm = materialize(
      adj.groupBy("id").agg(sort_array(collect_list(col("nbr"))).as("ns")))
    val (lists, nVertices) = (lm.df, lm.rows)
    val deg = lists.select(col("id"), size(col("ns")).cast("long").as("d"))
    val centers = maxCenterDeg match {
      case Some(cap) => lists.filter(size(col("ns")) <= cap)
      case None => lists
    }
    centers
      .select(posexplode(col("ns")).as(Seq("i", "a")), col("ns"))
      .select(col("a").as("u"), explode(slice(col("ns"), col("i") + lit(2),
        greatest(size(col("ns")) - col("i") - lit(1), lit(0)))).as("v"))
      .groupBy(col("u"), col("v"))
      .agg(count(lit(1)).as("common"))
      .join(BroadcastCap.hint(e, em.rows), Seq("u", "v"), "left_anti")
      .join(BroadcastCap.hint(
        deg.select(col("id").as("u"), col("d").as("du")), nVertices), "u")
      .join(BroadcastCap.hint(
        deg.select(col("id").as("v"), col("d").as("dv")), nVertices), "v")
      .withColumn("jaccard_micro",
        expr("common * 1000000 DIV (du + dv - common)"))
      .select("u", "v", "common", "du", "dv", "jaccard_micro")
  }

  /** Co-occurrence edges: for rows sharing `groupCol`, every ordered
    * pair of DISTINCT `itemCol` values becomes a directed edge (both
    * directions — the symmetric projection of the bipartite
    * group–item graph, e.g. parts co-purchased in one order). The
    * within-group self-join is quadratic in GROUP size only — bounded
    * by the largest basket, not the corpus — and the group key never
    * shuffles more than the two aggregate passes need. */
  def coOccurrenceEdges(df: DataFrame, groupCol: String,
                        itemCol: String): DataFrame = {
    // materialized once (the union references it twice — unmaterialized,
    // the join + distinct would run per branch); the mirrored directions
    // are disjoint from the canonical ones (src < dst vs src > dst), so
    // the union needs no further distinct — the dedup ran on HALF the
    // pair volume the naive both-directions self-join + distinct shuffles
    val c = coOccurrenceEdgesCanonical(df, groupCol, itemCol)
      .localCheckpoint(true)
    c.unionAll(c.select(col("dst").as("src"), col("src").as("dst")))
  }

  /** Canonical (src < dst, distinct) co-occurrence pairs — the
    * undirected half of [[coOccurrenceEdges]] and the natural input for
    * [[triangleStats]].
    *
    * r15 optimization (guide §2.3/§2.4): ONE exchange builds the
    * per-group sorted item set (collect_set dedups (g, item) inside
    * the same aggregate — the old spelling's separate distinct), and
    * pairs are emitted IN PLACE by two generators (each element joined
    * with the tail of its own sorted array), so the within-group
    * self-join — which re-exchanged the deduplicated items on g for
    * BOTH join sides (the rename blocks exchange reuse) and paid two
    * sorts — disappears. Plan went 4 exchanges + SMJ → 2 exchanges,
    * measured 1.75 s → ~1.0 s on the sf0.1 co-purchase build (3-rep
    * mins, same window). Pair volume and the final cross-group dedup
    * are unchanged — still quadratic in GROUP size only, bounded by
    * the largest basket. sort_array pins ascending order, so src < dst
    * by the item type's natural ordering, exactly as the old
    * item < item2 filter; collect_set drops null items like the old
    * null-rejecting < predicate. */
  def coOccurrenceEdgesCanonical(df: DataFrame, groupCol: String,
                                 itemCol: String): DataFrame = {
    df.select(col(groupCol).as("g"), col(itemCol).as("item"))
      .groupBy("g")
      .agg(sort_array(collect_set(col("item"))).as("xs"))
      .select(posexplode(col("xs")).as(Seq("i", "src")), col("xs"))
      .select(col("src"),
        explode(slice(col("xs"), col("i") + lit(2),
          greatest(size(col("xs")) - col("i") - lit(1), lit(0))))
          .as("dst"))
      .distinct()
  }

  /** WEIGHTED co-occurrence edges: [[coOccurrenceEdges]] with
    * w = the number of groups the pair shares (both directions).
    * Same canonical-half trick — co-occurrence counts are symmetric
    * (|{g : a,b ∈ g}| = |{g : b,a ∈ g}|), so the generator emits each
    * unordered pair ONCE per group (src < dst), the counting aggregate
    * shuffles HALF the pair volume, and the mirror directions are
    * unioned onto the checkpointed counts for free. The naive
    * both-directions spelling (filter `!=` + groupBy over 2× the rows)
    * was exactly why graph_pagerank_weighted trailed its unweighted
    * peer (r14 weak flag): same iteration rails, double the edge-build
    * shuffle. */
  def coOccurrenceEdgesWeighted(df: DataFrame, groupCol: String,
                                itemCol: String): DataFrame = {
    // r15: same join-free generator emission as
    // [[coOccurrenceEdgesCanonical]] — each unordered pair appears
    // exactly once per group, so the counting aggregate over the
    // emitted stream reproduces the shared-group count bit for bit
    val c = df.select(col(groupCol).as("g"), col(itemCol).as("item"))
      .groupBy("g")
      .agg(sort_array(collect_set(col("item"))).as("xs"))
      .select(posexplode(col("xs")).as(Seq("i", "src")), col("xs"))
      .select(col("src"),
        explode(slice(col("xs"), col("i") + lit(2),
          greatest(size(col("xs")) - col("i") - lit(1), lit(0))))
          .as("dst"))
      .groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).as("w"))
      .localCheckpoint(true)
    c.unionAll(c.select(col("dst").as("src"), col("src").as("dst"), col("w")))
  }

  /** DEGREE DISTRIBUTION of a directed edge list: for each degree
    * value, how many vertices have that in-/out-degree — the
    * histogram every crawl-graph health check starts from (a power-law
    * tail says "hubs exist, plan for skew"; a spike at 1 says "mostly
    * leaves"). Vertices missing from a side count at degree 0, so the
    * two histograms sum to the same vertex total. Exact integers; two
    * map-side-combinable aggregates over the (deduplicated) edge list.
    *
    * @return (kind 'in'|'out', degree, n_nodes) */
  def degreeReport(edges: DataFrame): DataFrame = {
    val e = edges.select(col("src"), col("dst")).distinct()
      .localCheckpoint(true)
    val vertices = e.select(col("src").as("id"))
      .unionAll(e.select(col("dst").as("id"))).distinct()
    def hist(kind: String, keyCol: String): DataFrame = {
      val deg = e.groupBy(col(keyCol).as("id"))
        .agg(count(lit(1)).as("degree"))
      vertices.join(deg, Seq("id"), "left")
        .select(coalesce(col("degree"), lit(0L)).as("degree"))
        .groupBy("degree").agg(count(lit(1)).as("n_nodes"))
        .select(lit(kind).as("kind"), col("degree"), col("n_nodes"))
    }
    hist("out", "src").unionAll(hist("in", "dst"))
  }

  /** RECIPROCITY of a directed graph: the share of (deduplicated,
    * loop-free) edges whose reverse edge also exists — near 1 on a
    * mutual-link spam ring, low on an organic citation/link graph, so
    * it reads as a structural spam signal at host level. One row of
    * exact integers with the ratio in micro-units (integer DIV — the
    * graph family's no-float contract). The reverse check is one
    * left-semi self-join on the canonical key: co-partitioned, no
    * row explosion. */
  def reciprocity(edges: DataFrame): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst")).distinct()
      .localCheckpoint(true)
    val recip = e.join(
      e.select(col("dst").as("src"), col("src").as("dst")),
      Seq("src", "dst"), "left_semi")
    e.agg(count(lit(1)).as("n_edges"))
      .crossJoin(recip.agg(count(lit(1)).as("n_reciprocated")))
      .select(col("n_edges"), col("n_reciprocated"),
        when(col("n_edges") > 0,
          expr("n_reciprocated * 1000000 DIV n_edges"))
          .otherwise(lit(0L)).as("reciprocity_micro"))
  }

  /** MULTI-SOURCE BFS hop distances: the exact unweighted shortest-hop
    * distance from ANY seed vertex, out to `maxHops` — the
    * crawl-frontier / influence-radius primitive ("everything within 3
    * clicks of the trusted set"), and the exact companion to
    * [[trustRank]]'s damped mass (TrustRank tells you HOW MUCH seed
    * authority reaches a page; BFS tells you at WHAT DEPTH it first
    * does). Vertices unreachable within `maxHops` are absent.
    *
    * Level-synchronous frontier expansion — the standard distributed
    * BFS: hop h joins the CURRENT FRONTIER (vertices first seen at
    * h−1, never the whole visited set) against the edge list on src
    * (co-keyed shuffle), dedups the targets, and anti-joins the
    * visited table to keep only first sightings. Per-hop cost is
    * ∝ edges incident to the frontier, total cost ∝ edges reached —
    * never hops × |E|. Each hop's frontier materializes through ONE
    * count-folding checkpoint job (GraftShim, the betweenness action-
    * economy contract); the visited set is a lazy union over those
    * checkpointed frontiers, and frontier/visited probes broadcast
    * below the [[BroadcastCap]] (the [[kCore]] keep-list
    * discipline; AQE handles them beyond). Distances are exact
    * integers — same result on any engine, any partitioning.
    *
    * @param edges directed edges (src, dst); pass both directions for
    *              an undirected read
    * @param seeds one-column frame of seed vertex ids (column `id`)
    * @return (id, dist) — dist 0 for seeds, ≤ maxHops elsewhere */
  def bfsDistances(edges: DataFrame, seeds: DataFrame, maxHops: Int = 6,
                   assumeDistinct: Boolean = false): DataFrame = {
    require(maxHops >= 0, "maxHops must be >= 0")
    // r14 action economy (the betweenness r13 contract): each hop's
    // frontier materializes through GraftShim — the checkpoint job IS
    // the count job — and the visited set is a LAZY union over the
    // already-checkpointed frontiers (the per-hop visited re-checkpoint
    // re-copied O(reached) rows every hop for nothing). One job per
    // hop instead of three.
    // dst-partitioned ONCE: the per-hop frontier distinct keys on
    // dst and the broadcast probes preserve this partitioning — no
    // per-hop exchange (r14 co-partitioning trick). assumeDistinct:
    // skip the dedup when the caller guarantees a deduplicated edge
    // list (duplicate edges don't change BFS REACHABILITY, but they
    // would inflate the per-hop frontier expansion, so the dedup is
    // kept by default; r15 opt, guide §2.4)
    val e = materialize(
      if (assumeDistinct) edges.select(col("src"), col("dst"))
      else edges.select(col("src"), col("dst")).distinct(), Hash(Seq("dst"))).df
    val seed0 = materialize(seeds.select(col("id")).distinct())
    var visited = seed0.df.withColumn("dist", lit(0L))
    var frontier = seed0.df
    var nFrontier = seed0.rows
    var nVisited = nFrontier
    var h = 0L
    while (nFrontier > 0 && h < maxHops) {
      h += 1
      val nm = materialize(e
        .join(BroadcastCap.hint(
          frontier.withColumnRenamed("id", "src"), nFrontier),
          Seq("src"), "left_semi")
        .select(col("dst").as("id")).distinct()
        .join(BroadcastCap.hint(visited.select("id"), nVisited),
          Seq("id"), "left_anti"))
      val next = nm.df
      nFrontier = nm.rows
      if (nFrontier > 0) {
        visited = visited.unionAll(next.withColumn("dist", lit(h)))
        nVisited += nFrontier
        // the lazy frontier union keeps hops one-job, but the plan grows
        // with h and each hop re-analyzes the whole union — collapse it
        // periodically so a deep walk pays O(hops) analysis, not O(hops²)
        // (labelPropagation's it%3 pattern; r14 advice)
        if (h % 6 == 0 && h < maxHops) visited = visited.localCheckpoint(true)
      }
      frontier = next
    }
    visited
  }

  /** LABELED multi-source BFS: exact hop distance from EACH seed
    * separately — (label, id, dist) per (seed, reached vertex) pair,
    * where [[bfsDistances]] collapses all seeds into one wave. This is
    * the pivot-distance primitive behind sampled closeness/harmonic
    * centrality (Eppstein–Wang 2001: k random pivots estimate
    * centrality within O(√(log n / k)) — exact per-pivot distances,
    * sampling error only in the pivot choice) and per-seed influence
    * radii.
    *
    * Same level-synchronous shape as [[bfsDistances]] with the label
    * carried through the frontier: hop h joins the (label, id) frontier
    * to the edge list on src (co-keyed shuffle; the frontier side
    * broadcasts below the [[BroadcastCap]]), dedups per (label, dst),
    * and anti-joins the visited table on BOTH columns. State is
    * |seeds| × reached — keep the pivot set small (tens), which is
    * exactly the sampled-centrality regime.
    *
    * @param seeds (id, label) — one BFS wave per distinct label;
    *              typically label = the pivot's own id
    * @return (label, id, dist) with dist ≤ maxHops, dist 0 = the seed */
  def bfsDistancesLabeled(edges: DataFrame, seeds: DataFrame,
                          maxHops: Int = 6,
                          assumeDistinct: Boolean = false): DataFrame = {
    require(maxHops >= 0, "maxHops must be >= 0")
    // same one-job-per-hop shape as [[bfsDistances]] (r14)
    // dst-partitioned ONCE: the per-hop frontier distinct keys on
    // dst and the broadcast probes preserve this partitioning — no
    // per-hop exchange (r14 co-partitioning trick). assumeDistinct:
    // see [[bfsDistances]] (r15, guide §2.4)
    val e = materialize(
      if (assumeDistinct) edges.select(col("src"), col("dst"))
      else edges.select(col("src"), col("dst")).distinct(), Hash(Seq("dst"))).df
    val seed0 = materialize(seeds.select(col("label"), col("id")).distinct())
    var visited = seed0.df.withColumn("dist", lit(0L))
    var frontier = seed0.df
    var nFrontier = seed0.rows
    var nVisited = nFrontier
    var h = 0L
    while (nFrontier > 0 && h < maxHops) {
      h += 1
      val nm = materialize(e
        .join(BroadcastCap.hint(
          frontier.withColumnRenamed("id", "src"), nFrontier), Seq("src"))
        .select(col("label"), col("dst").as("id")).distinct()
        .join(BroadcastCap.hint(visited.select("label", "id"), nVisited),
          Seq("label", "id"), "left_anti"))
      val next = nm.df
      nFrontier = nm.rows
      if (nFrontier > 0) {
        visited = visited.unionAll(next.withColumn("dist", lit(h)))
        nVisited += nFrontier
        // collapse the lazy union periodically — see [[bfsDistances]]
        if (h % 6 == 0 && h < maxHops) visited = visited.localCheckpoint(true)
      }
      frontier = next
    }
    visited
  }

  /** Sampled HARMONIC CENTRALITY from pivot seeds: per vertex,
    * Σ over pivots within `maxHops` of 1/dist in exact micro-units
    * (10⁶ div dist — integer, engine-identical), plus the pivot count
    * reached. Harmonic (not closeness) so disconnected pivots simply
    * contribute 0 rather than poisoning the mean (Boldi–Vigna 2014's
    * argument for harmonic as THE centrality on disconnected graphs).
    * Pivots themselves are excluded from their own sum (dist 0).
    * Cost: [[bfsDistancesLabeled]] + one hash aggregate. */
  def harmonicCentrality(edges: DataFrame, pivots: DataFrame,
                         maxHops: Int = 4,
                         assumeDistinct: Boolean = false): DataFrame =
    bfsDistancesLabeled(edges,
        pivots.select(col("id"), col("id").as("label")), maxHops,
        assumeDistinct = assumeDistinct)
      .filter(col("dist") > 0)
      .groupBy("id")
      .agg(count(lit(1)).as("n_pivots"),
        sum(expr("1000000 div dist")).as("harmonic_micro"))

  /** Pivot-sampled BOUNDED-DISTANCE BETWEENNESS — Brandes 2001
    * restricted to shortest paths from `pivots` of length ≤ `maxHops`
    * (the k-betweenness/ego-betweenness family: Everett & Borgatti
    * 2005): which vertices sit ON the short paths between others — the
    * broker read that degree/harmonic/pagerank all miss (a low-degree
    * bridge between two communities scores ~0 on all three).
    *
    * Forward: the [[bfsDistancesLabeled]] level-synchronous wave also
    * carrying σ — the NUMBER of shortest paths, exact BIGINT:
    * σ_h(w) = Σ σ_{h−1}(v) over its level-(h−1) predecessors (one
    * grouped aggregate per hop instead of the distinct). Backward:
    * Brandes' pair dependencies in micro-units, per successor edge
    *
    *   term(v→w) = σ(v)·(10⁶ + δ(w)) div σ(w)
    *
    * — positive truncated integer terms on DECIMAL(38,0) (σ products
    * overflow BIGINT on dense graphs), summed order-free, one backward
    * join per level. δ_s(s) rows are excluded (endpoints don't count);
    * on an undirected graph each unordered (s,t) pair is counted once
    * per pivot endpoint that is sampled — the standard sampled-source
    * convention.
    *
    * Scale shape: forward = maxHops grouped frontier joins (frontier
    * broadcasts below the cap); backward = maxHops co-keyed joins of
    * adjacent levels. State is |pivots| × reached, the sampled-
    * centrality regime (keep pivots in the tens).
    *
    * Action economy (r13): each frontier materializes through
    * [[org.apache.spark.sql.GraftShim.materialize]] — the
    * checkpoint-materializing job itself returns the count, instead of
    * the eager-localCheckpoint + separate-count pair that ran two jobs
    * per level — and the visited set is a lazy union over the
    * checkpointed frontiers (the per-level visited re-checkpoint
    * re-copied O(reached) rows every hop for nothing). Same raw-row
    * storage, same plans, ~half the scheduler round-trips: this was
    * the most contention-sensitive query in the bench suite (r12).
    *
    * @return (id, bc_micro) for non-pivot vertices with bc_micro > 0 */
  def betweennessPivots(edges: DataFrame, pivots: DataFrame,
                        maxHops: Int = 3,
                        assumeDistinct: Boolean = false): DataFrame = {
    require(maxHops >= 1, "maxHops must be >= 1")
    // dst-partitioned ONCE: each forward level's grouped frontier
    // aggregate keys on (label, dst) and the broadcast frontier join
    // preserves this partitioning, so the per-level exchange vanishes
    // (the r14 coreness co-partitioning trick). assumeDistinct: skip
    // the dedup on guaranteed-deduplicated input — a duplicate edge
    // would double-count σ paths, so it stays opt-in (r15, guide §2.4)
    val e = materialize(
      if (assumeDistinct) edges.select(col("src"), col("dst"))
      else edges.select(col("src"), col("dst")).distinct(), Hash(Seq("dst"))).df
    // forward: levels(h) = (label, id, sig); per-level counts retained
    // for the backward phase's broadcast decisions
    val l0 = materialize(pivots.select(col("id").as("label"), col("id"))
      .distinct().withColumn("sig", lit(1L).cast("decimal(38,0)")))
    val levels = scala.collection.mutable.ArrayBuffer(l0.df)
    val nLevels = scala.collection.mutable.ArrayBuffer(l0.rows)
    var visited = l0.df.select("label", "id")
    var nFrontier = l0.rows
    var nVisited = nFrontier
    var h = 0
    while (nFrontier > 0 && h < maxHops) {
      h += 1
      val nm = materialize(e
        .join(BroadcastCap.hint(levels.last.withColumnRenamed("id", "src"),
          nFrontier), Seq("src"))
        .groupBy(col("label"), col("dst").as("id"))
        .agg(sum("sig").as("sig"))
        .join(BroadcastCap.hint(visited, nVisited), Seq("label", "id"),
          "left_anti"))
      val next = nm.df
      nFrontier = nm.rows
      if (nFrontier > 0) {
        levels += next
        nLevels += nFrontier
        visited = visited.unionAll(next.select("label", "id"))
        nVisited += nFrontier
      }
    }
    // backward: δ over adjacent levels, deepest level δ = 0. Each
    // level's (σ, δ) ride ONE frame, so a level is a single broadcast
    // probe of the STATIONARY hash(dst) edge list (w-side) + a
    // broadcast v-side filter + one aggregate whose exchange carries
    // only the matched level-adjacent term rows. The previous spelling
    // expanded levels(k) through `e` on src — re-exchanging the full
    // edge list (declared hash(dst), so never src-aligned) AND the
    // expanded rows again on (label,dst), every level (r15 job audit).
    val maxL = levels.length - 1
    var delta = levels(maxL).withColumn("d", lit(0L)).localCheckpoint(true)
    def accSlice(df: DataFrame) = df.select("label", "id", "d")
    var acc = if (maxL > 0) accSlice(delta) else accSlice(delta).limit(0)
    for (k <- (maxL - 1) to 0 by -1) {
      // r15 join-ORDER fix (guide §3.1): probe the stationary edge
      // list with the SMALLER level first, so the between-joins
      // intermediate is Σ outdeg over the small side, not the big one.
      // At 8 pivots / 3 hops the old fixed order expanded e through
      // the near-vertex-sized level-2 delta (~14M intermediate rows at
      // sf0.1) before the ~1k-row level-1 filter could cut it; with
      // the level counts already on hand the cheap side is known
      // exactly. Inner joins commute — identical rows, same aggregate.
      val dSide = delta.select(col("label"), col("id").as("dst"),
        col("sig").as("__sw"), col("d").as("__dw"))
      val vSide = levels(k).select(col("label"), col("id").as("src"),
        col("sig").as("__sv"))
      val expanded = if (nLevels(k) < nLevels(k + 1))
        e.join(BroadcastCap.hint(vSide, nLevels(k)), Seq("src"))
          .join(BroadcastCap.hint(dSide, nLevels(k + 1)), Seq("label", "dst"))
      else
        e.join(BroadcastCap.hint(dSide, nLevels(k + 1)), Seq("dst"))
          .join(BroadcastCap.hint(vSide, nLevels(k)), Seq("label", "src"))
      val dkAgg = expanded
        .groupBy(col("label"), col("src").as("id"))
        .agg(sum(expr(
          "CAST(__sv AS DECIMAL(38,0)) * (1000000 + __dw) div __sw"))
          .cast("long").as("d"))
      // vertices with no level-(k+1) successor keep δ = 0 (they still
      // carry σ for the next round)
      delta = levels(k).join(dkAgg, Seq("label", "id"), "left")
        .select(col("label"), col("id"), col("sig"),
          coalesce(col("d"), lit(0L)).as("d"))
        .localCheckpoint(true)
      acc = if (k > 0) acc.unionAll(accSlice(delta)) else acc // pivots excluded
    }
    acc.filter(col("d") > 0)
      .groupBy("id").agg(sum("d").as("bc_micro"))
      .filter(col("bc_micro") > 0)
  }

  /** RANDOM-WALK CORPUS over an undirected graph — the DeepWalk /
    * node2vec PREP step (Perozzi 2014): emit per-node walk sequences
    * that a skip-gram trainer ([[graft.ops.Phrases.skipgramCounts]],
    * `train_negative_table`) then consumes like sentences. The walks
    * are DETERMINISTIC: step s from node cur draws neighbor index
    * md5(start, walk, s, cur) % deg(cur) — the repo's reproducible-
    * randomization rail ([[graft.ops.Insight.signFlipTest]]'s bits),
    * so the corpus is identical on any engine, any partitioning, any
    * rerun; conditioning on (start, walk, s) as well as cur keeps
    * revisits from looping deterministically.
    *
    * Shape: one adjacency aggregate (sorted neighbor arrays — sorting
    * fixes the index→neighbor map cross-engine), then `steps` co-keyed
    * joins of the walk frontier against the adjacency table (broadcast
    * below the vertex cap). Hub rows carry their neighbor array
    * through the join — the honest cost of array-indexed stepping; at
    * crawl scale cap hub degree upstream (the [[commonNeighbors]]
    * maxCenterDeg precedent). Isolated vertices never seed (no
    * neighbors to step to — they are absent from the edge list).
    *
    * @return (start, walk_id, path) — path = space-joined node ids,
    *         steps+1 entries */
  def walkCorpus(edges: DataFrame, steps: Int = 3, walksPerNode: Int = 1,
                 assumeCanonical: Boolean = false): DataFrame = {
    require(steps >= 1, "walkCorpus needs steps >= 1")
    require(walksPerNode >= 1, "walkCorpus needs walksPerNode >= 1")
    // assumeCanonical: see [[triangleStats]] (r15, guide §2.4)
    val canon = if (assumeCanonical)
      edges.select(col("src").as("u"), col("dst").as("v"))
    else edges
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
    // materialized: seeds + one probe per step; the vertex count rides
    // the same job
    val am = materialize(canon.select(col("u").as("id"), col("v").as("nbr"))
      .unionAll(canon.select(col("v").as("id"), col("u").as("nbr")))
      .groupBy("id").agg(sort_array(collect_list("nbr")).as("ns")))
    val (adj, nV) = (am.df, am.rows)
    var state = adj
      .select(col("id").as("start"),
        explode(expr(s"sequence(1, $walksPerNode)")).as("__w"))
      .select(col("start"), col("__w").cast("long").as("walk_id"))
      .withColumn("cur", col("start"))
      .withColumn("__path", array(col("start")))
    for (s <- 1 to steps) {
      state = state
        .join(BroadcastCap.hint(adj.withColumnRenamed("id", "cur"), nV),
          Seq("cur"))
        .withColumn("__nxt", expr("element_at(ns, CAST(" +
          s"CAST(conv(substring(md5(concat(start, '_', walk_id, '_', " +
          s"$s, '_', cur)), 1, 8), 16, 10) AS BIGINT) % size(ns) + 1" +
          " AS INT))"))
        .select(col("start"), col("walk_id"), col("__nxt").as("cur"),
          concat(col("__path"), array(col("__nxt"))).as("__path"))
    }
    state.select(col("start"), col("walk_id"),
      array_join(col("__path").cast("array<string>"), " ").as("path"))
  }

  /** K-TRUSS peel — the triangle-reinforced community core (Cohen
    * 2008): keep only edges supported by ≥ k−2 triangles, where the
    * support is re-counted in the SURVIVING subgraph each round — the
    * edge-level analogue of [[kCore]], and much harder to fake with a
    * star (a hub's spokes have support 0). Like [[coreness]]/
    * [[labelPropagation]], the cross-engine contract is a FIXED
    * number of synchronous peel rounds (`iterations`), after which
    * support is counted once more on the survivors for the report —
    * so every reported number is consistent with the returned
    * subgraph, not a stale pre-peel count.
    *
    * Each round's census is the [[localClustering]] edge-iterator:
    * degree-ordered orientation (wedge stream Σ outdeg² — hub-proof;
    * recomputed per round as degrees shrink, which preserves the
    * bound and never changes the triangle SET, so the oracle may
    * enumerate un-oriented), sorted neighbor-array intersection per
    * edge, support keyed back to canonical (min, max) ids. 2–3 rounds
    * settle typical co-occurrence graphs; each round is one join +
    * one aggregate over the (shrinking) edge set.
    *
    * @param edges undirected edge list (either or both directions)
    * @param k     truss order (k ≥ 3; support threshold = k − 2)
    * @return surviving (u, v, support) — support within the survivors */
  def ktruss(edges: DataFrame, k: Int, iterations: Int = 2,
             assumeCanonical: Boolean = false): DataFrame = {
    require(k >= 3, "ktruss needs k >= 3")
    require(iterations >= 0, "iterations must be >= 0")
    // assumeCanonical: see [[triangleStats]] (r15, guide §2.4)
    var e = (if (assumeCanonical)
      edges.select(col("src").as("u"), col("dst").as("v"))
    else edges
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct())
      .localCheckpoint(true)
    def support(ec: DataFrame): DataFrame = {
      val m = ec.count()
      val deg = ec.select(col("u").as("id"))
        .unionAll(ec.select(col("v").as("id")))
        .groupBy("id").agg(count(lit(1)).as("d"))
      val ew = ec
        .join(BroadcastCap.hint(
          deg.select(col("id").as("u"), col("d").as("du")), m),
          "u")
        .join(BroadcastCap.hint(
          deg.select(col("id").as("v"), col("d").as("dv")), m),
          "v")
      val uFirst = col("du") < col("dv") ||
        (col("du") === col("dv") && col("u") < col("v"))
      val o = ew.select(
          when(uFirst, col("u")).otherwise(col("v")).as("s"),
          when(uFirst, col("v")).otherwise(col("u")).as("t"))
        .localCheckpoint(true)
      val nbrs = o.groupBy("s")
        .agg(sort_array(collect_list(col("t"))).as("ns"))
        .localCheckpoint(true)
      val empty = slice(col("ns"), 1, 0)
      val ws = coalesce(when(col("nt").isNotNull,
        sortedIntersectArr(col("ns"), col("nt"))), empty)
      def ckey(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
        struct(least(a, b).as("u"), greatest(a, b).as("v"))
      // r15: same interpreted-HOF fix as [[localClustering]] — the
      // transform(ws, ...) struct emission ran the whole support
      // stream through CodegenFallback; the intersection now
      // checkpoints once and three codegen projections (edge rows +
      // one plain explode consumed twice) rebuild the identical
      // per-edge support multiset
      val withWs = o.join(BroadcastCap.hint(nbrs, m), "s")
        .join(BroadcastCap.hint(
          nbrs.select(col("s").as("t"), col("ns").as("nt")), m),
          Seq("t"), "left")
        .select(col("s"), col("t"), size(ws).cast("long").as("c"),
          ws.as("ws"))
        .localCheckpoint(true)
      val baseRows = withWs
        .select(ckey(col("s"), col("t")).as("e"), col("c"))
      val exploded = withWs
        .select(col("s"), col("t"), explode(col("ws")).as("w"))
      baseRows
        .unionAll(exploded.select(ckey(col("s"), col("w")).as("e"),
          lit(1L).as("c")))
        .unionAll(exploded.select(ckey(col("t"), col("w")).as("e"),
          lit(1L).as("c")))
        .groupBy(col("e.u").as("u"), col("e.v").as("v"))
        .agg(sum(col("c")).as("support"))
    }
    for (_ <- 1 to iterations) {
      val sup = support(e)
      e = e.join(sup, Seq("u", "v"), "left")
        .filter(coalesce(col("support"), lit(0L)) >= k - 2)
        .select("u", "v")
        .localCheckpoint(true)
    }
    e.join(support(e), Seq("u", "v"), "left")
      .select(col("u"), col("v"),
        coalesce(col("support"), lit(0L)).as("support"))
  }

  /** NEWMAN MODULARITY of a vertex partition — THE "did the community
    * detection find real structure?" number (Q ≈ 0: no better than
    * random; Q ≳ 0.3: strong structure), computed over a canonical
    * undirected edge list and a (vertex, community) labeling such as
    * [[labelPropagation]]'s output:
    *
    *   Q = Σ_c [ L_c/m − (D_c/2m)² ]
    *     = Σ_c (4·m·L_c − D_c²) / (4m²)
    *
    * with L_c intra-community edges, D_c the community's degree sum,
    * m total edges. EXACT integer rail: the per-community numerators
    * ride DECIMAL(38,0) (4·m·L_c ≤ 4m² passes 10³⁸ to m ≈ 10¹⁸ edges)
    * and ONE integer division lands q_ppm — per-community terms are
    * summed BEFORE dividing, so there is no per-term truncation at
    * all, unlike the micro-term rails that need one div per group.
    * Communities with no internal edge contribute −D_c² (negative
    * numerators are fine: `div` truncates toward zero identically on
    * both engines). Plan: two co-keyed label joins over the edge
    * list, a degree aggregate, one global sum — no windows, no
    * driver data.
    *
    * @param edges  canonical undirected edges (src < dst, distinct)
    * @param labels (idCol, labelCol) — every endpoint must be labeled
    * @return one row (n_vertices, m_edges, n_communities, q_ppm) */
  def modularity(edges: DataFrame, labels: DataFrame,
                 idCol: String = "id",
                 labelCol: String = "community"): DataFrame = {
    // r15: the label table is vertex-sized and checkpointed (no
    // stats), so both endpoint joins planned SMJ — two full edge-list
    // exchanges + sorts. Materialize-with-count and broadcast under
    // the [[BroadcastCap]]: the tagging pass becomes two hash
    // probes over the un-shuffled edge list (guide §3.1).
    val lm = materialize(
      labels.select(col(idCol).as("__id"), col(labelCol).as("__c")))
    val (lab, nLab) = (lm.df, lm.rows)
    val e = edges.select(col("src").as("__u"), col("dst").as("__v"))
    val tagged = e
      .join(BroadcastCap.hint(
        lab.select(col("__id").as("__u"), col("__c").as("__cu")), nLab),
        "__u")
      .join(BroadcastCap.hint(
        lab.select(col("__id").as("__v"), col("__c").as("__cv")), nLab),
        "__v")
      .localCheckpoint(true) // m count + intra count share it
    val m = tagged.agg(count(lit(1)).as("__m"))
    // r16: intra-edge counts and degree sums fold into ONE aggregation
    // over the endpoint stream — the u-endpoint row carries the edge's
    // intra flag (counted once per edge), the v row carries 0 — so the
    // old degC ⋈ intra LeftOuter SMJ (two community-keyed exchanges +
    // sorts over stat-less checkpoint scans) disappears. Same (c, d, l)
    // rows: d counts both endpoints, l counts intra edges once,
    // communities with no internal edge get l = 0 from the sum.
    val perC = tagged.select(col("__cu").as("__c"),
        when(col("__cu") === col("__cv"), lit(1L)).otherwise(lit(0L))
          .as("__i"))
      .unionAll(tagged.select(col("__cv").as("__c"), lit(0L).as("__i")))
      .groupBy("__c").agg(count(lit(1)).as("__d"), sum("__i").as("__l"))
    val nv = lab.agg(countDistinct("__id").as("__nv"))
    perC
      .select(col("__c"), col("__d"), col("__l"))
      .crossJoin(broadcast(m))
      .agg(count(lit(1)).as("n_communities"),
        first("__m").as("m_edges"),
        sum(expr("4 * CAST(__m AS DECIMAL(38,0)) * __l" +
          " - CAST(__d AS DECIMAL(38,0)) * __d")).as("__num"))
      .crossJoin(broadcast(nv))
      .select(col("__nv").as("n_vertices"), col("m_edges"),
        col("n_communities"),
        when(col("m_edges") > 0, expr(
          "CAST(__num * 1000000 div (4 * CAST(m_edges AS DECIMAL(38,0))" +
            " * m_edges) AS BIGINT)")).as("q_ppm"))
  }

  /** STRONGLY connected components of a DIRECTED graph — trim +
    * forward coloring + per-color backward sweep (the FW-BW-Trim /
    * coloring family: Orzan 2004; McLendon et al. 2005; Slota,
    * Rajamanickam, Madduri IPDPS 2014 — the standard distributed SCC
    * scheme; Tarjan's DFS stack is inherently sequential).
    * Directedness is the point: the undirected
    * [[Dedup.connectedComponentsStar]] would merge a link farm's
    * one-way in-links into the farm's component; mutual reachability
    * keeps them out.
    *
    * Per round over the live subgraph:
    *   1. TRIM to fixpoint: a vertex with no in-edges or no out-edges
    *      cannot lie on a cycle, so it is its own SCC. Each pass drops
    *      the edges such vertices anchor — ONE materialization (two
    *      semi joins against the live endpoint sets), with no per-pass
    *      vertex bookkeeping: a cycle-free vertex simply loses all its
    *      edges, and one final anti-join emits everything the sweeps
    *      never claimed as singletons. This dissolves the tree-like
    *      periphery and, iterated, whole acyclic chains without paying
    *      a fixpoint.
    *   2. COLOR: forward min-label fixpoint, label(v) = min id over
    *      {v} ∪ ancestors(v) — the diameter-bounded CC-style loop on
    *      DIRECTED edges. Every path from a color's root r (the vertex
    *      with label(r) = r) stays inside r's class: any vertex on it
    *      that knew a smaller ancestor would recolor everything
    *      downstream of itself, contradicting the label on the path's
    *      endpoint. So classes partition the live graph into regions
    *      reachable from their root.
    *   3. SWEEP: backward reachability TO the root along intra-class
    *      edges, seeded at the roots. u joins SCC(r) iff u also
    *      reaches r — together with r→u (step 2) that is exactly
    *      mutual reachability, so the extraction is EXACT, not a
    *      heuristic. Monotone set growth; converges when the reached
    *      count stops moving.
    *   4. Extract, remove, repeat. Every class loses at least its
    *      root's SCC per round, so rounds ≤ the condensation peel
    *      depth: 1 for a pure cycle, small for web-shaped graphs
    *      whose giant SCC dominates one color; the O(V) adversary is
    *      a long chain of TRIVIAL SCCs, which TRIM dissolves instead.
    *
    * Both fixpoints are the SAME min-label kernel: forward coloring is
    * min-over-ancestors along (src→dst), the sweep is min-over-WITHIN-
    * CLASS-descendants along the reversed intra-class edges — and
    * because a class root is necessarily its class's MINIMUM id
    * (label(v) = min({v} ∪ anc(v)) ≤ v), "u reaches the root inside
    * the class" is exactly "u's within-class min descendant IS the
    * root", so extraction is F(u) = B(u) over the RESTRICTED backward
    * labels (sound, unlike the same test on unrestricted labels). The
    * kernel converges in ≤ eccentricity-of-the-min-vertex relax hops
    * and chains several hops per materialization (see `minLabels`), so
    * scheduler round-trips are ecc/K, not ecc.
    *
    * Every step is a co-keyed join + a map-side-combinable min/count
    * aggregate — no windows, no driver-side graph state on the
    * distributed path. Loop frames materialize through
    * [[org.apache.spark.sql.GraftShim.materialize]] (lineage
    * stays O(1), the convergence/broadcast-eligibility count folds
    * into the materialization job); label/frontier tables broadcast
    * below the [[BroadcastCap]] with the shuffled fallback beyond.
    *
    * Below `driverMaxEdges` (integral ids) the edge list collects and
    * an iterative Tarjan answers in ONE job — the
    * [[Dedup.nearDupSurvivors]] `driverCCMaxPairs` contract: SCC
    * worklists are usually subgraphs (a filtered host graph, a
    * candidate cluster) tiny next to the corpus, and the distributed
    * loop's ~2 scheduler round-trips per materialization dominate at
    * that size. Above the cap (or non-integral ids) the full loop
    * runs — spec-pinned identical output.
    *
    * Convergence contract: the min-label fixpoint defaults to
    * relaxPerSync·maxFixpointIters = 600 hops; a graph whose
    * eccentricity exceeds that AUTO-ESCALATES the hops-per-sync
    * (doubling, O(log) extra syncs) rather than emitting split SCCs,
    * and both iteration caps THROW rather than mislabel when truly
    * exhausted (r14: warn-and-continue could silently report a long
    * directed cycle as singletons).
    *
    * @param edges directed (src, dst), numeric ids; self-loops and
    *              duplicate edges drop
    * @return (id, scc_id = min vertex id of the SCC), one row per
    *         vertex incident to at least one non-loop edge */
  def scc(edges: DataFrame, maxRounds: Int = 50, trimIters: Int = 50,
          maxFixpointIters: Int = 100,
          driverMaxEdges: Long = 1L << 20): DataFrame = {
    val idType = edges.schema("src").dataType
    val integralIds = idType match {
      case org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.IntegerType => true
      case _ => false
    }
    val e0 = materialize(edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst")).distinct())
    var (e, ne) = (e0.df, e0.rows)
    if (integralIds && ne <= driverMaxEdges)
      return sccDriver(e, ne, idType)
    val parts = scala.collection.mutable.ListBuffer.empty[DataFrame]
    // every vertex the SWEEP never claims is a singleton SCC (trim
    // removes exactly the provably-cycle-free: no bookkeeping per pass,
    // one anti-join at the end settles them all)
    val initVerts = materialize(e.select(col("src").as("id"))
      .unionAll(e.select(col("dst").as("id"))).distinct()).df
    // min-label fixpoint, `relaxPerSync` hops per materialization: the
    // edge set gains self-loops once so each relax step is ONE join +
    // one min-aggregate referencing the previous labels exactly once —
    // K steps chain inside a single job with LINEAR plan growth (a
    // self-union spelling would recompute the label frame 2^K times),
    // and the scheduler round-trip + convergence probe amortize over K
    // hops. Pointer jumping is deliberately absent: measured on this
    // graph class it saves ~2% of iterations (the walk is bounded by
    // the min vertex's eccentricity, not label-chain length) while its
    // self-join doubles per-step cost.
    def minLabels(g: DataFrame, vs: DataFrame, n: Long,
                  relaxPerSync: Int = 6): DataFrame = {
      // declared hash(dst) layout (GraftShim): every relax hop is
      // join(broadcast labels) + groupBy(dst), so the whole K-hop
      // chain pipelines as ONE exchange-free stage per sync instead
      // of K aggregate exchanges (r14 co-partitioning)
      val gSelf = materialize(g.unionAll(vs.select(col("id").as("src"),
        col("id").as("dst"))), Hash(Seq("dst"))).df
      var labels = materialize(vs.select(col("id"), col("id").as("c"))).df
      def checksum(l: DataFrame): Option[java.math.BigDecimal] =
        Option(l.agg(sum(col("c").cast("decimal(38,0)"))).head()
          .getDecimal(0))
      var prev = checksum(labels)
      var it = 0
      var relax = relaxPerSync
      var converged = false
      while (!converged) {
        it += 1
        if (it > maxFixpointIters) {
          // Reaching here means eccentricity > relax·maxFixpointIters
          // (default ~600 hops). Warn-and-continue would let the F=B
          // extraction SPLIT a true SCC — a long directed cycle would
          // ship as singletons despite the exactness contract (r13
          // advice) — so ESCALATE: labels only decrease, the fixpoint
          // exists and is reached within eccentricity hops, and
          // doubling the hops-per-sync covers any real eccentricity
          // in O(log) escalations. The hard cap turns a pathological
          // graph into an ERROR, never a silently wrong answer.
          if (relax >= (1 << 12))
            throw new IllegalStateException(
              s"scc min-label fixpoint unconverged after escalating to " +
                s"$relax relax hops/sync x $maxFixpointIters syncs " +
                s"(eccentricity > ${relax.toLong * maxFixpointIters}); " +
                "raise maxFixpointIters explicitly if this graph is real")
          relax *= 2
          it = 1
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            s"scc fixpoint unconverged at maxFixpointIters=" +
              s"$maxFixpointIters; escalating to $relax hops/sync")
        }
        var cur = labels
        for (_ <- 1 to relax)
          cur = gSelf.join(
            BroadcastCap.hint(cur, n).withColumnRenamed("id", "src"),
            Seq("src"))
            .groupBy(col("dst").as("id")).agg(min(col("c")).as("c"))
        val merged = materialize(cur).df
        val cs = checksum(merged)
        converged = cs == prev
        prev = cs
        labels = merged
      }
      labels
    }
    var rounds = 0
    while (ne > 0 && rounds < maxRounds) {
      rounds += 1
      // ---- 1. trim to fixpoint: drop every edge whose src has no
      // in-edge or whose dst has no out-edge — ONE materialization per
      // pass, no vertex bookkeeping (cycle-free vertices just lose all
      // their edges and fall out to the final singleton sweep-up)
      var trimming = true
      var t = 0
      while (trimming && t < trimIters && ne > 0) {
        t += 1
        val haveIn = e.select(col("dst").as("src")).distinct()
        val haveOut = e.select(col("src").as("dst")).distinct()
        val e2 = materialize(e
          .join(BroadcastCap.hint(haveIn, ne), Seq("src"), "left_semi")
          .join(BroadcastCap.hint(haveOut, ne), Seq("dst"), "left_semi"))
        trimming = e2.rows != ne
        e = e2.df; ne = e2.rows
      }
      if (ne > 0) {
        val vm = materialize(e.select(col("src").as("id"))
          .unionAll(e.select(col("dst").as("id"))).distinct())
        val (verts, nv) = (vm.df, vm.rows)
        // ---- 2. forward coloring: F = min over {v} ∪ ancestors
        val f = minLabels(e, verts, nv)
        val fb = BroadcastCap.hint(f, nv)
        // ---- 3. backward sweep: B = min over within-class
        // descendants, on reversed intra-class edges
        val ec = materialize(e
          .join(fb.select(col("id").as("src"), col("c").as("__cs")), "src")
          .join(fb.select(col("id").as("dst"), col("c").as("__cd")), "dst")
          .filter(col("__cs") === col("__cd"))
          .select(col("dst").as("src"), col("src").as("dst"))).df
        val b = minLabels(ec, verts, nv)
        // ---- 4. extract F = B (mutual reachability with the root)
        val done = materialize(f.join(
          b.select(col("id"), col("c").as("__b")), Seq("id"))
          .filter(col("c") === col("__b"))
          .select(col("id"), col("c").as("scc_id")))
        parts += done.df
        val db = BroadcastCap.hint(done.df.select("id"), done.rows)
        val e2 = materialize(e
          .join(db.withColumnRenamed("id", "src"), Seq("src"), "left_anti")
          .join(db.withColumnRenamed("id", "dst"), Seq("dst"), "left_anti"))
        e = e2.df; ne = e2.rows
      }
    }
    if (ne > 0)
      // same error-not-wrong-answer contract as the fixpoint: live
      // edges here would emit their endpoints as FALSE singletons
      throw new IllegalStateException(
        s"scc stopped at maxRounds=$maxRounds with $ne edges live; " +
          "raise maxRounds (each round extracts >= 1 SCC partition)")
    val swept = parts.reduceOption(_ unionAll _)
    val singletons = swept match {
      case Some(s) => initVerts
        .join(s.select(col("id")), Seq("id"), "left_anti")
        .select(col("id"), col("id").as("scc_id"))
      case None => initVerts.select(col("id"), col("id").as("scc_id"))
    }
    swept.map(_.unionAll(singletons)).getOrElse(singletons)
  }

  /** CONDENSATION DAG: collapse every SCC to one node and aggregate
    * the cross-SCC edges — the graph the downstream topology actually
    * sees (a link farm becomes one vertex; inter-community flow
    * becomes weighted DAG edges; cycle-free algorithms become legal).
    * Two label joins + one map-side-combinable count — labels are one
    * row per vertex, so AQE broadcasts them below its threshold and
    * the edge list streams through without a shuffle of its own.
    *
    * @param edges  directed (src, dst) — the [[scc]] input
    * @param labels (id, scc_id) — the [[scc]] output
    * @return (src_scc, dst_scc, n_edges) for src_scc ≠ dst_scc */
  def condense(edges: DataFrame, labels: DataFrame): DataFrame =
    edges
      .join(labels.select(col("id").as("src"),
        col("scc_id").as("src_scc")), "src")
      .join(labels.select(col("id").as("dst"),
        col("scc_id").as("dst_scc")), "dst")
      .filter(col("src_scc") =!= col("dst_scc"))
      .groupBy("src_scc", "dst_scc")
      .agg(count(lit(1)).as("n_edges"))

  /** INCREMENTAL SCC under edge ARRIVALS — the rolling-ingest contract
    * of [[Dedup.incrementalComponents]] for the directed case. Edge
    * additions can only MERGE SCCs (mutual reachability never breaks
    * when edges appear), so the persisted index — the (id, scc_id)
    * labels plus the condensation edge list — is sufficient: contract
    * every old SCC to its label, overlay the batch (endpoints mapped
    * through the labels; unseen vertices stand for themselves), run
    * [[scc]] on that SMALL graph, and compose. History edges are never
    * re-read; the loop input is |condensation| + |batch| rows. Labels
    * stay on the min-member convention: a merged group's new label is
    * the min of its old labels and new vertex ids = the min member.
    * Incremental ≡ from-scratch is spec-pinned and oracle-checked
    * against ground truth on the union graph.
    *
    * @param labels    (id, scc_id) from a prior [[scc]] run
    * @param condEdges (src_scc, dst_scc) from [[condense]] on the same
    *                  run (extra columns ignored)
    * @param newEdges  directed (src, dst) batch
    * @return updated (id, scc_id) covering every previously-labeled id
    *         and every batch endpoint */
  def incrementalScc(labels: DataFrame, condEdges: DataFrame,
                     newEdges: DataFrame,
                     driverMaxEdges: Long = 1L << 20): DataFrame = {
    val lab = labels.select(col("id"), col("scc_id"))
      .localCheckpoint(true) // joined on both batch endpoints + compose
    val mapped = newEdges.select(col("src"), col("dst"))
      .join(lab.select(col("id").as("src"), col("scc_id").as("__sl")),
        Seq("src"), "left")
      .join(lab.select(col("id").as("dst"), col("scc_id").as("__dl")),
        Seq("dst"), "left")
      .select(coalesce(col("__sl"), col("src")).as("src"),
        coalesce(col("__dl"), col("dst")).as("dst"))
    val overlay = condEdges
      .select(col("src_scc").as("src"), col("dst_scc").as("dst"))
      .unionAll(mapped)
    val l2 = scc(overlay, driverMaxEdges = driverMaxEdges)
      .localCheckpoint(true) // compose join + new-vertex anti-join
    val composed = lab
      .join(l2.select(col("id").as("scc_id"), col("scc_id").as("__nl")),
        Seq("scc_id"), "left")
      .select(col("id"), coalesce(col("__nl"), col("scc_id")).as("scc_id"))
    // overlay vertices that are NOT old group labels are brand-new ids
    val newRows = l2
      .join(lab.select(col("scc_id").as("id")).distinct(), Seq("id"),
        "left_anti")
    // a brand-new id whose only batch edges were self-loops is dropped
    // by scc()'s loop filter — it is its own SCC and must still appear
    // (the coverage contract; r13 review)
    val selfOnly = mapped.select(col("src").as("id"))
      .unionAll(mapped.select(col("dst").as("id"))).distinct()
      .join(lab.select("id"), Seq("id"), "left_anti")
      .join(l2.select("id"), Seq("id"), "left_anti")
      .select(col("id"), col("id").as("scc_id"))
    composed.unionAll(newRows.select(col("id"), col("scc_id")))
      .unionAll(selfOnly)
  }

  /** Driver fast path: iterative Tarjan over the collected (deduped,
    * loop-free) edge list; scc_id normalized to the component minimum
    * to match the distributed contract. */
  private def sccDriver(e: DataFrame, ne: Long,
                        idType: org.apache.spark.sql.types.DataType)
      : DataFrame = {
    val spark = e.sparkSession
    val pairs = e.select(col("src").cast("long"), col("dst").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val adj = pairs.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val verts = pairs.flatMap(p => Seq(p._1, p._2)).distinct
    val index = scala.collection.mutable.LongMap.empty[Int]
    val low = scala.collection.mutable.LongMap.empty[Int]
    val onStack = scala.collection.mutable.Set.empty[Long]
    val stack = scala.collection.mutable.ArrayBuffer.empty[Long]
    val comp = scala.collection.mutable.LongMap.empty[Long]
    var counter = 0
    // explicit work stack: (vertex, next-child index) — no recursion
    val work = scala.collection.mutable.ArrayBuffer.empty[(Long, Int)]
    for (root <- verts if !index.contains(root)) {
      work += ((root, 0))
      while (work.nonEmpty) {
        val (u, ci) = work.remove(work.length - 1)
        if (ci == 0) {
          index(u) = counter; low(u) = counter; counter += 1
          stack += u; onStack += u
        }
        val kids = adj.getOrElse(u, Array.empty[Long])
        var i = ci
        var descended = false
        while (i < kids.length && !descended) {
          val w = kids(i)
          if (!index.contains(w)) {
            work += ((u, i + 1)); work += ((w, 0)); descended = true
          } else {
            if (onStack(w)) low(u) = math.min(low(u), index(w))
            i += 1
          }
        }
        if (!descended) {
          if (low(u) == index(u)) {
            // pop the SCC; min id is the label
            var members = List.empty[Long]
            var w = 0L
            do {
              w = stack.remove(stack.length - 1); onStack -= w
              members ::= w
            } while (w != u)
            val m = members.min
            members.foreach(comp(_) = m)
          }
          // propagate low to the parent (top of work stack)
          if (work.nonEmpty) {
            val (p, pi) = work(work.length - 1)
            if (low(u) < low(p)) low(p) = low(u)
            work(work.length - 1) = (p, pi)
          }
        }
      }
    }
    import spark.implicits._
    comp.toSeq.toDF("id", "scc_id")
      .select(col("id").cast(idType).as("id"),
        col("scc_id").cast(idType).as("scc_id"))
  }
}
