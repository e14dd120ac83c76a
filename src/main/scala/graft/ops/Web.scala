package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.GraftShim.materialize
import org.apache.spark.sql.functions._

/** Web-corpus curation: URL canonicalization, registered-domain
  * extraction, and per-domain capping — the source-level stage every
  * Common-Crawl-style pipeline (C4, RefinedWeb, FineWeb) runs BEFORE
  * text-level dedup: near-dup URLs ("http://Example.com/a?utm_source=x"
  * vs "https://example.com/a") are the cheapest duplicates to kill, and
  * a handful of mirror/spam domains otherwise dominate the corpus.
  *
  * Everything here is a pure column expression over built-in string/array
  * functions (codegen'd, one map pass, no UDF, no shuffle), deliberately
  * inside the regex/array dialect subset that DuckDB interprets
  * identically so canonicalization has an exact SQL oracle. The one
  * shuffling operator, [[perDomainCap]], is the WindowGroupLimit shape
  * (map-side top-n prune before the exchange).
  */
object Web {

  private val SchemeRe = "^([A-Za-z][A-Za-z0-9+.-]*)://"
  // `(?:[^/?#]*@)?` skips an RFC-3986 userinfo prefix ("user:pass@")
  // so host/port parse the real authority, not the credential; RE2-safe
  // (non-capturing, no backreference) so the DuckDB oracle replays it.
  // The prefix is greedy through the LAST '@' of the authority and the
  // host class excludes '@' (RFC 3986: a host cannot contain '@'), so
  // "a@b@c.com" parses host "c.com", not "b@c.com".
  private val HostRe =
    "^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/?#]*@)?([^/:?#@]+)"
  private val PortRe =
    "^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/?#]*@)?[^/:?#@]+:([0-9]+)"
  private val PathRe = "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)"
  private val QueryRe = "^[^#]*\\?([^#]*)"

  /** Tracking parameters stripped by [[canonicalize]] — the session/
    * campaign noise that splits one logical URL into thousands. */
  val TrackingParamRe = "^(utm_[A-Za-z0-9_]*|gclid|fbclid|ref)="

  def scheme(url: Column): Column = lower(regexp_extract(url, SchemeRe, 1))
  def host(url: Column): Column = lower(regexp_extract(url, HostRe, 1))
  def port(url: Column): Column = regexp_extract(url, PortRe, 1)
  def path(url: Column): Column = regexp_extract(url, PathRe, 1)
  def query(url: Column): Column = regexp_extract(url, QueryRe, 1)

  /** Canonical URL form: lowercase scheme+host, default ports (http:80,
    * https:443) stripped, fragment dropped, tracking params removed,
    * surviving query params sorted, trailing path slash trimmed (root
    * stays "/"; an empty path becomes "/"). Two URLs that canonicalize
    * equal are fetch-equivalent for curation purposes. A userinfo prefix
    * ("user:pass@") is stripped — credentials never belong in a corpus
    * key. Invalid URLs (no scheme://host) yield null — route them to a
    * quarantine port, don't guess. */
  def canonicalize(url: Column): Column = {
    val sch = scheme(url)
    val h = host(url)
    val p = port(url)
    val keepPort = when(
      (sch === "http" && p === "80") || (sch === "https" && p === "443") ||
        p === "", lit("")).otherwise(concat(lit(":"), p))
    // strip ALL trailing slashes (a single-slash rule would leave
    // "/a//" one slash shorter per pass — not idempotent; found by the
    // WebPropertySpec fixed-point property); empty path is root
    val rawPath = path(url)
    val stripped = regexp_replace(rawPath, "/+$", "")
    val normPath = when(stripped === "", lit("/")).otherwise(stripped)
    val params = filter(split(query(url), "&"),
      prm => prm =!= "" && !prm.rlike(TrackingParamRe))
    val qs = array_join(array_sort(params), "&")
    val canon = concat(sch, lit("://"), h, keepPort, normPath,
      when(qs =!= "", concat(lit("?"), qs)).otherwise(lit("")))
    when(sch =!= "" && h =!= "", canon)
  }

  /** Vendored Public Suffix List snapshot (ICANN section; multi-label
    * rules only — single-label TLDs are the implicit `*` default rule),
    * loaded from `graft/public_suffix_snapshot.dat` in UPSTREAM PSL
    * syntax (`*.` wildcard rules, `!` exception rules, `//` comments) —
    * so refreshing the snapshot is copying the publicsuffix.org ICANN
    * section over the resource file; no code changes. The matcher below
    * implements full PSL semantics: longest prevailing rule, wildcard
    * rules, exception rules.
    *
    * [[PslSuffixes2]]/[[PslSuffixes3]]: normal 2-/3-label rules
    * ("gov.uk", "vic.gov.au"). [[PslWildcardBases]]: the base of a
    * `*.base` rule — any single label under it completes a public
    * suffix ("*.ck", "*.kawasaki.jp"). [[PslExceptions]]: `!` rules —
    * hosts that ARE registrable despite a covering wildcard
    * ("!www.ck", "!city.kawasaki.jp").
    *
    * The snapshot is ~1.4k rules: the complete 2-/3-level registry
    * sets of ~120 ccTLDs plus jp prefectures and us state k12/cc/lib
    * tiers. Known omission vs upstream: the per-city third tier under
    * jp prefectures and no municipalities (thousands of rules) — those
    * hosts resolve one label short until a full-file refresh. */
  private def loadPslRules(): Seq[String] = {
    val in = getClass.getResourceAsStream("/graft/public_suffix_snapshot.dat")
    require(in != null, "missing graft/public_suffix_snapshot.dat resource")
    try {
      scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("//")).toList
    } finally in.close()
  }

  private val pslRules: Seq[String] = loadPslRules()

  val PslExceptions: Seq[String] =
    pslRules.filter(_.startsWith("!")).map(_.drop(1))
  val PslWildcardBases: Seq[String] =
    pslRules.filter(_.startsWith("*.")).map(_.drop(2))
  private val pslNormal: Seq[String] =
    pslRules.filterNot(r => r.startsWith("!") || r.startsWith("*."))
  val PslSuffixes2: Seq[String] = pslNormal.filter(_.count(_ == '.') == 1)
  val PslSuffixes3: Seq[String] = pslNormal.filter(_.count(_ == '.') == 2)

  // the four-way matcher below handles rules to these depths; a refresh
  // that introduces deeper rules must extend it, so fail loudly
  require(pslNormal.forall(_.count(_ == '.') <= 2),
    "PSL snapshot has a >3-label normal rule; extend registeredDomain")
  require(PslWildcardBases.forall(_.count(_ == '.') <= 1),
    "PSL snapshot has a >2-label wildcard base; extend registeredDomain")
  require(PslExceptions.forall(_.count(_ == '.') <= 2),
    "PSL snapshot has a >3-label exception; extend registeredDomain")

  private[graft] val (pslWild1, pslWild2) =
    PslWildcardBases.partition(!_.contains("."))
  private[graft] val (pslExc2, pslExc3) =
    PslExceptions.partition(_.count(_ == '.') == 1)

  /** eTLD+1 from a lowercase hostname under full PSL semantics against
    * the vendored snapshot: the longest matching rule wins, exception
    * rules beat wildcard rules, unlisted TLDs fall to the implicit `*`
    * (last two labels), and a host that IS a public suffix — or a
    * single label (localhost, intranet names) — passes through
    * unchanged. Pure expression over set-literal membership (Catalyst
    * compiles `isin` to an O(1) InSet; the snapshot is KBs — the
    * "broadcast the suffix set" shape), identically replayable in any
    * SQL engine as CASE + IN lists. */
  def registeredDomain(h: Column): Column = {
    val labels = split(h, "\\.")
    val n = size(labels)
    // last k labels, clamped: fewer than k labels -> the whole host
    // (same semantics as a SQL list[-k:] slice, so oracles replay it)
    def lastK(k: Int) = array_join(
      slice(labels, greatest(n - (k - 1), lit(1)), lit(k)), ".")
    val last1 = lastK(1)
    val last2 = lastK(2)
    val last3 = lastK(3)
    val last4 = lastK(4)
    when(n <= 1, h)
      // exception rules: the exception itself is the registered domain
      .when(last2.isin(pslExc2: _*), last2)
      .when(last3.isin(pslExc3: _*), last3)
      // 3-label suffixes: *.base wildcards (1-label base covered below)
      .when(last2.isin(pslWild2: _*) || last3.isin(PslSuffixes3: _*),
        when(n >= 4, last4).otherwise(h))
      // 2-label suffixes: listed rules and *.tld wildcards
      .when(last1.isin(pslWild1: _*) || last2.isin(PslSuffixes2: _*),
        when(n >= 3, last3).otherwise(h))
      // implicit `*` default rule: suffix = the TLD itself
      .otherwise(last2)
  }

  /** HTML → visible text (the extraction stage between a WARC payload
    * and every text operator): drops script/style blocks, comments, and
    * tags; decodes the common entities; collapses whitespace. A
    * regexp_replace chain in the RE2-portable subset (no backreferences
    * — script and style are handled as separate literal patterns), so
    * extraction has an exact SQL oracle and behaves identically in any
    * RE2 engine. This is the boilerplate-light tier (trafilatura-class
    * DOM scoring needs a parser); compose with [[Scrub.dedupLines]] /
    * [[graft.ops.Scrub.dedupLinesGlobal]] for nav/banner removal. */
  def htmlToText(html: Column): Column = {
    val noScript = regexp_replace(html, "(?is)<script[^>]*>.*?</script>", " ")
    val noStyle = regexp_replace(noScript, "(?is)<style[^>]*>.*?</style>", " ")
    val noComment = regexp_replace(noStyle, "(?s)<!--.*?-->", " ")
    val noTags = regexp_replace(noComment, "<[^>]+>", " ")
    // entities: named common set + numeric; &amp; LAST so "&amp;lt;"
    // decodes to "&lt;" (one level), not "<"
    val e1 = regexp_replace(noTags, "&nbsp;", " ")
    val e2 = regexp_replace(e1, "&lt;", "<")
    val e3 = regexp_replace(e2, "&gt;", ">")
    val e4 = regexp_replace(e3, "&quot;", "\"")
    val e5 = regexp_replace(e4, "&#39;", "'")
    val e6 = regexp_replace(e5, "&amp;", "&")
    // collapse BEFORE trim: trim only strips literal spaces, so a
    // leading newline would otherwise survive as a leading space
    trim(regexp_replace(e6, "\\s+", " "))
  }

  /** href-target pattern: attribute value up to a quote, fragment,
    * whitespace or tag close — RE2-portable (no backreference to match
    * the opening quote; the char class excludes BOTH quote kinds, which
    * over-trims only a URL that itself contains the other quote —
    * vanishingly rare and invalid-unescaped anyway). */
  private val HrefRe = "(?i)href\\s*=\\s*[\"']([^\"'#\\s>]+)"

  /** OUTLINK extraction — raw HTML → the registered-domain link graph,
    * the edge list [[Graph.pagerank]] turns into crawl-frontier host
    * authority (and [[Graph]]'s census/coreness profile). Per page:
    * every href target, resolved against the page URL in the three
    * deterministic classes a host graph needs —
    *
    *   - absolute http(s)://…   → as-is
    *   - protocol-relative //…  → page scheme + ':' + link
    *   - root-relative /…       → page scheme '://' host + link
    *
    * — then reduced to [[registeredDomain]] pairs. Everything else
    * (path-relative, mailto:, javascript:, pure fragments) names no
    * FOREIGN host, and same-site edges are dropped with them: a host
    * authority graph wants cross-site endorsement, and every kept class
    * is replayable in exact SQL (the extraction regex is RE2-portable,
    * resolution is string concatenation). One map pass + one count
    * aggregate — the explode is bounded by href count, the corpus
    * shuffles only the (src, dst) pair stream, map-side combined.
    *
    * @return (src_domain, dst_domain, n BIGINT) multi-edge counts */
  def extractOutlinks(df: DataFrame, htmlCol: String,
                      urlCol: String): DataFrame = {
    val base = col(urlCol)
    val links = df
      .select(scheme(base).as("__sch"), host(base).as("__host"),
        registeredDomain(host(base)).as("src_domain"),
        explode(regexp_extract_all(col(htmlCol), lit(HrefRe), lit(1)))
          .as("__lnk"))
    val resolved =
      when(col("__lnk").rlike("(?i)^https?://"), col("__lnk"))
        .when(col("__lnk").startsWith("//"),
          concat(col("__sch"), lit(":"), col("__lnk")))
        .when(col("__lnk").startsWith("/"),
          concat(col("__sch"), lit("://"), col("__host"), col("__lnk")))
    links
      .withColumn("dst_domain", registeredDomain(host(resolved)))
      .filter(col("dst_domain").isNotNull && col("dst_domain") =!= "" &&
        col("dst_domain") =!= col("src_domain"))
      .groupBy("src_domain", "dst_domain")
      .agg(count(lit(1)).as("n"))
  }

  /** PAGE METADATA extraction — title, meta description, canonical
    * URL: the head-of-page fields a crawl indexes before it ever
    * parses the body (title/description feed snippets and BM25 field
    * boosts; rel=canonical drives URL dedup at the source's own
    * authority). Pure per-row RE2-safe regex expressions (no
    * backreferences), whitespace-normalized; a missing field is null,
    * not "". */
  def pageMeta(html: Column): Column = {
    def clean(c: Column): Column = {
      val t = trim(regexp_replace(c, "\\s+", " "))
      when(t =!= "", t)
    }
    struct(
      clean(regexp_extract(html, "(?i)<title[^>]*>([^<]*)", 1))
        .as("title"),
      clean(regexp_extract(html,
        "(?i)<meta\\s+name=[\"']description[\"']\\s+content=[\"']([^\"']*)",
        1)).as("meta_description"),
      clean(regexp_extract(html,
        "(?i)<link\\s+rel=[\"']canonical[\"']\\s+href=[\"']([^\"'#\\s>]+)",
        1)).as("canonical"))
  }

  /** URL PATH TEMPLATE: digit runs collapse to `{n}` — the pattern
    * that folds /product/123 and /product/456 into one shape, turning
    * a million crawled URLs into the dozen route templates a frontier
    * scheduler budgets by (and making template-cardinality explosions
    * — calendars, session ids — visible as one hot row). */
  def urlTemplate(url: Column): Column = {
    val path = regexp_extract(url,
      "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1)
    regexp_replace(when(path === "", lit("/")).otherwise(path),
      "[0-9]+", "{n}")
  }

  /** Full `<a ...>text</a>` matcher: group 1 = href value, group 2 =
    * the inner text up to the next tag (no backreferences — RE2-safe
    * for oracle replay). */
  private val AnchorRe =
    "(?i)<a\\b[^>]*href\\s*=\\s*[\"']?([^\"'#\\s>]+)[^>]*>([^<]*)"

  /** ANCHOR-TEXT index over external links: how the web DESCRIBES each
    * target domain — the classic relevance signal that beats the
    * target's own content for navigational queries, and the label
    * source anchor-text document expansion trains on. For every
    * external link, pairs the resolved destination's registered domain
    * with the link's normalized inner text (lowercased, whitespace
    * collapsed); keeps each domain's `topN` anchors by count.
    *
    * Same single-pass shape as [[extractOutlinks]]: one regex explode,
    * resolution is per-row expressions, one (domain, anchor) count
    * aggregate (map-side combinable), and the per-domain cut runs as a
    * map-side WindowGroupLimit prune — no domain's full anchor list is
    * ever collected anywhere.
    *
    * @return (dst_domain, anchor, n, rank) — rank 1-based per domain
    *         by (n desc, anchor) */
  def anchorTexts(df: DataFrame, htmlCol: String, urlCol: String,
                  topN: Int = 5): DataFrame = {
    require(topN >= 1, "topN must be >= 1")
    val base = col(urlCol)
    val links = df
      .select(scheme(base).as("__sch"), host(base).as("__host"),
        registeredDomain(host(base)).as("src_domain"),
        explode(regexp_extract_all(col(htmlCol), lit(AnchorRe), lit(0)))
          .as("__m"))
      .select(col("__sch"), col("__host"), col("src_domain"),
        regexp_extract(col("__m"), AnchorRe, 1).as("__lnk"),
        trim(regexp_replace(lower(
          regexp_extract(col("__m"), AnchorRe, 2)), "\\s+", " "))
          .as("anchor"))
      .filter(col("anchor") =!= "")
    val resolved =
      when(col("__lnk").rlike("(?i)^https?://"), col("__lnk"))
        .when(col("__lnk").startsWith("//"),
          concat(col("__sch"), lit(":"), col("__lnk")))
        .when(col("__lnk").startsWith("/"),
          concat(col("__sch"), lit("://"), col("__host"), col("__lnk")))
    val counted = links
      .withColumn("dst_domain", registeredDomain(host(resolved)))
      .filter(col("dst_domain").isNotNull && col("dst_domain") =!= "" &&
        col("dst_domain") =!= col("src_domain"))
      .groupBy("dst_domain", "anchor")
      .agg(count(lit(1)).as("n"))
    Rank.topNPerGroup(counted, Seq(col("dst_domain")),
        Seq(col("n").desc, col("anchor").asc), topN)
      .withColumn("rank", col("rank").cast("long"))
  }

  /** MIRROR-HOST detection (Bharat & Broder 1999): host pairs whose
    * CONTENT FINGERPRINT sets overlap by at least `minJaccard` — the
    * "same site under two names" case that per-document dedup sees
    * only as n² scattered duplicate pairs, but a crawler wants as ONE
    * host-level decision (drop the mirror, keep the canonical host).
    * Pair generation goes through shared fingerprints (hosts sharing
    * at least one document): the self-join is per-FINGERPRINT, so its
    * cost is Σ_fp C(hosts(fp), 2) — bounded by how many hosts carry
    * one document (small by construction of a fingerprint), never
    * all-host-pairs. Counts and set sizes are exact integers;
    * `jaccard_micro` = common·10⁶ div (|A|+|B|−common), the same
    * no-round() rails as the graph family.
    *
    * @param df one row per (host, document); duplicates collapse
    * @return (host_a, host_b, common, na, nb, jaccard_micro) with
    *         host_a < host_b, jaccard_micro ≥ minJaccard·10⁶ */
  /** REDIRECT-CHAIN resolution by POINTER DOUBLING: each source follows
    * its (functional) redirect edge to the final target, with the hop
    * count, in ⌈log₂ cap⌉ self-joins instead of cap sequential ones —
    * the difference between 4 shuffles and 16 at crawl scale, and the
    * log-round primitive (path halving) the star-CC family already
    * uses, here on a functional graph with cycles.
    *
    * Contract (engine-replayable — a recursive CTE stepping one hop at
    * a time with `hops < 2^rounds` reproduces it exactly): each src
    * reports the node at distance min(dist-to-terminal, 2^rounds) and
    * that distance; `terminal` is true iff the reported node has no
    * outgoing edge (false = still redirecting at the cap: a loop or a
    * too-deep chain — either way a crawler should drop it). Dirty
    * multi-edges collapse deterministically to min(dst). Invariant per
    * round r: hops = min(dist, 2^r) — rows that reach a terminal
    * freeze exactly; rows in flight double.
    *
    * @return (src, final, hops, terminal) — one row per src with an
    *         outgoing edge */
  def resolveChains(edges: DataFrame, srcCol: String, dstCol: String,
                    rounds: Int = 4): DataFrame = {
    require(rounds >= 1 && rounds <= 20, "rounds in [1, 20]")
    val e = materialize(edges.groupBy(col(srcCol).as("src"))
      .agg(min(col(dstCol)).as("dst"))).df
    var state = e.select(col("src"), col("dst").as("cur"),
      lit(1L).as("hops"))
    for (_ <- 1 to rounds) {
      val t = state.select(col("src").as("__t_src"),
        col("cur").as("__t_cur"), col("hops").as("__t_hops"))
      state = materialize(state
        .join(t, state("cur") === t("__t_src"), "left")
        .select(col("src"),
          coalesce(col("__t_cur"), col("cur")).as("cur"),
          (col("hops") + coalesce(col("__t_hops"), lit(0L))).as("hops"))).df
    }
    state
      .join(e.select(col("src").as("cur"), lit(true).as("__out")),
        Seq("cur"), "left")
      .select(col("src"), col("cur").as("final"), col("hops"),
        col("__out").isNull.as("terminal"))
  }

  def mirrorHosts(df: DataFrame, hostCol: String, fpCol: String,
                  minJaccard: Double = 0.5): DataFrame = {
    require(minJaccard > 0 && minJaccard <= 1, "minJaccard in (0, 1]")
    val hf = materialize(
      df.select(col(hostCol).as("h"), col(fpCol).as("fp")).distinct()).df
    val sizes = hf.groupBy("h").agg(count(lit(1)).as("n"))
    val common = hf.as("a")
      .join(hf.withColumnRenamed("h", "h2").as("b"), "fp")
      .filter(col("h") < col("h2"))
      .groupBy(col("h").as("host_a"), col("h2").as("host_b"))
      .agg(count(lit(1)).as("common"))
    common
      .join(sizes.select(col("h").as("host_a"), col("n").as("na")), "host_a")
      .join(sizes.select(col("h").as("host_b"), col("n").as("nb")), "host_b")
      .withColumn("jaccard_micro",
        expr("common * 1000000 DIV (na + nb - common)"))
      .filter(col("jaccard_micro") >= (minJaccard * 1000000).toLong)
      .select("host_a", "host_b", "common", "na", "nb", "jaccard_micro")
  }

  /** Above this many blocked domains the blocklist becomes a broadcast
    * join instead of an inlined InSet literal — the same
    * literal/broadcast crossover as
    * [[Similarity.CentroidLiteralBudget]]: a real UT1-class category
    * list is millions of domains, and inlining it would ship the whole
    * list in every task binary. */
  val BlocklistLiteralBudget = 256

  /** URL blocklist gate — the category-filter stage (UT1 adult/malware
    * lists, client suppression lists) every web-corpus pipeline runs
    * next to canonicalization. Adds three columns:
    * `blocked_domain` (the URL's [[registeredDomain]] is on the list —
    * subdomains of a blocked domain are blocked with it),
    * `blocked_pattern` (any of the RE2-safe regexes matches anywhere in
    * the raw URL), and `allowed` (neither). Rows are flagged, not
    * dropped — route `allowed` downstream and the complement to audit.
    * Null/invalid URLs flag as not-blocked; quarantine them via
    * [[canonicalize]]'s null, which owns that contract.
    *
    * Domain matching auto-selects by [[BlocklistLiteralBudget]]: an
    * O(1) InSet literal for small lists, a broadcast left-join above it
    * (hash probe per row, no shuffle of `df`). Pattern matching is a
    * codegen'd rlike disjunction — keep the pattern list to the tens;
    * a million-entry pattern list belongs in an Aho-Corasick UDF tier,
    * not here. */
  def applyBlocklist(df: DataFrame, urlCol: String,
                     blockedDomains: Seq[String],
                     blockedPatterns: Seq[String] = Nil,
                     blockedSubstrings: Seq[String] = Nil): DataFrame = {
    require(!df.columns.exists(_.startsWith("__bl_")),
      "applyBlocklist: input already has __bl_* columns")
    val dom = registeredDomain(host(col(urlCol)))
    // regex tier: codegen'd rlike disjunction, O(patterns × len) — tens
    // of patterns; substring tier: one broadcast Aho–Corasick automaton,
    // O(len) regardless of list size — the UT1 path-keyword lists
    // (thousands of literal fragments) go here, not in regexes
    val reHit: Column =
      if (blockedPatterns.isEmpty) lit(false)
      else blockedPatterns.map(p => coalesce(col(urlCol).rlike(p), lit(false)))
        .reduce(_ || _)
    val subHit: Column =
      if (blockedSubstrings.isEmpty) lit(false)
      else {
        val ac = new Phrases.AcAutomaton(blockedSubstrings,
          caseInsensitive = true)
        val bc = df.sparkSession.sparkContext.broadcast(ac)
        val hit = udf { (u: String) => bc.value.matchText(u)._1 > 0 }
        coalesce(hit(col(urlCol)), lit(false))
      }
    val patHit = reHit || subHit
    val domains = blockedDomains
      .map(_.toLowerCase(java.util.Locale.ROOT)).distinct
    val withDomHit =
      if (domains.isEmpty) df.withColumn("blocked_domain", lit(false))
      else if (domains.size <= BlocklistLiteralBudget)
        df.withColumn("blocked_domain",
          coalesce(dom.isin(domains: _*), lit(false)))
      else {
        val spark = df.sparkSession
        import spark.implicits._
        val bl = domains.toDF("__bl_domain").withColumn("__bl_hit", lit(true))
        df.withColumn("__bl_dom", dom)
          .join(broadcast(bl), col("__bl_dom") === col("__bl_domain"), "left")
          .withColumn("blocked_domain", coalesce(col("__bl_hit"), lit(false)))
          .drop("__bl_dom", "__bl_domain", "__bl_hit")
      }
    withDomHit
      .withColumn("blocked_pattern", patHit)
      .withColumn("allowed",
        !col("blocked_domain") && !col("blocked_pattern"))
  }

  /** Parse a robots.txt body into the rules that bind the wildcard
    * (`User-agent: *`) group, RFC 9309 semantics: `#` comments
    * stripped, directive names case-insensitive, a group = consecutive
    * user-agent lines followed by rules, ALL `*` groups merged, rules
    * from non-`*` groups ignored (per-crawler UA selection is
    * deployment config, not corpus curation), empty-path Disallow
    * dropped (it means allow-all). Returns (allow, path-prefix) pairs
    * in file order. Prefix-only tier: the `*`/`$` pattern extension is
    * out of scope and such rules are skipped rather than mis-applied. */
  private[graft] def parseRobotsJvm(txt: String): Seq[(Boolean, String)] = {
    if (txt == null) return Seq.empty
    val out = scala.collection.mutable.ArrayBuffer.empty[(Boolean, String)]
    var inStar = false    // current group includes UA *
    var inUaRun = false   // still reading the group's user-agent lines
    txt.split("\r?\n").foreach { raw =>
      val line = raw.takeWhile(_ != '#').trim
      if (line.nonEmpty) line.split(":", 2) match {
        case Array(k, v) =>
          val key = k.trim.toLowerCase(java.util.Locale.ROOT)
          val value = v.trim
          key match {
            case "user-agent" =>
              if (!inUaRun) { inStar = false; inUaRun = true }
              if (value == "*") inStar = true
            case "allow" | "disallow" =>
              inUaRun = false
              if (inStar && value.nonEmpty && !value.contains("*") &&
                  !value.contains("$"))
                out += ((key == "allow", value))
              // empty Disallow = allow everything: no rule needed
            case _ => inUaRun = false // crawl-delay, sitemap, unknown
          }
        case _ => ()
      }
    }
    out.toSeq
  }

  /** Robots-exclusion gate — the crawl-politeness filter a responsible
    * corpus pipeline applies before ingesting a page: join each URL's
    * host to its robots.txt, match the URL path against the wildcard
    * group's rules, LONGEST matching prefix wins with allow beating
    * disallow on ties (RFC 9309 precedence). Hosts with no robots row
    * and paths matching no rule are allowed.
    *
    * Shape at 100 TB: robots bodies are one small row per crawled host —
    * parsed once by a scalar JVM function (a stateful grammar, same
    * precedent as NFC/mojibake) and broadcast; the corpus side is a
    * hash probe plus an array-lambda match against that host's own few
    * rules. No shuffle of the corpus, no state.
    *
    * Adds `robots_allowed`, `robots_rule` (winning prefix, null when no
    * rule matched), `robots_rule_allow` (its direction, null likewise). */
  def applyRobots(urls: DataFrame, urlCol: String, robots: DataFrame,
                  hostCol: String = "host",
                  robotsCol: String = "robots_txt"): DataFrame = {
    require(!urls.columns.exists(_.startsWith("__rb_")),
      "applyRobots: input already has __rb_* columns")
    val parse = udf { (txt: String) => parseRobotsJvm(txt) }
    val parsed = robots.select(
      lower(col(hostCol)).as("__rb_host"),
      parse(col(robotsCol)).as("__rb_rules"))
    val path = {
      val p = Web.path(col(urlCol))
      when(p === "", "/").otherwise(p)
    }
    val joined = urls
      .join(broadcast(parsed), host(col(urlCol)) === col("__rb_host"), "left")
    val matched = filter(col("__rb_rules"),
      r => path.startsWith(r.getField("_2")))
    // longest prefix first; allow beats disallow at equal length
    val best = element_at(array_sort(matched, (l, r) =>
      when(length(l.getField("_2")) > length(r.getField("_2")), lit(-1))
        .when(length(l.getField("_2")) < length(r.getField("_2")), lit(1))
        .when(l.getField("_1") && !r.getField("_1"), lit(-1))
        .when(!l.getField("_1") && r.getField("_1"), lit(1))
        .otherwise(lit(0))), 1)
    joined
      .withColumn("robots_rule",
        when(size(matched) > 0, best.getField("_2")))
      .withColumn("robots_rule_allow",
        when(size(matched) > 0, best.getField("_1")))
      .withColumn("robots_allowed",
        coalesce(col("robots_rule_allow"), lit(true)))
      .drop("__rb_host", "__rb_rules")
  }

  /** Keep at most `cap` rows per domain, best-first by `order` (append a
    * unique id as the last key for determinism). This is the anti-spam /
    * anti-mirror gate: without it a single content farm contributes
    * millions of pages to the mixture. Same WindowGroupLimit plan as
    * [[Rank.topNPerGroup]] — each map task prunes its partition to `cap`
    * rows per domain before the shuffle, so the exchange carries at most
    * cap × |domains| rows per task no matter how skewed the crawl. */
  def perDomainCap(df: DataFrame, domainCol: Column, order: Seq[Column],
                   cap: Int): DataFrame =
    Rank.topNPerGroup(df, Seq(domainCol), order, cap)

  /** [[perDomainCap]] measured in a weight column's units — tokens,
    * chars, bytes — instead of rows: admit rows per domain best-first by
    * `order` (append a unique id for determinism) until the domain's
    * BUDGET is spent. A row is admitted iff the weight of the rows
    * admitted before it is still under budget, so the first row of a
    * domain always lands even if it alone exceeds the budget, and
    * every domain's retained mass is < budget + its heaviest row.
    *
    * Weights must be positive integers (a token count); null or
    * non-positive rows are dropped — they consume nothing, so any
    * number of them could otherwise be admitted at unbounded depth.
    * Because every admitted row weighs ≥ 1, at most `budget` rows per
    * domain can ever be admitted: the same WindowGroupLimit map-side
    * prune as the row cap bounds the exchange FIRST, and the
    * cumulative-sum window runs over the ≤ min(budget, rows) survivors
    * per domain — never over the raw crawl skew. Adds `rank` and the
    * exclusive `cum_before`. */
  def perDomainTokenCap(df: DataFrame, domainCol: Column,
                        order: Seq[Column], weightCol: String,
                        budget: Long): DataFrame = {
    require(budget > 0, "budget must be positive")
    val pos = df.filter(col(weightCol).isNotNull && col(weightCol) >= 1)
    val rowCap = math.min(budget, Int.MaxValue.toLong).toInt
    val pruned = Rank.topNPerGroup(pos, Seq(domainCol), order, rowCap)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(domainCol).orderBy(order: _*)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        -1)
    pruned
      .withColumn("cum_before",
        coalesce(sum(col(weightCol).cast("long")).over(w), lit(0L)))
      .filter(col("cum_before") < budget)
  }

  /** Dotted-quad IPv4 → integer (0..2³²−1 as LONG), null for anything
    * that is not exactly four in-range octets — malformed strings must
    * not silently alias a real address. Pure column expression (one
    * regex gate + split arithmetic, codegen, no UDF). */
  def ipv4ToLong(ip: Column): Column = {
    val ok = ip.rlike(
      "^(25[0-5]|2[0-4][0-9]|1?[0-9]?[0-9])(\\.(25[0-5]|2[0-4][0-9]|1?[0-9]?[0-9])){3}$")
    val p = split(ip, "\\.")
    when(ok,
      element_at(p, 1).cast("long") * 16777216L +
        element_at(p, 2).cast("long") * 65536L +
        element_at(p, 3).cast("long") * 256L +
        element_at(p, 4).cast("long"))
  }

  /** One parsed CIDR block: inclusive integer bounds. */
  final case class CidrRange(cidr: String, lo: Long, hi: Long)

  /** Parse `a.b.c.d/p` on the driver; the HOST bits of the base are
    * zeroed (the standard reading of a sloppy base like 10.0.0.7/8). */
  private[graft] def parseCidr(cidr: String): CidrRange = {
    val Array(base, p) = cidr.split("/")
    val prefix = p.toInt
    require(prefix >= 0 && prefix <= 32, s"bad prefix in $cidr")
    val oct = base.split("\\.").map(_.toLong)
    require(oct.length == 4 && oct.forall(o => o >= 0 && o <= 255),
      s"bad base in $cidr")
    val raw = oct(0) * 16777216L + oct(1) * 65536L + oct(2) * 256L + oct(3)
    val mask = if (prefix == 0) 0L else (0xffffffffL << (32 - prefix)) & 0xffffffffL
    val lo = raw & mask
    CidrRange(cidr, lo, lo + (0xffffffffL ^ mask))
  }

  /** CIDR BLOCKLIST SCREEN — the IP-level twin of [[applyBlocklist]]:
    * flags rows whose IPv4 lands inside any listed block (private
    * ranges, known-abuse netblocks, cloud egress pools — the standard
    * crawl-source hygiene gate). The list is parsed ON THE DRIVER into
    * integer ranges and compiled into ONE chained-when projection —
    * no join, no shuffle, no broadcast table; at 100 TB this is a pure
    * map pass fused into whatever scan precedes it (blocklists are
    * hundreds of rows — the [[applyBlocklist]] compile-the-list
    * discipline). First matching block in list order wins the label
    * (order the list most-specific-first for longest-prefix reads).
    * Unparseable IPs are NOT blocked but surface ip_long = null for a
    * separate hygiene check.
    *
    * @return input + (ip_long, blocked, block) */
  def cidrBlocklist(df: DataFrame, ipCol: String,
                    cidrs: Seq[String]): DataFrame = {
    require(cidrs.nonEmpty, "cidrBlocklist needs at least one CIDR")
    val ranges = cidrs.map(parseCidr)
    val ipl = ipv4ToLong(col(ipCol))
    val withIp = df.withColumn("ip_long", ipl)
    val hit = ranges.map(r =>
      col("ip_long").between(r.lo, r.hi)).reduce(_ || _)
    val label = ranges.foldRight(lit(null).cast("string")) { (r, els) =>
      when(col("ip_long").between(r.lo, r.hi), lit(r.cidr)).otherwise(els)
    }
    withIp
      .withColumn("blocked", coalesce(hit, lit(false)))
      .withColumn("block", label)
  }
}
