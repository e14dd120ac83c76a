package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops._
import graft.pivot.PivotOps
import graft.QueryShared._
import graft.TrainQueries.{qEventsTopPaths}

/** Corpus insight and reporting verification queries — split from the former monolithic
  * OpsQueries.scala (round 12); see [[graft.OpsQueries]] for the
  * oracle conventions and the aggregate registry. */
private[graft] object InsightQueries {
  // =====================================================================
  // Corpus insight: readability, collocations, outliers, transitions
  // =====================================================================

  /** ARI + Coleman–Liau grade levels per document (chars/words/sentences
    * only — the syllable-free formulas, exactly portable). */
  private[graft] def qTextReadability(s: SparkSession, dir: String): DataFrame =
    Insight.readability(t(s, dir, "documents"), "text", "doc_id")

  private[graft] val oTextReadability =
    """WITH m AS (SELECT doc_id,
      |  CAST(greatest(len(regexp_extract_all(text, '\S+')), 1) AS BIGINT) AS w,
      |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9]')) AS BIGINT) AS c,
      |  CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS BIGINT) AS l,
      |  CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS BIGINT) AS s
      |  FROM documents)
      |SELECT doc_id, w AS words, s AS sentences,
      |  CAST((471 * c * s + 50 * w * w - 2143 * w * s) * 10000 // (w * s)
      |    AS DOUBLE) / 1000000.0 AS ari,
      |  CAST((588 * l - 2960 * s - 1580 * w) * 10000 // w
      |    AS DOUBLE) / 1000000.0 AS cli
      |FROM m""".stripMargin

  /** Compression-ratio quality signal (DEFLATE bytes / raw bytes).
    * DEFLATE is not expressible in SQL, so this is a CONTRACT query:
    * raw_bytes is recomputed exactly by the oracle, and three per-doc
    * booleans that must be literally TRUE prove the signal is a real
    * LZ77 compressor, not a stub — positivity, the stored-block upper
    * bound, and "appending a second copy of the text costs less than
    * the raw bytes" (the back-reference property). The ratio itself is
    * pinned by InsightSpec (repetitive text below prose below random). */
  private[graft] def qTextCompressRatio(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val raw = octet_length(col("text"))
    val dz = TextFunctions.deflateSize(col("text"))
    val dz2 = TextFunctions.deflateSize(concat(col("text"), col("text")))
    d.select(col("doc_id"), raw.cast("long").as("raw_bytes"),
      (dz > 0).as("deflate_positive"),
      (dz <= raw + lit(64)).as("deflate_bounded"),
      ((dz2 - dz) < raw).as("second_copy_compresses"))
  }

  private[graft] val oTextCompressRatio =
    """SELECT doc_id, strlen(text) AS raw_bytes,
      |  TRUE AS deflate_positive, TRUE AS deflate_bounded,
      |  TRUE AS second_copy_compresses
      |FROM documents""".stripMargin

  /** Top-50 adjacent-word collocations by PMI (support >= 5). */
  private[graft] def qTextPmi(s: SparkSession, dir: String): DataFrame =
    Insight.pmiBigrams(t(s, dir, "documents"), "text", minCount = 5, topK = 50)

  private[graft] val oTextPmi =
    """WITH d AS (SELECT regexp_extract_all(lower(text), '[a-z]+') AS t
      |  FROM documents),
      |tot AS (SELECT CAST(sum(len(t)) AS DOUBLE) AS n_uni,
      |  CAST(sum(greatest(len(t) - 1, 0)) AS DOUBLE) AS n_bi FROM d),
      |uni AS (SELECT u.w, count(*) AS c
      |  FROM (SELECT unnest(t) AS w FROM d) u GROUP BY 1),
      |bg AS (SELECT p.bg[1] AS w1, p.bg[2] AS w2, count(*) AS n
      |  FROM (SELECT unnest(list_zip(t, t[2:])) AS bg FROM d) p
      |  WHERE p.bg[2] IS NOT NULL GROUP BY 1, 2)
      |SELECT w1, w2, n,
      |  round(ln((n / n_bi) / ((u1.c / n_uni) * (u2.c / n_uni))), 6) AS pmi
      |FROM bg CROSS JOIN tot
      |  JOIN uni u1 ON bg.w1 = u1.w JOIN uni u2 ON bg.w2 = u2.w
      |WHERE n >= 5
      |ORDER BY pmi DESC, w1, w2 LIMIT 50""".stripMargin

  /** Events more than 3 population stddevs from their type's mean. */
  private[graft] def qEventsAnomaly(s: SparkSession, dir: String): DataFrame =
    Insight.zOutliers(readEvents(s, dir), "event_type", "value", 3.0)
      .select(col("event_id"), col("event_type"), col("value"), col("z"))

  private[graft] val oEventsAnomaly =
    """WITH st AS (SELECT event_type, avg(value) AS mu,
      |    stddev_pop(value) AS sd FROM events GROUP BY 1)
      |SELECT event_id, e.event_type, value,
      |  round((value - mu) / sd, 6) AS z
      |FROM events e JOIN st USING (event_type)
      |WHERE sd > 0 AND abs((value - mu) / sd) > 3.0""".stripMargin

  /** Per-type one-sided CUSUM control charts over gap-filled hourly
    * counts (see [[Insight.cusum]]): exact integer recursion via the
    * prefix-minimum identity — the batch audit twin of the streaming
    * CUSUM detector, alarming on drift AND on silence. */
  private[graft] def qEventsCusum(s: SparkSession, dir: String): DataFrame =
    Insight.cusum(readEvents(s, dir), "event_type", "ts")

  private[graft] val oEventsCusum =
    """WITH c AS (SELECT event_type AS key,
      |    epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS bucket,
      |    CAST(count(*) AS BIGINT) AS c
      |  FROM events GROUP BY 1, 2),
      |sp AS (SELECT key, min(bucket) AS b0, max(bucket) AS b1
      |  FROM c GROUP BY 1),
      |f AS (SELECT key, unnest(generate_series(b0, b1)) AS bucket FROM sp),
      |x AS (SELECT f.key, f.bucket, CAST(coalesce(c.c, 0) AS BIGINT) AS x
      |  FROM f LEFT JOIN c ON c.key = f.key AND c.bucket = f.bucket),
      |r AS (SELECT key, bucket, x, row_number() OVER
      |    (PARTITION BY key ORDER BY bucket) AS rn FROM x),
      |wm AS (SELECT key, CAST(sum(x) // count(*) AS BIGINT) AS mu0
      |  FROM r WHERE rn <= 24 GROUP BY 1),
      |d AS (SELECT r.key, bucket, x, mu0, mu0 // 4 AS k,
      |    4 * (mu0 + 1) AS h
      |  FROM r JOIN wm ON wm.key = r.key),
      |p AS (SELECT key, bucket, x, mu0, h,
      |    sum(x - mu0 - k) OVER w AS p_hi,
      |    sum(mu0 - k - x) OVER w AS p_lo
      |  FROM d WINDOW w AS (PARTITION BY key ORDER BY bucket
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |s AS (SELECT key, bucket, x, mu0, h,
      |    p_hi - least(0, min(p_hi) OVER w) AS s_hi,
      |    p_lo - least(0, min(p_lo) OVER w) AS s_lo
      |  FROM p WINDOW w AS (PARTITION BY key ORDER BY bucket
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      |SELECT key, bucket, x, mu0,
      |  CAST(s_hi AS BIGINT) AS s_hi, CAST(s_lo AS BIGINT) AS s_lo,
      |  s_hi > h AS alarm_hi, s_lo > h AS alarm_lo
      |FROM s""".stripMargin

  /** EWMA control chart over gap-filled hourly counts (see
    * [[Insight.ewma]]): dyadic α = 1/4 keeps the recurrence one exact
    * integer step per bucket; the oracle replays the fold in a
    * recursive CTE with scalar z state. */
  private[graft] def qEventsEwma(s: SparkSession, dir: String): DataFrame =
    Insight.ewma(readEvents(s, dir), "event_type", "ts")

  private[graft] val oEventsEwma =
    """WITH RECURSIVE c AS (SELECT event_type AS key,
      |    epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS bucket,
      |    CAST(count(*) AS BIGINT) AS c
      |  FROM events GROUP BY 1, 2),
      |sp AS (SELECT key, min(bucket) AS b0, max(bucket) AS b1
      |  FROM c GROUP BY 1),
      |f AS (SELECT key, unnest(generate_series(b0, b1)) AS bucket FROM sp),
      |r AS MATERIALIZED (SELECT f.key, f.bucket,
      |    CAST(coalesce(c.c, 0) AS BIGINT) AS x,
      |    CAST(row_number() OVER (PARTITION BY f.key ORDER BY f.bucket)
      |      AS BIGINT) AS rn
      |  FROM f LEFT JOIN c ON c.key = f.key AND c.bucket = f.bucket),
      |wm AS MATERIALIZED (SELECT key,
      |    CAST(sum(x) // count(*) AS BIGINT) AS mu0
      |  FROM r WHERE rn <= 24 GROUP BY 1),
      |walk AS (
      |  SELECT key, CAST(0 AS BIGINT) AS pos, mu0 * 1000000 AS z, mu0
      |  FROM wm
      |  UNION ALL
      |  SELECT w.key, w.pos + 1, (r.x * 1000000 + 3 * w.z) // 4, w.mu0
      |  FROM walk w JOIN r ON r.key = w.key AND r.rn = w.pos + 1)
      |SELECT r.key, r.bucket, r.x, CAST(w.z AS BIGINT) AS z_micro,
      |  CAST(w.z - w.mu0 * 1000000 AS BIGINT) AS dev_micro,
      |  abs(w.z - w.mu0 * 1000000) > (w.mu0 + 1) * 1000000 // 2 AS alarm
      |FROM walk w JOIN r ON r.key = w.key AND r.rn = w.pos
      |WHERE w.pos >= 1""".stripMargin

  /** Classical additive seasonal decomposition of hourly rates at
    * period 24 (see [[Insight.seasonalDecompose]]): x = centered-MA
    * trend + re-centered per-slot seasonal + remainder, exact integer
    * micro rails, honest nulls at the MA edges — the model-free
    * decomposition beside `events_holt_winters`. */
  private[graft] def qEventsDecompose(s: SparkSession, dir: String): DataFrame =
    Insight.seasonalDecompose(readEvents(s, dir), "event_type", "ts")

  private[graft] val oEventsDecompose =
    """WITH c AS (SELECT event_type AS key,
      |    epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS bucket,
      |    CAST(count(*) AS BIGINT) AS c
      |  FROM events GROUP BY 1, 2),
      |sp AS (SELECT key, min(bucket) AS b0, max(bucket) AS b1
      |  FROM c GROUP BY 1),
      |f AS (SELECT key, unnest(generate_series(b0, b1)) AS bucket FROM sp),
      |x AS (SELECT f.key, f.bucket, CAST(coalesce(c.c, 0) AS BIGINT) AS x,
      |    f.bucket % 24 AS slot
      |  FROM f LEFT JOIN c ON c.key = f.key AND c.bucket = f.bucket),
      |t AS (SELECT key, bucket, x, slot,
      |    count(*) OVER wa AS cnt,
      |    sum(x) OVER wm AS midsum,
      |    lag(x, 12) OVER w + lead(x, 12) OVER w AS ends
      |  FROM x WINDOW w AS (PARTITION BY key ORDER BY bucket),
      |    wm AS (PARTITION BY key ORDER BY bucket
      |      ROWS BETWEEN 11 PRECEDING AND 11 FOLLOWING),
      |    wa AS (PARTITION BY key ORDER BY bucket
      |      ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)),
      |dd AS (SELECT key, bucket, x, slot,
      |    CASE WHEN cnt = 25
      |      THEN (500000 * ends + 1000000 * midsum) // 24 END
      |      AS trend_micro,
      |    x * 1000000 - (CASE WHEN cnt = 25
      |      THEN (500000 * ends + 1000000 * midsum) // 24 END) AS d
      |  FROM t),
      |sm AS (SELECT key, slot, sum(d) // count(*) AS sraw
      |  FROM dd WHERE d IS NOT NULL GROUP BY 1, 2),
      |g AS (SELECT key, sum(sraw) // count(*) AS gm FROM sm GROUP BY 1)
      |SELECT dd.key, bucket, x, CAST(trend_micro AS BIGINT) AS trend_micro,
      |  CAST(CASE WHEN d IS NOT NULL THEN sraw - gm END AS BIGINT)
      |    AS seasonal_micro,
      |  CAST(CASE WHEN d IS NOT NULL THEN d - (sraw - gm) END AS BIGINT)
      |    AS remainder_micro
      |FROM dd LEFT JOIN sm ON sm.key = dd.key AND sm.slot = dd.slot
      |LEFT JOIN g ON g.key = dd.key""".stripMargin

  /** Per-type Mann–Kendall trend test on daily counts (see
    * [[Insight.mannKendall]]): exact integer S and 18·Var(S) with tie
    * correction, ppm z with continuity correction — the significance
    * read beside `events_theilsen`'s slope. */
  private[graft] def qEventsTrendMk(s: SparkSession, dir: String): DataFrame =
    Insight.mannKendall(readEvents(s, dir), "event_type", "ts")

  private[graft] val oEventsTrendMk =
    """WITH c AS (SELECT event_type AS key,
      |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS bucket,
      |    CAST(count(*) AS BIGINT) AS x
      |  FROM events GROUP BY 1, 2),
      |s AS (SELECT a.key, CAST(sum(sign(b.x - a.x)) AS BIGINT) AS s
      |  FROM c a JOIN c b ON a.key = b.key AND a.bucket < b.bucket
      |  GROUP BY 1),
      |n AS (SELECT key, CAST(count(*) AS BIGINT) AS n FROM c GROUP BY 1),
      |t AS (SELECT key,
      |    CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie18
      |  FROM (SELECT key, x, CAST(count(*) AS BIGINT) AS t
      |    FROM c GROUP BY 1, 2) GROUP BY 1),
      |j AS (SELECT n.key, n.n, CAST(coalesce(s.s, 0) AS BIGINT) AS s,
      |    n.n * (n.n - 1) * (2 * n.n + 5) - tie18 AS var18
      |  FROM n LEFT JOIN s ON s.key = n.key
      |  JOIN t ON t.key = n.key),
      |z AS (SELECT key, n, s, CAST(var18 AS BIGINT) AS var18,
      |    CASE WHEN var18 > 0 AND s <> 0 THEN CAST(floor(
      |        CAST(s - sign(s) AS DOUBLE) /
      |          sqrt(CAST(var18 AS DOUBLE) / CAST(18 AS DOUBLE)) *
      |          1e6 + 0.5) AS BIGINT)
      |      ELSE CAST(0 AS BIGINT) END AS z_ppm
      |  FROM j)
      |SELECT key, n, s, var18, z_ppm,
      |  CASE WHEN z_ppm > 1960000 THEN 'increasing'
      |    WHEN z_ppm < -1960000 THEN 'decreasing'
      |    ELSE 'none' END AS trend
      |FROM z""".stripMargin

  /** Pareto frontier of users on (activity, spend) — see
    * [[Insight.paretoFrontier]]: per-user event count vs micro-exact
    * value sum, frontier = users unbeaten on both axes, evaluated via
    * the per-x-maxima running-max identity instead of an O(n²)
    * dominance anti-join. */
  private[graft] def qEventsPareto(s: SparkSession, dir: String): DataFrame = {
    val agg = readEvents(s, dir).groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(expr("CAST(floor(value * 1000000 + 0.5) AS BIGINT)"))
          .as("spend_micro"))
    Insight.paretoFrontier(agg, "user_id", "n_events", "spend_micro")
  }

  private[graft] val oEventsPareto =
    """WITH agg AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
      |    CAST(sum(CAST(floor(value * 1000000 + 0.5) AS BIGINT))
      |      AS BIGINT) AS spend_micro
      |  FROM events GROUP BY 1),
      |gx AS (SELECT n_events, max(spend_micro) AS my FROM agg GROUP BY 1),
      |fx AS (SELECT n_events, my, max(my) OVER (ORDER BY n_events DESC
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
      |  FROM gx)
      |SELECT a.user_id, a.n_events, a.spend_micro
      |FROM agg a JOIN fx ON fx.n_events = a.n_events
      |  AND a.spend_micro = fx.my
      |WHERE fx.pm IS NULL OR fx.my > fx.pm""".stripMargin

  /** Per-type winsorized event values: clamp to the exact [p05, p95]
    * band via [[Profile.winsorize]] (second oracle surface for the op,
    * on the events shape, plus the `clipped` audit flag). */
  private[graft] def qEventsWinsorize(s: SparkSession, dir: String): DataFrame =
    Profile.winsorize(readEvents(s, dir), Seq("event_type"), "value",
        loQ = 0.05, hiQ = 0.95)
      .withColumn("clipped", col("value_w") =!= col("value"))
      .select(col("event_id"), col("event_type"), col("value"),
        col("value_w"), col("clipped"))

  private[graft] val oEventsWinsorize =
    """WITH q AS (SELECT event_type,
      |    quantile_cont(value, 0.05) AS qlo,
      |    quantile_cont(value, 0.95) AS qhi
      |  FROM events GROUP BY 1)
      |SELECT event_id, e.event_type, value,
      |  greatest(qlo, least(qhi, value)) AS value_w,
      |  greatest(qlo, least(qhi, value)) <> value AS clipped
      |FROM events e JOIN q USING (event_type)""".stripMargin

  /** Per-type percent-rank score calibration: each event's value at
    * its type's empirical CDF position (see [[Rank.percentRank]] —
    * (rank−1)/(n−1), tie-order-independent, exact-integer division). */
  private[graft] def qEventsPercentRank(s: SparkSession, dir: String): DataFrame =
    Rank.percentRank(readEvents(s, dir), Seq(col("event_type")),
        col("value"))
      .select(col("event_id"), col("event_type"), col("value"), col("pr"))

  private[graft] val oEventsPercentRank =
    """SELECT event_id, event_type, value,
      |  percent_rank() OVER (PARTITION BY event_type ORDER BY value)
      |    AS pr
      |FROM events""".stripMargin

  /** Per-type MAD outliers: modified z-score 0.6745·(x−med)/MAD over
    * the robust per-key baseline (see [[Insight.madOutliers]]). */
  private[graft] def qEventsMad(s: SparkSession, dir: String): DataFrame =
    Insight.madOutliers(readEvents(s, dir), "event_type", "value", 3.5)
      .select(col("event_id"), col("event_type"), col("value"),
        col("med"), col("mad"), col("z_mad"))

  private[graft] val oEventsMad =
    """WITH m AS (SELECT event_type, quantile_cont(value, 0.5) AS med
      |  FROM events GROUP BY 1),
      |d AS (SELECT e.event_type, med,
      |    quantile_cont(abs(value - med), 0.5) AS mad
      |  FROM events e JOIN m USING (event_type) GROUP BY 1, 2)
      |SELECT event_id, e.event_type, value, med, mad,
      |  round(CAST(0.6745 AS DOUBLE) * (value - med) / mad, 6) AS z_mad
      |FROM events e JOIN d USING (event_type)
      |WHERE mad > 0
      |  AND abs(CAST(0.6745 AS DOUBLE) * (value - med) / mad) > 3.5"""
      .stripMargin

  /** Per-type event-rate changepoint over minute buckets. */
  private[graft] def qEventsChangepoint(s: SparkSession, dir: String): DataFrame =
    Insight.rateChangepoint(readEvents(s, dir), "event_type", "ts")

  private[graft] val oEventsChangepoint =
    """WITH c AS (SELECT event_type,
      |    CAST(floor(epoch_us(CAST(ts AS TIMESTAMP)) / 60000000.0) AS BIGINT)
      |      AS bucket, count(*) AS c
      |  FROM events GROUP BY 1, 2),
      |r AS (SELECT event_type, bucket, c,
      |    CAST(row_number() OVER w AS BIGINT) AS i,
      |    CAST(sum(c) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
      |      AND CURRENT ROW) AS BIGINT) AS s,
      |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n,
      |    CAST(sum(c) OVER (PARTITION BY event_type) AS BIGINT) AS tot
      |  FROM c WINDOW w AS (PARTITION BY event_type ORDER BY bucket)),
      |cand AS (SELECT event_type, bucket, i, n,
      |    CAST(s AS DOUBLE) / CAST(i AS DOUBLE) AS before_r,
      |    CAST(tot - s AS DOUBLE) / (CAST(n AS DOUBLE) - CAST(i AS DOUBLE))
      |      AS after_r,
      |    abs(CAST(s AS DOUBLE) / CAST(i AS DOUBLE) -
      |        CAST(tot - s AS DOUBLE) /
      |          (CAST(n AS DOUBLE) - CAST(i AS DOUBLE))) *
      |      sqrt(CAST(i AS DOUBLE) * (CAST(n AS DOUBLE) - CAST(i AS DOUBLE))
      |        / CAST(n AS DOUBLE)) AS stat
      |  FROM r WHERE i >= 5 AND i <= n - 5),
      |pick AS (SELECT *, row_number() OVER (PARTITION BY event_type
      |    ORDER BY stat DESC, i) AS rk FROM cand)
      |SELECT event_type, n AS n_buckets, bucket AS split_bucket,
      |  round(before_r, 6) AS before_rate, round(after_r, 6) AS after_rate,
      |  round(stat, 6) AS stat
      |FROM pick WHERE rk = 1""".stripMargin

  /** Per-type rate autocorrelation at lags 1-3 over minute buckets. */
  private[graft] def qEventsAutocorr(s: SparkSession, dir: String): DataFrame =
    Insight.rateAutocorr(readEvents(s, dir), "event_type", "ts")

  private[graft] val oEventsAutocorr =
    """WITH c AS (SELECT event_type,
      |    CAST(floor(epoch_us(CAST(ts AS TIMESTAMP)) / 60000000.0) AS BIGINT)
      |      AS bucket, count(*) AS c
      |  FROM events GROUP BY 1, 2),
      |p AS (SELECT a.event_type, l.lag, a.c AS x, b.c AS y
      |  FROM c a CROSS JOIN (SELECT unnest([1, 2, 3]) AS lag) l
      |  JOIN c b ON b.event_type = a.event_type
      |    AND b.bucket = a.bucket + l.lag),
      |g AS (SELECT event_type, lag, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
      |    CAST(sum(x * y) AS BIGINT) AS sxy,
      |    CAST(sum(x * x) AS BIGINT) AS sxx,
      |    CAST(sum(y * y) AS BIGINT) AS syy
      |  FROM p GROUP BY 1, 2)
      |SELECT event_type, lag, n AS n_pairs,
      |  round(CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
      |    THEN CAST(n * sxy - sx * sy AS DOUBLE) /
      |      sqrt(CAST(n * sxx - sx * sx AS DOUBLE) *
      |           CAST(n * syy - sy * sy AS DOUBLE)) END, 6) AS r
      |FROM g""".stripMargin

  /** Hour-of-day seasonal profile per event type — zero-filled moments
    * over key-days (see [[Insight.seasonalProfile]]); the SQL replays
    * the count/count-distinct/moment formulas exactly. hod casts to
    * long for DuckDB `hour()` BIGINT dtype parity. */
  private[graft] def qEventsSeasonality(s: SparkSession, dir: String): DataFrame =
    Insight.seasonalProfile(readEvents(s, dir), "event_type", "ts")
      .withColumn("hod", col("hod").cast("long"))

  private[graft] val oEventsSeasonality =
    """WITH c AS (SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
      |    hour(CAST(ts AS TIMESTAMP)) AS hod, count(*) AS c
      |  FROM events GROUP BY 1, 2, 3),
      |k AS (SELECT event_type,
      |    CAST(count(DISTINCT CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS BIGINT)
      |      AS n_days
      |  FROM events GROUP BY 1),
      |g AS (SELECT event_type, hod,
      |    CAST(count(*) AS BIGINT) AS days_active,
      |    CAST(sum(c) AS BIGINT) AS sc, CAST(sum(c * c) AS BIGINT) AS scc,
      |    CAST(max(c) AS BIGINT) AS max_c
      |  FROM c GROUP BY 1, 2)
      |SELECT g.event_type, g.hod, k.n_days, g.days_active,
      |  round(CAST(sc AS DOUBLE) / n_days, 6) AS mean_c,
      |  round(sqrt(greatest(CAST(scc AS DOUBLE) / n_days -
      |    (CAST(sc AS DOUBLE) / n_days) * (CAST(sc AS DOUBLE) / n_days),
      |    CAST(0 AS DOUBLE))), 6) AS sd_c,
      |  max_c
      |FROM g JOIN k USING (event_type)""".stripMargin

  /** ORC source/sink round trip — the built-in columnar alternative to
    * parquet for lake layouts: documents write to ORC (native Spark
    * writer, zlib default) and read back through the vectorized ORC
    * scan; per-row payload md5 + every scalar column must survive the
    * format change bit-exactly. Predicate pushdown into the ORC scan is
    * spec-asserted (LayoutSpec). */
  private[graft] def qSourceOrcRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val out = new java.io.File(scratchRoot, "orc_rt").getAbsolutePath
    t(s, dir, "documents").select("doc_id", "text", "lang", "n_chars")
      .write.mode("overwrite").orc(out)
    s.read.orc(out)
      .select(col("doc_id"), col("lang"),
        col("n_chars").cast("long").as("n_chars"),
        md5(col("text")).as("text_md5"))
  }

  private[graft] val oSourceOrcRoundtrip =
    """SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars,
      |  md5(text) AS text_md5 FROM documents""".stripMargin

  /** First-order Markov transition matrix of the event stream. */
  private[graft] def qEventsMarkov(s: SparkSession, dir: String): DataFrame =
    Insight.transitions(readEvents(s, dir), "user_id", "ts", "event_type",
      "event_id")

  private[graft] val oEventsMarkov =
    """WITH o AS (SELECT user_id, event_type AS src,
      |    lead(event_type) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS dst
      |  FROM events),
      |n AS (SELECT src, dst, count(*) AS n FROM o
      |  WHERE dst IS NOT NULL GROUP BY 1, 2),
      |t AS (SELECT src, sum(n) AS tot FROM n GROUP BY 1)
      |SELECT n.src, n.dst, n.n, round(n.n / tot, 6) AS p
      |FROM n JOIN t USING (src)""".stripMargin

  /** Top-20 parts by PageRank over the co-purchase graph (parts sharing
    * an order), 5 iterations, d=0.85 — EXACT integer rank units, so the
    * unrolled-CTE oracle matches bit for bit. */
  private[graft] def qGraphPagerank(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_partkey"))
    val edges = Graph.coOccurrenceEdges(li, "l_orderkey", "l_partkey")
    Graph.pagerank(edges, iterations = 5)
      .orderBy(col("rank_units").desc, col("id"))
      .limit(20)
      .select(col("id").as("part"), col("rank_units"), col("rank"))
  }

  /** Exact triangle census of the co-purchase graph via degree-ordered
    * orientation (see [[Graph.triangleStats]]) — all-integer outputs
    * plus transitivity as a double of exact integers. */
  private[graft] def qGraphTriangles(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_partkey"))
    // assumeCanonical: the canonical edge build already guarantees
    // (src < dst, distinct) — skips a redundant edge-sized exchange
    // (r15 optimization; identical output, oracle unchanged)
    Graph.triangleStats(
      Graph.coOccurrenceEdgesCanonical(li, "l_orderkey", "l_partkey"),
      assumeCanonical = true)
  }

  private[graft] val oGraphTriangles =
    """WITH items AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS item
      |  FROM lineitem),
      |e AS (SELECT DISTINCT a.item AS u, b.item AS v FROM items a
      |  JOIN items b ON a.g = b.g AND a.item < b.item),
      |deg AS (SELECT id, CAST(count(*) AS BIGINT) AS d FROM
      |  (SELECT u AS id FROM e UNION ALL SELECT v AS id FROM e)
      |  GROUP BY id),
      |o AS (SELECT
      |    CASE WHEN du.d < dv.d OR (du.d = dv.d AND u < v)
      |      THEN u ELSE v END AS s,
      |    CASE WHEN du.d < dv.d OR (du.d = dv.d AND u < v)
      |      THEN v ELSE u END AS t
      |  FROM e JOIN deg du ON du.id = e.u JOIN deg dv ON dv.id = e.v),
      |tri AS (SELECT CAST(count(*) AS BIGINT) AS n_triangles
      |  FROM o e1 JOIN o e2 ON e2.s = e1.t
      |  WHERE EXISTS (SELECT 1 FROM o e3
      |    WHERE e3.s = e1.s AND e3.t = e2.t)),
      |st AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes,
      |    CAST(sum(d * (d - 1) // 2) AS BIGINT) AS n_wedges FROM deg),
      |ne AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM e)
      |SELECT n_nodes, n_edges, n_triangles, n_wedges,
      |  round(CASE WHEN n_wedges > 0
      |    THEN 3 * CAST(n_triangles AS DOUBLE) / n_wedges
      |    ELSE CAST(0 AS DOUBLE) END, 6) AS transitivity
      |FROM st, ne, tri""".stripMargin

  private[graft] val oGraphPagerank = {
    val iter = (k: Int) =>
      s"""r$k AS (SELECT v.id,
         |  CAST((SELECT t FROM tp) + 85 * coalesce(f.infl, 0) // 100
         |    AS BIGINT) AS u
         |  FROM v LEFT JOIN (
         |    SELECT e.dst AS id, sum(r${k - 1}.u // deg.outdeg) AS infl
         |    FROM e JOIN r${k - 1} ON e.src = r${k - 1}.id
         |      JOIN deg ON e.src = deg.src GROUP BY 1) f USING (id))"""
        .stripMargin
    s"""WITH g AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS item
       |  FROM lineitem),
       |e AS (SELECT DISTINCT a.item AS src, b.item AS dst
       |  FROM g a JOIN g b USING (g) WHERE a.item <> b.item),
       |v AS (SELECT DISTINCT src AS id FROM e
       |  UNION SELECT DISTINCT dst FROM e),
       |deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY 1),
       |nn AS (SELECT count(*) AS n FROM v),
       |tp AS (SELECT ((1000000000000 * 15) // 100) // n AS t FROM nn),
       |r0 AS (SELECT id, (SELECT 1000000000000 // n FROM nn) AS u FROM v),
       |${(1 to 5).map(iter).mkString(",\n")}
       |SELECT id AS part, u AS rank_units,
       |  round(CAST(u AS DOUBLE) / 1000000000000, 6) AS rank
       |FROM r5 ORDER BY u DESC, id LIMIT 20""".stripMargin
  }

  /** Per-seed personalized PageRank over the co-purchase graph (see
    * [[Graph.pprTopK]]): each of the 4 lowest part ids gets its OWN
    * proximity vector (sparse labeled state, teleport to its own
    * seed), top-10 per seed — the "more like this seed" relevance
    * read the aggregate trustRank cannot answer. Exact Scale-unit
    * rails; the oracle unrolls all 4 labeled iterations. */
  private[graft] def qGraphPpr(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_partkey"))
    val edges = Graph.coOccurrenceEdges(li, "l_orderkey", "l_partkey")
    val seeds = li.select(col("l_partkey").as("id")).distinct()
      .orderBy("id").limit(4)
    Graph.pprTopK(edges, seeds, iterations = 4, k = 10)
  }

  private[graft] val oGraphPpr = {
    val iter = (k: Int) =>
      s"""i$k AS (SELECT s.label, e.dst AS id,
         |    CAST(85 * sum(s.mass // deg.outdeg) // 100 AS BIGINT) AS m
         |  FROM s${k - 1} s JOIN e ON e.src = s.id
         |    JOIN deg ON deg.src = e.src
         |  GROUP BY 1, 2),
         |s$k AS MATERIALIZED (SELECT label, id,
         |    CAST(sum(m) AS BIGINT) AS mass FROM (
         |  SELECT label, id, m FROM i$k
         |  UNION ALL SELECT label, label AS id,
         |    CAST((1000000000000 * 15) // 100 AS BIGINT) AS m FROM sd)
         |  GROUP BY 1, 2)""".stripMargin
    s"""WITH g AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS item
       |  FROM lineitem),
       |e AS MATERIALIZED (SELECT DISTINCT a.item AS src, b.item AS dst
       |  FROM g a JOIN g b USING (g) WHERE a.item <> b.item),
       |deg AS MATERIALIZED (SELECT src, count(*) AS outdeg FROM e
       |  GROUP BY 1),
       |sd AS MATERIALIZED (SELECT DISTINCT l_partkey AS label
       |  FROM lineitem ORDER BY 1 LIMIT 4),
       |s0 AS (SELECT label, label AS id,
       |  CAST(1000000000000 AS BIGINT) AS mass FROM sd),
       |${(1 to 4).map(iter).mkString(",\n")}
       |SELECT label, CAST(rank AS BIGINT) AS rank, id,
       |  mass AS mass_units
       |FROM (SELECT label, id, mass, row_number() OVER (
       |    PARTITION BY label ORDER BY mass DESC, id) AS rank FROM s4)
       |WHERE rank <= 10""".stripMargin
  }

  /** Coreness of every part in the co-purchase graph after a FIXED 8
    * h-index iterations (not converged — the fixed count is the
    * cross-engine contract; production uses `converge = true`). Exact
    * integers, full vertex table. */
  private[graft] def qGraphCoreness(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_partkey"))
    val edges = Graph.coOccurrenceEdgesCanonical(li, "l_orderkey", "l_partkey")
    // assumeCanonical: input is (src < dst, distinct) by construction
    // (r15 optimization; identical output, oracle unchanged)
    Graph.coreness(edges, iterations = 8, assumeCanonical = true)
      .select(col("id").as("part"), col("coreness"))
  }

  private[graft] val oGraphCoreness = {
    val iter = (k: Int) =>
      s"""c$k AS (SELECT id, CAST(max(rn) AS INT) AS c FROM (
         |    SELECT a.id, p.c AS nc,
         |      row_number() OVER (PARTITION BY a.id ORDER BY p.c DESC) AS rn
         |    FROM adj a JOIN c${k - 1} p ON a.nbr = p.id)
         |  WHERE nc >= rn GROUP BY id)""".stripMargin
    s"""WITH items AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS item
       |  FROM lineitem),
       |e AS (SELECT DISTINCT a.item AS u, b.item AS v FROM items a
       |  JOIN items b ON a.g = b.g AND a.item < b.item),
       |adj AS (SELECT u AS id, v AS nbr FROM e
       |  UNION ALL SELECT v, u FROM e),
       |c0 AS (SELECT id, CAST(count(*) AS INT) AS c FROM adj GROUP BY id),
       |${(1 to 8).map(iter).mkString(",\n")}
       |SELECT id AS part, c AS coreness FROM c8""".stripMargin
  }

  /** The 80-core of the co-purchase graph by iterative peeling —
    * surviving per-part in-core degrees (exact fixpoint; so is the
    * oracle's recursive peel). */
  private[graft] def qGraphKcore(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_partkey"))
    val edges = Graph.coOccurrenceEdgesCanonical(li, "l_orderkey", "l_partkey")
    // assumeCanonical: input is (src < dst, distinct) by construction
    val core = Graph.kCore(edges, k = 80, assumeCanonical = true)
    core.select(col("src").as("id"))
      .unionAll(core.select(col("dst").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))
      .select(col("id").as("part"), col("deg"))
  }

  /** The k-core as a recursive peel to the exact fixed point. Each
    * round keeps the edges whose endpoints both have degree >= 80 among
    * the previous round's edges (windows, not aggregates, in the
    * recursive term) and stops once a round removes nothing. A round
    * that removes EVERY edge also stops the recursion, leaving the last
    * non-empty round in `peel`, so the final select peels `last` once
    * more: a fixed point keeps all its edges, a vanishing core none. */
  private[graft] val oGraphKcore =
    """WITH RECURSIVE items AS (SELECT DISTINCT l_orderkey AS g,
      |  l_partkey AS item FROM lineitem),
      |e0 AS (SELECT DISTINCT a.item AS src, b.item AS dst FROM items a
      |  JOIN items b ON a.g = b.g AND a.item < b.item),
      |peel(r, src, dst, m) AS (
      |  SELECT 0, src, dst, count(*) OVER () FROM e0
      |  UNION ALL
      |  SELECT r + 1, src, dst, m FROM (
      |    SELECT r, src, dst, pm, count(*) OVER () AS m FROM (
      |      SELECT r, src, dst, pm, id,
      |        min(d) OVER (PARTITION BY src, dst) AS md FROM (
      |        SELECT r, src, dst, pm, id,
      |          count(*) OVER (PARTITION BY id) AS d FROM (
      |          SELECT r, src, dst, m AS pm, unnest([src, dst]) AS id
      |          FROM peel)))
      |    WHERE md >= 80 AND id = src)
      |  WHERE m < pm),
      |last AS MATERIALIZED (SELECT src, dst FROM (
      |  SELECT src, dst, r, max(r) OVER () AS mr FROM peel) WHERE r = mr),
      |deg AS (SELECT id, count(*) AS d FROM (
      |  SELECT src AS id FROM last UNION ALL SELECT dst FROM last)
      |  GROUP BY id),
      |core AS (SELECT src, dst FROM last
      |  WHERE src IN (SELECT id FROM deg WHERE d >= 80)
      |    AND dst IN (SELECT id FROM deg WHERE d >= 80))
      |SELECT id AS part, CAST(count(*) AS BIGINT) AS deg FROM (
      |  SELECT src AS id FROM core UNION ALL SELECT dst FROM core)
      |GROUP BY id""".stripMargin

  /** Degree assortativity of the co-purchase graph — exact-integer
    * sums, one double division (see [[Graph.assortativity]]). */
  private[graft] def qGraphAssortativity(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_partkey"))
    // assumeCanonical: input is (src < dst, distinct) by construction
    Graph.assortativity(
      Graph.coOccurrenceEdgesCanonical(li, "l_orderkey", "l_partkey"),
      assumeCanonical = true)
  }

  private[graft] val oGraphAssortativity =
    """WITH items AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS item
      |  FROM lineitem),
      |e AS (SELECT DISTINCT a.item AS u, b.item AS v FROM items a
      |  JOIN items b ON a.g = b.g AND a.item < b.item),
      |deg AS (SELECT id, CAST(count(*) AS BIGINT) AS d FROM
      |  (SELECT u AS id FROM e UNION ALL SELECT v AS id FROM e)
      |  GROUP BY id),
      |ends AS (SELECT du.d AS du, dv.d AS dv
      |  FROM e JOIN deg du ON du.id = e.u JOIN deg dv ON dv.id = e.v),
      |s AS (SELECT CAST(count(*) AS BIGINT) AS m,
      |    CAST(sum(du + dv) AS HUGEINT) AS s1,
      |    CAST(sum(2 * du * dv) AS HUGEINT) AS s2,
      |    CAST(sum(du * du + dv * dv) AS HUGEINT) AS s3 FROM ends)
      |SELECT m AS n_edges,
      |  round(CASE WHEN 2 * m * s3 - s1 * s1 <> 0
      |    THEN CAST(2 * m * s2 - s1 * s1 AS DOUBLE) /
      |         CAST(2 * m * s3 - s1 * s1 AS DOUBLE) END, 6)
      |    AS assortativity
      |FROM s""".stripMargin

  /** WEIGHTED PageRank over the co-purchase graph: edge weight = how
    * many orders share the part pair, so rank flows along frequently
    * co-bought links — still exact integers, (units·w) div Σw (see
    * [[Graph.pagerank]] weightCol). Top-20. */
  private[graft] def qGraphPagerankWeighted(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_partkey"))
    // canonical-half weighted edge build (count once per unordered pair,
    // mirror after) — same edge multiset as the naive `!=` self-join +
    // full groupBy, half the shuffle (the r14 weighted/unweighted
    // asymmetry; oracle unchanged)
    val edges = Graph.coOccurrenceEdgesWeighted(li, "l_orderkey", "l_partkey")
    Graph.pagerank(edges, iterations = 5, weightCol = Some("w"))
      .orderBy(col("rank_units").desc, col("id"))
      .limit(20)
      .select(col("id").as("part"), col("rank_units"), col("rank"))
  }

  private[graft] val oGraphPagerankWeighted = {
    val iter = (k: Int) =>
      s"""r$k AS (SELECT v.id,
         |  CAST((SELECT t FROM tp) + 85 * coalesce(f.infl, 0) // 100
         |    AS BIGINT) AS u
         |  FROM v LEFT JOIN (
         |    SELECT e.dst AS id, sum(r${k - 1}.u * e.w // deg.outw) AS infl
         |    FROM e JOIN r${k - 1} ON e.src = r${k - 1}.id
         |      JOIN deg ON e.src = deg.src GROUP BY 1) f USING (id))"""
        .stripMargin
    s"""WITH g AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS item
       |  FROM lineitem),
       |e AS (SELECT a.item AS src, b.item AS dst,
       |    CAST(count(*) AS BIGINT) AS w
       |  FROM g a JOIN g b USING (g) WHERE a.item <> b.item GROUP BY 1, 2),
       |v AS (SELECT DISTINCT src AS id FROM e
       |  UNION SELECT DISTINCT dst FROM e),
       |deg AS (SELECT src, sum(w) AS outw FROM e GROUP BY 1),
       |nn AS (SELECT count(*) AS n FROM v),
       |tp AS (SELECT ((1000000000000 * 15) // 100) // n AS t FROM nn),
       |r0 AS (SELECT id, (SELECT 1000000000000 // n FROM nn) AS u FROM v),
       |${(1 to 5).map(iter).mkString(",\n")}
       |SELECT id AS part, u AS rank_units,
       |  round(CAST(u AS DOUBLE) / 1000000000000, 6) AS rank
       |FROM r5 ORDER BY u DESC, id LIMIT 20""".stripMargin
  }

  /** Label-propagation communities of the co-purchase graph after a
    * FIXED 4 synchronous iterations (the deterministic cross-engine
    * contract, like coreness — see [[Graph.labelPropagation]]). */
  private[graft] def qGraphCommunities(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_partkey"))
    // assumeCanonical: coOccurrenceEdgesCanonical already guarantees
    // (src < dst, distinct) — the r12-r13 2x-floor readings turned out
    // to include a redundant re-canonicalization distinct over the full
    // co-occurrence edge set that graph_modularity had already opted
    // out of (r14 investigation; output is identical either way)
    Graph.labelPropagation(
      Graph.coOccurrenceEdgesCanonical(li, "l_orderkey", "l_partkey"),
      iterations = 4, assumeCanonical = true)
      .select(col("id").as("part"), col("community"))
  }

  private[graft] val oGraphCommunities = {
    val iter = (k: Int) =>
      s"""l$k AS (SELECT id, lbl FROM (
         |    SELECT id, lbl, row_number() OVER (PARTITION BY id
         |      ORDER BY cnt DESC, lbl) AS rn
         |    FROM (SELECT a.id, p.lbl, count(*) AS cnt
         |      FROM adj a JOIN l${k - 1} p ON a.nbr = p.id
         |      GROUP BY 1, 2))
         |  WHERE rn = 1)""".stripMargin
    s"""WITH items AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS item
       |  FROM lineitem),
       |e AS (SELECT DISTINCT a.item AS u, b.item AS v FROM items a
       |  JOIN items b ON a.g = b.g AND a.item < b.item),
       |adj AS (SELECT u AS id, v AS nbr FROM e
       |  UNION ALL SELECT v, u FROM e),
       |l0 AS (SELECT DISTINCT id, id AS lbl FROM adj),
       |${(1 to 4).map(iter).mkString(",\n")}
       |SELECT id AS part, lbl AS community FROM l4""".stripMargin
  }

  /** Newman modularity of the 4-iteration LPA partition of the
    * co-purchase graph (see [[Graph.modularity]]): exact integer
    * numerators summed BEFORE the single ppm division. */
  private[graft] def qGraphModularity(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_partkey"))
    val edges = Graph.coOccurrenceEdgesCanonical(li, "l_orderkey",
      "l_partkey").localCheckpoint(true) // LPA + modularity share it
    Graph.modularity(edges,
      Graph.labelPropagation(edges, iterations = 4,
        assumeCanonical = true))
  }

  private[graft] val oGraphModularity = {
    val iter = (k: Int) =>
      s"""l$k AS (SELECT id, lbl FROM (
         |    SELECT id, lbl, row_number() OVER (PARTITION BY id
         |      ORDER BY cnt DESC, lbl) AS rn
         |    FROM (SELECT a.id, p.lbl, count(*) AS cnt
         |      FROM adj a JOIN l${k - 1} p ON a.nbr = p.id
         |      GROUP BY 1, 2))
         |  WHERE rn = 1)""".stripMargin
    s"""WITH items AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS item
       |  FROM lineitem),
       |e AS (SELECT DISTINCT a.item AS u, b.item AS v FROM items a
       |  JOIN items b ON a.g = b.g AND a.item < b.item),
       |adj AS (SELECT u AS id, v AS nbr FROM e
       |  UNION ALL SELECT v, u FROM e),
       |l0 AS (SELECT DISTINCT id, id AS lbl FROM adj),
       |${(1 to 4).map(iter).mkString(",\n")},
       |lab AS (SELECT id, lbl FROM l4),
       |te AS MATERIALIZED (SELECT cu.lbl AS cu, cv.lbl AS cv
       |  FROM e JOIN lab cu ON cu.id = e.u JOIN lab cv ON cv.id = e.v),
       |m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM te),
       |intra AS (SELECT cu AS c, CAST(count(*) AS BIGINT) AS l
       |  FROM te WHERE cu = cv GROUP BY 1),
       |degc AS (SELECT c, CAST(count(*) AS BIGINT) AS d FROM
       |  (SELECT cu AS c FROM te UNION ALL SELECT cv FROM te)
       |  GROUP BY 1),
       |nv AS (SELECT CAST(count(DISTINCT id) AS BIGINT) AS nv FROM lab),
       |num AS (SELECT CAST(count(*) AS BIGINT) AS k,
       |    sum(4 * CAST((SELECT m FROM m) AS HUGEINT) * coalesce(intra.l, 0)
       |      - CAST(degc.d AS HUGEINT) * degc.d) AS num
       |  FROM degc LEFT JOIN intra USING (c))
       |SELECT (SELECT nv FROM nv) AS n_vertices,
       |  (SELECT m FROM m) AS m_edges, k AS n_communities,
       |  CASE WHEN (SELECT m FROM m) > 0 THEN CAST(num * 1000000 //
       |    (4 * CAST((SELECT m FROM m) AS HUGEINT) * (SELECT m FROM m))
       |    AS BIGINT) END AS q_ppm
       |FROM num""".stripMargin
  }

  /** Per-part local clustering coefficient over the co-purchase graph —
    * per-vertex triangle corners on the oriented wedge stream, lcc in
    * integer micro-units + one exact-input double division (see
    * [[Graph.localClustering]]). */
  private[graft] def qGraphClustering(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_partkey"))
    // assumeCanonical: input is (src < dst, distinct) by construction
    Graph.localClustering(
      Graph.coOccurrenceEdgesCanonical(li, "l_orderkey", "l_partkey"),
      assumeCanonical = true)
      .select(col("id").as("part"), col("deg"), col("triangles"),
        col("lcc_micro"), col("lcc"))
  }

  private[graft] val oGraphClustering =
    """WITH items AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS item
      |  FROM lineitem),
      |e AS (SELECT DISTINCT a.item AS u, b.item AS v FROM items a
      |  JOIN items b ON a.g = b.g AND a.item < b.item),
      |deg AS (SELECT id, CAST(count(*) AS BIGINT) AS d FROM
      |  (SELECT u AS id FROM e UNION ALL SELECT v AS id FROM e)
      |  GROUP BY id),
      |o AS (SELECT
      |    CASE WHEN du.d < dv.d OR (du.d = dv.d AND u < v)
      |      THEN u ELSE v END AS s,
      |    CASE WHEN du.d < dv.d OR (du.d = dv.d AND u < v)
      |      THEN v ELSE u END AS t
      |  FROM e JOIN deg du ON du.id = e.u JOIN deg dv ON dv.id = e.v),
      |tw AS (SELECT e1.s AS s, e1.t AS t, e2.t AS w
      |  FROM o e1 JOIN o e2 ON e2.s = e1.t
      |  WHERE EXISTS (SELECT 1 FROM o e3
      |    WHERE e3.s = e1.s AND e3.t = e2.t)),
      |tc AS (SELECT id, CAST(count(*) AS BIGINT) AS tri FROM
      |  (SELECT s AS id FROM tw UNION ALL SELECT t FROM tw
      |   UNION ALL SELECT w FROM tw) GROUP BY id)
      |SELECT deg.id AS part, deg.d AS deg,
      |  coalesce(tri, 0) AS triangles,
      |  CASE WHEN d >= 2
      |    THEN 2 * coalesce(tri, 0) * 1000000 // (d * (d - 1)) END
      |    AS lcc_micro,
      |  CAST(CASE WHEN d >= 2
      |    THEN 2 * coalesce(tri, 0) * 1000000 // (d * (d - 1)) END
      |    AS DOUBLE) / 1000000 AS lcc
      |FROM deg LEFT JOIN tc ON tc.id = deg.id""".stripMargin

  /** 4-truss of the mod-4 co-purchase subgraph after 2 fixed peel
    * rounds (see [[Graph.ktruss]]): support re-counted among
    * survivors each round and once more for the report; the oracle
    * peels un-oriented (the triangle set is orientation-free). */
  private[graft] def qGraphKtruss(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
      .filter(col("l_partkey") % 4 === 0)
      .select(col("l_orderkey"), col("l_partkey"))
    // assumeCanonical: input is (src < dst, distinct) by construction
    Graph.ktruss(
      Graph.coOccurrenceEdgesCanonical(li, "l_orderkey", "l_partkey"),
      k = 4, iterations = 2, assumeCanonical = true)
  }

  private[graft] val oGraphKtruss = {
    // one peel round: support of each e{i} edge counted inside e{i},
    // survivors = support >= k-2 = 2
    def round(i: Int): String =
      s"""adj$i AS (SELECT u AS id, v AS nbr FROM e$i
         |  UNION ALL SELECT v, u FROM e$i),
         |sup$i AS (SELECT e.u, e.v, CAST(count(*) AS BIGINT) AS c
         |  FROM e$i e JOIN adj$i a ON a.id = e.u
         |    JOIN adj$i b ON b.id = e.v AND b.nbr = a.nbr
         |  GROUP BY 1, 2),
         |e${i + 1} AS (SELECT e.u, e.v FROM e$i e LEFT JOIN sup$i s
         |  ON s.u = e.u AND s.v = e.v
         |  WHERE coalesce(s.c, 0) >= 2)""".stripMargin
    s"""WITH items AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS item
       |  FROM lineitem WHERE l_partkey % 4 = 0),
       |e1 AS (SELECT DISTINCT a.item AS u, b.item AS v FROM items a
       |  JOIN items b ON a.g = b.g AND a.item < b.item),
       |${(1 to 2).map(round).mkString(",\n")},
       |adjf AS (SELECT u AS id, v AS nbr FROM e3
       |  UNION ALL SELECT v, u FROM e3),
       |supf AS (SELECT e.u, e.v, CAST(count(*) AS BIGINT) AS c
       |  FROM e3 e JOIN adjf a ON a.id = e.u
       |    JOIN adjf b ON b.id = e.v AND b.nbr = a.nbr
       |  GROUP BY 1, 2)
       |SELECT e.u, e.v, coalesce(s.c, 0) AS support
       |FROM e3 e LEFT JOIN supf s ON s.u = e.u AND s.v = e.v"""
      .stripMargin
  }

  /** Deterministic random-walk corpus over the mod-4 co-purchase
    * subgraph (see [[Graph.walkCorpus]]): 3 md5-driven steps per
    * node, the node2vec/DeepWalk prep — identical walks on every
    * engine, replayed hop-by-hop in a recursive CTE. */
  private[graft] def qGraphWalks(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
      .filter(col("l_partkey") % 4 === 0)
      .select(col("l_orderkey"), col("l_partkey"))
    // assumeCanonical: input is (src < dst, distinct) by construction
    Graph.walkCorpus(
      Graph.coOccurrenceEdgesCanonical(li, "l_orderkey", "l_partkey"),
      steps = 3, walksPerNode = 1, assumeCanonical = true)
  }

  private[graft] val oGraphWalks = {
    val nxt = "a.ns[CAST(('0x' || substr(md5(CAST(w.start AS VARCHAR)" +
      " || '_' || CAST(w.wid AS VARCHAR) || '_' ||" +
      " CAST(w.s + 1 AS VARCHAR) || '_' || CAST(w.cur AS VARCHAR))," +
      " 1, 8))::BIGINT % len(a.ns) + 1 AS BIGINT)]"
    s"""WITH RECURSIVE items AS (SELECT DISTINCT l_orderkey AS g,
       |    l_partkey AS item FROM lineitem WHERE l_partkey % 4 = 0),
       |e AS (SELECT DISTINCT a.item AS u, b.item AS v FROM items a
       |  JOIN items b ON a.g = b.g AND a.item < b.item),
       |adj0 AS (SELECT u AS id, v AS nbr FROM e
       |  UNION ALL SELECT v, u FROM e),
       |adj AS (SELECT id, list(nbr ORDER BY nbr) AS ns FROM adj0
       |  GROUP BY 1),
       |walk AS (
       |  SELECT id AS start, CAST(1 AS BIGINT) AS wid, id AS cur,
       |    CAST(id AS VARCHAR) AS path, 0 AS s FROM adj
       |  UNION ALL
       |  SELECT w.start, w.wid, $nxt AS cur,
       |    w.path || ' ' || CAST($nxt AS VARCHAR) AS path, w.s + 1
       |  FROM walk w JOIN adj a ON a.id = w.cur WHERE w.s < 3)
       |SELECT start, wid AS walk_id, path FROM walk
       |WHERE s = 3""".stripMargin
  }

  /** Common-neighbor link prediction on the mod-4 co-purchase subgraph
    * (the wedge volume of the full graph is the honest Σ C(d,2) cost —
    * the subgraph keeps the bench query inside one shuffle budget while
    * the operator itself stays exact): top-50 non-adjacent part pairs
    * by exact shared-neighbor count (see [[Graph.commonNeighbors]]). */
  private[graft] def qGraphLinkpred(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
      .filter(col("l_partkey") % 4 === 0)
      .select(col("l_orderkey"), col("l_partkey"))
    // assumeCanonical: input is (src < dst, distinct) by construction
    Graph.commonNeighbors(
      Graph.coOccurrenceEdgesCanonical(li, "l_orderkey", "l_partkey"),
      assumeCanonical = true)
      .orderBy(col("common").desc, col("u"), col("v"))
      .limit(50)
  }

  private[graft] val oGraphLinkpred =
    """WITH items AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS item
      |  FROM lineitem WHERE l_partkey % 4 = 0),
      |e AS (SELECT DISTINCT a.item AS u, b.item AS v FROM items a
      |  JOIN items b ON a.g = b.g AND a.item < b.item),
      |adj AS (SELECT u AS id, v AS nbr FROM e
      |  UNION ALL SELECT v, u FROM e),
      |deg AS (SELECT id, CAST(count(*) AS BIGINT) AS d FROM adj
      |  GROUP BY id),
      |w AS (SELECT a.nbr AS u, b.nbr AS v,
      |    CAST(count(*) AS BIGINT) AS common
      |  FROM adj a JOIN adj b ON a.id = b.id AND a.nbr < b.nbr
      |  GROUP BY 1, 2)
      |SELECT u, v, common, du.d AS du, dv.d AS dv,
      |  common * 1000000 // (du.d + dv.d - common) AS jaccard_micro
      |FROM w JOIN deg du ON du.id = w.u JOIN deg dv ON dv.id = w.v
      |WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.u = w.u AND e.v = w.v)
      |ORDER BY common DESC, u, v LIMIT 50""".stripMargin

  /** Multi-source BFS hop distances over the co-purchase graph from a
    * deterministic seed set (every 101st part id), 3 hops out (see
    * [[Graph.bfsDistances]]) — exact integer depths; the oracle is a
    * recursive CTE bounded by the same hop cap, min-dist per vertex. */
  private[graft] def qGraphBfs(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_partkey"))
    val edges = Graph.coOccurrenceEdges(li, "l_orderkey", "l_partkey")
    val seeds = li.filter(col("l_partkey") % 101 === 0)
      .select(col("l_partkey").as("id"))
    // assumeDistinct: coOccurrenceEdges output is distinct by
    // construction (canonical distinct + its disjoint mirror) —
    // skips a redundant 2m-row exchange (r15; identical output)
    Graph.bfsDistances(edges, seeds, maxHops = 3, assumeDistinct = true)
  }

  private[graft] val oGraphBfs =
    """WITH RECURSIVE items AS (SELECT DISTINCT l_orderkey AS g,
      |    l_partkey AS item FROM lineitem),
      |e AS (SELECT DISTINCT a.item AS src, b.item AS dst FROM items a
      |  JOIN items b ON a.g = b.g AND a.item <> b.item),
      |sd AS (SELECT DISTINCT l_partkey AS id FROM lineitem
      |  WHERE l_partkey % 101 = 0),
      |walk(id, dist) AS (
      |  SELECT id, 0 FROM sd
      |  UNION
      |  SELECT e.dst, w.dist + 1 FROM walk w JOIN e ON e.src = w.id
      |  WHERE w.dist < 3)
      |SELECT id, CAST(min(dist) AS BIGINT) AS dist FROM walk
      |GROUP BY 1""".stripMargin

  /** Strongly connected components of the DIRECTED consecutive-
    * co-purchase graph — part at line position i → part at position
    * i+1 within an order, on the mod-4-part / mod-11-order subgraph
    * (the sparse regime with a full SCC-size spectrum: ~96%
    * singletons for TRIM, a handful of mid-size cycles, one moderate
    * giant for the coloring+sweep path). See [[Graph.scc]]. The
    * oracle is GROUND TRUTH, not a replay: recursive-CTE transitive
    * closure + mutual-reachability minimum per vertex — any
    * trim/coloring/sweep defect shows as a hash mismatch, the same
    * exact-truth contract as `graph_bfs`. */
  /** Consecutive-co-purchase DIRECTED edges shared by the SCC family
    * (part at line position i → position i+1 within an order; mod-4
    * parts, orders ≡ orderMod mod 11). The window ORDER BY is a TOTAL
    * order — the synthetic lineitem has duplicate (l_orderkey,
    * l_linenumber) pairs, and lead() over ties is nondeterministic. */
  private[graft] def sccEdges(s: SparkSession, dir: String,
                              orderMod: Int): DataFrame = {
    val w = Window.partitionBy("l_orderkey")
      .orderBy("l_linenumber", "l_partkey")
    t(s, dir, "lineitem")
      .filter(col("l_partkey") % 4 === 0 &&
        col("l_orderkey") % 11 === orderMod)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"))
      .withColumn("__nxt", lead("l_partkey", 1).over(w))
      .filter(col("__nxt").isNotNull && col("__nxt") =!= col("l_partkey"))
      .select(col("l_partkey").cast("long").as("src"),
        col("__nxt").cast("long").as("dst"))
  }

  private[graft] def qGraphScc(s: SparkSession, dir: String): DataFrame =
    Graph.scc(sccEdges(s, dir, 0))
      .select(col("id").cast("long").as("id"),
        col("scc_id").cast("long").as("scc_id"))

  private[graft] val oGraphScc =
    """WITH RECURSIVE f AS (SELECT l_orderkey, l_linenumber, l_partkey
      |  FROM lineitem WHERE l_partkey % 4 = 0 AND l_orderkey % 11 = 0),
      |p AS (SELECT l_partkey AS src,
      |    lead(l_partkey) OVER (PARTITION BY l_orderkey
      |      ORDER BY l_linenumber, l_partkey) AS dst FROM f),
      |e AS (SELECT DISTINCT src, dst FROM p
      |  WHERE dst IS NOT NULL AND dst <> src),
      |verts AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
      |reach(src, dst) AS (
      |  SELECT src, dst FROM e
      |  UNION
      |  SELECT r.src, e.dst FROM reach r JOIN e ON e.src = r.dst
      |  WHERE e.dst <> r.src),
      |mut AS (SELECT a.src AS u, a.dst AS v FROM reach a
      |  JOIN reach b ON b.src = a.dst AND b.dst = a.src)
      |SELECT CAST(v.id AS BIGINT) AS id,
      |  CAST(least(v.id, coalesce(min(m.v), v.id)) AS BIGINT) AS scc_id
      |FROM verts v LEFT JOIN mut m ON m.u = v.id GROUP BY v.id"""
      .stripMargin

  /** Condensation DAG of the `graph_scc` subgraph (see
    * [[Graph.condense]]): SCCs collapse to single nodes, cross-SCC
    * edges aggregate to weighted DAG edges. Same ground-truth oracle
    * rail — the recursive-CTE SCC labels joined back onto the distinct
    * edge list. */
  private[graft] def qGraphCondensation(s: SparkSession,
                                        dir: String): DataFrame = {
    val e = sccEdges(s, dir, 0).distinct()
    Graph.condense(e, Graph.scc(e))
  }

  private[graft] val oGraphCondensation =
    """WITH RECURSIVE f AS (SELECT l_orderkey, l_linenumber, l_partkey
      |  FROM lineitem WHERE l_partkey % 4 = 0 AND l_orderkey % 11 = 0),
      |p AS (SELECT l_partkey AS src,
      |    lead(l_partkey) OVER (PARTITION BY l_orderkey
      |      ORDER BY l_linenumber, l_partkey) AS dst FROM f),
      |e AS (SELECT DISTINCT src, dst FROM p
      |  WHERE dst IS NOT NULL AND dst <> src),
      |verts AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
      |reach(src, dst) AS (
      |  SELECT src, dst FROM e
      |  UNION
      |  SELECT r.src, e.dst FROM reach r JOIN e ON e.src = r.dst
      |  WHERE e.dst <> r.src),
      |mut AS (SELECT a.src AS u, a.dst AS v FROM reach a
      |  JOIN reach b ON b.src = a.dst AND b.dst = a.src),
      |lab AS (SELECT v.id,
      |    CAST(least(v.id, coalesce(min(m.v), v.id)) AS BIGINT) AS scc_id
      |  FROM verts v LEFT JOIN mut m ON m.u = v.id GROUP BY v.id)
      |SELECT la.scc_id AS src_scc, lb.scc_id AS dst_scc,
      |  CAST(count(*) AS BIGINT) AS n_edges
      |FROM e JOIN lab la ON la.id = e.src JOIN lab lb ON lb.id = e.dst
      |WHERE la.scc_id <> lb.scc_id GROUP BY 1, 2""".stripMargin

  /** Incremental SCC under edge arrivals (see [[Graph.incrementalScc]]):
    * index = labels + condensation from the `graph_scc` base subgraph
    * (orders ≡ 0 mod 11), batch = the disjoint orders ≡ 3 mod 11
    * slice. The oracle is ground truth over the UNION graph — the
    * incremental composition must equal from-scratch SCC down to the
    * min-member labels, the `dedup_incremental_*` contract on the
    * directed rail. */
  private[graft] def qGraphSccIncremental(s: SparkSession,
                                          dir: String): DataFrame = {
    val base = sccEdges(s, dir, 0)
    val lab = Graph.scc(base)
    Graph.incrementalScc(lab, Graph.condense(base, lab),
      sccEdges(s, dir, 3))
  }

  private[graft] val oGraphSccIncremental =
    """WITH RECURSIVE f AS (SELECT l_orderkey, l_linenumber, l_partkey,
      |    l_orderkey % 11 AS m
      |  FROM lineitem WHERE l_partkey % 4 = 0
      |    AND l_orderkey % 11 IN (0, 3)),
      |p AS (SELECT m, l_partkey AS src,
      |    lead(l_partkey) OVER (PARTITION BY l_orderkey
      |      ORDER BY l_linenumber, l_partkey) AS dst FROM f),
      |e AS (SELECT DISTINCT src, dst FROM p
      |  WHERE dst IS NOT NULL AND dst <> src),
      |verts AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
      |reach(src, dst) AS (
      |  SELECT src, dst FROM e
      |  UNION
      |  SELECT r.src, e.dst FROM reach r JOIN e ON e.src = r.dst
      |  WHERE e.dst <> r.src),
      |mut AS (SELECT a.src AS u, a.dst AS v FROM reach a
      |  JOIN reach b ON b.src = a.dst AND b.dst = a.src)
      |SELECT CAST(v.id AS BIGINT) AS id,
      |  CAST(least(v.id, coalesce(min(m.v), v.id)) AS BIGINT) AS scc_id
      |FROM verts v LEFT JOIN mut m ON m.u = v.id GROUP BY v.id"""
      .stripMargin

  /** Deterministic Poisson-bootstrap CI for the mean document length
    * (see [[Insight.bootstrapMeanCI]]): 20 hash-armed resamples, exact
    * integer order-statistic bounds — the oracle replays the md5
    * inverse-CDF weights and the rep-mean selection literally. */
  private[graft] def qInsightBootstrap(s: SparkSession, dir: String): DataFrame =
    Insight.bootstrapMeanCI(t(s, dir, "documents"), "n_chars", "doc_id",
      reps = 20, salt = "boot")

  private[graft] val oInsightBootstrap = {
    val cases = Insight.PoissonT.zipWithIndex
      .map { case (t, k) => s"WHEN u < $t THEN $k" }
      .mkString("\n      |    ")
    s"""WITH r AS (SELECT g AS rep FROM generate_series(-1, 19) t(g)),
      |b AS (SELECT CAST(floor(d.n_chars * 1000000 + 0.5) AS BIGINT) AS vm,
      |    r.rep,
      |    ('0x' || substr(md5('boot:' || CAST(r.rep AS VARCHAR) || ':' ||
      |      CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT AS u
      |  FROM documents d, r
      |  WHERE d.n_chars IS NOT NULL AND d.doc_id IS NOT NULL),
      |w AS (SELECT rep, vm, CASE WHEN rep = -1 THEN 1
      |    $cases
      |    ELSE 9 END AS w FROM b),
      |pr AS (SELECT rep, CAST(sum(w) AS BIGINT) AS n,
      |    CAST(sum(w * vm) AS BIGINT) AS s FROM w GROUP BY 1),
      |m AS (SELECT rep, n, CAST(s // n AS BIGINT) AS mean FROM pr),
      |o AS (SELECT mean, row_number() OVER (ORDER BY mean, rep) AS rr
      |  FROM m WHERE rep <> -1)
      |SELECT f.n, f.mean AS mean_micro,
      |  (SELECT mean FROM o WHERE rr = 1) AS ci_lo_micro,
      |  (SELECT mean FROM o WHERE rr = 19) AS ci_hi_micro,
      |  CAST(20 AS BIGINT) AS reps
      |FROM m f WHERE f.rep = -1""".stripMargin
  }

  /** Paired Poisson-bootstrap metric comparison (see
    * [[Insight.pairedBootstrap]]): document char counts vs a
    * 6-chars-per-word model on the SAME rows — 20 hash-armed paired
    * resamples, truncating signed mean-difference divisions (Spark
    * `div` ≡ DuckDB `//`, both toward zero — measured), sign-counted
    * p-value. The oracle replays weights, divisions, order statistics,
    * and the p rail literally. */
  private[graft] def qEvalPairedBootstrap(s: SparkSession,
                                          dir: String): DataFrame = {
    val d = t(s, dir, "documents")
      .withColumn("a", col("n_chars").cast("double"))
      .withColumn("b",
        size(filter(TextFunctions.tokens(col("text")), w => w =!= ""))
          .cast("double") * 6.0)
    Insight.pairedBootstrap(d, "a", "b", "doc_id", reps = 20,
      salt = "pb")
  }

  private[graft] val oEvalPairedBootstrap = {
    val cases = Insight.PoissonT.zipWithIndex
      .map { case (t, k) => s"WHEN u < $t THEN $k" }
      .mkString("\n      |    ")
    s"""WITH src AS (SELECT doc_id,
      |    CAST(n_chars AS DOUBLE) AS a,
      |    CAST(len(list_filter($oToks, w -> w <> '')) AS DOUBLE) * 6.0
      |      AS b
      |  FROM documents),
      |r AS (SELECT g AS rep FROM generate_series(-1, 19) t(g)),
      |bb AS (SELECT
      |    CAST(floor(src.a * 1000000 + 0.5) AS BIGINT) AS am,
      |    CAST(floor(src.b * 1000000 + 0.5) AS BIGINT) AS bm,
      |    r.rep,
      |    ('0x' || substr(md5('pb:' || CAST(r.rep AS VARCHAR) || ':' ||
      |      CAST(src.doc_id AS VARCHAR)), 1, 8))::BIGINT AS u
      |  FROM src, r
      |  WHERE src.a IS NOT NULL AND src.b IS NOT NULL
      |    AND src.doc_id IS NOT NULL),
      |w AS (SELECT rep, am, bm, CASE WHEN rep = -1 THEN 1
      |    $cases
      |    ELSE 9 END AS w FROM bb),
      |pr AS MATERIALIZED (SELECT rep, CAST(sum(w) AS BIGINT) AS n,
      |    CAST(sum(w * am) AS BIGINT) AS sa,
      |    CAST(sum(w * bm) AS BIGINT) AS sb FROM w GROUP BY 1),
      |m AS MATERIALIZED (SELECT rep, n, sa, sb,
      |    CAST((sa - sb) // n AS BIGINT) AS d FROM pr),
      |o AS (SELECT d, row_number() OVER (ORDER BY d, rep) AS rr
      |  FROM m WHERE rep <> -1),
      |sg AS (SELECT
      |    CAST(sum(CASE WHEN sa - sb <= 0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS le0,
      |    CAST(sum(CASE WHEN sa - sb >= 0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS ge0
      |  FROM m WHERE rep <> -1)
      |SELECT f.n, CAST(f.sa // f.n AS BIGINT) AS mean_a_micro,
      |  CAST(f.sb // f.n AS BIGINT) AS mean_b_micro,
      |  f.d AS mean_diff_micro,
      |  (SELECT d FROM o WHERE rr = 1) AS ci_lo_micro,
      |  (SELECT d FROM o WHERE rr = 20) AS ci_hi_micro,
      |  sg.le0 AS n_reps_le0, sg.ge0 AS n_reps_ge0,
      |  least(1000000, 2 * (1 + least(sg.le0, sg.ge0)) * 1000000 // 21)
      |    AS p_two_ppm,
      |  CAST(20 AS BIGINT) AS reps
      |FROM m f, sg WHERE f.rep = -1""".stripMargin
  }

  /** Time-weighted mean event value per user (see
    * [[Insight.timeWeightedMean]]): each value weighted by its hold
    * duration in integer µs, weighted sum on DECIMAL(38,0). */
  private[graft] def qEventsTwap(s: SparkSession, dir: String): DataFrame =
    Insight.timeWeightedMean(readEvents(s, dir), "user_id", "ts",
      "value", "event_id")

  private[graft] val oEventsTwap =
    """WITH o AS (SELECT user_id AS key,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS t, value AS v,
      |    event_id FROM events
      |  WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL),
      |d AS (SELECT key, CAST(floor(v * 1000000 + 0.5) AS BIGINT) AS vm,
      |    coalesce(lead(t) OVER (PARTITION BY key ORDER BY t, event_id) - t,
      |      0) AS dur FROM o)
      |SELECT key, CAST(count(*) AS BIGINT) AS n_events,
      |  CAST(sum(dur) AS BIGINT) AS span_us,
      |  CASE WHEN sum(dur) > 0
      |    THEN CAST(sum(CAST(dur AS HUGEINT) * vm) // sum(dur) AS BIGINT)
      |  END AS twap_micro
      |FROM d GROUP BY 1""".stripMargin

  /** Skip-gram co-occurrence counts within a 3-token window, hapax
    * pairs pruned (see [[Phrases.skipgramCounts]]) — the oracle
    * replays the positional band self-join on 1-indexed DuckDB
    * subscripts (the offset cancels in the distance). */
  private[graft] def qTextSkipgrams(s: SparkSession, dir: String): DataFrame =
    Phrases.skipgramCounts(t(s, dir, "documents"), "text", "doc_id",
      window = 3, minCount = 2L)

  private[graft] val oTextSkipgrams =
    s"""WITH d AS (SELECT doc_id, $oToks AS t FROM documents),
      |p AS (SELECT doc_id, i.g AS i, t[i.g] AS w
      |  FROM d, unnest(generate_series(1, len(t))) AS i(g)
      |  WHERE len(t[i.g]) > 0),
      |pr AS (SELECT least(a.w, b.w) AS w1, greatest(a.w, b.w) AS w2
      |  FROM p a JOIN p b ON a.doc_id = b.doc_id AND b.i > a.i
      |    AND b.i <= a.i + 3)
      |SELECT w1, w2, CAST(count(*) AS BIGINT) AS cnt FROM pr
      |GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin

  /** Clipped n-gram precision (the BLEU per-order core) of each
    * document against its successor (see [[Insight.ngramPrecision]]):
    * exact clipped-match integers, precision in ppm, orders 1–2. */
  private[graft] def qTextNgramPrecision(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val pairs = d.as("h")
      .join(d.as("r"), col("r.doc_id") === col("h.doc_id") + 1)
      .select(col("h.doc_id").as("doc_id"), col("h.text").as("hyp"),
        col("r.text").as("ref"))
    Insight.ngramPrecision(pairs, "hyp", "ref", "doc_id", maxN = 2)
  }

  private[graft] val oTextNgramPrecision = {
    val hToks = oToks.replace("text", "htext")
    val rToks = oToks.replace("text", "rtext")
    def g(t: String) =
      s"""CASE WHEN n = 1 THEN $t
         |    WHEN len($t) >= n THEN list_transform(
         |      generate_series(1, len($t) - n + 1),
         |      i -> array_to_string($t[i:i+n-1], ' '))
         |    ELSE CAST([] AS VARCHAR[]) END""".stripMargin
    s"""WITH p AS (SELECT h.doc_id AS id, $hToks AS ht, $rToks AS rt
      |  FROM (SELECT doc_id, text AS htext FROM documents) h
      |  JOIN (SELECT doc_id, text AS rtext FROM documents) r
      |    ON r.doc_id = h.doc_id + 1),
      |g AS (SELECT id, n,
      |    ${g("ht")} AS hg,
      |    ${g("rt")} AS rg
      |  FROM p, (VALUES (1), (2)) nn(n)),
      |hc AS (SELECT id, n, t.g AS gram, CAST(count(*) AS BIGINT) AS ch
      |  FROM g, unnest(hg) AS t(g) GROUP BY 1, 2, 3),
      |rc AS (SELECT id, n, t.g AS gram, CAST(count(*) AS BIGINT) AS cr
      |  FROM g, unnest(rg) AS t(g) GROUP BY 1, 2, 3),
      |m AS (SELECT hc.id, hc.n, CAST(sum(ch) AS BIGINT) AS n_hyp,
      |    CAST(sum(least(ch, coalesce(cr, 0))) AS BIGINT) AS n_match
      |  FROM hc LEFT JOIN rc ON rc.id = hc.id AND rc.n = hc.n
      |    AND rc.gram = hc.gram
      |  GROUP BY 1, 2)
      |SELECT g.id, g.n, CAST(coalesce(m.n_hyp, 0) AS BIGINT) AS n_hyp,
      |  CAST(coalesce(m.n_match, 0) AS BIGINT) AS n_match,
      |  CASE WHEN coalesce(m.n_hyp, 0) > 0
      |    THEN m.n_match * 1000000 // m.n_hyp END AS p_ppm
      |FROM g LEFT JOIN m ON m.id = g.id AND m.n = g.n""".stripMargin
  }

  /** ROUGE-1/2 over adjacent-doc (candidate, reference) pairs — the
    * summarization-eval twin, exact ppm end to end (F1 = 2m/(h+r)
    * algebraically, so no transcendental ever enters; see
    * [[Insight.rougeN]]). */
  private[graft] def qTextRouge(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val pairs = d.as("h")
      .join(d.as("r"), col("r.doc_id") === col("h.doc_id") + 1)
      .select(col("h.doc_id").as("doc_id"), col("h.text").as("hyp"),
        col("r.text").as("ref"))
    Insight.rougeN(pairs, "hyp", "ref", "doc_id", maxN = 2)
  }

  private[graft] val oTextRouge = {
    val hToks = oToks.replace("text", "htext")
    val rToks = oToks.replace("text", "rtext")
    def g(t: String) =
      s"""CASE WHEN n = 1 THEN $t
         |    WHEN len($t) >= n THEN list_transform(
         |      generate_series(1, len($t) - n + 1),
         |      i -> array_to_string($t[i:i+n-1], ' '))
         |    ELSE CAST([] AS VARCHAR[]) END""".stripMargin
    s"""WITH p AS (SELECT h.doc_id AS id, $hToks AS ht, $rToks AS rt
      |  FROM (SELECT doc_id, text AS htext FROM documents) h
      |  JOIN (SELECT doc_id, text AS rtext FROM documents) r
      |    ON r.doc_id = h.doc_id + 1),
      |g AS (SELECT id, n,
      |    ${g("ht")} AS hg,
      |    ${g("rt")} AS rg
      |  FROM p, (VALUES (1), (2)) nn(n)),
      |hc AS (SELECT id, n, t.g AS gram, CAST(count(*) AS BIGINT) AS ch
      |  FROM g, unnest(hg) AS t(g) GROUP BY 1, 2, 3),
      |rc AS (SELECT id, n, t.g AS gram, CAST(count(*) AS BIGINT) AS cr
      |  FROM g, unnest(rg) AS t(g) GROUP BY 1, 2, 3),
      |m AS (SELECT coalesce(hc.id, rc.id) AS id,
      |    coalesce(hc.n, rc.n) AS n,
      |    CAST(sum(coalesce(ch, 0)) AS BIGINT) AS nh,
      |    CAST(sum(coalesce(cr, 0)) AS BIGINT) AS nr,
      |    CAST(sum(least(coalesce(ch, 0), coalesce(cr, 0))) AS BIGINT)
      |      AS nm
      |  FROM hc FULL OUTER JOIN rc ON rc.id = hc.id AND rc.n = hc.n
      |    AND rc.gram = hc.gram
      |  GROUP BY 1, 2)
      |SELECT g.id, g.n, CAST(coalesce(m.nh, 0) AS BIGINT) AS n_hyp,
      |  CAST(coalesce(m.nr, 0) AS BIGINT) AS n_ref,
      |  CAST(coalesce(m.nm, 0) AS BIGINT) AS n_match,
      |  CASE WHEN coalesce(m.nh, 0) > 0
      |    THEN m.nm * 1000000 // m.nh END AS p_ppm,
      |  CASE WHEN coalesce(m.nr, 0) > 0
      |    THEN m.nm * 1000000 // m.nr END AS r_ppm,
      |  CASE WHEN coalesce(m.nh, 0) + coalesce(m.nr, 0) > 0
      |    THEN 2 * m.nm * 1000000 // (m.nh + m.nr) END AS f1_ppm
      |FROM g LEFT JOIN m ON m.id = g.id AND m.n = g.n""".stripMargin
  }

  /** BLEU over adjacent-doc (hyp, ref) pairs — the generation-eval /
    * distillation-dedup composition of the clipped-count rails (see
    * [[Insight.bleu]]): 4-gram, Lin–Och add-one smoothing on zero
    * higher orders, effective-order renormalization, integer
    * micro-nat rails end to end. */
  private[graft] def qTextBleu(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val pairs = d.as("h")
      .join(d.as("r"), col("r.doc_id") === col("h.doc_id") + 1)
      .select(col("h.doc_id").as("doc_id"), col("h.text").as("hyp"),
        col("r.text").as("ref"))
    Insight.bleu(pairs, "hyp", "ref", "doc_id", maxN = 4)
  }

  private[graft] val oTextBleu = {
    val hToks = oToks.replace("text", "htext")
    val rToks = oToks.replace("text", "rtext")
    def g(t: String) =
      s"""CASE WHEN n = 1 THEN $t
         |    WHEN len($t) >= n THEN list_transform(
         |      generate_series(1, len($t) - n + 1),
         |      i -> array_to_string($t[i:i+n-1], ' '))
         |    ELSE CAST([] AS VARCHAR[]) END""".stripMargin
    s"""WITH p AS (SELECT h.doc_id AS id, $hToks AS ht, $rToks AS rt
      |  FROM (SELECT doc_id, text AS htext FROM documents) h
      |  JOIN (SELECT doc_id, text AS rtext FROM documents) r
      |    ON r.doc_id = h.doc_id + 1),
      |lens AS (SELECT id, CAST(len(ht) AS BIGINT) AS hyp_len,
      |    CAST(len(rt) AS BIGINT) AS ref_len FROM p),
      |g AS (SELECT id, n,
      |    ${g("ht")} AS hg,
      |    ${g("rt")} AS rg
      |  FROM p, (VALUES (1), (2), (3), (4)) nn(n)),
      |hc AS (SELECT id, n, t.g AS gram, CAST(count(*) AS BIGINT) AS ch
      |  FROM g, unnest(hg) AS t(g) GROUP BY 1, 2, 3),
      |rc AS (SELECT id, n, t.g AS gram, CAST(count(*) AS BIGINT) AS cr
      |  FROM g, unnest(rg) AS t(g) GROUP BY 1, 2, 3),
      |m AS (SELECT hc.id, hc.n, CAST(sum(ch) AS BIGINT) AS n_hyp,
      |    CAST(sum(least(ch, coalesce(cr, 0))) AS BIGINT) AS n_match
      |  FROM hc LEFT JOIN rc ON rc.id = hc.id AND rc.n = hc.n
      |    AND rc.gram = hc.gram
      |  GROUP BY 1, 2),
      |tt AS (SELECT id, n, n_hyp, n_match,
      |    CASE WHEN n = 1 OR n_match > 0 THEN n_match ELSE 1 END AS clip,
      |    CASE WHEN n = 1 OR n_match > 0 THEN n_hyp ELSE n_hyp + 1 END
      |      AS tot
      |  FROM m WHERE n_hyp > 0),
      |a AS (SELECT id, CAST(count(*) AS BIGINT) AS orders,
      |    CAST(sum(CASE WHEN clip = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS zeros,
      |    CAST(sum(CASE WHEN clip > 0 THEN CAST(floor(
      |      ln(CAST(clip AS DOUBLE) / tot) * 1e6 + 0.5) AS BIGINT) END)
      |      AS BIGINT) AS s
      |  FROM tt GROUP BY 1),
      |f AS (SELECT lens.id, hyp_len, ref_len,
      |    coalesce(orders, 0) AS orders,
      |    CASE WHEN coalesce(orders, 0) > 0 AND zeros = 0 THEN
      |      (s // orders) + (CASE WHEN hyp_len >= ref_len THEN 0
      |        ELSE CAST(floor((1 - CAST(ref_len AS DOUBLE) / hyp_len)
      |          * 1e6 + 0.5) AS BIGINT) END)
      |    END AS log_bleu_micro
      |  FROM lens LEFT JOIN a ON a.id = lens.id)
      |SELECT id, hyp_len, ref_len, orders, log_bleu_micro,
      |  CAST(coalesce(floor(exp(CAST(log_bleu_micro AS DOUBLE) / 1e6)
      |    * 1e6 + 0.5), 0) AS BIGINT) AS bleu_micro,
      |  CAST(coalesce(floor(exp(CAST(log_bleu_micro AS DOUBLE) / 1e6)
      |    * 1e6 + 0.5), 0) AS DOUBLE) / 1e6 AS bleu
      |FROM f""".stripMargin
  }

  /** chrF over the same adjacent-doc (hyp, ref) pairs as BLEU/ROUGE —
    * the tokenization-free character-level eval metric (see
    * [[Insight.chrF]]): whitespace stripped, char 1..6-grams, clipped
    * matches, effective-order macro P/R, F_2 — every step exact
    * integer ppm, the only member of the eval family with NO
    * transcendental anywhere. */
  private[graft] def qTextChrf(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val pairs = d.as("h")
      .join(d.as("r"), col("r.doc_id") === col("h.doc_id") + 1)
      .select(col("h.doc_id").as("doc_id"), col("h.text").as("hyp"),
        col("r.text").as("ref"))
    Insight.chrF(pairs, "hyp", "ref", "doc_id", maxN = 6, beta = 2)
  }

  private[graft] val oTextChrf = {
    def g(src: String) =
      s"""CASE WHEN length($src) >= n THEN list_transform(
         |      generate_series(1, length($src) - n + 1),
         |      i -> $src[i:i+n-1])
         |    ELSE CAST([] AS VARCHAR[]) END""".stripMargin
    s"""WITH p AS (SELECT h.doc_id AS id,
      |    regexp_replace(coalesce(h.htext, ''), '\\s+', '', 'g') AS hs,
      |    regexp_replace(coalesce(r.rtext, ''), '\\s+', '', 'g') AS rs
      |  FROM (SELECT doc_id, text AS htext FROM documents) h
      |  JOIN (SELECT doc_id, text AS rtext FROM documents) r
      |    ON r.doc_id = h.doc_id + 1),
      |g AS (SELECT id, n,
      |    ${g("hs")} AS hg,
      |    ${g("rs")} AS rg
      |  FROM p, (VALUES (1), (2), (3), (4), (5), (6)) nn(n)),
      |hc AS (SELECT id, n, t.g AS gram, CAST(count(*) AS BIGINT) AS ch
      |  FROM g, unnest(hg) AS t(g) GROUP BY 1, 2, 3),
      |rc AS (SELECT id, n, t.g AS gram, CAST(count(*) AS BIGINT) AS cr
      |  FROM g, unnest(rg) AS t(g) GROUP BY 1, 2, 3),
      |m AS (SELECT coalesce(hc.id, rc.id) AS id,
      |    coalesce(hc.n, rc.n) AS n,
      |    CAST(sum(coalesce(ch, 0)) AS BIGINT) AS nh,
      |    CAST(sum(coalesce(cr, 0)) AS BIGINT) AS nr,
      |    CAST(sum(least(coalesce(ch, 0), coalesce(cr, 0))) AS BIGINT)
      |      AS nm
      |  FROM hc FULL OUTER JOIN rc ON rc.id = hc.id AND rc.n = hc.n
      |    AND rc.gram = hc.gram
      |  GROUP BY 1, 2),
      |o AS (SELECT id,
      |    CASE WHEN nh > 0 THEN nm * 1000000 // nh END AS pn,
      |    CASE WHEN nr > 0 THEN nm * 1000000 // nr END AS rn
      |  FROM m),
      |a AS (SELECT id, CAST(count(pn) AS BIGINT) AS orders_p,
      |    CAST(count(rn) AS BIGINT) AS orders_r,
      |    CASE WHEN count(pn) > 0
      |      THEN CAST(sum(pn) // count(pn) AS BIGINT)
      |      ELSE CAST(0 AS BIGINT) END AS p_ppm,
      |    CASE WHEN count(rn) > 0
      |      THEN CAST(sum(rn) // count(rn) AS BIGINT)
      |      ELSE CAST(0 AS BIGINT) END AS r_ppm
      |  FROM o GROUP BY 1)
      |SELECT p.id, CAST(coalesce(orders_p, 0) AS BIGINT) AS orders_p,
      |  CAST(coalesce(orders_r, 0) AS BIGINT) AS orders_r,
      |  CAST(coalesce(p_ppm, 0) AS BIGINT) AS p_ppm,
      |  CAST(coalesce(r_ppm, 0) AS BIGINT) AS r_ppm,
      |  CASE WHEN 4 * coalesce(p_ppm, 0) + coalesce(r_ppm, 0) > 0
      |    THEN CAST(5 * p_ppm * r_ppm // (4 * p_ppm + r_ppm) AS BIGINT)
      |    ELSE CAST(0 AS BIGINT) END AS chrf_ppm
      |FROM p LEFT JOIN a ON a.id = p.id""".stripMargin
  }

  /** word2vec negative-sampling table over the corpus vocabulary (see
    * [[Sample.negativeSamplingTable]]): count^0.75 weights via the
    * correctly-rounded sqrt(c·sqrt(c)) spelling, DECIMAL share, exact
    * cumulative weights on the prefix-sum rail. */
  private[graft] def qTrainNegativeTable(s: SparkSession, dir: String): DataFrame =
    Sample.negativeSamplingTable(t(s, dir, "documents"), "text",
      minCount = 2L)

  private[graft] val oTrainNegativeTable =
    s"""WITH c AS (SELECT tok AS token, CAST(count(*) AS BIGINT) AS cnt
      |  FROM (SELECT unnest($oToks) AS tok FROM documents)
      |  WHERE len(tok) > 0 GROUP BY 1 HAVING count(*) >= 2),
      |w AS (SELECT token, cnt,
      |    CAST(floor(sqrt(cnt * sqrt(cnt)) * 1000000 + 0.5) AS BIGINT)
      |      AS weight_micro FROM c),
      |t AS (SELECT CAST(sum(weight_micro) AS HUGEINT) AS tot FROM w)
      |SELECT token, cnt, weight_micro,
      |  CAST(CAST(weight_micro AS HUGEINT) * 1000000000 // tot AS BIGINT)
      |    AS share_ppb,
      |  CAST(sum(weight_micro)
      |    OVER (ORDER BY weight_micro DESC, token) AS BIGINT) AS cum_weight
      |FROM w, t""".stripMargin

  /** Pre-flight join fan-out audit of lineitem ⋈ orders on orderkey
    * (see [[Join.fanoutAudit]]): top-20 keys by output contribution
    * with exact DECIMAL products and ppm shares — the skew-candidate
    * list BEFORE paying for the shuffle join. */
  private[graft] def qJoinFanout(s: SparkSession, dir: String): DataFrame =
    Join.fanoutAudit(t(s, dir, "lineitem"), t(s, dir, "orders"),
      "l_orderkey", "o_orderkey", topK = 20)

  private[graft] val oJoinFanout =
    """WITH l AS (SELECT l_orderkey AS key, CAST(count(*) AS BIGINT)
      |    AS n_left FROM lineitem WHERE l_orderkey IS NOT NULL
      |  GROUP BY 1),
      |r AS (SELECT o_orderkey AS key, CAST(count(*) AS BIGINT) AS n_right
      |  FROM orders WHERE o_orderkey IS NOT NULL GROUP BY 1),
      |p AS (SELECT key, n_left, n_right,
      |    CAST(n_left AS HUGEINT) * n_right AS o FROM l JOIN r USING (key)),
      |t AS (SELECT sum(o) AS tot FROM p)
      |SELECT key, n_left, n_right, CAST(o AS BIGINT) AS out_rows,
      |  CAST(CASE WHEN tot > 0 THEN o * 1000000 // tot ELSE 0 END
      |    AS BIGINT) AS share_ppm
      |FROM p, t ORDER BY o DESC, key LIMIT 20""".stripMargin

  /** Sampled harmonic centrality of the co-purchase graph from a
    * FIXED-COUNT deterministic pivot set (the 8 lowest part ids — the
    * labeled-BFS cost is pivots × reached edges, so the pivot count
    * must NOT scale with the data; Eppstein–Wang sampling is a
    * constant-k estimate by design), 3 hops (see
    * [[Graph.harmonicCentrality]]): Σ 10⁶ div dist over per-pivot
    * exact BFS distances — the labeled-BFS recursive-CTE twin. */
  private[graft] def qGraphHarmonic(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_partkey"))
    val edges = Graph.coOccurrenceEdges(li, "l_orderkey", "l_partkey")
    val pivots = li.select(col("l_partkey").as("id")).distinct()
      .orderBy("id").limit(8)
    // assumeDistinct: coOccurrenceEdges output is distinct (see
    // graph_bfs note)
    Graph.harmonicCentrality(edges, pivots, maxHops = 3,
      assumeDistinct = true)
  }

  /** Pivot-sampled bounded-distance betweenness over the co-purchase
    * graph (see [[Graph.betweennessPivots]]) — the broker/bridge read
    * completing the centrality family (degree, pagerank, harmonic,
    * coreness): same 8 lowest-id pivots and 3-hop horizon as
    * `graph_harmonic`. EXACT oracle: forward σ counts are integers,
    * backward dependencies are positive truncated integer terms —
    * the whole Brandes accumulation replays level by level in SQL. */
  private[graft] def qGraphBetweenness(s: SparkSession,
                                       dir: String): DataFrame = {
    val li = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_partkey"))
    val edges = Graph.coOccurrenceEdges(li, "l_orderkey", "l_partkey")
    val pivots = li.select(col("l_partkey").as("id")).distinct()
      .orderBy("id").limit(8)
    // assumeDistinct: coOccurrenceEdges output is distinct (see
    // graph_bfs note)
    Graph.betweennessPivots(edges, pivots, maxHops = 3,
      assumeDistinct = true)
  }

  private[graft] val oGraphBetweenness =
    """WITH items AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS item
      |    FROM lineitem),
      |e AS MATERIALIZED (SELECT DISTINCT a.item AS src, b.item AS dst
      |  FROM items a JOIN items b ON a.g = b.g AND a.item <> b.item),
      |pv AS (SELECT DISTINCT l_partkey AS id FROM lineitem
      |  ORDER BY 1 LIMIT 8),
      |l0 AS MATERIALIZED (SELECT id AS label, id,
      |  CAST(1 AS HUGEINT) AS sig FROM pv),
      |l1 AS MATERIALIZED (SELECT l0.label, e.dst AS id,
      |    sum(l0.sig) AS sig
      |  FROM l0 JOIN e ON e.src = l0.id
      |  WHERE NOT EXISTS (SELECT 1 FROM l0 x
      |    WHERE x.label = l0.label AND x.id = e.dst)
      |  GROUP BY 1, 2),
      |v1 AS MATERIALIZED (SELECT label, id FROM l0
      |  UNION ALL SELECT label, id FROM l1),
      |l2 AS MATERIALIZED (SELECT l1.label, e.dst AS id,
      |    sum(l1.sig) AS sig
      |  FROM l1 JOIN e ON e.src = l1.id
      |  WHERE NOT EXISTS (SELECT 1 FROM v1 x
      |    WHERE x.label = l1.label AND x.id = e.dst)
      |  GROUP BY 1, 2),
      |v2 AS MATERIALIZED (SELECT * FROM v1
      |  UNION ALL SELECT label, id FROM l2),
      |l3 AS MATERIALIZED (SELECT l2.label, e.dst AS id,
      |    sum(l2.sig) AS sig
      |  FROM l2 JOIN e ON e.src = l2.id
      |  WHERE NOT EXISTS (SELECT 1 FROM v2 x
      |    WHERE x.label = l2.label AND x.id = e.dst)
      |  GROUP BY 1, 2),
      |d2 AS MATERIALIZED (SELECT v.label, v.id,
      |    COALESCE(sum(v.sig * 1000000 // w.sig), 0) AS d
      |  FROM l2 v LEFT JOIN e ON e.src = v.id
      |  LEFT JOIN l3 w ON w.label = v.label AND w.id = e.dst
      |  GROUP BY 1, 2),
      |d1 AS MATERIALIZED (SELECT v.label, v.id,
      |    COALESCE(sum(v.sig * (1000000 + w.d) // w.sig), 0) AS d
      |  FROM l1 v LEFT JOIN e ON e.src = v.id
      |  LEFT JOIN (SELECT l2.label, l2.id, l2.sig, d2.d
      |    FROM l2 JOIN d2 ON d2.label = l2.label AND d2.id = l2.id) w
      |    ON w.label = v.label AND w.id = e.dst
      |  GROUP BY 1, 2)
      |SELECT id, CAST(sum(d) AS BIGINT) AS bc_micro
      |FROM (SELECT label, id, d FROM d1 WHERE d > 0
      |  UNION ALL SELECT label, id, d FROM d2 WHERE d > 0)
      |GROUP BY 1""".stripMargin

  private[graft] val oGraphHarmonic =
    """WITH RECURSIVE items AS (SELECT DISTINCT l_orderkey AS g,
      |    l_partkey AS item FROM lineitem),
      |e AS (SELECT DISTINCT a.item AS src, b.item AS dst FROM items a
      |  JOIN items b ON a.g = b.g AND a.item <> b.item),
      |pv AS (SELECT DISTINCT l_partkey AS label FROM lineitem
      |  ORDER BY 1 LIMIT 8),
      |walk(label, id, dist) AS (
      |  SELECT label, label, 0 FROM pv
      |  UNION
      |  SELECT w.label, e.dst, w.dist + 1 FROM walk w
      |  JOIN e ON e.src = w.id WHERE w.dist < 3),
      |md AS (SELECT label, id, min(dist) AS dist FROM walk GROUP BY 1, 2)
      |SELECT id, CAST(count(*) AS BIGINT) AS n_pivots,
      |  CAST(sum(1000000 // dist) AS BIGINT) AS harmonic_micro
      |FROM md WHERE dist > 0 GROUP BY 1""".stripMargin

  /** Ranking-eval read-out per order (see [[Classify.rankingMetrics]]):
    * parts ranked by spend within each order, relevant = any returned
    * line — MRR / P@5 / recall@5 / nDCG@5 on integer rails with
    * driver-literal DCG weights. */
  private[graft] def qEvalRanking(s: SparkSession, dir: String): DataFrame = {
    val cand = t(s, dir, "lineitem")
      .groupBy(col("l_orderkey").as("qid"), col("l_partkey").as("doc"))
      .agg(sum("l_extendedprice").as("score"),
        max(col("l_returnflag") === "R").as("rel"))
    Classify.rankingMetrics(cand, "qid", "doc", "score", "rel", k = 5)
  }

  private[graft] val oEvalRanking = {
    val w = Classify.dcgWeights(5)
    val cum = w.scanLeft(0L)(_ + _).tail
    val wCase = "CASE r " + w.zipWithIndex.map { case (v, i) =>
      s"WHEN ${i + 1} THEN $v" }.mkString(" ") + " ELSE 0 END"
    val idcgCase = "CASE least(n_pos, 5) " +
      cum.zipWithIndex.map { case (v, i) => s"WHEN ${i + 1} THEN $v" }
        .mkString(" ") + " ELSE 0 END"
    s"""WITH cand AS (SELECT l_orderkey AS qid, l_partkey AS doc,
      |    sum(l_extendedprice) AS score,
      |    max(l_returnflag = 'R') AS rel
      |  FROM lineitem GROUP BY 1, 2),
      |r AS (SELECT qid, rel,
      |    row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc)
      |      AS r FROM cand),
      |g AS (SELECT qid, CAST(count(*) AS BIGINT) AS n_docs,
      |    CAST(sum(CASE WHEN rel THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
      |    min(CASE WHEN rel AND r <= 5 THEN r END) AS fr,
      |    CAST(sum(CASE WHEN rel AND r <= 5 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS hits,
      |    CAST(sum(CASE WHEN rel AND r <= 5 THEN $wCase ELSE 0 END)
      |      AS BIGINT) AS dcg_micro
      |  FROM r GROUP BY 1)
      |SELECT qid, n_docs, n_pos,
      |  CAST(coalesce(1000000 // fr, 0) AS BIGINT) AS rr_ppm,
      |  CAST(hits * 1000000 // 5 AS BIGINT) AS p_at_k_ppm,
      |  CAST(CASE WHEN n_pos > 0 THEN hits * 1000000 // n_pos
      |    ELSE 0 END AS BIGINT) AS r_at_k_ppm,
      |  dcg_micro,
      |  CAST(CASE WHEN $idcgCase > 0
      |    THEN dcg_micro * 1000000 // ($idcgCase) ELSE 0 END AS BIGINT)
      |    AS ndcg_ppm
      |FROM g""".stripMargin
  }

  /** Wilson score interval per event type for the high-value-event
    * rate (see [[Classify.wilsonCI]]): engine-exact doubles (the
    * formula is sqrt/×/÷ only — every op correctly rounded), bounds
    * micro-rounded. */
  private[graft] def qQualityWilson(s: SparkSession, dir: String): DataFrame =
    Classify.wilsonCI(
      readEvents(s, dir).select(col("event_type"),
        (col("value") > 200.0).as("hi")),
      "event_type", "hi")

  private[graft] val oQualityWilson = {
    val zl = Classify.dlit(1.96)
    val zzl = Classify.dlit(1.96 * 1.96)
    s"""WITH g AS (SELECT event_type AS key, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(CASE WHEN value > 200.0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_pos
      |  FROM events WHERE (value > 200.0) IS NOT NULL GROUP BY 1),
      |d AS (SELECT key, n, n_pos,
      |    CAST(n_pos AS DOUBLE) / n AS ph FROM g),
      |e AS (SELECT key, n, n_pos, ph,
      |    ph + $zzl / (2.0E0 * n) AS c,
      |    $zl * sqrt(ph * (1.0E0 - ph) / n +
      |      $zzl / (4.0E0 * n * n)) AS s,
      |    1.0E0 + $zzl / n AS den
      |  FROM d)
      |SELECT key, n, n_pos,
      |  CAST(n_pos * 1000000 // n AS BIGINT) AS p_ppm,
      |  CAST(floor((c - s) / den * 1.0E6 + 0.5E0) AS BIGINT) AS lo_micro,
      |  CAST(floor((c + s) / den * 1.0E6 + 0.5E0) AS BIGINT) AS hi_micro
      |FROM e""".stripMargin
  }

  /** χ² independence of event type × value bucket (see
    * [[Insight.chiSquare]]): exact contingency counts, per-cell terms
    * as identical-expression-tree doubles micro-rounded (the Wilson
    * determinism rule), Cramér's V effect size. */
  private[graft] def qEventsChi2(s: SparkSession, dir: String): DataFrame =
    Insight.chiSquare(
      readEvents(s, dir).select(col("event_type"),
        floor(col("value") / lit(50.0)).cast("long").as("vb")),
      "event_type", "vb")

  private[graft] val oEventsChi2 =
    """WITH cells AS (SELECT
      |    coalesce(CAST(event_type AS VARCHAR), chr(0)) AS a,
      |    coalesce(CAST(CAST(floor(value / 50) AS BIGINT) AS VARCHAR),
      |      chr(0)) AS b,
      |    CAST(count(*) AS BIGINT) AS o
      |  FROM events GROUP BY 1, 2),
      |rt AS (SELECT a, CAST(sum(o) AS BIGINT) AS rt FROM cells GROUP BY 1),
      |ct AS (SELECT b, CAST(sum(o) AS BIGINT) AS ct FROM cells GROUP BY 1),
      |tt AS (SELECT CAST(sum(o) AS BIGINT) AS n,
      |    CAST(count(DISTINCT a) AS BIGINT) AS r,
      |    CAST(count(DISTINCT b) AS BIGINT) AS c FROM cells),
      |tm AS (SELECT
      |    CAST(floor((o - CAST(rt AS DOUBLE) * ct / n) *
      |        (o - CAST(rt AS DOUBLE) * ct / n) /
      |        (CAST(rt AS DOUBLE) * ct / n) * 1.0E6 + 0.5E0) AS BIGINT)
      |      AS t
      |  FROM cells JOIN rt USING (a) JOIN ct USING (b), tt),
      |ag AS (SELECT (SELECT n FROM tt) AS n, (SELECT r FROM tt) AS r,
      |    (SELECT c FROM tt) AS c, CAST(sum(t) AS BIGINT) AS chi2_micro
      |  FROM tm)
      |SELECT n, r, c, CAST((r - 1) * (c - 1) AS BIGINT) AS dof,
      |  chi2_micro,
      |  CAST(CASE WHEN (r - 1) * (c - 1) > 0
      |    THEN floor(sqrt((chi2_micro / 1.0E6) /
      |      (CAST(n AS DOUBLE) * (least(r, c) - 1))) * 1.0E6 + 0.5E0)
      |    ELSE 0 END AS BIGINT) AS cramers_v_micro
      |FROM ag""".stripMargin

  /** Benjamini–Hochberg selection over a PLANTED p-value column (10%
    * of docs carry signal p ≤ 10⁻⁴, the rest hash-uniform — BH at
    * α = 0.05 recovers essentially the signal set; see
    * [[Insight.bhSelect]]): the md5 arming and the step-up rule replay
    * exactly in SQL. */
  private[graft] def qQualityBh(s: SparkSession, dir: String): DataFrame = {
    val u = expr("CAST(conv(substring(md5(concat('bh:', " +
      "CAST(doc_id AS STRING))), 1, 8), 16, 10) AS BIGINT)")
    val scored = t(s, dir, "documents").select(col("doc_id"),
      when(col("doc_id") % 10 === 0, u % 100)
        .otherwise(u % 1000000).as("p_micro"))
    Insight.bhSelect(scored, "p_micro", "doc_id", alphaMicro = 50000L)
  }

  private[graft] val oQualityBh =
    """WITH s AS (SELECT doc_id,
      |    CASE WHEN doc_id % 10 = 0
      |      THEN ('0x' || substr(md5('bh:' || CAST(doc_id AS VARCHAR)),
      |        1, 8))::BIGINT % 100
      |      ELSE ('0x' || substr(md5('bh:' || CAST(doc_id AS VARCHAR)),
      |        1, 8))::BIGINT % 1000000 END AS p_micro
      |  FROM documents WHERE doc_id IS NOT NULL),
      |r AS (SELECT doc_id, p_micro,
      |    CAST(row_number() OVER (ORDER BY p_micro, doc_id) AS BIGINT)
      |      AS rank, CAST(count(*) OVER () AS BIGINT) AS m FROM s),
      |k AS (SELECT coalesce(max(rank), 0) AS kmax FROM r
      |  WHERE p_micro * m <= rank * 50000)
      |SELECT doc_id, p_micro, rank, m FROM r, k WHERE rank <= kmax"""
      .stripMargin

  /** Mann–Whitney U of purchase vs non-purchase event values (see
    * [[Insight.mannWhitney]]): doubled-midrank integers on the
    * counts-first rail, tie-corrected z as an identical-tree double. */
  private[graft] def qEventsMannWhitney(s: SparkSession, dir: String): DataFrame =
    Insight.mannWhitney(
      readEvents(s, dir).select(col("value"),
        (col("event_type") === "purchase").as("grp")),
      "value", "grp")

  private[graft] val oEventsMannWhitney =
    """WITH per AS (SELECT value AS v,
      |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS c1,
      |    CAST(count(*) AS BIGINT) AS ct
      |  FROM events WHERE value IS NOT NULL
      |    AND (event_type = 'purchase') IS NOT NULL
      |  GROUP BY 1),
      |cum AS (SELECT c1, ct,
      |    CAST(sum(ct) OVER (ORDER BY v) AS BIGINT) AS cum FROM per),
      |ag AS (SELECT CAST(sum(c1) AS BIGINT) AS n1,
      |    CAST(sum(ct) AS BIGINT) AS n,
      |    sum(CAST(c1 AS HUGEINT) * (2 * cum - ct + 1)) AS r1x2,
      |    sum(CAST(ct AS HUGEINT) * ct * ct - ct) AS ties
      |  FROM cum),
      |st AS (SELECT n1, n - n1 AS n2, n, ties,
      |    r1x2 - CAST(n1 AS HUGEINT) * (n1 + 1) AS u1x2 FROM ag)
      |SELECT n1, n2, CAST(u1x2 AS BIGINT) AS u1_x2,
      |  CAST(2 * CAST(n1 AS HUGEINT) * n2 - u1x2 AS BIGINT) AS u2_x2,
      |  CASE WHEN n1 > 0 AND n2 > 0 AND n > 1
      |      AND CAST(ties AS DOUBLE) / (CAST(n AS DOUBLE) * (n - 1)) < n + 1
      |    THEN CAST(floor(CAST(u1x2 - CAST(n1 AS HUGEINT) * n2 AS DOUBLE)
      |      / (2.0E0 * sqrt(CAST(n1 AS DOUBLE) * n2 *
      |        ((n + 1) - CAST(ties AS DOUBLE) /
      |          (CAST(n AS DOUBLE) * (n - 1))) / 12.0E0))
      |      * 1.0E6 + 0.5E0) AS BIGINT)
      |  END AS z_micro
      |FROM st""".stripMargin

  /** CIDR blocklist screen over planted source IPs (see
    * [[Web.cidrBlocklist]]): dotted-quad → integer, chained-when range
    * membership (no join), malformed IPs surfaced as null. Every 9th
    * doc plants an out-of-range octet; the list mixes specific and
    * broad blocks so first-match order is exercised. */
  private[graft] val cidrList = Seq("100.64.0.0/10", "10.0.0.0/8", "0.0.0.0/8")

  private[graft] def qWebCidr(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    val ip = when(id % 9 === 0,
      concat(lit("999.1.2."), (id % 256).cast("string")))
      .otherwise(concat(
        (id % 200).cast("string"), lit("."),
        (id * 7 % 256).cast("string"), lit("."),
        (id * 13 % 256).cast("string"), lit("."),
        (id * 29 % 256).cast("string")))
    Web.cidrBlocklist(
      t(s, dir, "documents").select(col("doc_id"), ip.as("src_ip")),
      "src_ip", cidrList)
  }

  private[graft] val oWebCidr = {
    val ranges = cidrList.map(Web.parseCidr)
    val blockCase = "CASE " + ranges.map(r =>
      s"WHEN ip_long BETWEEN ${r.lo} AND ${r.hi} THEN '${r.cidr}'")
      .mkString(" ") + " END"
    s"""WITH d AS (SELECT doc_id,
      |    CASE WHEN doc_id % 9 = 0
      |      THEN '999.1.2.' || CAST(doc_id % 256 AS VARCHAR)
      |      ELSE CAST(doc_id % 200 AS VARCHAR) || '.' ||
      |        CAST(doc_id * 7 % 256 AS VARCHAR) || '.' ||
      |        CAST(doc_id * 13 % 256 AS VARCHAR) || '.' ||
      |        CAST(doc_id * 29 % 256 AS VARCHAR) END AS src_ip
      |  FROM documents),
      |p AS (SELECT doc_id, src_ip,
      |    CASE WHEN doc_id % 9 = 0 THEN NULL
      |      ELSE (doc_id % 200) * 16777216 + (doc_id * 7 % 256) * 65536 +
      |        (doc_id * 13 % 256) * 256 + (doc_id * 29 % 256) END
      |      AS ip_long
      |  FROM d)
      |SELECT doc_id, src_ip, CAST(ip_long AS BIGINT) AS ip_long,
      |  coalesce(${ranges.map(r =>
        s"ip_long BETWEEN ${r.lo} AND ${r.hi}").mkString(" OR ")}, false)
      |    AS blocked,
      |  $blockCase AS block
      |FROM p""".stripMargin
  }

  /** SPRT monitor per event type for the high-value rate (see
    * [[Insight.sprt]], H₀ p=0.2 vs H₁ p=0.3): driver-literal micro
    * log-coefficients, BIGINT LLR, integer boundary compare. */
  private[graft] def qEventsSprt(s: SparkSession, dir: String): DataFrame =
    Insight.sprt(
      readEvents(s, dir).select(col("event_type"),
        (col("value") > 200.0).as("hi")),
      "event_type", "hi", p0 = 0.2, p1 = 0.3)

  private[graft] val oEventsSprt = {
    def mic(x: Double) = math.floor(x * 1e6 + 0.5).toLong
    val c1 = mic(math.log(0.3 / 0.2))
    val c0 = mic(math.log(0.7 / 0.8))
    val up = mic(math.log(0.8 / 0.05))
    val lo = mic(math.log(0.2 / 0.95))
    s"""WITH g AS (SELECT event_type AS key, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(CASE WHEN value > 200.0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS s
      |  FROM events WHERE (value > 200.0) IS NOT NULL GROUP BY 1)
      |SELECT key, n, s,
      |  CAST(s * $c1 + (n - s) * $c0 AS BIGINT) AS llr_micro,
      |  CASE WHEN s * $c1 + (n - s) * $c0 >= $up THEN 'accept_h1'
      |       WHEN s * $c1 + (n - s) * $c0 <= $lo THEN 'accept_h0'
      |       ELSE 'continue' END AS decision
      |FROM g""".stripMargin
  }

  /** Interval-union coverage per user over value-length event windows
    * (see [[RangeJoin.intervalCoverage]]): overlap never double-counts,
    * nesting contributes zero, exact integer µs. */
  private[graft] def qEventsCoverage(s: SparkSession, dir: String): DataFrame = {
    val ev = readEvents(s, dir)
    val startUs = unix_micros(col("ts").cast("timestamp"))
    val iv = ev.select(col("user_id"),
      timestamp_micros(startUs).as("w_start"),
      timestamp_micros(startUs +
        expr("CAST(floor(value * 1000000 + 0.5) AS BIGINT)")).as("w_end"))
    RangeJoin.intervalCoverage(iv, "user_id", "w_start", "w_end")
  }

  private[graft] val oEventsCoverage =
    """WITH iv AS (SELECT user_id AS k,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS s,
      |    epoch_us(CAST(ts AS TIMESTAMP)) +
      |      CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS e
      |  FROM events
      |  WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL),
      |sw AS (SELECT k, s, e,
      |    max(e) OVER (PARTITION BY k ORDER BY s, e
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
      |  FROM iv WHERE s <= e)
      |SELECT k AS key, CAST(count(*) AS BIGINT) AS n_intervals,
      |  CAST(sum(CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_runs,
      |  CAST(sum(greatest(e - greatest(s, coalesce(pmax, s)), 0))
      |    AS BIGINT) AS covered_us,
      |  CAST(max(e) - min(s) AS BIGINT) AS span_us
      |FROM sw GROUP BY 1""".stripMargin

  /** DKW-banded median of micro event values per event type (see
    * [[Profile.quantileBand]], q = 0.5, δ = 0.05): exact order
    * statistics at r ∓ ⌈√(C·n)⌉ with the one log a driver literal. */
  private[graft] def qEventsQuantileBand(s: SparkSession, dir: String): DataFrame =
    Profile.quantileBand(
      readEvents(s, dir).select(col("event_type"),
        expr("CAST(floor(value * 1000000 + 0.5) AS BIGINT)").as("vm")),
      "event_type", "vm", qPpm = 500000L, delta = 0.05)

  private[graft] val oEventsQuantileBand = {
    val cLit = Classify.dlit(math.log(2.0 / 0.05) / 2.0)
    s"""WITH c AS (SELECT event_type AS g,
      |    CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS v,
      |    CAST(count(*) AS BIGINT) AS c
      |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
      |w AS (SELECT g, v,
      |    CAST(sum(c) OVER (PARTITION BY g ORDER BY v) AS BIGINT) AS cum,
      |    CAST(sum(c) OVER (PARTITION BY g) AS BIGINT) AS n FROM c),
      |r AS (SELECT g, v, cum, n,
      |    (500000 * n + 999999) // 1000000 AS r,
      |    CAST(ceil(sqrt($cLit * n)) AS BIGINT) AS h FROM w)
      |SELECT g AS "group", max(n) AS n, max(h) AS half_rank,
      |  min(CASE WHEN cum >= greatest(r - h, 1) THEN v END) AS v_lo,
      |  min(CASE WHEN cum >= r THEN v END) AS v_mid,
      |  min(CASE WHEN cum >= least(r + h, n) THEN v END) AS v_hi
      |FROM r GROUP BY 1""".stripMargin
  }

  /** Per-type OLS of event value on hour of day (see
    * [[Insight.olsByKey]]): exact DECIMAL rational slope/intercept,
    * identical-tree-double r². */
  private[graft] def qEventsOls(s: SparkSession, dir: String): DataFrame =
    Insight.olsByKey(
      readEvents(s, dir).select(col("event_type"),
        hour(col("ts").cast("timestamp")).as("hr"),
        expr("CAST(floor(value * 1000000 + 0.5) AS BIGINT)").as("vm")),
      "event_type", "hr", "vm")

  private[graft] val oEventsOls =
    """WITH d AS (SELECT event_type AS key,
      |    CAST(hour(CAST(ts AS TIMESTAMP)) AS BIGINT) AS x,
      |    CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS y
      |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
      |a AS (SELECT key, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
      |    sum(CAST(x AS HUGEINT) * y) AS sxy,
      |    sum(CAST(x AS HUGEINT) * x) AS sxx,
      |    sum(CAST(y AS HUGEINT) * y) AS syy
      |  FROM d GROUP BY 1),
      |b AS (SELECT key, n, sx, sy,
      |    n * sxy - CAST(sx AS HUGEINT) * sy AS num,
      |    n * sxx - CAST(sx AS HUGEINT) * sx AS dx,
      |    n * syy - CAST(sy AS HUGEINT) * sy AS dy
      |  FROM a)
      |SELECT key, n,
      |  CASE WHEN dx > 0 THEN CAST(num * 1000000 // dx AS BIGINT) END
      |    AS slope_ppm,
      |  CASE WHEN dx > 0 THEN CAST((CAST(sy AS HUGEINT) * dx - num * sx)
      |    * 1000000 // (CAST(n AS HUGEINT) * dx) AS BIGINT) END
      |    AS intercept_micro,
      |  CASE WHEN dx > 0 AND dy > 0 THEN CAST(floor(
      |    CAST(num AS DOUBLE) * CAST(num AS DOUBLE) /
      |    (CAST(dx AS DOUBLE) * CAST(dy AS DOUBLE)) * 1.0E6 + 0.5E0)
      |    AS BIGINT) END AS r2_ppm
      |FROM b""".stripMargin

  /** CUPED-adjusted arm means over a planted correlated pre-metric
    * (see [[Insight.cupedAdjust]]): pooled θ in exact ppm, one
    * division per reported term. */
  private[graft] def qEventsCuped(s: SparkSession, dir: String): DataFrame = {
    val base = readEvents(s, dir)
      .filter(col("user_id").isNotNull && col("value").isNotNull)
      .select((col("user_id") % 2).as("arm"),
        expr("CAST(floor(value * 1000000 + 0.5) AS BIGINT)").as("y"),
        col("user_id"))
      .withColumn("x",
        expr("y div 2 + user_id * 37 % 1000 * 1000"))
    Insight.cupedAdjust(base, "arm", "y", "x")
  }

  private[graft] val oEventsCuped =
    """WITH d AS (SELECT user_id % 2 AS arm,
      |    CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS y,
      |    CAST(floor(value * 1000000 + 0.5) AS BIGINT) // 2
      |      + user_id * 37 % 1000 * 1000 AS x
      |  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL),
      |p AS (SELECT CAST(count(*) AS BIGINT) AS np,
      |    CAST(sum(x) AS BIGINT) AS sxp, CAST(sum(y) AS BIGINT) AS syp,
      |    sum(CAST(x AS HUGEINT) * y) AS sxyp,
      |    sum(CAST(x AS HUGEINT) * x) AS sxxp
      |  FROM d),
      |t AS (SELECT np, sxp,
      |    np * sxyp - CAST(sxp AS HUGEINT) * syp AS num,
      |    np * sxxp - CAST(sxp AS HUGEINT) * sxp AS dx
      |  FROM p),
      |th AS (SELECT np, sxp, CASE WHEN dx > 0
      |    THEN CAST(num * 1000000 // dx AS BIGINT) ELSE 0 END AS theta_ppm
      |  FROM t),
      |arms AS (SELECT arm, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(y) AS BIGINT) AS sy, CAST(sum(x) AS BIGINT) AS sx
      |  FROM d GROUP BY 1)
      |SELECT arm, n,
      |  CAST(CAST(sy AS HUGEINT) * 1000000 // n AS BIGINT) AS mean_y_micro,
      |  CAST(CAST(sy AS HUGEINT) * 1000000 // n + CAST(theta_ppm AS HUGEINT) *
      |    (n * CAST(sxp AS HUGEINT) - np * sx) //
      |    (CAST(n AS HUGEINT) * np) AS BIGINT) AS adj_mean_micro,
      |  theta_ppm
      |FROM arms, th""".stripMargin

  /** Difference-in-differences on events (see [[Insight.diffInDiff]]):
    * treatment = odd user ids, post = Jan 16+ (mid-range of the fixed
    * Jan 1–30 window, all four cells populated at every SF), outcome =
    * micro-scaled value. Synthetic data has no planted effect — the
    * rail, not the estimate, is what the oracle pins. */
  private[graft] def qEventsDid(s: SparkSession, dir: String): DataFrame = {
    val d = readEvents(s, dir)
      .filter(col("user_id").isNotNull && col("value").isNotNull)
      .select((col("user_id") % 2 === 1).as("treated"),
        (col("ts") >= lit("2024-01-16").cast("timestamp")).as("post"),
        expr("CAST(floor(value * 1000000 + 0.5) AS BIGINT)").as("y"))
    Insight.diffInDiff(d, "treated", "post", "y")
  }

  private[graft] val oEventsDid = {
    def cellExprs(t: String, cond: String) = Seq(
      s"CAST(count(*) FILTER (WHERE $cond) AS BIGINT) AS n_$t",
      s"CAST(coalesce(sum(y) FILTER (WHERE $cond), 0) AS BIGINT) AS s_$t")
    val cells = Seq(
      ("c0", "NOT tr AND NOT post"), ("c1", "NOT tr AND post"),
      ("t0", "tr AND NOT post"), ("t1", "tr AND post"))
    // signed rail in lockstep with the operator: sign(s)·(|s|·10⁶//n)
    // (values identical — both engines truncate toward zero — but the
    // division operands stay positive, the house discipline)
    def mean(t: String) =
      s"CASE WHEN n_$t > 0 THEN CAST(" +
        s"(CASE WHEN s_$t < 0 THEN -1 ELSE 1 END) * " +
        s"(CAST(abs(s_$t) AS HUGEINT) * 1000000 // n_$t)" +
        s" AS BIGINT) END"
    s"""WITH d AS (SELECT (user_id % 2 = 1) AS tr,
       |    CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-16' AS post,
       |    CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS y
       |  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL),
       |c AS (SELECT
       |    ${cells.flatMap { case (t, q) => cellExprs(t, q) }
            .mkString(",\n       |    ")}
       |  FROM d)
       |SELECT n_c0, n_c1, n_t0, n_t1,
       |  ${mean("c0")} AS mean_c0_micro, ${mean("c1")} AS mean_c1_micro,
       |  ${mean("t0")} AS mean_t0_micro, ${mean("t1")} AS mean_t1_micro,
       |  ((${mean("t1")}) - (${mean("t0")})) -
       |    ((${mean("c1")}) - (${mean("c0")})) AS did_micro
       |FROM c""".stripMargin
  }

  /** Inter-arrival burstiness per user (see [[Insight.burstiness]]):
    * exact integer gaps, CV² as a DECIMAL rational — the automation
    * screen. */
  private[graft] def qEventsBurstiness(s: SparkSession, dir: String): DataFrame =
    Insight.burstiness(readEvents(s, dir), "user_id", "ts", "event_id")

  private[graft] val oEventsBurstiness =
    """WITH o AS (SELECT user_id AS k, epoch_us(CAST(ts AS TIMESTAMP)) AS t,
      |    event_id FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
      |g AS (SELECT k, lead(t) OVER (PARTITION BY k ORDER BY t, event_id)
      |      - t AS g
      |  FROM o),
      |a AS (SELECT k, CAST(count(*) AS BIGINT) AS n_gaps,
      |    CAST(sum(g) AS BIGINT) AS sg,
      |    sum(CAST(g AS HUGEINT) * g) AS sgg
      |  FROM g WHERE g IS NOT NULL GROUP BY 1)
      |SELECT k AS key, n_gaps,
      |  CAST(sg // n_gaps AS BIGINT) AS mean_gap_us,
      |  CASE WHEN sg > 0 THEN
      |    CAST((n_gaps * sgg - CAST(sg AS HUGEINT) * sg) * 1000000 //
      |      (CAST(sg AS HUGEINT) * sg) AS BIGINT) END AS cv2_ppm
      |FROM a""".stripMargin

  /** Journey skip-grams: event types co-occurring within 3 steps of
    * each other in a user's (ts, event_id)-ordered journey — the
    * behavioral analogue of [[Phrases.skipgramCounts]], composed over
    * per-user path strings (order carried through the collect the way
    * [[qEventsTopPaths]] builds journeys). */
  private[graft] def qEventsSkipgrams(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val journeys = readEvents(s, dir)
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
      .withColumn("__path", collect_list("event_type").over(w))
      .groupBy("user_id")
      .agg(max(struct(size(col("__path")).as("__n"), col("__path")))
        .as("__m"))
      .select(col("user_id"), array_join(col("__m.__path"), " ").as("path"))
    Phrases.skipgramCounts(journeys, "path", "user_id",
      window = 3, minCount = 2L)
  }

  private[graft] val oEventsSkipgrams =
    """WITH o AS (SELECT user_id, event_type,
      |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |      AS i
      |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
      |pr AS (SELECT least(a.event_type, b.event_type) AS w1,
      |    greatest(a.event_type, b.event_type) AS w2
      |  FROM o a JOIN o b ON a.user_id = b.user_id AND b.i > a.i
      |    AND b.i <= a.i + 3)
      |SELECT w1, w2, CAST(count(*) AS BIGINT) AS cnt FROM pr
      |GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin

  /** Welch's t between purchase and non-purchase event values (see
    * [[Insight.welchT]]) — the parametric companion to
    * `events_mannwhitney` on the same split: exact integer moments,
    * identical-tree-double t and Welch–Satterthwaite df. */
  private[graft] def qEventsWelch(s: SparkSession, dir: String): DataFrame =
    Insight.welchT(
      readEvents(s, dir).select(
        expr("CAST(floor(value * 1000000 + 0.5) AS BIGINT)").as("vm"),
        (col("event_type") === "purchase").as("grp")),
      "vm", "grp")

  private[graft] val oEventsWelch = {
    def vOverN(n: String, s: String, q: String) =
      s"(CAST($n AS DOUBLE) * CAST($q AS DOUBLE)" +
        s" - CAST($s AS DOUBLE) * CAST($s AS DOUBLE))" +
        s" / (CAST($n AS DOUBLE) * ($n - 1) * $n)"
    val a = vOverN("n1", "s1", "q1")
    val b = vOverN("n2", "s2", "q2")
    s"""WITH d AS (SELECT CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS v,
      |    event_type = 'purchase' AS g
      |  FROM events
      |  WHERE value IS NOT NULL AND (event_type = 'purchase') IS NOT NULL),
      |m AS (SELECT
      |    CAST(sum(CASE WHEN g THEN 1 ELSE 0 END) AS BIGINT) AS n1,
      |    CAST(sum(CASE WHEN g THEN 0 ELSE 1 END) AS BIGINT) AS n2,
      |    CAST(sum(CASE WHEN g THEN v ELSE 0 END) AS BIGINT) AS s1,
      |    CAST(sum(CASE WHEN g THEN 0 ELSE v END) AS BIGINT) AS s2,
      |    sum(CASE WHEN g THEN CAST(v AS HUGEINT) * v ELSE 0 END) AS q1,
      |    sum(CASE WHEN g THEN 0 ELSE CAST(v AS HUGEINT) * v END) AS q2
      |  FROM d)
      |SELECT n1, n2,
      |  CASE WHEN n1 > 0 THEN
      |    CAST(CAST(s1 AS HUGEINT) * 1000000 // n1 AS BIGINT) END
      |    AS mean1_micro,
      |  CASE WHEN n2 > 0 THEN
      |    CAST(CAST(s2 AS HUGEINT) * 1000000 // n2 AS BIGINT) END
      |    AS mean2_micro,
      |  CASE WHEN n1 > 1 AND n2 > 1 AND $a + $b > 0.0E0 THEN
      |    CAST(floor((CAST(s1 AS DOUBLE) / n1 - CAST(s2 AS DOUBLE) / n2)
      |      / sqrt($a + $b) * 1.0E6 + 0.5E0) AS BIGINT) END AS t_micro,
      |  CASE WHEN n1 > 1 AND n2 > 1
      |      AND ($a) * ($a) / (n1 - 1) + ($b) * ($b) / (n2 - 1) > 0.0E0
      |    THEN CAST(floor(($a + $b) * ($a + $b) /
      |      (($a) * ($a) / (n1 - 1) + ($b) * ($b) / (n2 - 1))
      |      * 1.0E6 + 0.5E0) AS BIGINT) END AS df_micro
      |FROM m""".stripMargin
  }

  /** One-way ANOVA F across the five event-type arms (see
    * [[Insight.anovaF]]): exact micro-scaled sums of squares from
    * per-group integer moments; only the F ratio is a double. */
  private[graft] def qEventsAnova(s: SparkSession, dir: String): DataFrame =
    Insight.anovaF(
      readEvents(s, dir).select(col("event_type"),
        expr("CAST(floor(value * 1000000 + 0.5) AS BIGINT)").as("vm")),
      "vm", "event_type")

  private[graft] val oEventsAnova =
    """WITH d AS (SELECT event_type AS g,
      |    CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS v
      |  FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL),
      |p AS (SELECT g, count(*) AS cn, sum(v) AS s,
      |    sum(CAST(v AS HUGEINT) * v) AS q FROM d GROUP BY g),
      |m AS (SELECT CAST(sum(cn) AS BIGINT) AS n,
      |    CAST(count(*) AS BIGINT) AS k,
      |    sum(CAST(s AS HUGEINT)) AS st, sum(q) AS qt,
      |    sum(CAST(s AS HUGEINT) * s * 1000000 // cn) AS a FROM p),
      |e AS (SELECT n, k, st, a - st * st * 1000000 // n AS ssb,
      |    qt * 1000000 - a AS ssw FROM m)
      |SELECT n, k,
      |  CASE WHEN n > 0 THEN CAST(st * 1000000 // n AS BIGINT) END
      |    AS grand_mean_micro,
      |  CASE WHEN ssb > 0 AND ssb + ssw > 0
      |      THEN CAST(ssb * 1000000 // (ssb + ssw) AS BIGINT)
      |    WHEN n > 0 THEN 0 END AS eta2_ppm,
      |  CASE WHEN k >= 2 AND n > k AND ssw > 0 AND ssb > 0 THEN
      |    CAST(floor(CAST(ssb AS DOUBLE) / (k - 1) /
      |      (CAST(ssw AS DOUBLE) / (n - k)) * 1.0E6 + 0.5E0) AS BIGINT)
      |  END AS f_micro
      |FROM e""".stripMargin

  /** Kruskal–Wallis H across the event-type arms (see
    * [[Insight.kruskalWallis]]): doubled midranks over the value
    * vocabulary, exact micro H, tie-corrected H as the only double. */
  private[graft] def qEventsKruskal(s: SparkSession, dir: String): DataFrame =
    Insight.kruskalWallis(
      readEvents(s, dir).select(col("event_type"),
        expr("CAST(floor(value * 1000000 + 0.5) AS BIGINT)").as("vm")),
      "vm", "event_type")

  private[graft] val oEventsKruskal =
    """WITH d AS (SELECT event_type AS g,
      |    CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS v
      |  FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL),
      |gv AS (SELECT g, v, count(*) AS c FROM d GROUP BY 1, 2),
      |pv AS (SELECT v, sum(c) AS ct FROM gv GROUP BY 1),
      |vt AS (SELECT v, ct,
      |    sum(ct) OVER (ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM pv),
      |tt AS (SELECT coalesce(sum(CAST(ct AS HUGEINT) * ct * ct - ct), 0)
      |    AS t FROM vt),
      |pg AS (SELECT g, sum(c) AS n,
      |    sum(CAST(c AS HUGEINT) * (2 * cum - ct + 1)) AS r2
      |  FROM gv JOIN vt USING (v) GROUP BY g),
      |m AS (SELECT CAST(sum(n) AS BIGINT) AS n,
      |    CAST(count(*) AS BIGINT) AS k,
      |    sum(r2 * r2 * 1000000 // (4 * n)) AS a FROM pg),
      |e AS (SELECT n, k,
      |    CASE WHEN n >= 2 THEN
      |      CAST(12 * a // (CAST(n AS HUGEINT) * (n + 1))
      |        - 3 * (n + 1) * 1000000 AS BIGINT) END AS h_micro,
      |    CASE WHEN n >= 2 THEN
      |      CAST(1000000 - (SELECT t FROM tt) * 1000000 //
      |        (CAST(n AS HUGEINT) * n * n - n) AS BIGINT) END AS tie_ppm
      |  FROM m)
      |SELECT n, k, h_micro, tie_ppm,
      |  CASE WHEN n >= 2 AND tie_ppm > 0 THEN
      |    CAST(floor(CAST(h_micro AS DOUBLE) * 1.0E6 / tie_ppm + 0.5E0)
      |      AS BIGINT) END AS h_adj_micro
      |FROM e""".stripMargin

  /** Brown–Forsythe spread-homogeneity test across the event-type
    * arms (see [[Insight.brownForsythe]]): ANOVA on |v − group
    * median| with the exact lower median — fully integer until the
    * final F. */
  private[graft] def qEventsBrownForsythe(s: SparkSession, dir: String): DataFrame =
    Insight.brownForsythe(
      readEvents(s, dir).select(col("event_type"),
        expr("CAST(floor(value * 1000000 + 0.5) AS BIGINT)").as("vm")),
      "vm", "event_type")

  private[graft] val oEventsBrownForsythe =
    """WITH d AS (SELECT event_type AS g,
      |    CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS v
      |  FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL),
      |c AS (SELECT g, v, count(*) AS c FROM d GROUP BY 1, 2),
      |cc AS (SELECT g, v, c,
      |    sum(c) OVER (PARTITION BY g ORDER BY v) AS cum,
      |    sum(c) OVER (PARTITION BY g) AS nn FROM c),
      |md AS (SELECT g, min(CASE WHEN cum * 2 >= nn THEN v END) AS med
      |  FROM cc GROUP BY g),
      |z AS (SELECT d.g, abs(d.v - md.med) AS v
      |  FROM d JOIN md USING (g)),
      |p AS (SELECT g, count(*) AS cn, sum(v) AS s,
      |    sum(CAST(v AS HUGEINT) * v) AS q FROM z GROUP BY g),
      |m AS (SELECT CAST(sum(cn) AS BIGINT) AS n,
      |    CAST(count(*) AS BIGINT) AS k,
      |    sum(CAST(s AS HUGEINT)) AS st, sum(q) AS qt,
      |    sum(CAST(s AS HUGEINT) * s * 1000000 // cn) AS a FROM p),
      |e AS (SELECT n, k, st, a - st * st * 1000000 // n AS ssb,
      |    qt * 1000000 - a AS ssw FROM m)
      |SELECT n, k,
      |  CASE WHEN n > 0 THEN CAST(st * 1000000 // n AS BIGINT) END
      |    AS grand_mean_micro,
      |  CASE WHEN ssb > 0 AND ssb + ssw > 0
      |      THEN CAST(ssb * 1000000 // (ssb + ssw) AS BIGINT)
      |    WHEN n > 0 THEN 0 END AS eta2_ppm,
      |  CASE WHEN k >= 2 AND n > k AND ssw > 0 AND ssb > 0 THEN
      |    CAST(floor(CAST(ssb AS DOUBLE) / (k - 1) /
      |      (CAST(ssw AS DOUBLE) / (n - k)) * 1.0E6 + 0.5E0) AS BIGINT)
      |  END AS f_micro
      |FROM e""".stripMargin

  /** Kaplan–Meier time-to-purchase survival curves by user cohort
    * (see [[Insight.kaplanMeier]]): hour-bucketed durations, purchase
    * = event, no-purchase = censored at last activity; exact ppm
    * product-limit fold, recursive-CTE oracle. */
  private[graft] def qEventsSurvivalKm(s: SparkSession, dir: String): DataFrame = {
    val u = readEvents(s, dir)
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
      .groupBy("user_id")
      .agg(min(unix_micros(col("ts").cast("timestamp"))).as("t0"),
        min(when(col("event_type") === "purchase",
          unix_micros(col("ts").cast("timestamp")))).as("tp"),
        max(unix_micros(col("ts").cast("timestamp"))).as("tl"))
      .select((col("user_id") % 2).as("cohort"),
        expr("(coalesce(tp, tl) - t0) div 3600000000").as("dur_h"),
        col("tp").isNotNull.as("converted"))
    Insight.kaplanMeier(u, "cohort", "dur_h", "converted")
  }

  private[graft] val oEventsSurvivalKm =
    """WITH RECURSIVE u AS (SELECT user_id,
      |    min(epoch_us(CAST(ts AS TIMESTAMP))) AS t0,
      |    min(CASE WHEN event_type = 'purchase'
      |      THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS tp,
      |    max(epoch_us(CAST(ts AS TIMESTAMP))) AS tl
      |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
      |  GROUP BY 1),
      |dd AS (SELECT CAST(user_id % 2 AS BIGINT) AS g,
      |    CAST((coalesce(tp, tl) - t0) // 3600000000 AS BIGINT) AS t,
      |    tp IS NOT NULL AS e FROM u),
      |c AS (SELECT g, t, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(CASE WHEN e THEN 1 ELSE 0 END) AS BIGINT) AS d
      |  FROM dd GROUP BY 1, 2),
      |r AS (SELECT g, t, n, d,
      |    CAST(sum(n) OVER (PARTITION BY g ORDER BY t DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS risk FROM c),
      |grid AS (SELECT g, t, d, risk,
      |    row_number() OVER (PARTITION BY g ORDER BY t) AS rn
      |  FROM r WHERE d > 0),
      |rec AS (
      |  SELECT g, t, d, risk, rn,
      |    CAST(1000000 * (risk - d) // risk AS BIGINT) AS s
      |  FROM grid WHERE rn = 1
      |  UNION ALL
      |  SELECT gd.g, gd.t, gd.d, gd.risk, gd.rn,
      |    CAST(rc.s * (gd.risk - gd.d) // gd.risk AS BIGINT)
      |  FROM grid gd JOIN rec rc ON gd.g = rc.g AND gd.rn = rc.rn + 1)
      |SELECT g AS "group", t, d, risk AS n_risk, s AS s_ppm
      |FROM rec""".stripMargin

  /** Log-rank test between the two [[qEventsSurvivalKm]] cohorts (see
    * [[Insight.logRank]]): zero-filled at-risk grid over the duration
    * vocabulary, hypergeometric terms micro-rounded and BIGINT-summed. */
  private[graft] def qEventsLogrank(s: SparkSession, dir: String): DataFrame = {
    val u = readEvents(s, dir)
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
      .groupBy("user_id")
      .agg(min(unix_micros(col("ts").cast("timestamp"))).as("t0"),
        min(when(col("event_type") === "purchase",
          unix_micros(col("ts").cast("timestamp")))).as("tp"),
        max(unix_micros(col("ts").cast("timestamp"))).as("tl"))
      .select((col("user_id") % 2 === 1).as("cohort"),
        expr("(coalesce(tp, tl) - t0) div 3600000000").as("dur_h"),
        col("tp").isNotNull.as("converted"))
    Insight.logRank(u, "cohort", "dur_h", "converted")
  }

  private[graft] val oEventsLogrank =
    """WITH u AS (SELECT user_id,
      |    min(epoch_us(CAST(ts AS TIMESTAMP))) AS t0,
      |    min(CASE WHEN event_type = 'purchase'
      |      THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS tp,
      |    max(epoch_us(CAST(ts AS TIMESTAMP))) AS tl
      |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
      |  GROUP BY 1),
      |dd AS (SELECT user_id % 2 = 1 AS g,
      |    CAST((coalesce(tp, tl) - t0) // 3600000000 AS BIGINT) AS t,
      |    tp IS NOT NULL AS e FROM u),
      |c AS (SELECT t, g, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(CASE WHEN e THEN 1 ELSE 0 END) AS BIGINT) AS d
      |  FROM dd GROUP BY 1, 2),
      |grid AS (SELECT tt.t, gg.g, coalesce(c.n, 0) AS n,
      |    coalesce(c.d, 0) AS d
      |  FROM (SELECT DISTINCT t FROM c) tt
      |  CROSS JOIN (SELECT DISTINCT g FROM c) gg
      |  LEFT JOIN c ON c.t = tt.t AND c.g = gg.g),
      |rk AS (SELECT t, g, d,
      |    CAST(sum(n) OVER (PARTITION BY g ORDER BY t DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS risk FROM grid),
      |wide AS (SELECT t, CAST(sum(risk) AS BIGINT) AS n,
      |    CAST(sum(CASE WHEN g THEN risk ELSE 0 END) AS BIGINT) AS n1,
      |    CAST(sum(d) AS BIGINT) AS d,
      |    CAST(sum(CASE WHEN g THEN d ELSE 0 END) AS BIGINT) AS d1
      |  FROM rk GROUP BY 1 HAVING sum(d) > 0),
      |ag AS (SELECT CAST(count(*) AS BIGINT) AS n_times,
      |    CAST(sum(d1) AS BIGINT) AS o1,
      |    CAST(sum(CAST(floor(CAST(d AS DOUBLE) * n1 / n * 1.0E6
      |      + 0.5E0) AS BIGINT)) AS BIGINT) AS e1_micro,
      |    CAST(sum(CASE WHEN n > 1 THEN
      |      CAST(floor(CAST(d AS DOUBLE) * n1 * (n - n1) * (n - d) /
      |        (CAST(n AS DOUBLE) * n * (n - 1)) * 1.0E6 + 0.5E0)
      |        AS BIGINT) ELSE 0 END) AS BIGINT) AS v_micro
      |  FROM wide)
      |SELECT n_times, o1, e1_micro, v_micro,
      |  CASE WHEN v_micro > 0 THEN
      |    CAST(floor((CAST(o1 AS DOUBLE) * 1.0E6 - e1_micro)
      |      * (CAST(o1 AS DOUBLE) * 1.0E6 - e1_micro) / v_micro
      |      + 0.5E0) AS BIGINT) END AS chi2_micro
      |FROM ag""".stripMargin

  /** Cochran–Mantel–Haenszel stratified 2×2 test: arm = even user id,
    * outcome = converted, strata = user_id % 5 (see [[Insight.cmh]])
    * — the Simpson's-paradox-proof pooled association read. */
  private[graft] def qEventsCmh(s: SparkSession, dir: String): DataFrame = {
    val u = readEvents(s, dir)
      .filter(col("user_id").isNotNull)
      .groupBy("user_id")
      .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L))
        .as("pur"))
      .select((col("user_id") % 5).as("stratum"),
        (col("user_id") % 2 === 0).as("arm"),
        (col("pur") === 1L).as("purchased"))
    Insight.cmh(u, "stratum", "arm", "purchased")
  }

  private[graft] val oEventsCmh =
    """WITH u AS (SELECT user_id,
      |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS p
      |  FROM events WHERE user_id IS NOT NULL GROUP BY 1),
      |s AS (SELECT user_id % 5 AS st, user_id % 2 = 0 AS x, p = 1 AS y
      |  FROM u),
      |cells AS (SELECT st, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(CASE WHEN x AND y THEN 1 ELSE 0 END) AS BIGINT) AS a,
      |    CAST(sum(CASE WHEN x THEN 1 ELSE 0 END) AS BIGINT) AS r1,
      |    CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS c1
      |  FROM s GROUP BY 1 HAVING count(*) > 1),
      |ag AS (SELECT CAST(count(*) AS BIGINT) AS n_strata,
      |    CAST(sum(a) AS BIGINT) AS a_sum,
      |    CAST(sum(CAST(floor(CAST(r1 AS DOUBLE) * c1 / n * 1.0E6
      |      + 0.5E0) AS BIGINT)) AS BIGINT) AS e_micro,
      |    CAST(sum(CAST(floor(CAST(r1 AS DOUBLE) * (n - r1) * c1
      |      * (n - c1) / (CAST(n AS DOUBLE) * n * (n - 1)) * 1.0E6
      |      + 0.5E0) AS BIGINT)) AS BIGINT) AS v_micro
      |  FROM cells)
      |SELECT n_strata, a_sum, e_micro, v_micro,
      |  CASE WHEN v_micro > 0 THEN
      |    CAST(floor((abs(CAST(a_sum AS DOUBLE) * 1.0E6 - e_micro)
      |      - 0.5E6) * (abs(CAST(a_sum AS DOUBLE) * 1.0E6 - e_micro)
      |      - 0.5E6) / v_micro + 0.5E0) AS BIGINT) END
      |    AS cmh_micro
      |FROM ag""".stripMargin

  /** Deterministic sign-flip randomization test over adjacent-user
    * pairs of total spend (see [[Insight.signFlipTest]]): md5-keyed
    * ±1 matrix, 200 resamples, exact integer p. */
  private[graft] def qEventsSignflip(s: SparkSession, dir: String): DataFrame = {
    val x = readEvents(s, dir)
      .filter(col("user_id").isNotNull && col("value").isNotNull)
      .groupBy("user_id")
      .agg(sum(expr("CAST(floor(value * 1000000 + 0.5) AS BIGINT)"))
        .as("xv"))
      .select(expr("user_id div 2").as("pair"),
        when(col("user_id") % 2 === 0, col("xv"))
          .otherwise(-col("xv")).as("sx"))
    val pairs = x.groupBy("pair")
      .agg(count(lit(1)).as("np"), sum("sx").as("diff"))
      .filter(col("np") === 2)
    Insight.signFlipTest(pairs, "pair", "diff", resamples = 200)
  }

  private[graft] val oEventsSignflip =
    """WITH x AS (SELECT user_id,
      |    sum(CAST(floor(value * 1000000 + 0.5) AS BIGINT)) AS xv
      |  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL
      |  GROUP BY 1),
      |p AS (SELECT user_id // 2 AS pair,
      |    CAST(sum(CASE WHEN user_id % 2 = 0 THEN xv ELSE -xv END)
      |      AS BIGINT) AS diff
      |  FROM x GROUP BY 1 HAVING count(*) = 2),
      |o AS (SELECT CAST(sum(diff) AS BIGINT) AS t0,
      |    CAST(count(*) AS BIGINT) AS n_pairs FROM p),
      |b AS (SELECT CAST(bb AS BIGINT) AS b
      |  FROM generate_series(1, 200) g(bb)),
      |r AS (SELECT b.b, CAST(sum(CASE WHEN
      |      ('0x' || substr(md5(CAST(p.pair AS VARCHAR) || '_' ||
      |        CAST(b.b AS VARCHAR)), 1, 8))::BIGINT % 2 = 0
      |      THEN p.diff ELSE -p.diff END) AS BIGINT) AS t
      |  FROM p CROSS JOIN b GROUP BY 1)
      |SELECT o.n_pairs, CAST(count(*) AS BIGINT) AS n_resamples,
      |  abs(o.t0) AS t_obs,
      |  CAST(sum(CASE WHEN abs(r.t) >= abs(o.t0) THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_extreme,
      |  CAST((sum(CASE WHEN abs(r.t) >= abs(o.t0) THEN 1 ELSE 0 END)
      |    + 1) * 1000000 // (count(*) + 1) AS BIGINT) AS p_ppm
      |FROM r, o GROUP BY o.n_pairs, o.t0""".stripMargin

  /** Peak/average concurrency of user activity spans (see
    * [[RangeJoin.concurrency]]): ±1 boundary sweep on the prefix-sum
    * rail, exact integer µs and depth·µs integral. */
  private[graft] def qEventsConcurrency(s: SparkSession, dir: String): DataFrame = {
    val spans = readEvents(s, dir)
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
      .groupBy("user_id")
      .agg(min(col("ts")).as("w_start"), max(col("ts")).as("w_end"))
    RangeJoin.concurrency(spans, "w_start", "w_end")
  }

  private[graft] val oEventsConcurrency =
    """WITH sp AS (SELECT
      |    CAST(min(epoch_us(CAST(ts AS TIMESTAMP))) AS BIGINT) AS s,
      |    CAST(max(epoch_us(CAST(ts AS TIMESTAMP))) AS BIGINT) AS e
      |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
      |  GROUP BY user_id),
      |b AS (SELECT s AS t, CAST(1 AS BIGINT) AS d FROM sp
      |  UNION ALL SELECT e, -1 FROM sp),
      |r AS (SELECT t, d,
      |    row_number() OVER (ORDER BY t, d) AS r,
      |    CAST(sum(d) OVER (ORDER BY t, d
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS depth
      |  FROM b),
      |seg AS (SELECT a.depth AS depth, b.t - a.t AS len
      |  FROM r a JOIN r b ON b.r = a.r + 1)
      |SELECT (SELECT CAST(count(*) AS BIGINT) FROM sp) AS n_intervals,
      |  max(depth) AS peak,
      |  CAST(sum(CASE WHEN depth > 0 THEN len ELSE 0 END) AS BIGINT)
      |    AS covered_us,
      |  CAST(sum(CAST(depth AS HUGEINT) * len) AS BIGINT)
      |    AS depth_us_integral,
      |  CASE WHEN sum(CASE WHEN depth > 0 THEN len ELSE 0 END) > 0 THEN
      |    CAST(sum(CAST(depth AS HUGEINT) * len) * 1000000 //
      |      sum(CASE WHEN depth > 0 THEN len ELSE 0 END) AS BIGINT) END
      |    AS avg_depth_ppm
      |FROM seg""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_readability" -> (qTextReadability _),
    "text_compress_ratio" -> (qTextCompressRatio _),
    "text_pmi" -> (qTextPmi _),
    "events_anomaly" -> (qEventsAnomaly _),
    "events_winsorize" -> (qEventsWinsorize _),
    "events_mad" -> (qEventsMad _),
    "events_percent_rank" -> (qEventsPercentRank _),
    "events_markov" -> (qEventsMarkov _),
    "events_changepoint" -> (qEventsChangepoint _),
    "events_cusum" -> (qEventsCusum _),
    "events_pareto" -> (qEventsPareto _),
    "events_decompose" -> (qEventsDecompose _),
    "events_ewma" -> (qEventsEwma _),
    "events_trend_mk" -> (qEventsTrendMk _),
    "events_autocorr" -> (qEventsAutocorr _),
    "events_seasonality" -> (qEventsSeasonality _),
    "source_orc_roundtrip" -> (qSourceOrcRoundtrip _),
    "graph_pagerank" -> (qGraphPagerank _),
    "graph_ppr" -> (qGraphPpr _),
    "graph_triangles" -> (qGraphTriangles _),
    "graph_coreness" -> (qGraphCoreness _),
    "graph_kcore" -> (qGraphKcore _),
    "graph_assortativity" -> (qGraphAssortativity _),
    "graph_clustering" -> (qGraphClustering _),
    "graph_communities" -> (qGraphCommunities _),
    "graph_modularity" -> (qGraphModularity _),
    "graph_ktruss" -> (qGraphKtruss _),
    "graph_walks" -> (qGraphWalks _),
    "graph_pagerank_weighted" -> (qGraphPagerankWeighted _),
    "graph_linkpred" -> (qGraphLinkpred _),
    "graph_bfs" -> (qGraphBfs _),
    "graph_scc" -> (qGraphScc _),
    "graph_condensation" -> (qGraphCondensation _),
    "graph_scc_incremental" -> (qGraphSccIncremental _),
    "insight_bootstrap_ci" -> (qInsightBootstrap _),
    "eval_paired_bootstrap" -> (qEvalPairedBootstrap _),
    "events_twap" -> (qEventsTwap _),
    "text_skipgrams" -> (qTextSkipgrams _),
    "text_ngram_precision" -> (qTextNgramPrecision _),
    "text_bleu" -> (qTextBleu _),
    "text_chrf" -> (qTextChrf _),
    "text_rouge" -> (qTextRouge _),
    "train_negative_table" -> (qTrainNegativeTable _),
    "join_fanout_audit" -> (qJoinFanout _),
    "graph_harmonic" -> (qGraphHarmonic _),
    "graph_betweenness" -> (qGraphBetweenness _),
    "eval_ranking" -> (qEvalRanking _),
    "quality_wilson" -> (qQualityWilson _),
    "events_chi2" -> (qEventsChi2 _),
    "quality_bh_select" -> (qQualityBh _),
    "events_mannwhitney" -> (qEventsMannWhitney _),
    "web_cidr_block" -> (qWebCidr _),
    "events_sprt" -> (qEventsSprt _),
    "events_coverage" -> (qEventsCoverage _),
    "events_quantile_band" -> (qEventsQuantileBand _),
    "events_ols" -> (qEventsOls _),
    "events_cuped" -> (qEventsCuped _),
    "events_did" -> (qEventsDid _),
    "events_burstiness" -> (qEventsBurstiness _),
    "events_skipgrams" -> (qEventsSkipgrams _),
    "events_welch" -> (qEventsWelch _),
    "events_anova" -> (qEventsAnova _),
    "events_kruskal" -> (qEventsKruskal _),
    "events_brown_forsythe" -> (qEventsBrownForsythe _),
    "events_survival_km" -> (qEventsSurvivalKm _),
    "events_signflip" -> (qEventsSignflip _),
    "events_logrank" -> (qEventsLogrank _),
    "events_cmh" -> (qEventsCmh _),
    "events_concurrency" -> (qEventsConcurrency _)
  )

  val oracles: Map[String, String] = Map(
    "text_readability" -> oTextReadability,
    "text_compress_ratio" -> oTextCompressRatio,
    "text_pmi" -> oTextPmi,
    "events_anomaly" -> oEventsAnomaly,
    "events_winsorize" -> oEventsWinsorize,
    "events_mad" -> oEventsMad,
    "events_percent_rank" -> oEventsPercentRank,
    "events_markov" -> oEventsMarkov,
    "events_changepoint" -> oEventsChangepoint,
    "events_cusum" -> oEventsCusum,
    "events_pareto" -> oEventsPareto,
    "events_decompose" -> oEventsDecompose,
    "events_ewma" -> oEventsEwma,
    "events_trend_mk" -> oEventsTrendMk,
    "events_autocorr" -> oEventsAutocorr,
    "events_seasonality" -> oEventsSeasonality,
    "source_orc_roundtrip" -> oSourceOrcRoundtrip,
    "graph_pagerank" -> oGraphPagerank,
    "graph_ppr" -> oGraphPpr,
    "graph_triangles" -> oGraphTriangles,
    "graph_coreness" -> oGraphCoreness,
    "graph_kcore" -> oGraphKcore,
    "graph_assortativity" -> oGraphAssortativity,
    "graph_clustering" -> oGraphClustering,
    "graph_communities" -> oGraphCommunities,
    "graph_modularity" -> oGraphModularity,
    "graph_ktruss" -> oGraphKtruss,
    "graph_walks" -> oGraphWalks,
    "graph_pagerank_weighted" -> oGraphPagerankWeighted,
    "graph_linkpred" -> oGraphLinkpred,
    "graph_bfs" -> oGraphBfs,
    "graph_scc" -> oGraphScc,
    "graph_condensation" -> oGraphCondensation,
    "graph_scc_incremental" -> oGraphSccIncremental,
    "insight_bootstrap_ci" -> oInsightBootstrap,
    "eval_paired_bootstrap" -> oEvalPairedBootstrap,
    "events_twap" -> oEventsTwap,
    "text_skipgrams" -> oTextSkipgrams,
    "text_ngram_precision" -> oTextNgramPrecision,
    "text_bleu" -> oTextBleu,
    "text_chrf" -> oTextChrf,
    "text_rouge" -> oTextRouge,
    "train_negative_table" -> oTrainNegativeTable,
    "join_fanout_audit" -> oJoinFanout,
    "graph_harmonic" -> oGraphHarmonic,
    "graph_betweenness" -> oGraphBetweenness,
    "eval_ranking" -> oEvalRanking,
    "quality_wilson" -> oQualityWilson,
    "events_chi2" -> oEventsChi2,
    "quality_bh_select" -> oQualityBh,
    "events_mannwhitney" -> oEventsMannWhitney,
    "web_cidr_block" -> oWebCidr,
    "events_sprt" -> oEventsSprt,
    "events_coverage" -> oEventsCoverage,
    "events_quantile_band" -> oEventsQuantileBand,
    "events_ols" -> oEventsOls,
    "events_cuped" -> oEventsCuped,
    "events_did" -> oEventsDid,
    "events_burstiness" -> oEventsBurstiness,
    "events_skipgrams" -> oEventsSkipgrams,
    "events_welch" -> oEventsWelch,
    "events_anova" -> oEventsAnova,
    "events_kruskal" -> oEventsKruskal,
    "events_brown_forsythe" -> oEventsBrownForsythe,
    "events_survival_km" -> oEventsSurvivalKm,
    "events_signflip" -> oEventsSignflip,
    "events_logrank" -> oEventsLogrank,
    "events_cmh" -> oEventsCmh,
    "events_concurrency" -> oEventsConcurrency
  )
}
