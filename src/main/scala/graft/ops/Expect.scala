package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Declarative data-quality expectations (the Deequ/Great-Expectations
  * shape): a pipeline stage declares constraints on its input — "doc_id
  * is unique", "text is ≥99.9% non-null", "lang matches ^[a-z]{2}$" —
  * and gets back one row per check with the measured metric and a
  * pass/fail verdict, to gate the run or alert on drift.
  *
  * Everything evaluates in ONE aggregation pass over the data (each
  * check contributes conditional-count expressions to a single `agg`,
  * exactly the conditional-aggregate trick the pivot engine uses), so a
  * 40-check suite costs one scan + one |checks|-wide partial-aggregate
  * row per task — no per-check jobs, no driver loops. Uniqueness uses
  * exact count_distinct (one extra shuffle-free distinct aggregate in
  * the same pass; swap for approx_count_distinct at extreme
  * cardinalities if a 2% bound suffices).
  */
object Expect {

  sealed trait Check {
    def name: String
    def column: String
  }

  /** Fraction of non-null values ≥ minRate. */
  final case class NotNull(column: String, minRate: Double = 1.0) extends Check {
    val name = "not_null"
  }

  /** No value occurs twice (null counts as a value). */
  final case class Unique(column: String) extends Check {
    val name = "unique"
  }

  /** Fraction of non-null values inside [lo, hi] ≥ minRate. */
  final case class InRange(column: String, lo: Double, hi: Double,
                           minRate: Double = 1.0) extends Check {
    val name = "in_range"
  }

  /** Fraction of non-null values matching the (RE2-portable) regex ≥
    * minRate. */
  final case class MatchesRe(column: String, re: String,
                             minRate: Double = 1.0) extends Check {
    val name = "matches_re"
  }

  /** Fraction of non-null values found in the allowed set ≥ minRate. */
  final case class IsIn(column: String, allowed: Seq[String],
                        minRate: Double = 1.0) extends Check {
    val name = "is_in"
  }

  /** Evaluate all checks in one pass. Returns one row per check:
    * (check, column, metric, threshold, pass) — `metric` is the
    * measured rate (or distinct-over-total for uniqueness), `pass` the
    * verdict. Empty inputs pass rate checks vacuously (0/0 → rate 1). */
  def run(df: DataFrame, checks: Seq[Check]): DataFrame =
    runImpl(df, Seq.empty, checks)

  /** Per-SLICE expectations — one verdict row per (slice, check), for
    * drift localization ("which language's crawl went bad this week"):
    * same single-pass conditional aggregates, grouped by `sliceCols`
    * instead of globally. Uniqueness is within-slice. */
  def runBySlice(df: DataFrame, sliceCols: Seq[String],
                 checks: Seq[Check]): DataFrame = {
    require(sliceCols.nonEmpty, "Expect.runBySlice: no slice columns")
    runImpl(df, sliceCols, checks)
  }

  private def runImpl(df: DataFrame, sliceCols: Seq[String],
                      checks: Seq[Check]): DataFrame = {
    require(checks.nonEmpty, "Expect.run: no checks declared")
    val n = count(lit(1))
    // vacuous truth: a rate over zero qualifying rows is 1 (an empty
    // slice must not fail its gate)
    def rate(num: Column, den: Column): Column =
      when(den === 0, lit(1.0)).otherwise(num.cast("double") / den)
    // per-check (metricExpr, thresholdLit) in declaration order
    val metrics: Seq[(Column, Double)] = checks.map {
      case NotNull(c, r) => (rate(count(col(c)), n), r)
      case Unique(c) =>
        // distinct/total == 1 iff no duplicates; null-safe via the
        // fn_countdistinct convention (count_distinct skips nulls, so
        // add the null bucket back explicitly)
        (rate(count_distinct(col(c)) +
          coalesce(max(when(col(c).isNull, 1L).otherwise(0L)), lit(0L)), n),
          1.0)
      case InRange(c, lo, hi, r) =>
        (rate(count(when(col(c).between(lo, hi), 1)), count(col(c))), r)
      case MatchesRe(c, re, r) =>
        (rate(count(when(col(c).rlike(re), 1)), count(col(c))), r)
      case IsIn(c, allowed, r) =>
        (rate(count(when(col(c).isin(allowed: _*), 1)), count(col(c))), r)
    }
    val aliased = metrics.zipWithIndex.map { case ((m, _), i) =>
      m.as(s"__m$i")
    }
    val one =
      if (sliceCols.isEmpty) df.agg(aliased.head, aliased.tail: _*)
      else df.groupBy(sliceCols.map(col): _*)
        .agg(aliased.head, aliased.tail: _*)
    val rows = checks.zip(metrics).zipWithIndex.map {
      case ((chk, (_, thr)), i) =>
        struct(lit(chk.name).as("check"), lit(chk.column).as("column"),
          col(s"__m$i").as("metric"), lit(thr).as("threshold"),
          (col(s"__m$i") >= thr).as("pass"))
    }
    one.select(sliceCols.map(col) :+ explode(array(rows: _*)).as("r"): _*)
      .select(sliceCols.map(col) :+ col("r.*"): _*)
  }
}
