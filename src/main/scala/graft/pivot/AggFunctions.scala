package graft.pivot

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Cell aggregate expressions for the pivot operator.
  *
  * [[cellExpr]] builds `fn` over the rows that satisfy a condition:
  * `fn(when(cond, field))`, with each function's null handling. The batch
  * pivot's two-phase plan ([[PivotOps.twoPhase]]) calls it with a true
  * condition: its first phase groups by (pivot rows, pivot keys), so each
  * aggregate runs once per group as a plain aggregate, and [[emptyCell]]
  * supplies the value of cells no row reached after the by-index fold.
  * Plans that aggregate every cell in one pass (small skip-error batch
  * pivots, rollup, streaming and windowed pivots, via
  * [[PivotOps.cellColumns]]) call it with the cell's membership
  * predicate. Both plans keep the reference's map-side-combinable shape,
  * a `BatchReducibleAggregator` (reference:
  * src/main/java/io/cdap/plugin/aggregator/Pivot.java:59,147-196).
  *
  * Each builder encodes the reference's exact null/empty-cell/output-type
  * semantics, documented per function below (reference files under
  * src/main/java/io/cdap/plugin/aggregator/function/).
  *
  * Deliberate deviations (all order-related; the reference's "encounter
  * order" is partition-order-dependent and thus nondeterministic in any
  * distributed run — we pin a deterministic order instead):
  *   - COLLECTLIST / COLLECTSET return value-sorted arrays (nulls first).
  *   - CONCAT / CONCATDISTINCT join value-sorted.
  *   - CONCATDISTINCT applies the reference's substring suppression
  *     (function/ConcatDistinct.java:54) in sorted order rather than
  *     encounter order — the reference's fold order is partition-
  *     dependent, so the same input can yield different outputs there;
  *     ours is a deterministic pin of the same algorithm.
  *   - LONGESTSTRING/SHORTESTSTRING break length ties by value (the
  *     reference keeps first-encountered).
  */
object AggFunctions {

  /** `when(cond, f)`: null for rows outside the cell. Aggregates that skip
    * nulls then see exactly the cell's rows (reference routes each record
    * to its cell's function instances, Pivot.java:172-183). */
  private def cell(cond: Column, f: Column): Column = when(cond, f)

  /** Null-inclusive variant: wrap in a struct so rows *in* the cell with a
    * null value survive aggregates that drop nulls. */
  private def cellBox(cond: Column, f: Column): Column =
    when(cond, struct(f.as("v")))

  /** Deterministic sort key for "longest/shortest string": lexicographic
    * (length, value) encoded as one string — zero-padded length prefix. */
  private def lengthKey(s: Column): Column =
    concat(lpad(length(s).cast(StringType), 10, "0"), s)

  /** Case-insensitive order key with case-sensitive tiebreak; `\\u0001` is
    * below every character in the data, so lexicographic compare of the
    * combined key equals (lower(s), s) tuple compare. */
  private[pivot] def ciKey(s: Column): Column =
    concat(lower(s), lit("\u0001"), s)

  /** Build the aggregate expression for one output cell.
    *
    * @param fn        the pivot aggregate function
    * @param field     input field name ("*" only for COUNT)
    * @param fieldType input field type (ignored for "*")
    * @param cond      cell membership predicate (pivot key == product value)
    */
  def cellExpr(fn: PivotFunction, field: String, fieldType: DataType, cond: Column): Column = {
    val f = col(field)
    fn match {
      // COUNT(*) counts records in the cell; COUNT(f) counts non-null f
      // (function/CountAll.java:25-53, function/Count.java:25-61). LONG.
      case PivotFunction.Count =>
        if (field == "*") count(cell(cond, lit(1)))
        else count(cell(cond, f))

      // Exact distinct where NULL counts as a distinct value
      // (function/CountDistinct.java:45-47 adds unconditionally). INT.
      case PivotFunction.CountDistinct =>
        (count_distinct(cell(cond, f)) +
          max(when(cond && f.isNull, 1).otherwise(0))).cast(IntegerType)

      // Type-preserving sum (function/Sum.java:51-67): Spark widens
      // int->long/float->double; cast back. Null if cell empty/all-null.
      // Overflow parity: the reference's Java accumulation wraps silently;
      // the downcast here matches that only with spark.sql.ansi.enabled=false
      // (under ANSI it throws) — the entry points (Verify/Bench/tests) pin
      // ansi off for that reason. DECIMAL input (graft extension — the
      // reference's gate never admits it) keeps Spark's widened sum type:
      // exact arithmetic, and a downcast could only silently null on
      // overflow.
      case PivotFunction.Sum => fieldType match {
        case _: DecimalType => sum(cell(cond, f))
        case _              => sum(cell(cond, f)).cast(fieldType)
      }

      // DOUBLE mean; null if cell empty/all-null (function/Avg.java:69-75).
      // The input cast pins double arithmetic for DECIMAL inputs too
      // (the reference accumulates its mean in double; Spark's decimal
      // avg would divide in decimal and round at scale+4).
      case PivotFunction.Avg =>
        avg(cell(cond, f).cast(DoubleType))

      // Strings compare case-insensitively but return the original value
      // (function/Min.java:49, Max.java:50); numerics are plain min/max.
      case PivotFunction.Min =>
        if (fieldType == StringType) min_by(cell(cond, f), cell(cond, ciKey(f)))
        else min(cell(cond, f))
      case PivotFunction.Max =>
        if (fieldType == StringType) max_by(cell(cond, f), cell(cond, ciKey(f)))
        else max(cell(cond, f))

      // First/last value encountered *within the cell*, including null
      // values (function/First.java:27-71, Last.java:29-69). The struct box
      // + ignoreNulls skips rows outside the cell but keeps in-cell nulls.
      // Partition-order-dependent in both systems.
      case PivotFunction.First =>
        first(cellBox(cond, f), ignoreNulls = true).getField("v")
      case PivotFunction.Last =>
        last(cellBox(cond, f), ignoreNulls = true).getField("v")

      // Population stddev/variance (function/Variance.java:114-118 rescales
      // Welford sample state by (n-1)/n; Stddev.java:60-66 is its sqrt).
      // Null if cell empty/all-null. DOUBLE.
      case PivotFunction.Stddev   => stddev_pop(cell(cond, f))
      case PivotFunction.Variance => var_pop(cell(cond, f))

      // Null-inclusive collect (function/CollectList.java:42-53,
      // CollectSet.java:29-63); empty cell -> empty array. Sorted (see
      // class doc). array<fieldType>.
      case PivotFunction.CollectList =>
        transform(sort_array(collect_list(cellBox(cond, f))), s => s.getField("v"))
      case PivotFunction.CollectSet =>
        transform(sort_array(collect_set(cellBox(cond, f))), s => s.getField("v"))

      // Longest keeps "" for empty/all-null cell (init "",
      // function/LongestString.java:43); shortest keeps null (:43). STRING.
      case PivotFunction.LongestString =>
        coalesce(max_by(cell(cond, f), cell(cond, lengthKey(f))), lit(""))
      case PivotFunction.ShortestString =>
        min_by(cell(cond, f), cell(cond, lengthKey(f)))

      // Count of in-cell records whose field is null
      // (function/CountNulls.java:25-60). LONG.
      case PivotFunction.CountNulls =>
        count(when(cond && f.isNull, lit(1)))

      // Join non-null values with ", "; empty cell -> ""
      // (function/Concat.java:48,60). Sorted (see class doc). STRING.
      case PivotFunction.Concat =>
        array_join(sort_array(collect_list(cell(cond, f))), ", ")
      // Reference semantics: a value already contained as a SUBSTRING of
      // the accumulated string is suppressed (function/ConcatDistinct
      // .java:54 `concatString.contains(value)`). The reference folds in
      // encounter order (partition-order-dependent); we fold over the
      // sorted distinct set, so suppression is deterministic: it fires
      // exactly when the containing string sorts before the contained one
      // (e.g. "URGENT" after "1-URGENT" — suppressed; a prefix sorts
      // before its extension and survives). The fold runs once per group
      // on the collected array, after aggregation — the HOF's interpreted
      // eval is off the per-row hot path.
      case PivotFunction.ConcatDistinct =>
        aggregate(sort_array(collect_set(cell(cond, f))), lit(""),
          (acc, x) => when(acc.contains(x), acc)
            .otherwise(when(acc === "", x)
              .otherwise(concat(acc, lit(", "), x))))

      // AND/OR over non-null booleans; empty/all-null -> true / false
      // (function/LogicalAnd.java:38, LogicalOr.java:38). BOOLEAN.
      case PivotFunction.LogicalAnd =>
        coalesce(bool_and(cell(cond, f)), lit(true))
      case PivotFunction.LogicalOr =>
        coalesce(bool_or(cell(cond, f)), lit(false))

      // Σx² − (Σx)²/n over non-null values; empty/all-null cell -> NaN
      // (0 − 0/0 in Java doubles, function/CorrectedSumOfSquares.java:87-93).
      // The when-guard also keeps the divide out of ANSI's x/0 error path.
      // Accumulation is in double regardless of input type — the reference
      // accumulates Math.pow(value.doubleValue(), 2)
      // (CorrectedSumOfSquares.java:60-66), and squaring in int/long would
      // overflow.
      case PivotFunction.CorrectedSumOfSquares =>
        val cf = cell(cond, f).cast(DoubleType)
        val n = count(cf)
        when(n === 0, lit(Double.NaN))
          .otherwise(sum(cf * cf) - (sum(cf) * sum(cf)) / n)

      // Σx²; empty/all-null cell -> 0.0, never null
      // (function/SumOfSquares.java:60,75-79). Double accumulation as above.
      case PivotFunction.SumOfSquares =>
        val cf = cell(cond, f).cast(DoubleType)
        coalesce(sum(cf * cf), lit(0.0))
    }
  }

  /** The value [[cellExpr]] gives a cell that no row of the group
    * reaches, when it is not null; `dt` is the cell's type. No function
    * with such a value yields null for a reached cell, so filling nulls
    * with it is exact. */
  def emptyCell(fn: PivotFunction, dt: DataType): Option[Column] = {
    import PivotFunction._
    fn match {
      case Count | CountDistinct | CountNulls | SumOfSquares => Some(lit(0).cast(dt))
      case LongestString | Concat | ConcatDistinct => Some(lit(""))
      case CorrectedSumOfSquares => Some(lit(Double.NaN))
      case CollectList | CollectSet => Some(array().cast(dt))
      case LogicalAnd => Some(lit(true))
      case LogicalOr => Some(lit(false))
      case Sum | Avg | Min | Max | First | Last | Stddev | Variance | ShortestString => None
    }
  }
}
