package graft.pivot

import org.apache.spark.sql.{Column, DataFrame, GraftShim}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.FirstByIndex

/** Result of a pivot: the cross-tab, plus (for
  * `on-error=send-to-error-port`) the groups routed to the error port
  * (reference: src/main/java/io/cdap/plugin/aggregator/Pivot.java:241-262).
  * `errors` is empty under other modes. In send-to-error-port mode both
  * frames filter one routed cross-tab; [[PivotOps.pivot]] leaves it
  * lazy, so each output re-runs the scan and the aggregation, while
  * [[PivotOps.pivotForSinks]] materializes it once for a caller that
  * writes both.
  */
final case class PivotResult(main: DataFrame, errors: DataFrame)

/** The pivot (grouped cross-tab) operator.
  *
  * Spark-first plan, chosen from the declared spec ([[foldsCells]]):
  *   - Two aggregations (the default). The first applies each aggregate
  *     once per (pivot row, pivot key) group, as plain map-side-combined
  *     aggregates (whole-stage codegen where Spark has it for the
  *     function); the second folds those groups into cells by index and
  *     carries the off-list ledger of the error modes. Per-row work, and
  *     the expression count of every aggregate operator, do not grow with
  *     the number of declared values.
  *   - One aggregation, for small skip-error pivots: one `groupBy(pivot
  *     rows)` hosting every (cell × aggregate) of [[cellColumns]]. With
  *     few cells and no ledger it stays whole-stage codegen'd, and it
  *     saves the second shuffle stage.
  * No pivot-value discovery job is ever run because values are declared
  * in the spec (the same design point as the reference,
  * PivotConfig.java:198-264), and error handling adds no extra pass over
  * the data.
  */
object PivotOps {

  /** Stringified pivot key, one per pivot column. The reference uses Java's
    * `String.valueOf`, so a null pivot value becomes the string "null" and
    * may match a declared value (Pivot.java:337,347). */
  private def keyStr(c: String): Column =
    coalesce(col(c).cast(StringType), lit("null"))

  /** The (cell × aggregate) conditional-aggregate expressions of a pivot
    * spec — aggregates outer, products inner, matching the reference's
    * output schema (Pivot.java:283-297) — for hosts that aggregate every
    * cell in one pass: [[pivotRollup]] (a subtotal row merges several
    * (row, key) groups per cell, so it cannot fold by index), a
    * watermarked streaming window pivot
    * ([[graft.streaming.StreamingOps.pivotStream]]), the windowed
    * batch twin, and the batch [[pivot]] when [[foldsCells]] is false.
    * The aggregate's expression count grows with the cell count here.
    *
    * Cell membership is a conjunction of per-column equality predicates,
    * NOT a compare of the '_'-joined key: the reference routes per-column
    * with early return (Pivot.java:330-353), so an off-list value that
    * happens to contain '_' (e.g. c1="a_b" with declared c2 value "b_c")
    * must join NO cell rather than collide into one. */
  def cellColumns(spec: PivotSpec, schema: StructType): Seq[Column] = {
    val colNames = spec.pivotColumns.map(_._1)
    def cellCond(tuple: Seq[String]): Column =
      colNames.zip(tuple)
        .map { case (c, v) => keyStr(c) === lit(v) }
        .reduce(_ && _)
    for {
      a <- spec.aggregates
      tuple <- spec.cellTuples
    } yield cellAgg(a, schema, cellCond(tuple)).as(spec.outputName(tuple.mkString("_"), a))
  }

  /** Aggregate `a` over the rows that satisfy `cond`. */
  private def cellAgg(a: AggregateSpec, schema: StructType, cond: Column): Column =
    AggFunctions.cellExpr(a.function, a.field,
      if (a.field == "*") NullType else schema(a.field).dataType, cond)

  /** Field-lineage description of a pivot — the same operation name and
    * description string the reference registers as a
    * FieldTransformOperation (Pivot.java:301-328: "Pivoted the dataset by
    * using the input field(s) … as the pivot row, …"). Spark has no CDAP
    * lineage registry; [[pivot]] logs this so the provenance statement
    * survives in driver logs, and callers with their own catalog (e.g.
    * OpenLineage) can record it. Returns (name, description, inputFields,
    * outputFields). */
  def lineage(spec: PivotSpec): (String, String, Seq[String], Seq[String]) = {
    val name = s"Pivot ${spec.pivotRows.mkString(", ")}"
    val inputFields = spec.pivotColumns.map(_._1) ++ spec.pivotRows
    val outputFields = spec.pivotRows ++ (for {
      a <- spec.aggregates; p <- spec.columnsProduct
    } yield spec.outputName(p, a))
    val aggs = spec.aggregates
      .map(a => s"${a.alias}(${a.field})").mkString(", ")
    val description =
      s"Pivoted the dataset by using the input field(s) " +
        s"${spec.pivotRows.mkString(", ")} as the pivot row, and the fields " +
        s"${spec.pivotColumns.map(_._1).mkString(" and ")} as the pivot columns " +
        s"with $aggs as the aggregate function(s) to generate the fields " +
        s"${outputFields.mkString(",")}."
    (name, description, inputFields, outputFields)
  }

  /** Validate + pivot, planned as the object doc describes. Throws
    * IllegalArgumentException listing all spec errors (the reference
    * accumulates in a FailureCollector then throws,
    * PivotConfig.java:134-187). */
  def pivot(df: DataFrame, spec: PivotSpec): PivotResult =
    pivotImpl(df, spec, maxPivotColumns = 2)

  /** Extension: the same cross-tab over ANY number of pivot columns —
    * the reference's 2-column cap (PivotConfig.java:164-167) is a config
    * guard, not an engine limit; every other semantic (cell routing,
    * off-list ledger, error modes, aliasing, defaults) is shared code.
    * Cell count is the product of the declared value lists — it, not
    * the column count, is what bounds aggregate state. */
  def pivotWide(df: DataFrame, spec: PivotSpec): PivotResult =
    pivotImpl(df, spec, maxPivotColumns = Int.MaxValue)

  /** [[pivot]] for a caller that writes every output of the result (the
    * pipeline runner's sinks). A send-to-error-port pivot materializes
    * its routed cross-tab once, in one job, and `main` and `errors`
    * filter that, so writing both runs the input scan and the
    * aggregation once, as the reference's single pass routes each
    * finished group to one port (Pivot.java:199-262). The other modes
    * have one output and return [[pivot]]'s lazy result. */
  private[graft] def pivotForSinks(df: DataFrame, spec: PivotSpec): PivotResult =
    pivotImpl(df, spec, maxPivotColumns = 2, materializeRouted = true)

  private def pivotImpl(df: DataFrame, spec: PivotSpec, maxPivotColumns: Int,
                        materializeRouted: Boolean = false): PivotResult = {
    spec.validateOrThrow(df.schema, maxPivotColumns)

    // observability parity with the reference's recordLineage (O8)
    org.slf4j.LoggerFactory.getLogger(getClass).info(lineage(spec)._2)

    val pre = spec.numPartitions match {
      case Some(n) => df.repartition(n, spec.pivotRows.map(col): _*)
      case None    => df
    }
    val grouped =
      if (foldsCells(spec)) twoPhase(pre, spec)
      else {
        val cells = cellColumns(spec, pre.schema)
        pre.groupBy(spec.pivotRows.map(col): _*).agg(cells.head, cells.tail: _*)
      }
    finish(grouped, spec, materializeRouted)
  }

  /** Widest (cells × aggregates) skip-error pivot planned as one
    * aggregation. Up to about this width the one-phase aggregate stays
    * whole-stage codegen'd and beats the fold's second shuffle stage;
    * beyond it, the two-phase plan wins and the gap grows with the cell
    * count. */
  private[graft] val onePhaseMaxCells = 32

  /** Whether [[pivot]] plans the two-phase fold. The error modes always
    * fold: their off-list ledger is a `collect_set`, which takes a
    * one-phase aggregate out of whole-stage codegen at any width. */
  private[graft] def foldsCells(spec: PivotSpec): Boolean =
    spec.onError != OnError.Skip ||
      spec.cellTuples.size * spec.aggregates.size > onePhaseMaxCells

  private def missingName(c: String): String = s"__missing_$c"

  /** The cross-tab as two aggregations, so per-row work does not grow
    * with the number of cells.
    *
    * Phase 1 groups by (pivot rows, stringified pivot keys) and applies
    * each aggregate once, as a plain aggregate ([[AggFunctions.cellExpr]]
    * with a true condition). Off-list keys keep their own groups.
    *
    * Phase 2 groups by the pivot rows and folds the phase-1 rows into
    * cells by declared-tuple index, one [[FirstByIndex]] per pivot
    * aggregate. Each cell receives at most one phase-1 row, so the fold
    * only places values. The off-list ledger per pivot column is a
    * `collect_set` over the phase-1 keys; a record is off-list at its
    * FIRST off-list column only (the reference returns early,
    * Pivot.java:330-353).
    *
    * Cells no row reached are then given their function's empty-cell
    * value. The output has the one-phase plan's columns, names, types
    * and nullability: pivot rows, cells (aggregates outer, products
    * inner), then the `__missing_<column>` ledgers unless skip-error. */
  private[graft] def twoPhase(df: DataFrame, spec: PivotSpec): DataFrame = {
    val rows = spec.pivotRows.map(col)
    val keys = spec.pivotColumns.indices.map(i => s"__pivot_key_$i")
    val positions = keys.map(_ + "_pos")
    val vals = spec.aggregates.indices.map(j => s"__pivot_val_$j")
    val cellIndex = "__pivot_cell"

    val cellAggs = spec.aggregates.zip(vals).map { case (a, v) =>
      cellAgg(a, df.schema, lit(true)).as(v)
    }
    val keyCols = spec.pivotColumns.zip(keys).map { case ((c, _), k) => keyStr(c).as(k) }
    val phase1 = df.groupBy(rows ++ keyCols: _*).agg(cellAggs.head, cellAggs.tail: _*)

    // Position of each key in its declared list (-1 off-list), then the
    // row-major cell index over the columns — the order of cellTuples;
    // null when any key is off-list.
    val strides = spec.pivotColumns.map(_._2.size).scanRight(1)(_ * _).tail
    val onList = positions.map(p => col(p) >= 0)
    val indexed = phase1
      .select(phase1.columns.toSeq.map(col) ++
        spec.pivotColumns.zip(keys).zip(positions).map { case (((_, values), k), p) =>
          (array_position(typedLit(values), col(k)) - 1).cast(IntegerType).as(p)
        }: _*)
      .withColumn(cellIndex, when(onList.reduce(_ && _),
        positions.zip(strides).map { case (p, s) => col(p) * s }.reduce(_ + _)))

    val nCells = spec.cellTuples.size
    val folds = vals.map { v =>
      val fold = FirstByIndex(UnresolvedAttribute.quoted(cellIndex), UnresolvedAttribute.quoted(v), nCells)
      GraftShim.column(fold.toAggregateExpression()).as(v)
    }
    val ledgerNames =
      if (spec.onError == OnError.Skip) Nil
      else spec.pivotColumns.map { case (c, _) => missingName(c) }
    val ledger = ledgerNames.zip(keys).zipWithIndex.map { case ((m, k), i) =>
      val priorOnList = onList.take(i).foldLeft(lit(true))(_ && _)
      collect_set(when(priorOnList && !onList(i), col(k))).as(m)
    }
    val aggs = folds ++ ledger
    val folded = indexed.groupBy(rows: _*).agg(aggs.head, aggs.tail: _*)

    val cells = for {
      (a, v) <- spec.aggregates.zip(vals)
      (product, i) <- spec.columnsProduct.zipWithIndex
    } yield {
      val x = col(v).getItem(i)
      val value = phase1.schema(v)
      val filled = AggFunctions.emptyCell(a.function, value.dataType) match {
        case None => x
        // keep the one-phase nullability: CASE stays nullable, coalesce
        // with a literal is not
        case Some(e) if value.nullable => when(x.isNull, e).otherwise(x)
        case Some(e) => coalesce(x, e)
      }
      filled.as(spec.outputName(product, a))
    }
    folded.select(rows ++ cells ++ ledgerNames.map(col): _*)
  }

  /** Default fill and error routing over the grouped cross-tab: pivot
    * rows, cells, and (unless skip-error) one `__missing_<column>`
    * off-list ledger per pivot column. Send-to-error-port splits the
    * filled cross-tab into `main` and `errors`; with `materializeRouted`
    * it materializes that cross-tab first ([[GraftShim.materialize]]),
    * so both frames read one execution. They keep the lazy spelling's
    * schema and nullability: the checkpoint keeps its origin's output.
    * The other modes have one output and ignore the flag. */
  private[graft] def finish(grouped: DataFrame, spec: PivotSpec,
                            materializeRouted: Boolean = false): PivotResult = {
    val missingNames = spec.pivotColumns.map { case (c, _) => missingName(c) }

    // defaultValue: a single string converted per column type, applied to
    // every null aggregate cell (Pivot.java:229-236 builder.convertAndSet).
    val filled = spec.defaultValue match {
      case None => grouped
      case Some(d) =>
        val aggNames = (for {
          a <- spec.aggregates; p <- spec.columnsProduct
        } yield spec.outputName(p, a)).toSet
        val cols = grouped.schema.fields.map { f =>
          // Array-typed aggregates (COLLECTLIST/COLLECTSET) never produce
          // null (empty cell -> empty array), and string->array is not a
          // valid cast anyway — the reference never fills them either
          // (convertAndSet is only reached for null cells, Pivot.java:229-236).
          val fillable = f.dataType match {
            case _: ArrayType => false
            case _            => true
          }
          if (aggNames.contains(f.name) && fillable)
            coalesce(col(f.name), lit(d).cast(f.dataType)).as(f.name)
          else col(f.name)
        }
        grouped.select(cols.toSeq: _*)
    }

    def hasMissing: Column =
      missingNames.map(n => size(col(n)) > 0).reduce(_ || _)

    def errMessage: Column = {
      // "For columns name: c following models are missing v1 ,v2 ;..."
      // (Pivot.java:367-377 formatting). Missing values are sorted for
      // determinism (the reference iterates a HashSet — nondeterministic).
      val parts = spec.pivotColumns.zip(missingNames).map { case ((c, _), m) =>
        when(size(col(m)) > 0,
          concat(lit(s"For columns name: $c following models are missing "),
            array_join(sort_array(col(m)), " ,")))
      }
      array_join(array(parts: _*), " ;") // array() drops null branches via array_compact
    }

    spec.onError match {
      case OnError.Skip =>
        PivotResult(filled, emptyErrors(filled, spec))
      case OnError.SendToErrorPort =>
        val routed =
          if (materializeRouted) GraftShim.materialize(filled).df else filled
        val main = routed.filter(!hasMissing).drop(missingNames: _*)
        val errors = routed.filter(hasMissing)
          .withColumn("__error", errMessage)
          .select((spec.pivotRows.map(col) :+ col("__error")): _*)
        PivotResult(main, errors)
      case OnError.FailPipeline =>
        // Correct fail-fast (the reference's fail-pipeline branch is
        // unreachable, see OnError doc): raise at execution time if any
        // group has off-list values. The filter keeps the guard from being
        // pruned by the optimizer.
        val guarded = filled
          .filter(when(hasMissing,
            raise_error(concat(lit("Failing pipeline due to error : "), errMessage)).isNotNull
          ).otherwise(lit(true)))
          .drop(missingNames: _*)
        PivotResult(guarded, emptyErrors(filled, spec))
    }
  }

  /** Cross-tab WITH SUBTOTALS (graft extension — the classic pivot-table
    * report the reference cannot produce): the same cell aggregates
    * hosted under `ROLLUP(pivotRows)`, adding one subtotal row per
    * pivot-row prefix and a grand-total row. Rolled-up key columns are
    * null; `grouping_id` (Spark's and SQL's shared bitmask convention)
    * disambiguates a rolled-up null from a data null. Still one shuffle:
    * rollup plans as a single aggregation over expanded grouping sets.
    * Skip-error semantics only (subtotal rows make per-group error
    * routing ill-defined). */
  def pivotRollup(df: DataFrame, spec: PivotSpec): DataFrame = {
    spec.validateOrThrow(df.schema)
    val cellCols = cellColumns(spec, df.schema)
    df.rollup(spec.pivotRows.map(col): _*)
      .agg(grouping_id().as("grouping_id"), cellCols: _*)
  }

  private def emptyErrors(df: DataFrame, spec: PivotSpec): DataFrame =
    df.sparkSession.createDataFrame(
      df.sparkSession.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(spec.pivotRows.map(r => df.schema(r)) :+
        StructField("__error", StringType, nullable = true)))

  /** Aggregates whose FINALIZED cross-tab cell is decomposable: merging
    * per-slice finals reproduces the whole-input final exactly. The rest
    * (AVG, the moment family, distinct/collect/concat, FIRST/LAST,
    * LONGEST/SHORTESTSTRING tie-breaks) need partial state — keep their
    * inputs as SUM+COUNT cells and derive downstream, or recompute. */
  val mergeable: Set[PivotFunction] = {
    import PivotFunction._
    Set(Count, Sum, Min, Max, CountNulls, SumOfSquares, LogicalAnd, LogicalOr)
  }

  /** Incremental cross-tab maintenance: merge pivots computed over
    * DISJOINT slices of the input (daily partitions, backfill + today's
    * delta) into the pivot of their union — the table-level analog of the
    * reference's cross-partition state merge (Pivot.java:186-196
    * mergePartitions), applied to persisted results instead of in-flight
    * buffers. At 100 TB this is the difference between re-aggregating a
    * year of raw data and folding one day's cross-tab into a 365-row
    * materialized view.
    *
    * Restricted to [[mergeable]] aggregates, skip-error mode, and no
    * defaultValue (filled cells would make empty and zero
    * indistinguishable — fill AFTER the final merge instead).
    *
    * Exactness caveat: COUNT/COUNTNULLS/MIN/MAX/LOGICALAND/OR and
    * integral or dyadic-valued sums merge bit-exactly. A SUM or
    * SUMOFSQUARES over arbitrary fractional doubles is exact only up to
    * floating-point reassociation (the merged total adds per-slice
    * partials in a different order than the whole-input pivot) — the
    * same ulp-level caveat as Spark's own partial aggregation under
    * repartitioning. */
  def mergeCrossTabs(parts: Seq[DataFrame], spec: PivotSpec): DataFrame = {
    require(parts.nonEmpty, "mergeCrossTabs: no inputs")
    require(spec.onError == OnError.Skip,
      "mergeCrossTabs: only skip-error pivots merge (error routing needs the whole group)")
    require(spec.defaultValue.isEmpty,
      "mergeCrossTabs: merge unfilled pivots, apply defaultValue after the last merge")
    val bad = spec.aggregates.map(_.function).filterNot(mergeable)
    require(bad.isEmpty,
      s"mergeCrossTabs: non-decomposable aggregate(s) ${bad.map(_.name).distinct.mkString(", ")}")
    val schema = parts.head.schema
    val combiners = for {
      a <- spec.aggregates
      p <- spec.columnsProduct
    } yield {
      val name = spec.outputName(p, a)
      val c = col(name)
      import PivotFunction._
      val merged = a.function match {
        case Count | CountNulls => sum(c) // long in, long out
        // Sum preserves the input type (NumberFunction.java:50-52);
        // re-summing widens (int -> long), so cast back to the cell type
        case Sum => sum(c).cast(schema(name).dataType)
        case Min => schema(name).dataType match {
          // reference string MIN/MAX order case-insensitively but return
          // the original-case value (Min.java:49) — the SAME combined
          // key as the batch cell (AggFunctions.ciKey), so case-ties
          // resolve identically in merged and whole pivots
          case StringType => min_by(c, AggFunctions.ciKey(c))
          case _          => min(c)
        }
        case Max => schema(name).dataType match {
          case StringType => max_by(c, AggFunctions.ciKey(c))
          case _          => max(c)
        }
        // empty-cell identities survive the merge: 0.0 for SUMOFSQUARES
        // (SumOfSquares.java:75-79), true/false for the logicals
        case SumOfSquares => sum(c)
        case LogicalAnd   => bool_and(c)
        case LogicalOr    => bool_or(c)
        case f => throw new IllegalStateException(s"unreachable: $f")
      }
      merged.as(name)
    }
    parts.reduce(_.unionByName(_))
      .groupBy(spec.pivotRows.map(col): _*)
      .agg(combiners.head, combiners.tail: _*)
  }

  /** Parse a reference-grammar config and pivot in one call. */
  def pivotConfig(
      df: DataFrame,
      pivotRow: String,
      pivotColumns: String,
      aggregates: String,
      fieldAliases: Option[String] = None,
      defaultValue: Option[String] = None,
      onError: Option[String] = None,
      numPartitions: Option[Int] = None): PivotResult =
    pivot(df, PivotSpec.parseOrThrow(pivotRow, pivotColumns, aggregates,
      fieldAliases, defaultValue, onError, numPartitions))
}
