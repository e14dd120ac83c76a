package graft.pivot

import org.apache.spark.sql.types._

/** Aggregate-function vocabulary of the pivot operator.
  *
  * Mirrors the reference enum (reference:
  * src/main/java/io/cdap/plugin/aggregator/PivotConfig.java:529-551).
  * Exact per-function semantics (null handling, empty-cell values, output
  * types) are documented and implemented in [[AggFunctions]].
  */
sealed abstract class PivotFunction(val name: String) extends Serializable
object PivotFunction {
  case object Count                 extends PivotFunction("COUNT")
  case object CountDistinct         extends PivotFunction("COUNTDISTINCT")
  case object Sum                   extends PivotFunction("SUM")
  case object Avg                   extends PivotFunction("AVG")
  case object Min                   extends PivotFunction("MIN")
  case object Max                   extends PivotFunction("MAX")
  case object First                 extends PivotFunction("FIRST")
  case object Last                  extends PivotFunction("LAST")
  case object Stddev                extends PivotFunction("STDDEV")
  case object Variance              extends PivotFunction("VARIANCE")
  case object CollectList           extends PivotFunction("COLLECTLIST")
  case object CollectSet            extends PivotFunction("COLLECTSET")
  case object LongestString         extends PivotFunction("LONGESTSTRING")
  case object ShortestString        extends PivotFunction("SHORTESTSTRING")
  case object CountNulls            extends PivotFunction("COUNTNULLS")
  case object Concat                extends PivotFunction("CONCAT")
  case object ConcatDistinct        extends PivotFunction("CONCATDISTINCT")
  case object LogicalAnd            extends PivotFunction("LOGICALAND")
  case object LogicalOr             extends PivotFunction("LOGICALOR")
  case object CorrectedSumOfSquares extends PivotFunction("CORRECTEDSUMOFSQUARES")
  case object SumOfSquares          extends PivotFunction("SUMOFSQUARES")

  val all: Seq[PivotFunction] = Seq(
    Count, CountDistinct, Sum, Avg, Min, Max, First, Last, Stddev, Variance,
    CollectList, CollectSet, LongestString, ShortestString, CountNulls,
    Concat, ConcatDistinct, LogicalAnd, LogicalOr, CorrectedSumOfSquares,
    SumOfSquares)

  private val byName: Map[String, PivotFunction] =
    all.map(f => f.name -> f).toMap

  def fromString(s: String): Option[PivotFunction] =
    byName.get(s.trim.toUpperCase)

  /** Functions whose input must be numeric. The reference gate
    * (src/main/java/io/cdap/plugin/aggregator/AggregationUtils.java:36-39)
    * accepts INT/LONG/FLOAT/DOUBLE only; graft EXTENDS it to DECIMAL —
    * money columns are decimal in every real warehouse, Spark's decimal
    * aggregation is exact, and nothing in the pivot semantics needs the
    * reference's primitive-type restriction. SUM keeps Spark's widened
    * decimal result type (exact, no silent overflow); AVG/STDDEV/VARIANCE/
    * SUMOFSQUARES compute in double as they do for primitives. Date/
    * timestamp stay rejected here (comparison aggregates MIN/MAX/FIRST/
    * LAST accept them — see fn_minmax_ts). */
  val numericOnly: Set[PivotFunction] =
    Set(Sum, Avg, Stddev, Variance, SumOfSquares, CorrectedSumOfSquares)

  /** Functions whose input must be STRING. */
  val stringOnly: Set[PivotFunction] =
    Set(LongestString, ShortestString, Concat, ConcatDistinct)

  /** Functions whose input must be BOOLEAN. */
  val booleanOnly: Set[PivotFunction] = Set(LogicalAnd, LogicalOr)
}

/** One aggregate: `alias:function(field)` in the config grammar
  * (reference: src/main/java/io/cdap/plugin/aggregator/PivotConfig.java:331-395). */
final case class AggregateSpec(alias: String, function: PivotFunction, field: String)

/** One accumulated validation failure, tagged with the config property it
  * belongs to — the reference FailureCollector's `withConfigProperty`
  * association (PivotConfig.java:134-187, asserted by
  * PivotTest.java:458-531 via `getCauses().get(property)`), which a
  * config UI uses to highlight the offending input field. Property names
  * match the reference constants (PivotConfig.java:70-76): `pivotRow`,
  * `pivotColumns`, `aggregates`, `fieldAliases`, `on-error`. */
final case class ValidationFailure(message: String,
                                   property: Option[String] = None) {
  /** Renders message + property, so thrown `mkString` errors carry the
    * association too. */
  override def toString: String =
    property.fold(message)(p => s"$message [property: $p]")
}

object ValidationFailure {
  val PivotRow = "pivotRow"
  val PivotColumns = "pivotColumns"
  val Aggregates = "aggregates"
  val FieldAliases = "fieldAliases"
  val OnError = "on-error"
}

/** What to do with groups that contain pivot-column values not in the
  * declared value lists (reference:
  * src/main/java/io/cdap/plugin/aggregator/Pivot.java:241-262).
  *
  * Note: in the reference, `fail-pipeline` is unreachable — the constant
  * `ERROR_FAIL_PIPELINE` duplicates `"skip-error"` (PivotConfig.java:78-80)
  * while the UI sends `"fail-pipeline"`, which matches no branch, so such
  * groups are silently dropped. We implement the documented intent
  * (actually fail) rather than the bug.
  */
sealed abstract class OnError(val name: String) extends Serializable
object OnError {
  case object Skip            extends OnError("skip-error")
  case object SendToErrorPort extends OnError("send-to-error-port")
  case object FailPipeline    extends OnError("fail-pipeline")

  def fromString(s: String): Option[OnError] = s.trim match {
    case "skip-error"         => Some(Skip)
    case "send-to-error-port" => Some(SendToErrorPort)
    case "fail-pipeline"      => Some(FailPipeline)
    case _                    => None
  }
}

/** Declarative description of a pivot (grouped cross-tab).
  *
  * Same model as the reference config
  * (src/main/java/io/cdap/plugin/aggregator/PivotConfig.java), but with
  * declaration order preserved everywhere (the reference loses pivot-row
  * order to a HashSet — an implementation wart its tests don't observe).
  *
  * @param pivotRows    group-by columns (the rows of the cross-tab)
  * @param pivotColumns ordered (column -> ordered declared values); the
  *                     cartesian product of the value lists defines the
  *                     output cells; at most 2 columns
  *                     (PivotConfig.java:164-167)
  * @param aggregates   one output cell-set per aggregate
  * @param fieldAliases rename map applied to generated `<product>_<alias>`
  *                     column names
  * @param defaultValue string converted per-column and used to fill null
  *                     aggregate cells (Pivot.java:229-236)
  */
final case class PivotSpec(
    pivotRows: Seq[String],
    pivotColumns: Seq[(String, Seq[String])],
    aggregates: Seq[AggregateSpec],
    fieldAliases: Map[String, String] = Map.empty,
    defaultValue: Option[String] = None,
    onError: OnError = OnError.Skip,
    numPartitions: Option[Int] = None) {

  /** Cartesian product of declared value lists as per-column value tuples,
    * in declaration order (reference: Pivot.java:365-372). Kept as tuples —
    * not joined strings — so cell membership can be tested per column
    * (the reference routes per-column with early return,
    * Pivot.java:330-353; a joined-string compare would let an off-list
    * value containing '_' collide into a declared cell). */
  def cellTuples: Seq[Seq[String]] =
    pivotColumns.map(_._2).foldLeft(Seq(Seq.empty[String])) { (acc, values) =>
      for (a <- acc; v <- values) yield a :+ v
    }

  /** Cartesian product joined with "_" — the output-column name prefixes. */
  def columnsProduct: Seq[String] = cellTuples.map(_.mkString("_"))

  /** Output column name for (product cell, aggregate), after aliasing
    * (reference: Pivot.java:283-297). */
  def outputName(product: String, agg: AggregateSpec): String = {
    val raw = s"${product}_${agg.alias}"
    fieldAliases.getOrElse(raw, raw)
  }

  /** Validate against an input schema; accumulates all failures like the
    * reference FailureCollector (PivotConfig.java:134-187). */
  /** @param maxPivotColumns reference parity caps at 2
    *                        (PivotConfig.java:164-167); the pivotWide
    *                        extension lifts it */
  def validate(schema: StructType,
               maxPivotColumns: Int = 2): Either[List[ValidationFailure], PivotSpec] = {
    import ValidationFailure.{PivotRow, PivotColumns, Aggregates}
    val errs = List.newBuilder[ValidationFailure]
    def fail(msg: String, prop: String): Unit =
      errs += ValidationFailure(msg, Some(prop))
    if (pivotRows.isEmpty) fail("The 'pivotRows' property must be set.", PivotRow)
    if (pivotColumns.isEmpty) fail("Select at least one pivot column.", PivotColumns)
    if (pivotColumns.size > maxPivotColumns)
      fail(s"Maximum allowed number of pivot columns is $maxPivotColumns.", PivotColumns)
    if (aggregates.isEmpty) fail("The 'aggregates' property must be set.", Aggregates)

    val names = schema.fieldNames.toSet
    pivotRows.foreach { r =>
      if (!names.contains(r)) fail(s"Pivot row $r is not in inputSchema.", PivotRow)
    }
    pivotColumns.foreach { case (c, values) =>
      if (!names.contains(c)) fail(s"Pivot column $c is not in inputSchema.", PivotColumns)
      if (values.isEmpty) fail(s"No data model defined for pivot column $c.", PivotColumns)
    }
    aggregates.foreach { a =>
      if (a.field == "*" && a.function != PivotFunction.Count)
        // "*" is only meaningful for COUNT (reference:
        // PivotConfig.java:445-449 routes field=="*" to CountAll inside the
        // COUNT branch only; other functions would die on a missing field).
        fail(s"Field '*' is only valid for function COUNT, not ${a.function.name}.", Aggregates)
      if (a.field != "*" && !names.contains(a.field))
        fail(s"Field name ${a.field} for function ${a.alias} does not exist in input schema.", Aggregates)
      else if (a.field != "*") {
        val dt = schema(a.field).dataType
        val numeric = dt == IntegerType || dt == LongType ||
          dt == FloatType || dt == DoubleType || dt.isInstanceOf[DecimalType]
        if (PivotFunction.numericOnly.contains(a.function) && !numeric)
          fail(s"Field ${a.field} of type ${dt.simpleString} is not numeric; required by ${a.function.name}.", Aggregates)
        if (PivotFunction.stringOnly.contains(a.function) && dt != StringType)
          fail(s"Field ${a.field} of type ${dt.simpleString} is not a string; required by ${a.function.name}.", Aggregates)
        if (PivotFunction.booleanOnly.contains(a.function) && dt != BooleanType)
          fail(s"Field ${a.field} of type ${dt.simpleString} is not a boolean; required by ${a.function.name}.", Aggregates)
      }
    }
    val es = errs.result()
    if (es.isEmpty) Right(this) else Left(es)
  }

  /** [[validate]], throwing its failures as one IllegalArgumentException
    * ("Invalid pivot spec: ..."). */
  def validateOrThrow(schema: StructType, maxPivotColumns: Int = 2): PivotSpec =
    validate(schema, maxPivotColumns).fold(PivotSpec.invalid("spec"), identity)
}

object PivotSpec {

  /** Parse the reference's config-string grammar so reference pipeline
    * configs run verbatim (reference:
    * src/main/java/io/cdap/plugin/aggregator/PivotConfig.java:189-395):
    *
    *   - pivotRow:      `"r1,r2"`
    *   - pivotColumns:  `"c1=v1,v2;c2=v3,v4"`
    *   - aggregates:    `"alias:function(field)[, ...]"`
    *   - fieldAliases:  `"generatedName:alias[, ...]"`
    *
    * All failures are accumulated, like the reference FailureCollector.
    */
  def parse(
      pivotRow: String,
      pivotColumns: String,
      aggregates: String,
      fieldAliases: Option[String] = None,
      defaultValue: Option[String] = None,
      onError: Option[String] = None,
      numPartitions: Option[Int] = None): Either[List[ValidationFailure], PivotSpec] = {
    import ValidationFailure.{PivotRow, PivotColumns, Aggregates, FieldAliases, OnError => OnErrorProp}
    val errs = List.newBuilder[ValidationFailure]
    def fail(msg: String, prop: String): Unit =
      errs += ValidationFailure(msg, Some(prop))

    val rows: Seq[String] =
      if (pivotRow == null || pivotRow.trim.isEmpty) {
        fail("Invalid pivot rows property. The 'pivotRows' property must be set.", PivotRow)
        Nil
      } else pivotRow.split(",", -1).map(_.trim).filter(_.nonEmpty).distinct.toSeq

    val cols = List.newBuilder[(String, Seq[String])]
    val seenCols = scala.collection.mutable.Set.empty[String]
    if (pivotColumns == null || pivotColumns.trim.isEmpty) {
      fail("Select at least one pivot column.", PivotColumns)
    } else {
      pivotColumns.split(";", -1).map(_.trim).filter(_.nonEmpty).foreach { part =>
        val eq = part.indexOf('=')
        if (eq < 0) {
          fail(s"Could not find '=' separating column name from its data model in '$part'. Format should be 'columnName=dataModel1,dataModel2'.", PivotColumns)
        } else {
          val name = part.substring(0, eq).trim
          val rest = part.substring(eq + 1).trim
          if (name.isEmpty) {
            fail("Could not find column name. Format should be 'columnName=dataModel1,dataModel2'.", PivotColumns)
          } else if (!seenCols.add(name)) {
            fail(s"Pivot column already defined $name. Column names must be unique.", PivotColumns)
          } else {
            val values = List.newBuilder[String]
            val seenV = scala.collection.mutable.Set.empty[String]
            rest.split(",", -1).map(_.trim).foreach { v =>
              if (seenV.contains(v))
                fail(s"Data model $v already defined for pivot column $name. Values must be unique.", PivotColumns)
              else { seenV.add(v); values += v }
            }
            val vs = values.result().filter(_.nonEmpty)
            if (vs.isEmpty)
              fail(s"No data model defined for pivot column $name. Add at least one data model for column.", PivotColumns)
            else cols += name -> vs
          }
        }
      }
    }

    val aggs = List.newBuilder[AggregateSpec]
    val seenAliases = scala.collection.mutable.Set.empty[String]
    if (aggregates == null || aggregates.trim.isEmpty) {
      fail("The 'aggregates' property must be set.", Aggregates)
    } else {
      aggregates.split(",", -1).map(_.trim).filter(_.nonEmpty).foreach { agg =>
        val colon = agg.indexOf(':')
        if (colon < 0) {
          fail(s"Could not find ':' separating aggregate name from its function in '$agg'.", Aggregates)
        } else {
          val alias = agg.substring(0, colon).trim
          val fnAndField = agg.substring(colon + 1).trim
          if (!seenAliases.add(alias)) {
            fail(s"Cannot create multiple aggregate functions with the same name '$alias'.", Aggregates)
          } else {
            val lp = fnAndField.indexOf('(')
            if (lp < 0) {
              fail(s"Could not find '(' in function '$fnAndField'. Functions must be specified as function(field).", Aggregates)
            } else if (!fnAndField.endsWith(")")) {
              fail(s"Could not find closing ')' in function '$fnAndField'. Functions must be specified as function(field).", Aggregates)
            } else {
              val fnStr = fnAndField.substring(0, lp).trim
              val field = fnAndField.substring(lp + 1, fnAndField.length - 1).trim
              PivotFunction.fromString(fnStr) match {
                case None =>
                  fail(s"Invalid function '$fnStr'. Must be one of ${PivotFunction.all.map(_.name).mkString(",")}.", Aggregates)
                case Some(fn) =>
                  if (field.isEmpty)
                    fail(s"Invalid function '$fnAndField'. A field must be given as an argument.", Aggregates)
                  else aggs += AggregateSpec(alias, fn, field)
              }
            }
          }
        }
      }
      if (aggs.result().isEmpty && errs.result().isEmpty)
        fail("The 'aggregates' property must be set.", Aggregates)
    }

    val aliases = scala.collection.mutable.LinkedHashMap.empty[String, String]
    fieldAliases.filter(_.trim.nonEmpty).foreach { fa =>
      fa.split(",", -1).map(_.trim).filter(_.nonEmpty).foreach { pair =>
        val colon = pair.indexOf(':')
        if (colon < 0) {
          fail(s"Could not find ':' separating field name from its alias in '$pair'. Format should be 'fieldName:alias'.", FieldAliases)
        } else {
          val name = pair.substring(0, colon).trim
          val alias = pair.substring(colon + 1).trim
          if (aliases.contains(name))
            fail(s"Field Name already defined $name. Field names must be unique.", FieldAliases)
          else if (alias.isEmpty)
            fail(s"Could not find alias for $name. Format should be 'fieldName:alias'.", FieldAliases)
          else aliases += name -> alias
        }
      }
    }

    val onErr: OnError = onError.filter(_.trim.nonEmpty) match {
      case None => OnError.Skip
      case Some(s) =>
        OnError.fromString(s) match {
          case Some(oe) => oe
          case None =>
            fail(s"Invalid on-error value '$s'. Must be one of skip-error, send-to-error-port, fail-pipeline.", OnErrorProp)
            OnError.Skip
        }
    }

    val es = errs.result()
    if (es.nonEmpty) Left(es)
    else Right(PivotSpec(rows, cols.result(), aggs.result(), aliases.toMap,
      defaultValue, onErr, numPartitions))
  }

  /** [[parse]], throwing its failures as one IllegalArgumentException
    * ("Invalid pivot config: ..."). */
  def parseOrThrow(
      pivotRow: String,
      pivotColumns: String,
      aggregates: String,
      fieldAliases: Option[String] = None,
      defaultValue: Option[String] = None,
      onError: Option[String] = None,
      numPartitions: Option[Int] = None): PivotSpec =
    parse(pivotRow, pivotColumns, aggregates, fieldAliases, defaultValue,
      onError, numPartitions).fold(invalid("config"), identity)

  private def invalid(what: String)(errs: List[ValidationFailure]): Nothing =
    throw new IllegalArgumentException(
      s"Invalid pivot $what:\n  ${errs.mkString("\n  ")}")
}
