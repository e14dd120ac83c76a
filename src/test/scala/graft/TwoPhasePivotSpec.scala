package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.pivot.{OnError, PivotOps, PivotResult, PivotSpec}

/** The batch pivot's two-phase plan (aggregate per (row key, pivot key),
  * then fold cells by index) against the one-phase plan: one
  * `groupBy(pivotRows)` hosting [[PivotOps.cellColumns]] plus the
  * per-record off-list ledger, finished by the same default fill and
  * error routing. Both the plan [[PivotOps.pivot]] chooses and the
  * two-phase plan forced on every spec must give identical results,
  * schemas (nullability included) and error ports. Inputs with order-sensitive functions sit in
  * one partition, so first/last and floating-point sums see the same
  * order in both plans. */
class TwoPhasePivotSpec extends SparkSpec {

  private def keyStr(c: String): Column = coalesce(col(c).cast(StringType), lit("null"))

  /** The one-phase reference plan. */
  private def onePhase(df: DataFrame, spec: PivotSpec): PivotResult = {
    val ledger = spec.pivotColumns.zipWithIndex.map { case ((c, values), i) =>
      val prior = spec.pivotColumns.take(i)
        .map { case (pc, pvs) => keyStr(pc).isin(pvs: _*) }
        .foldLeft(lit(true))(_ && _)
      collect_set(when(prior && !keyStr(c).isin(values: _*), keyStr(c))).as(s"__missing_$c")
    }
    val aggs = PivotOps.cellColumns(spec, df.schema) ++
      (if (spec.onError == OnError.Skip) Nil else ledger)
    val rows = spec.pivotRows.map(col)
    val pre = spec.numPartitions.fold(df)(n => df.repartition(n, rows: _*))
    PivotOps.finish(pre.groupBy(rows: _*).agg(aggs.head, aggs.tail: _*), spec)
  }

  /** The two-phase plan, forced whatever [[PivotOps.foldsCells]] says. */
  private def twoPhase(df: DataFrame, spec: PivotSpec): PivotResult = {
    val rows = spec.pivotRows.map(col)
    val pre = spec.numPartitions.fold(df)(n => df.repartition(n, rows: _*))
    PivotOps.finish(PivotOps.twoPhase(pre, spec), spec)
  }

  private def canon(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  private def assertSame(got: DataFrame, want: DataFrame): Unit = {
    assert(got.schema == want.schema, s"\ngot:  ${got.schema}\nwant: ${want.schema}")
    assert(canon(got) == canon(want))
  }

  private def assertEquivalent(df: DataFrame, spec: PivotSpec, wide: Boolean = false): Unit = {
    val chosen = if (wide) PivotOps.pivotWide(df, spec) else PivotOps.pivot(df, spec)
    val want = onePhase(df, spec)
    for (got <- Seq(chosen, twoPhase(df, spec))) {
      assertSame(got.main, want.main)
      assertSame(got.errors, want.errors)
    }
  }

  private def parse(rows: String, cols: String, aggs: String, default: Option[String] = None,
                    onError: Option[String] = None, parts: Option[Int] = None): PivotSpec =
    PivotSpec.parse(rows, cols, aggs, None, default, onError, parts)
      .fold(e => throw new IllegalArgumentException(e.mkString("; ")), identity)

  private val schema = StructType(Seq(
    StructField("g", StringType), StructField("p", StringType), StructField("q", StringType),
    StructField("i", IntegerType), StructField("d", DoubleType), StructField("s", StringType),
    StructField("b", BooleanType), StructField("m", DecimalType(10, 2)),
    StructField("t", DateType)))

  private def row(g: String, p: String, q: String, i: Integer, d: java.lang.Double, s: String,
                  b: java.lang.Boolean, m: String, t: String): Row =
    Row(g, p, q, i, d, s, b, Option(m).map(new java.math.BigDecimal(_)).orNull,
      Option(t).map(java.sql.Date.valueOf).orNull)

  // Group a: cell x has values, cell y only nulls, a null pivot value
  // matches the declared "null". Group b: in-cell nulls around a value
  // (first and last are null). Group c: off-list rows only, one at the
  // first column ("z"), one at the second ("k"). Cell w is declared and
  // never reached. Dyadic doubles keep sums exact in any order.
  private lazy val data: DataFrame = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
    row("a", "x", "u", 3, 0.5, "Beta", true, "1.25", "2024-01-02"),
    row("a", "x", "u", 5, 2.25, "alpha", false, "2.50", "2024-03-04"),
    row("a", "x", "v", 5, -1.0, "alpha", true, "0.25", null),
    row("a", "y", "u", null, null, null, null, null, null),
    row("a", "y", "v", null, null, null, null, null, null),
    row("a", null, "u", 7, 4.0, "URGENT", true, "9.99", "2023-12-31"),
    row("a", null, "u", 8, 0.75, "1-URGENT", null, null, "2024-01-01"),
    row("b", "x", "u", null, null, null, null, null, null),
    row("b", "x", "u", 2, 1.5, "ab", false, "3.00", "2022-02-02"),
    row("b", "x", "u", null, null, null, null, null, null),
    row("b", "y", "v", 4, 8.0, "Zed", true, "4.00", "2021-01-01"),
    row("c", "z", "k", 1, 1.0, "off", true, "1.00", "2020-01-01"),
    row("c", "x", "k", 1, 1.0, "off", true, "1.00", "2020-01-01")), 1), schema)

  private val functions = Seq(
    "n: count(*)", "ni: count(i)", "cd: countdistinct(s)", "si: sum(i)", "sd: sum(d)",
    "sm: sum(m)", "av: avg(d)", "mins: min(s)", "maxs: max(s)", "mini: min(i)", "maxt: max(t)",
    "fs: first(s)", "ls: last(s)", "fi: first(i)", "lt: last(t)", "sdv: stddev(d)",
    "va: variance(d)", "cl: collectlist(s)", "cs: collectset(i)", "lo: longeststring(s)",
    "sh: shorteststring(s)", "nn: countnulls(i)", "cc: concat(s)", "ccd: concatdistinct(s)",
    "la: logicaland(b)", "lr: logicalor(b)", "css: correctedsumofsquares(d)",
    "ss: sumofsquares(i)")

  /** Every function, in two specs: a distinct count plans a distinct
    * aggregation that regroups rows by value, after which first/last
    * see hash order rather than input order, in either plan. */
  private def assertAllFunctions(df: DataFrame, cols: String, default: Option[String] = None,
                                 onError: Option[String] = None): Unit = {
    val orderFree = functions.filterNot(f => f.contains("first(") || f.contains("last("))
    for (fns <- Seq(functions.filterNot(_.contains("countdistinct(")), orderFree))
      assertEquivalent(df, parse("g", cols, fns.mkString(", "), default, onError))
  }

  test("all 21 functions: values, empty, all-null and null-keyed cells, in-cell nulls") {
    assert(functions.map(a => a.substring(a.indexOf(':') + 1, a.indexOf('('))
      .trim.toUpperCase).toSet.size == 21)
    assertAllFunctions(data, "p=x,y,w,null")
  }

  test("all 21 functions over two pivot columns") {
    assertAllFunctions(data, "p=x,y,null;q=u,v,w")
  }

  test("the three error modes, with a default value") {
    for (mode <- Seq("skip-error", "send-to-error-port")) {
      assertAllFunctions(data, "p=x,y,w,null", Some("7"), Some(mode))
      assertAllFunctions(data, "p=x,y,null;q=u,v", Some("7"), Some(mode))
    }
    // default fills null cells only: empty counts stay 0, empty
    // logicaland stays true, empty longest string stays ""
    val filled = PivotOps.pivot(data, parse("g", "p=x,w", "n: count(*), la: logicaland(b), " +
      "lo: longeststring(s), si: sum(i)", Some("7"))).main
    assertRowsMatch(filled.filter(col("g") === "c"), Seq(Row("c", 1L, 0L, true, true, "off", "", 1, 7)))

    val failing = parse("g", "p=x,y,null;q=u,v", "si: sum(i)", onError = Some("fail-pipeline"))
    for (run <- Seq(() => PivotOps.pivot(data, failing).main, () => twoPhase(data, failing).main,
                    () => onePhase(data, failing).main)) {
      val e = intercept[RuntimeException](run().collect())
      assert(e.getMessage.contains(
        "Failing pipeline due to error : For columns name: p following models are missing z"))
    }
    assertAllFunctions(data.filter(col("g") =!= "c"), "p=x,y,null;q=u,v", Some("7"),
      Some("fail-pipeline"))
  }

  test("off-list value is recorded at the first off-list column only") {
    val spec = parse("g", "p=x,y,null;q=u,v", "n: count(*)", onError = Some("send-to-error-port"))
    assertEquivalent(data, spec)
    assertRowsMatch(PivotOps.pivot(data, spec).errors, Seq(Row("c",
      "For columns name: p following models are missing z ;" +
        "For columns name: q following models are missing k")))
  }

  test("'_' in values: an off-list pair whose joined key equals a declared one joins no cell") {
    import spark.implicits._
    val df = Seq(("r", "a_b", "c", 1), ("r", "a", "b_c", 10), ("s", "a_b", "c", 2))
      .toDF("g", "p", "q", "v")
    for (mode <- Seq("skip-error", "send-to-error-port")) {
      val spec = parse("g", "p=a,a_b;q=b_c,x", "s: sum(v)", onError = Some(mode))
      assertEquivalent(df, spec)
      assertEquivalent(df, parse("g", "p=a;q=b_c", "s: sum(v)", onError = Some(mode)))
    }
    val out = PivotOps.pivot(df, parse("g", "p=a;q=b_c", "s: sum(v)")).main
    assertRowsMatch(out, Seq(Row("r", 10), Row("s", null)))
  }

  test("numPartitions: same result, and the pre-partitioning serves both phases") {
    val spec = parse("g", "p=x,y,w,null", "n: count(*), si: sum(i), maxs: max(s)",
      onError = Some("send-to-error-port"), parts = Some(3))
    assertEquivalent(data.repartition(4), spec)
    val main = PivotOps.pivot(data, spec).main
    main.collect()
    assert(planNodes(main).count(_.isInstanceOf[ShuffleExchangeExec]) == 1)
  }

  test("pivotWide over three pivot columns") {
    val df = data.withColumn("r", when(col("i") > 4, "hi").otherwise("lo"))
    val spec = parse("g", "p=x,y,null;q=u,v;r=hi,lo",
      "n: count(*), cl: collectlist(s), fs: first(t), av: avg(d)", Some("0"), Some("send-to-error-port"))
    assertEquivalent(df, spec, wide = true)
  }

  private def wideInput(rows: Int, keys: Int, values: Int): DataFrame =
    spark.range(rows).select(
      (col("id") * 7 % keys).as("rk"),
      (col("id") * 13 % (values + 5)).cast(IntegerType).as("pk"),
      (col("id") % 101).cast(IntegerType).as("v"),
      concat(lit("s"), (col("id") % 17).cast(StringType)).as("w"))

  test("600 cells") {
    val df = wideInput(6000, 40, 200)
    val declared = (0 until 200).mkString(",")
    assertEquivalent(df, parse("rk", s"pk=$declared", "s: sum(v), c: count(v), m: max(v)"))
    assertEquivalent(df, parse("rk", s"pk=$declared", "c: count(v), lo: longeststring(w), cs: collectset(v)",
      Some("0"), Some("send-to-error-port")))
  }

  /** Operators of the executed (final adaptive) plan, query stages
    * included. */
  private def planNodes(df: DataFrame): Seq[SparkPlan] = {
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => walk(s.plan)
      case other => other +: other.children.flatMap(walk)
    }
    walk(df.queryExecution.executedPlan)
  }

  /** Aggregate expressions of the widest aggregate operator. */
  private def widestAggregate(df: DataFrame): Int = {
    df.collect()
    planNodes(df).collect { case a: BaseAggregateExec => a.aggregateExpressions.size }.max
  }

  private def declared(values: Int, mode: String): PivotSpec =
    parse("rk", s"pk=${(0 until values).mkString(",")}", "s: sum(v), c: count(v), m: max(v)",
      onError = Some(mode))

  test("plan shape: no two-phase aggregate operator grows with the number of declared values") {
    val df = wideInput(6000, 40, 200)
    for (mode <- Seq("skip-error", "send-to-error-port")) {
      val widths = Seq(2, 200).map { values =>
        val spec = declared(values, mode)
        val w = widestAggregate(twoPhase(df, spec).main)
        assert(w <= spec.aggregates.size + spec.pivotColumns.size, s"$mode, $values values: $w")
        w
      }
      assert(widths.distinct.size == 1, s"$mode: $widths")
    }
  }

  test("plan choice: one aggregation only for skip-error pivots of at most 32 cell aggregates") {
    val df = wideInput(6000, 40, 200)
    def aggregateOperators(r: PivotResult): Int = {
      r.main.collect()
      planNodes(r.main).count(_.isInstanceOf[BaseAggregateExec])
    }
    // 3 aggregates: 10 values are 30 cell aggregates, 11 values are 33
    for ((values, mode, folds) <- Seq((2, "skip-error", false), (10, "skip-error", false),
                                      (11, "skip-error", true), (200, "skip-error", true),
                                      (2, "send-to-error-port", true), (2, "fail-pipeline", true))) {
      val spec = declared(values, mode)
      assert(PivotOps.foldsCells(spec) == folds, s"$mode, $values values")
      // partial and final aggregate per aggregation
      assert(aggregateOperators(PivotOps.pivot(df.filter(col("pk") < values), spec)) ==
        (if (folds) 4 else 2), s"$mode, $values values")
    }
  }
}
