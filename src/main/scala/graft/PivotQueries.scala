package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.pivot._
import graft.QueryShared.{f32, scratchRoot, t}

/** Verification queries for the pivot operator: one per aggregate function
  * and per operator facet of SURVEY.md §2, each paired with a DuckDB oracle
  * over the same parquet tables.
  *
  * Conventions for oracle stability:
  *   - Output column names match the oracle aliases exactly (the driver
  *     compare sorts columns by name).
  *   - Double-valued aggregates whose value depends on summation order
  *     (avg, var, stddev, double sums) are cast to FLOAT on both sides,
  *     quantizing away cross-engine ulp differences. min/max/single-value
  *     cells are exact and stay DOUBLE.
  *   - Order-dependent aggregates (collect/concat) are value-sorted on
  *     both sides (see AggFunctions doc).
  *   - Derived columns (nullable variants, booleans, years) are built with
  *     expressions that exist identically in Spark and DuckDB.
  */
object PivotQueries {

  /** orders + derived columns used across the per-function queries:
    * oyear (BIGINT, matches DuckDB year()), pr_null / tp_null (nullable
    * variants to exercise null semantics), big (boolean). */
  private def ordersSrc(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .withColumn("oyear", year(col("o_orderdate")).cast("long"))
      .withColumn("pr_null", expr("nullif(o_orderpriority, '1-URGENT')"))
      .withColumn("tp_null",
        when(col("o_totalprice") < 50000, lit(null)).otherwise(col("o_totalprice")))
      .withColumn("big", col("o_totalprice") > 100000)

  /** The same derivations as a DuckDB FROM-subquery. */
  private val oOrders: String =
    """(SELECT *, CAST(year(o_orderdate) AS BIGINT) AS oyear,
      |  nullif(o_orderpriority, '1-URGENT') AS pr_null,
      |  CASE WHEN o_totalprice < 50000 THEN NULL ELSE o_totalprice END AS tp_null,
      |  o_totalprice > 100000 AS big FROM orders) o""".stripMargin

  // =====================================================================
  // Flagship pivot: lineitem cross-tab by return flag x line status.
  // =====================================================================

  private def qPivotFlagship(s: SparkSession, dir: String): DataFrame = {
    val out = PivotOps.pivotConfig(
      t(s, dir, "lineitem"),
      pivotRow = "l_returnflag",
      pivotColumns = "l_linestatus=O,F",
      aggregates = "sum_qty:sum(l_quantity), avg_price:avg(l_extendedprice), cnt:count(*)"
    ).main
    f32(out, "O_sum_qty", "F_sum_qty", "O_avg_price", "F_avg_price")
  }

  private val oPivotFlagship =
    """SELECT l_returnflag,
      |  CAST(sum(CASE WHEN l_linestatus='O' THEN l_quantity END) AS REAL) AS "O_sum_qty",
      |  CAST(sum(CASE WHEN l_linestatus='F' THEN l_quantity END) AS REAL) AS "F_sum_qty",
      |  CAST(avg(CASE WHEN l_linestatus='O' THEN l_extendedprice END) AS REAL) AS "O_avg_price",
      |  CAST(avg(CASE WHEN l_linestatus='F' THEN l_extendedprice END) AS REAL) AS "F_avg_price",
      |  count(CASE WHEN l_linestatus='O' THEN 1 END) AS "O_cnt",
      |  count(CASE WHEN l_linestatus='F' THEN 1 END) AS "F_cnt"
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  // =====================================================================
  // Incremental maintenance: pivot two disjoint slices independently,
  // merge the finalized cross-tabs, compare against the whole-input
  // cross-tab (the oracle) — pinning merge(pivot(A), pivot(B)) ≡
  // pivot(A ∪ B) for the decomposable aggregate set. sum(l_quantity) is
  // integer-valued, so the double sums are merge-order-exact.
  // =====================================================================

  private def qPivotIncremental(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val spec = PivotSpec.parseOrThrow("l_returnflag", "l_linestatus=O,F",
      "cnt:count(*), qty:sum(l_quantity), mn:min(l_extendedprice), mx:max(l_extendedprice)")
    val parts = Seq(
      li.filter(col("l_orderkey") % 2 === 0),
      li.filter(col("l_orderkey") % 2 === 1))
      .map(slice => PivotOps.pivot(slice, spec).main)
    PivotOps.mergeCrossTabs(parts, spec)
  }

  private val oPivotIncremental =
    """SELECT l_returnflag,
      |  count(CASE WHEN l_linestatus='O' THEN 1 END) AS "O_cnt",
      |  count(CASE WHEN l_linestatus='F' THEN 1 END) AS "F_cnt",
      |  sum(CASE WHEN l_linestatus='O' THEN l_quantity END) AS "O_qty",
      |  sum(CASE WHEN l_linestatus='F' THEN l_quantity END) AS "F_qty",
      |  min(CASE WHEN l_linestatus='O' THEN l_extendedprice END) AS "O_mn",
      |  min(CASE WHEN l_linestatus='F' THEN l_extendedprice END) AS "F_mn",
      |  max(CASE WHEN l_linestatus='O' THEN l_extendedprice END) AS "O_mx",
      |  max(CASE WHEN l_linestatus='F' THEN l_extendedprice END) AS "F_mx"
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  // =====================================================================
  // pivotWide extension: 3 pivot columns (the reference caps at 2,
  // PivotConfig.java:164-167 — a config guard, not an engine limit).
  // 2x2x2 declared cells x 2 aggregates over customer.
  // =====================================================================

  private def qPivotThreeCols(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
      .withColumn("hi", col("c_acctbal") > 5000)
      .withColumn("par",
        when(col("c_nationkey") % 2 === 0, "x").otherwise("y"))
    val spec = PivotSpec.parseOrThrow("c_nationkey",
      "c_mktsegment=BUILDING,AUTOMOBILE;hi=true,false;par=x,y",
      "cnt:count(*), sm:sum(c_acctbal)")
    val out = PivotOps.pivotWide(c, spec).main
    f32(out, out.columns.filter(_.endsWith("_sm")).toSeq: _*)
  }

  private val oPivotThreeCols = {
    val cells = for {
      seg <- Seq("BUILDING", "AUTOMOBILE")
      hi <- Seq("true", "false")
      par <- Seq("x", "y")
    } yield {
      val cond = s"c_mktsegment='$seg' AND hi = $hi AND par = '$par'"
      Seq(
        s"""count(CASE WHEN $cond THEN 1 END) AS "${seg}_${hi}_${par}_cnt"""",
        s"""CAST(sum(CASE WHEN $cond THEN c_acctbal END) AS REAL) AS "${seg}_${hi}_${par}_sm"""")
    }
    s"""SELECT c_nationkey,
       |  ${cells.flatten.mkString(",\n  ")}
       |FROM (SELECT *, c_acctbal > 5000 AS hi,
       |  CASE WHEN c_nationkey % 2 = 0 THEN 'x' ELSE 'y' END AS par
       |  FROM customer) c
       |GROUP BY c_nationkey""".stripMargin
  }

  // =====================================================================
  // Per-function queries (SURVEY §2.2). Default shape: orders, rows
  // o_orderpriority, pivot o_orderstatus=O,F (P stays off-list — also
  // pinning that off-list records feed no cell in skip mode).
  // =====================================================================

  private def pivotOrders(s: SparkSession, dir: String, rows: String,
                          aggs: String): DataFrame =
    PivotOps.pivotConfig(ordersSrc(s, dir), rows, "o_orderstatus=O,F", aggs).main

  // -- COUNT / COUNT(*) --------------------------------------------------
  private def qFnCount(s: SparkSession, dir: String): DataFrame =
    pivotOrders(s, dir, "o_orderpriority",
      "c:count(o_orderkey), call:count(*), cn:count(tp_null)")

  private val oFnCount =
    """SELECT o_orderpriority,
      |  count(CASE WHEN o_orderstatus='O' THEN o_orderkey END) AS "O_c",
      |  count(CASE WHEN o_orderstatus='F' THEN o_orderkey END) AS "F_c",
      |  count(CASE WHEN o_orderstatus='O' THEN 1 END) AS "O_call",
      |  count(CASE WHEN o_orderstatus='F' THEN 1 END) AS "F_call",
      |  count(CASE WHEN o_orderstatus='O' THEN tp_null END) AS "O_cn",
      |  count(CASE WHEN o_orderstatus='F' THEN tp_null END) AS "F_cn"
      |FROM """.stripMargin + oOrders + " GROUP BY o_orderpriority"

  // -- COUNTDISTINCT (null counts as a distinct value) -------------------
  private def qFnCountDistinct(s: SparkSession, dir: String): DataFrame =
    pivotOrders(s, dir, "oyear",
      "cd:countdistinct(o_orderpriority), cdn:countdistinct(pr_null)")

  private val oFnCountDistinct =
    """SELECT oyear,
      |  CAST(count(DISTINCT CASE WHEN o_orderstatus='O' THEN o_orderpriority END)
      |    + max(CASE WHEN o_orderstatus='O' AND o_orderpriority IS NULL THEN 1 ELSE 0 END) AS INTEGER) AS "O_cd",
      |  CAST(count(DISTINCT CASE WHEN o_orderstatus='F' THEN o_orderpriority END)
      |    + max(CASE WHEN o_orderstatus='F' AND o_orderpriority IS NULL THEN 1 ELSE 0 END) AS INTEGER) AS "F_cd",
      |  CAST(count(DISTINCT CASE WHEN o_orderstatus='O' THEN pr_null END)
      |    + max(CASE WHEN o_orderstatus='O' AND pr_null IS NULL THEN 1 ELSE 0 END) AS INTEGER) AS "O_cdn",
      |  CAST(count(DISTINCT CASE WHEN o_orderstatus='F' THEN pr_null END)
      |    + max(CASE WHEN o_orderstatus='F' AND pr_null IS NULL THEN 1 ELSE 0 END) AS INTEGER) AS "F_cdn"
      |FROM """.stripMargin + oOrders + " GROUP BY oyear"

  // -- SUM (double + nullable) ------------------------------------------
  private def qFnSum(s: SparkSession, dir: String): DataFrame =
    f32(pivotOrders(s, dir, "o_orderpriority", "s:sum(o_totalprice), sn:sum(tp_null)"),
      "O_s", "F_s", "O_sn", "F_sn")

  private val oFnSum =
    """SELECT o_orderpriority,
      |  CAST(sum(CASE WHEN o_orderstatus='O' THEN o_totalprice END) AS REAL) AS "O_s",
      |  CAST(sum(CASE WHEN o_orderstatus='F' THEN o_totalprice END) AS REAL) AS "F_s",
      |  CAST(sum(CASE WHEN o_orderstatus='O' THEN tp_null END) AS REAL) AS "O_sn",
      |  CAST(sum(CASE WHEN o_orderstatus='F' THEN tp_null END) AS REAL) AS "F_sn"
      |FROM """.stripMargin + oOrders + " GROUP BY o_orderpriority"

  // -- SUM (type-preserving INT, reference Sum.java:51-67) ---------------
  private def qFnSumInt(s: SparkSession, dir: String): DataFrame =
    PivotOps.pivotConfig(t(s, dir, "lineitem"),
      "l_returnflag", "l_linestatus=O,F", "si:sum(l_linenumber)").main

  private val oFnSumInt =
    """SELECT l_returnflag,
      |  CAST(sum(CASE WHEN l_linestatus='O' THEN l_linenumber END) AS INTEGER) AS "O_si",
      |  CAST(sum(CASE WHEN l_linestatus='F' THEN l_linenumber END) AS INTEGER) AS "F_si"
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  // -- SUM / AVG over DECIMAL (graft extension: the reference's numeric
  //    gate admits int/long/float/double only; decimal sums stay exact in
  //    Spark's widened decimal type, avg computes in double) -------------
  private def qFnSumDecimal(s: SparkSession, dir: String): DataFrame = {
    val src = t(s, dir, "orders")
      .withColumn("dp", col("o_totalprice").cast("decimal(12,2)"))
    val out = PivotOps.pivotConfig(src, "o_orderpriority",
      "o_orderstatus=O,F", "s:sum(dp), a:avg(dp)").main
    val dec = Seq("O_s", "F_s").foldLeft(out)((d, n) =>
      d.withColumn(n, col(n).cast("decimal(38,2)")))
    f32(dec, "O_a", "F_a")
  }

  private val oFnSumDecimal =
    """SELECT o_orderpriority,
      |  CAST(sum(CASE WHEN o_orderstatus='O' THEN dp END) AS DECIMAL(38,2)) AS "O_s",
      |  CAST(sum(CASE WHEN o_orderstatus='F' THEN dp END) AS DECIMAL(38,2)) AS "F_s",
      |  CAST(avg(CASE WHEN o_orderstatus='O' THEN CAST(dp AS DOUBLE) END) AS REAL) AS "O_a",
      |  CAST(avg(CASE WHEN o_orderstatus='F' THEN CAST(dp AS DOUBLE) END) AS REAL) AS "F_a"
      |FROM (SELECT *, CAST(o_totalprice AS DECIMAL(12,2)) AS dp FROM orders) o
      |GROUP BY o_orderpriority""".stripMargin

  // -- AVG ---------------------------------------------------------------
  private def qFnAvg(s: SparkSession, dir: String): DataFrame =
    f32(pivotOrders(s, dir, "o_orderpriority", "a:avg(o_totalprice), an:avg(tp_null)"),
      "O_a", "F_a", "O_an", "F_an")

  private val oFnAvg =
    """SELECT o_orderpriority,
      |  CAST(avg(CASE WHEN o_orderstatus='O' THEN o_totalprice END) AS REAL) AS "O_a",
      |  CAST(avg(CASE WHEN o_orderstatus='F' THEN o_totalprice END) AS REAL) AS "F_a",
      |  CAST(avg(CASE WHEN o_orderstatus='O' THEN tp_null END) AS REAL) AS "O_an",
      |  CAST(avg(CASE WHEN o_orderstatus='F' THEN tp_null END) AS REAL) AS "F_an"
      |FROM """.stripMargin + oOrders + " GROUP BY o_orderpriority"

  // -- MIN / MAX numeric (exact — no arithmetic) -------------------------
  private def qFnMinMaxNum(s: SparkSession, dir: String): DataFrame =
    pivotOrders(s, dir, "o_orderpriority", "mn:min(o_totalprice), mx:max(o_totalprice)")

  private val oFnMinMaxNum =
    """SELECT o_orderpriority,
      |  min(CASE WHEN o_orderstatus='O' THEN o_totalprice END) AS "O_mn",
      |  min(CASE WHEN o_orderstatus='F' THEN o_totalprice END) AS "F_mn",
      |  max(CASE WHEN o_orderstatus='O' THEN o_totalprice END) AS "O_mx",
      |  max(CASE WHEN o_orderstatus='F' THEN o_totalprice END) AS "F_mx"
      |FROM """.stripMargin + oOrders + " GROUP BY o_orderpriority"

  // -- MIN / MAX string (case-insensitive compare, original value kept;
  //    reference Min.java:49 / Max.java:50) ------------------------------
  private def qFnMinMaxStr(s: SparkSession, dir: String): DataFrame =
    pivotOrders(s, dir, "oyear", "mn:min(o_orderpriority), mx:max(o_orderpriority)")

  // DuckDB twin of AggFunctions.ciKey: lower(x) || chr(1) || x.
  private val oFnMinMaxStr =
    """SELECT oyear,
      |  arg_min(CASE WHEN o_orderstatus='O' THEN o_orderpriority END,
      |          CASE WHEN o_orderstatus='O' THEN lower(o_orderpriority) || chr(1) || o_orderpriority END) AS "O_mn",
      |  arg_min(CASE WHEN o_orderstatus='F' THEN o_orderpriority END,
      |          CASE WHEN o_orderstatus='F' THEN lower(o_orderpriority) || chr(1) || o_orderpriority END) AS "F_mn",
      |  arg_max(CASE WHEN o_orderstatus='O' THEN o_orderpriority END,
      |          CASE WHEN o_orderstatus='O' THEN lower(o_orderpriority) || chr(1) || o_orderpriority END) AS "O_mx",
      |  arg_max(CASE WHEN o_orderstatus='F' THEN o_orderpriority END,
      |          CASE WHEN o_orderstatus='F' THEN lower(o_orderpriority) || chr(1) || o_orderpriority END) AS "F_mx"
      |FROM """.stripMargin + oOrders + " GROUP BY oyear"

  // -- FIRST / LAST (cell-constant input makes the nondeterministic
  //    "encounter order" deterministic: the cell key itself) -------------
  private def qFnFirstLast(s: SparkSession, dir: String): DataFrame =
    pivotOrders(s, dir, "o_orderpriority", "f:first(o_orderstatus), l:last(o_orderstatus)")

  private val oFnFirstLast =
    """SELECT o_orderpriority,
      |  min(CASE WHEN o_orderstatus='O' THEN o_orderstatus END) AS "O_f",
      |  min(CASE WHEN o_orderstatus='F' THEN o_orderstatus END) AS "F_f",
      |  max(CASE WHEN o_orderstatus='O' THEN o_orderstatus END) AS "O_l",
      |  max(CASE WHEN o_orderstatus='F' THEN o_orderstatus END) AS "F_l"
      |FROM """.stripMargin + oOrders + " GROUP BY o_orderpriority"

  // -- STDDEV / VARIANCE (population; reference Variance.java:114-118) ---
  private def qFnStddevVar(s: SparkSession, dir: String): DataFrame =
    f32(pivotOrders(s, dir, "o_orderpriority", "sd:stddev(o_totalprice), vr:variance(o_totalprice)"),
      "O_sd", "F_sd", "O_vr", "F_vr")

  private val oFnStddevVar =
    """SELECT o_orderpriority,
      |  CAST(stddev_pop(CASE WHEN o_orderstatus='O' THEN o_totalprice END) AS REAL) AS "O_sd",
      |  CAST(stddev_pop(CASE WHEN o_orderstatus='F' THEN o_totalprice END) AS REAL) AS "F_sd",
      |  CAST(var_pop(CASE WHEN o_orderstatus='O' THEN o_totalprice END) AS REAL) AS "O_vr",
      |  CAST(var_pop(CASE WHEN o_orderstatus='F' THEN o_totalprice END) AS REAL) AS "F_vr"
      |FROM """.stripMargin + oOrders + " GROUP BY o_orderpriority"

  // -- COLLECTLIST / COLLECTSET (value-sorted on both sides). The arrays
  //    are serialized to comma-joined strings for the driver compare (its
  //    pandas row-sort cannot sort ndarray cells); the array-typed results
  //    themselves are pinned by PivotEdgeSpec/GoldenPivotSpec. ------------
  private def qFnCollect(s: SparkSession, dir: String): DataFrame = {
    val out = PivotOps.pivotConfig(
      t(s, dir, "lineitem").filter(col("l_orderkey") < 300),
      "l_returnflag", "l_linestatus=O,F",
      "cl:collectlist(l_linenumber), cs:collectset(l_linenumber)").main
    Seq("O_cl", "F_cl", "O_cs", "F_cs").foldLeft(out)((d, n) =>
      d.withColumn(n, array_join(col(n).cast("array<string>"), ",")))
  }

  private val oFnCollect =
    """SELECT l_returnflag,
      |  array_to_string(coalesce(list_sort(list(l_linenumber) FILTER (WHERE l_linestatus='O')), []), ',') AS "O_cl",
      |  array_to_string(coalesce(list_sort(list(l_linenumber) FILTER (WHERE l_linestatus='F')), []), ',') AS "F_cl",
      |  array_to_string(coalesce(list_sort(list(DISTINCT l_linenumber) FILTER (WHERE l_linestatus='O')), []), ',') AS "O_cs",
      |  array_to_string(coalesce(list_sort(list(DISTINCT l_linenumber) FILTER (WHERE l_linestatus='F')), []), ',') AS "F_cs"
      |FROM lineitem WHERE l_orderkey < 300 GROUP BY l_returnflag""".stripMargin

  // -- LONGESTSTRING / SHORTESTSTRING ------------------------------------
  private def qFnStrings(s: SparkSession, dir: String): DataFrame =
    pivotOrders(s, dir, "oyear",
      "ls:longeststring(o_orderpriority), ss:shorteststring(o_orderpriority)")

  // DuckDB twin of AggFunctions.lengthKey: lpad(len, 10, '0') || x.
  private val oFnStrings =
    """SELECT oyear,
      |  coalesce(arg_max(CASE WHEN o_orderstatus='O' THEN o_orderpriority END,
      |    CASE WHEN o_orderstatus='O' THEN lpad(CAST(length(o_orderpriority) AS VARCHAR),10,'0') || o_orderpriority END), '') AS "O_ls",
      |  coalesce(arg_max(CASE WHEN o_orderstatus='F' THEN o_orderpriority END,
      |    CASE WHEN o_orderstatus='F' THEN lpad(CAST(length(o_orderpriority) AS VARCHAR),10,'0') || o_orderpriority END), '') AS "F_ls",
      |  arg_min(CASE WHEN o_orderstatus='O' THEN o_orderpriority END,
      |    CASE WHEN o_orderstatus='O' THEN lpad(CAST(length(o_orderpriority) AS VARCHAR),10,'0') || o_orderpriority END) AS "O_ss",
      |  arg_min(CASE WHEN o_orderstatus='F' THEN o_orderpriority END,
      |    CASE WHEN o_orderstatus='F' THEN lpad(CAST(length(o_orderpriority) AS VARCHAR),10,'0') || o_orderpriority END) AS "F_ss"
      |FROM """.stripMargin + oOrders + " GROUP BY oyear"

  // -- COUNTNULLS --------------------------------------------------------
  private def qFnCountNulls(s: SparkSession, dir: String): DataFrame =
    pivotOrders(s, dir, "o_orderpriority", "cnt:countnulls(tp_null), cnp:countnulls(pr_null)")

  private val oFnCountNulls =
    """SELECT o_orderpriority,
      |  count(CASE WHEN o_orderstatus='O' AND tp_null IS NULL THEN 1 END) AS "O_cnt",
      |  count(CASE WHEN o_orderstatus='F' AND tp_null IS NULL THEN 1 END) AS "F_cnt",
      |  count(CASE WHEN o_orderstatus='O' AND pr_null IS NULL THEN 1 END) AS "O_cnp",
      |  count(CASE WHEN o_orderstatus='F' AND pr_null IS NULL THEN 1 END) AS "F_cnp"
      |FROM """.stripMargin + oOrders + " GROUP BY o_orderpriority"

  // -- CONCAT / CONCATDISTINCT (value-sorted on both sides) --------------
  private def qFnConcat(s: SparkSession, dir: String): DataFrame =
    PivotOps.pivotConfig(
      ordersSrc(s, dir).filter(col("o_orderkey") < 400),
      "oyear", "o_orderstatus=O,F",
      "co:concat(o_orderpriority), cd:concatdistinct(o_orderpriority)").main

  private val oFnConcat =
    """SELECT oyear,
      |  coalesce(array_to_string(list_sort(list(o_orderpriority) FILTER (WHERE o_orderstatus='O')), ', '), '') AS "O_co",
      |  coalesce(array_to_string(list_sort(list(o_orderpriority) FILTER (WHERE o_orderstatus='F')), ', '), '') AS "F_co",
      |  coalesce(array_to_string(list_sort(list(DISTINCT o_orderpriority) FILTER (WHERE o_orderstatus='O')), ', '), '') AS "O_cd",
      |  coalesce(array_to_string(list_sort(list(DISTINCT o_orderpriority) FILTER (WHERE o_orderstatus='F')), ', '), '') AS "F_cd"
      |FROM """.stripMargin +
      "(SELECT *, CAST(year(o_orderdate) AS BIGINT) AS oyear FROM orders WHERE o_orderkey < 400) o" +
      " GROUP BY oyear"

  // -- CONCATDISTINCT substring suppression (reference ConcatDistinct
  // .java:54, deterministic sorted-fold pin). The value column mixes full
  // priorities with their "-"-stripped suffixes: "URGENT" sorts after and
  // is contained in "1-URGENT", so the fold suppresses it; both engines
  // run the identical fold over the sorted distinct set. ----------------
  private def qFnConcatDistinct(s: SparkSession, dir: String): DataFrame =
    PivotOps.pivotConfig(
      ordersSrc(s, dir).filter(col("o_orderkey") < 2000)
        .withColumn("prio_mix",
          when(col("o_orderkey") % 2 === 0, col("o_orderpriority"))
            .otherwise(expr("substring(o_orderpriority, 3)"))),
      "oyear", "o_orderstatus=O,F",
      "cd:concatdistinct(prio_mix)").main

  private val oFnConcatDistinct = {
    def fold(status: String, as: String): String =
      s"""coalesce(list_reduce(
         |    list_sort(list(DISTINCT prio_mix) FILTER (WHERE o_orderstatus='$status')),
         |    (acc, x) -> CASE WHEN contains(acc, x) THEN acc
         |                     WHEN acc = '' THEN x
         |                     ELSE acc || ', ' || x END), '') AS "$as"""".stripMargin
    s"""SELECT oyear, ${fold("O", "O_cd")}, ${fold("F", "F_cd")}
       |FROM (SELECT *, CAST(year(o_orderdate) AS BIGINT) AS oyear,
       |  CASE WHEN o_orderkey % 2 = 0 THEN o_orderpriority
       |       ELSE substr(o_orderpriority, 3) END AS prio_mix
       |  FROM orders WHERE o_orderkey < 2000) o
       |GROUP BY oyear""".stripMargin
  }

  // -- LOGICALAND / LOGICALOR (empty/all-null -> true / false) -----------
  private def qFnLogical(s: SparkSession, dir: String): DataFrame =
    pivotOrders(s, dir, "o_orderpriority", "la:logicaland(big), lo:logicalor(big)")

  private val oFnLogical =
    """SELECT o_orderpriority,
      |  coalesce(bool_and(CASE WHEN o_orderstatus='O' THEN big END), true) AS "O_la",
      |  coalesce(bool_and(CASE WHEN o_orderstatus='F' THEN big END), true) AS "F_la",
      |  coalesce(bool_or(CASE WHEN o_orderstatus='O' THEN big END), false) AS "O_lo",
      |  coalesce(bool_or(CASE WHEN o_orderstatus='F' THEN big END), false) AS "F_lo"
      |FROM """.stripMargin + oOrders + " GROUP BY o_orderpriority"

  // -- SUMOFSQUARES / CORRECTEDSUMOFSQUARES ------------------------------
  private def qFnSumSq(s: SparkSession, dir: String): DataFrame =
    f32(pivotOrders(s, dir, "o_orderpriority",
        "sq:sumofsquares(o_totalprice), csq:correctedsumofsquares(o_totalprice)"),
      "O_sq", "F_sq", "O_csq", "F_csq")

  private val oFnSumSq =
    """SELECT o_orderpriority,
      |  CAST(coalesce(sum(CASE WHEN o_orderstatus='O' THEN o_totalprice*o_totalprice END), 0) AS REAL) AS "O_sq",
      |  CAST(coalesce(sum(CASE WHEN o_orderstatus='F' THEN o_totalprice*o_totalprice END), 0) AS REAL) AS "F_sq",
      |  CAST(CASE WHEN count(CASE WHEN o_orderstatus='O' THEN o_totalprice END) = 0 THEN 'NaN'::DOUBLE
      |    ELSE sum(CASE WHEN o_orderstatus='O' THEN o_totalprice*o_totalprice END)
      |    - sum(CASE WHEN o_orderstatus='O' THEN o_totalprice END)^2
      |      / count(CASE WHEN o_orderstatus='O' THEN o_totalprice END) END AS REAL) AS "O_csq",
      |  CAST(CASE WHEN count(CASE WHEN o_orderstatus='F' THEN o_totalprice END) = 0 THEN 'NaN'::DOUBLE
      |    ELSE sum(CASE WHEN o_orderstatus='F' THEN o_totalprice*o_totalprice END)
      |    - sum(CASE WHEN o_orderstatus='F' THEN o_totalprice END)^2
      |      / count(CASE WHEN o_orderstatus='F' THEN o_totalprice END) END AS REAL) AS "F_csq"
      |FROM """.stripMargin + oOrders + " GROUP BY o_orderpriority"

  // -- MIN/MAX over TIMESTAMP (beyond-reference: the reference's numeric
  //    gate rejects logical types for arithmetic aggregates but its
  //    comparison aggregates never see them at all; here order-based
  //    aggregates accept any orderable type) ----------------------------
  private def qFnMinMaxTs(s: SparkSession, dir: String): DataFrame =
    pivotOrders(s, dir, "o_orderpriority", "mn:min(o_orderdate), mx:max(o_orderdate)")

  private val oFnMinMaxTs =
    """SELECT o_orderpriority,
      |  CAST(min(CASE WHEN o_orderstatus='O' THEN o_orderdate END) AS TIMESTAMP) AS "O_mn",
      |  CAST(min(CASE WHEN o_orderstatus='F' THEN o_orderdate END) AS TIMESTAMP) AS "F_mn",
      |  CAST(max(CASE WHEN o_orderstatus='O' THEN o_orderdate END) AS TIMESTAMP) AS "O_mx",
      |  CAST(max(CASE WHEN o_orderstatus='F' THEN o_orderdate END) AS TIMESTAMP) AS "F_mx"
      |FROM """.stripMargin + oOrders + " GROUP BY o_orderpriority"

  // =====================================================================
  // Operator-facet queries (SURVEY §2.1).
  // =====================================================================

  // -- O1/O3: two pivot ROWS (composite group key) -----------------------
  private def qPivotTwoRows(s: SparkSession, dir: String): DataFrame =
    f32(PivotOps.pivotConfig(
        t(s, dir, "lineitem").withColumn("shipyear", year(col("l_shipdate"))),
        "l_returnflag,l_linestatus", "shipyear=1996,1997",
        "sq:sum(l_quantity), cnt:count(*)").main,
      "1996_sq", "1997_sq")

  private val oPivotTwoRows =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(sum(CASE WHEN year(l_shipdate)=1996 THEN l_quantity END) AS REAL) AS "1996_sq",
      |  CAST(sum(CASE WHEN year(l_shipdate)=1997 THEN l_quantity END) AS REAL) AS "1997_sq",
      |  count(CASE WHEN year(l_shipdate)=1996 THEN 1 END) AS "1996_cnt",
      |  count(CASE WHEN year(l_shipdate)=1997 THEN 1 END) AS "1997_cnt"
      |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin

  // -- Rollup cross-tab (graft extension: subtotal + grand-total rows) ---
  private def qPivotRollup(s: SparkSession, dir: String): DataFrame = {
    val spec = PivotSpec.parseOrThrow(
      "l_returnflag,l_linestatus", "shipyear=1996,1997",
      "sq:sum(l_quantity), cnt:count(*)")
    f32(PivotOps.pivotRollup(
        t(s, dir, "lineitem").withColumn("shipyear", year(col("l_shipdate"))),
        spec),
      "1996_sq", "1997_sq")
  }

  private val oPivotRollup =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS grouping_id,
      |  CAST(sum(CASE WHEN year(l_shipdate)=1996 THEN l_quantity END) AS REAL) AS "1996_sq",
      |  CAST(sum(CASE WHEN year(l_shipdate)=1997 THEN l_quantity END) AS REAL) AS "1997_sq",
      |  count(CASE WHEN year(l_shipdate)=1996 THEN 1 END) AS "1996_cnt",
      |  count(CASE WHEN year(l_shipdate)=1997 THEN 1 END) AS "1997_cnt"
      |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin

  // -- O3: two pivot COLUMNS (cartesian product of value lists, ≤2 cap) --
  private def qPivotTwoCols(s: SparkSession, dir: String): DataFrame =
    f32(PivotOps.pivotConfig(
        t(s, dir, "customer").withColumn("pos", col("c_acctbal") > 0),
        "c_nationkey", "c_mktsegment=BUILDING,MACHINERY;pos=true,false",
        "cnt:count(*), s:sum(c_acctbal)").main,
      "BUILDING_true_s", "BUILDING_false_s", "MACHINERY_true_s", "MACHINERY_false_s")

  private val oPivotTwoCols =
    """SELECT c_nationkey,
      |  count(CASE WHEN c_mktsegment='BUILDING' AND c_acctbal>0 THEN 1 END) AS "BUILDING_true_cnt",
      |  count(CASE WHEN c_mktsegment='BUILDING' AND NOT c_acctbal>0 THEN 1 END) AS "BUILDING_false_cnt",
      |  count(CASE WHEN c_mktsegment='MACHINERY' AND c_acctbal>0 THEN 1 END) AS "MACHINERY_true_cnt",
      |  count(CASE WHEN c_mktsegment='MACHINERY' AND NOT c_acctbal>0 THEN 1 END) AS "MACHINERY_false_cnt",
      |  CAST(sum(CASE WHEN c_mktsegment='BUILDING' AND c_acctbal>0 THEN c_acctbal END) AS REAL) AS "BUILDING_true_s",
      |  CAST(sum(CASE WHEN c_mktsegment='BUILDING' AND NOT c_acctbal>0 THEN c_acctbal END) AS REAL) AS "BUILDING_false_s",
      |  CAST(sum(CASE WHEN c_mktsegment='MACHINERY' AND c_acctbal>0 THEN c_acctbal END) AS REAL) AS "MACHINERY_true_s",
      |  CAST(sum(CASE WHEN c_mktsegment='MACHINERY' AND NOT c_acctbal>0 THEN c_acctbal END) AS REAL) AS "MACHINERY_false_s"
      |FROM customer GROUP BY c_nationkey""".stripMargin

  // -- O1e: defaultValue fill (declared-but-absent value NOSUCH gives
  //    guaranteed-null cells of double, long and string type) ------------
  private def qPivotDefault(s: SparkSession, dir: String): DataFrame =
    f32(PivotOps.pivotConfig(
        t(s, dir, "customer"),
        "c_nationkey", "c_mktsegment=BUILDING,NOSUCH",
        "s:sum(c_acctbal), c:count(c_custkey), mn:min(c_name)",
        defaultValue = Some("0")).main,
      "BUILDING_s", "NOSUCH_s")

  private val oPivotDefault =
    """SELECT c_nationkey,
      |  CAST(coalesce(sum(CASE WHEN c_mktsegment='BUILDING' THEN c_acctbal END), 0) AS REAL) AS "BUILDING_s",
      |  CAST(coalesce(sum(CASE WHEN c_mktsegment='NOSUCH' THEN c_acctbal END), 0) AS REAL) AS "NOSUCH_s",
      |  count(CASE WHEN c_mktsegment='BUILDING' THEN c_custkey END) AS "BUILDING_c",
      |  count(CASE WHEN c_mktsegment='NOSUCH' THEN c_custkey END) AS "NOSUCH_c",
      |  coalesce(arg_min(CASE WHEN c_mktsegment='BUILDING' THEN c_name END,
      |    CASE WHEN c_mktsegment='BUILDING' THEN lower(c_name) || chr(1) || c_name END), '0') AS "BUILDING_mn",
      |  coalesce(arg_min(CASE WHEN c_mktsegment='NOSUCH' THEN c_name END,
      |    CASE WHEN c_mktsegment='NOSUCH' THEN lower(c_name) || chr(1) || c_name END), '0') AS "NOSUCH_mn"
      |FROM customer GROUP BY c_nationkey""".stripMargin

  // -- O4: fieldAliases rename of generated columns ----------------------
  private def qPivotAlias(s: SparkSession, dir: String): DataFrame =
    f32(PivotOps.pivotConfig(
        t(s, dir, "orders"),
        "o_orderpriority", "o_orderstatus=O,F",
        "s:sum(o_totalprice), c:count(*)",
        fieldAliases = Some("O_s:open_total, F_c:fulfilled_count")).main,
      "open_total", "F_s")

  private val oPivotAlias =
    """SELECT o_orderpriority,
      |  CAST(sum(CASE WHEN o_orderstatus='O' THEN o_totalprice END) AS REAL) AS "open_total",
      |  CAST(sum(CASE WHEN o_orderstatus='F' THEN o_totalprice END) AS REAL) AS "F_s",
      |  count(CASE WHEN o_orderstatus='O' THEN 1 END) AS "O_c",
      |  count(CASE WHEN o_orderstatus='F' THEN 1 END) AS "fulfilled_count"
      |FROM orders GROUP BY o_orderpriority""".stripMargin

  // -- O5: send-to-error-port (orders whose lineitems include an
  //    undeclared line number 7 go to the error port) --------------------
  private def errPortResult(s: SparkSession, dir: String): PivotResult =
    PivotOps.pivotConfig(
      t(s, dir, "lineitem").filter(col("l_orderkey") < 200),
      "l_orderkey", "l_linenumber=1,2,3,4,5,6",
      "sq:sum(l_quantity)",
      onError = Some("send-to-error-port"))

  private def qPivotErrMain(s: SparkSession, dir: String): DataFrame =
    errPortResult(s, dir).main

  private val oPivotErrMain =
    """SELECT l_orderkey,
      |  sum(CASE WHEN l_linenumber=1 THEN l_quantity END) AS "1_sq",
      |  sum(CASE WHEN l_linenumber=2 THEN l_quantity END) AS "2_sq",
      |  sum(CASE WHEN l_linenumber=3 THEN l_quantity END) AS "3_sq",
      |  sum(CASE WHEN l_linenumber=4 THEN l_quantity END) AS "4_sq",
      |  sum(CASE WHEN l_linenumber=5 THEN l_quantity END) AS "5_sq",
      |  sum(CASE WHEN l_linenumber=6 THEN l_quantity END) AS "6_sq"
      |FROM lineitem WHERE l_orderkey < 200 GROUP BY l_orderkey
      |HAVING count(CASE WHEN l_linenumber NOT IN (1,2,3,4,5,6) THEN 1 END) = 0""".stripMargin

  private def qPivotErrErrors(s: SparkSession, dir: String): DataFrame =
    errPortResult(s, dir).errors

  private val oPivotErrErrors =
    """SELECT l_orderkey,
      |  'For columns name: l_linenumber following models are missing ' ||
      |  array_to_string(list_sort(list(DISTINCT CAST(l_linenumber AS VARCHAR))
      |    FILTER (WHERE l_linenumber NOT IN (1,2,3,4,5,6))), ' ,') AS __error
      |FROM lineitem WHERE l_orderkey < 200 GROUP BY l_orderkey
      |HAVING count(CASE WHEN l_linenumber NOT IN (1,2,3,4,5,6) THEN 1 END) > 0""".stripMargin

  // -- O5: fail-pipeline passes through when no value is off-list --------
  private def qPivotFailMode(s: SparkSession, dir: String): DataFrame =
    PivotOps.pivotConfig(
      t(s, dir, "lineitem"),
      "l_returnflag", "l_linestatus=O,F", "c:count(*)",
      onError = Some("fail-pipeline")).main

  private val oPivotFailMode =
    """SELECT l_returnflag,
      |  count(CASE WHEN l_linestatus='O' THEN 1 END) AS "O_c",
      |  count(CASE WHEN l_linestatus='F' THEN 1 END) AS "F_c"
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  // -- O2 fine point: a null pivot value stringifies to "null" and can
  //    match a declared value (reference Pivot.java:337,347) -------------
  private def qPivotNullKey(s: SparkSession, dir: String): DataFrame =
    PivotOps.pivotConfig(
      t(s, dir, "orders").withColumn("st_null", expr("nullif(o_orderstatus, 'P')")),
      "o_orderpriority", "st_null=O,null", "c:count(*)").main

  private val oPivotNullKey =
    """SELECT o_orderpriority,
      |  count(CASE WHEN o_orderstatus='O' THEN 1 END) AS "O_c",
      |  count(CASE WHEN o_orderstatus='P' THEN 1 END) AS "null_c"
      |FROM orders GROUP BY o_orderpriority""".stripMargin

  // -- O6: numPartitions control (same result, pre-repartitioned) --------
  private def qPivotNumPartitions(s: SparkSession, dir: String): DataFrame =
    PivotOps.pivotConfig(
      t(s, dir, "lineitem"),
      "l_returnflag", "l_linestatus=O,F", "c:count(*)",
      numPartitions = Some(8)).main

  private val oPivotNumPartitions =
    """SELECT l_returnflag,
      |  count(CASE WHEN l_linestatus='O' THEN 1 END) AS "O_c",
      |  count(CASE WHEN l_linestatus='F' THEN 1 END) AS "F_c"
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  // -- S1 + S2: the reference's example pipeline, end to end ----------
  // File(csv) source -> Pivot -> File(avro) sink, driven by the
  // reference-format example JSON checked in as a classpath resource
  // (PipelineRunner.Example); the checked artifact is the avro SINK read
  // back (so container framing, schema, and null cells all sit on the
  // verified path), and the oracle replays the whole pivot from the
  // inlined sample rows. This upgrades the last two spec-only SURVEY §2
  // rows (S1 csv source, S2 avro sink) to a CORRECTNESS-gated query.

  private def qPipelineExample(s: SparkSession, dir: String): DataFrame = {
    // per-JVM scratch: AvroSink deletes-then-writes, so one path is
    // re-run-idempotent within a session and isolated across sessions
    val out = new java.io.File(scratchRoot, "pipeline_example").getAbsolutePath
    val example = graft.sources.PipelineRunner.Example
    graft.sources.PipelineRunner.run(s, example.json, Map(
      "inputFile" -> example.writeSampleCsv(out),
      "outputDirectory" -> s"$out/pivoted"))
    graft.sources.AvroSource.read(s, s"$out/pivoted")
  }

  private val oPipelineExample = {
    // graft/examples/sample_data.csv, inlined so the oracle needs no file
    val rows = Seq(
      ("Q1", "Shoes", "Nike", 50), ("Q1", "Shirts", "Nike", 20),
      ("Q1", "Socks", "Reebok", 40), ("Q1", "Shirts", "Reebok", 60),
      ("Q1", "Shoes", "Reebok", 50), ("Q2", "Shoes", "Nike", 20),
      ("Q2", "Shoes", "Reebok", 30), ("Q2", "Socks", "Nike", 40),
      ("Q3", "Shoes", "Nike", 50), ("Q3", "Shoes", "Reebok", 30),
      ("Q3", "Socks", "Reebok", 40), ("Q3", "Socks", "Nike", 20),
      ("Q4", "Shoes", "Reebok", 10), ("Q4", "Shirts", "Reebok", 20),
      ("Q4", "Socks", "Reebok", 30), ("Q4", "Shoes", "Nike", 40),
      ("Q4", "Shirts", "Nike", 50), ("Q4", "Socks", "Nike", 60))
    val vals = rows.map { case (q, p, b, v) => s"('$q','$p','$b',$v)" }
      .mkString(", ")
    val cells = for {
      q <- Seq("Q1", "Q2", "Q3", "Q4")
      b <- Seq("Nike", "Reebok", "Addidas")
    } yield s"""CAST(sum(CASE WHEN Quarter = '$q' AND Brand = '$b'
      |    THEN Sales END) AS INTEGER) AS "${q}_${b}_Sum"""".stripMargin
    s"""WITH src(Quarter, Product, Brand, Sales) AS (VALUES $vals)
      |SELECT Product AS "Product",
      |  ${cells.mkString(",\n  ")}
      |FROM src GROUP BY Product""".stripMargin
  }

  // =====================================================================

  val registry: Seq[Query] = Seq(
    Query("pipeline_example", qPipelineExample, oPipelineExample),
    Query("pivot_flagship", qPivotFlagship, oPivotFlagship),
    Query("fn_count", qFnCount, oFnCount),
    Query("fn_countdistinct", qFnCountDistinct, oFnCountDistinct),
    Query("fn_sum", qFnSum, oFnSum),
    Query("fn_sum_int", qFnSumInt, oFnSumInt),
    Query("fn_sum_decimal", qFnSumDecimal, oFnSumDecimal),
    Query("fn_avg", qFnAvg, oFnAvg),
    Query("fn_minmax_num", qFnMinMaxNum, oFnMinMaxNum),
    Query("fn_minmax_str", qFnMinMaxStr, oFnMinMaxStr),
    Query("fn_minmax_ts", qFnMinMaxTs, oFnMinMaxTs),
    Query("fn_first_last", qFnFirstLast, oFnFirstLast),
    Query("fn_stddev_var", qFnStddevVar, oFnStddevVar),
    Query("fn_collect", qFnCollect, oFnCollect),
    Query("fn_strings", qFnStrings, oFnStrings),
    Query("fn_countnulls", qFnCountNulls, oFnCountNulls),
    Query("fn_concat", qFnConcat, oFnConcat),
    Query("fn_concat_distinct", qFnConcatDistinct, oFnConcatDistinct),
    Query("fn_logical", qFnLogical, oFnLogical),
    Query("fn_sumsq", qFnSumSq, oFnSumSq),
    Query("pivot_tworows", qPivotTwoRows, oPivotTwoRows),
    Query("pivot_rollup", qPivotRollup, oPivotRollup),
    Query("pivot_incremental", qPivotIncremental, oPivotIncremental),
    Query("pivot_threecols", qPivotThreeCols, oPivotThreeCols),
    Query("pivot_twocols", qPivotTwoCols, oPivotTwoCols),
    Query("pivot_default", qPivotDefault, oPivotDefault),
    Query("pivot_alias", qPivotAlias, oPivotAlias),
    Query("pivot_errorport_main", qPivotErrMain, oPivotErrMain),
    Query("pivot_errorport_errors", qPivotErrErrors, oPivotErrErrors),
    Query("pivot_failmode", qPivotFailMode, oPivotFailMode),
    Query("pivot_nullkey", qPivotNullKey, oPivotNullKey),
    Query("pivot_numpartitions", qPivotNumPartitions, oPivotNumPartitions)
  )
}
