package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import graft.pivot.PivotOps

/** Semantic fine points from SURVEY §2.2/§2.3 that the golden cases don't
  * reach: null handling per function, off-list groups, the "null" pivot
  * key, '_' collision safety, error modes, and merge associativity
  * (partition invariance). */
class PivotEdgeSpec extends SparkSpec {

  import spark.implicits._

  // Nullable Sales variant of the fixture shape.
  private lazy val df = Seq[(String, String, Option[Int], Option[String], Option[Boolean])](
    ("Q1", "Shoes", Some(2000000000), Some("alpha"), Some(true)),
    ("Q1", "Shoes", Some(2000000000), Some("Beta"), Some(true)),
    ("Q1", "Socks", None, None, None),
    ("Q1", "Socks", None, Some("b"), Some(false)),
    ("Q2", "Shoes", Some(5), Some("gamma"), Some(false)),
    ("QX", "Pants", Some(7), Some("x"), Some(true)) // off-list quarter only
  ).toDF("Quarter", "Product", "Sales", "Tag", "Flag")

  test("group with only off-list records still emits a row (Pivot.java:123-130)") {
    val out = PivotOps.pivotConfig(df, "Product", "Quarter=Q1,Q2",
      "s: sum(Sales)").main
    assertRowsMatch(out, Seq(
      Row("Shoes", -294967296, 5), // int sum wraps like Java (ansi off)
      Row("Socks", null, null),
      Row("Pants", null, null)))
  }

  test("countdistinct counts null as a distinct value (CountDistinct.java:45-47)") {
    val out = PivotOps.pivotConfig(df, "Product", "Quarter=Q1,Q2",
      "cd: countdistinct(Tag)").main
    assertRowsMatch(out, Seq(
      Row("Shoes", 2, 1), // alpha, Beta | gamma
      Row("Socks", 2, 0), // null + "b" -> 2; empty cell -> 0 (empty HashSet)
      Row("Pants", 0, 0)))
  }

  test("collect list/set keep in-cell nulls; empty cell -> empty array") {
    val out = PivotOps.pivotConfig(df, "Product", "Quarter=Q1,Q2",
      "cl: collectlist(Sales)").main
    val rows = out.collect().map(r => r.getString(0) ->
      (r.getSeq[Any](1), r.getSeq[Any](2))).toMap
    assert(rows("Socks")._1 == Seq(null, null))
    assert(rows("Socks")._2 == Seq())
    assert(rows("Shoes")._1 == Seq(2000000000, 2000000000))
  }

  test("concatdistinct suppresses substrings of the accumulator, sorted fold (ConcatDistinct.java:54)") {
    val vals = Seq("1-URGENT", "URGENT", "GENT", "2-HIGH", "HIGH", "zzz", "1-URGENT")
    val in = vals.map(v => ("Q1", "Shoes", v)).toDF("Quarter", "Product", "V")
    val out = PivotOps.pivotConfig(in, "Product", "Quarter=Q1",
      "cd: concatdistinct(V)").main.collect()
    // Reference algorithm (ConcatDistinct.java:48-58) over our pinned
    // sorted-distinct order: skip v when acc.contains(v).
    val expected = vals.distinct.sorted.foldLeft("") { (acc, v) =>
      if (acc.contains(v)) acc
      else if (acc.isEmpty) v else acc + ", " + v
    }
    // sorted: 1-URGENT, 2-HIGH, GENT, HIGH, URGENT, zzz
    // GENT/HIGH/URGENT are substrings of the accumulator -> suppressed
    assert(expected == "1-URGENT, 2-HIGH, zzz")
    assert(out.head.getString(1) == expected)
  }

  test("logical and/or: empty or all-null cell -> true / false (LogicalAnd.java:38)") {
    val out = PivotOps.pivotConfig(df, "Product", "Quarter=Q1,Q2",
      "la: logicaland(Flag), lo: logicalor(Flag)").main
    assertRowsMatch(out, Seq(
      Row("Shoes", true, false, true, false),
      Row("Socks", false, true, false, false),
      Row("Pants", true, true, false, false)))
  }

  test("longest/shortest: empty cell -> \"\" / null (LongestString.java:43, ShortestString.java:43)") {
    val out = PivotOps.pivotConfig(df, "Product", "Quarter=Q1,Q2",
      "ls: longeststring(Tag), ss: shorteststring(Tag)").main
    assertRowsMatch(out, Seq(
      Row("Shoes", "alpha", "gamma", "Beta", "gamma"),
      Row("Socks", "b", "", "b", null),
      Row("Pants", "", "", null, null)))
  }

  test("string min/max compare case-insensitively, return original (Min.java:49)") {
    val out = PivotOps.pivotConfig(df, "Product", "Quarter=Q1,Q2",
      "mn: min(Tag), mx: max(Tag)").main
    val shoes = out.filter($"Product" === "Shoes").head()
    assert(shoes.getString(1) == "alpha") // 'alpha' < 'Beta' case-insensitively
    assert(shoes.getString(3) == "Beta")
  }

  test("sumofsquares of large ints accumulates in double (no overflow)") {
    val out = PivotOps.pivotConfig(df, "Product", "Quarter=Q1,Q2",
      "sq: sumofsquares(Sales), csq: correctedsumofsquares(Sales)").main
    val shoes = out.filter($"Product" === "Shoes").head()
    assert(shoes.getDouble(1) == 2.0 * math.pow(2000000000.0, 2))
    // all-null cell: sumofsquares -> 0.0, corrected -> NaN (SumOfSquares.java:75-79,
    // CorrectedSumOfSquares.java:87-93)
    val socks = out.filter($"Product" === "Socks").head()
    assert(socks.getDouble(1) == 0.0)
    assert(socks.getDouble(3).isNaN)
  }

  test("decimal aggregate inputs (graft extension): exact widened sum, double avg") {
    val d = Seq(("Q1", "1.10"), ("Q1", "2.20"), ("Q2", "0.30"))
      .toDF("Quarter", "ds")
      .selectExpr("Quarter", "CAST(ds AS DECIMAL(10,2)) AS d")
    val out = PivotOps.pivotConfig(d, "Quarter", "Quarter=Q1,Q2",
      "s: sum(d), a: avg(d)").main
    val schema = out.schema
    assert(schema("Q1_s").dataType == DecimalType(20, 2)) // Spark widened sum
    assert(schema("Q1_a").dataType == DoubleType)
    val q1 = out.filter($"Quarter" === "Q1").head()
    assert(q1.getDecimal(1) == new java.math.BigDecimal("3.30"))
    assert(q1.getDouble(3) == (1.1 + 2.2) / 2)
    // date/timestamp still rejected for arithmetic aggregates
    val ex = intercept[IllegalArgumentException] {
      PivotOps.pivotConfig(
        Seq(("a", java.sql.Date.valueOf("2024-01-01"))).toDF("k", "dt"),
        "k", "k=a", "s: sum(dt)")
    }
    assert(ex.getMessage.contains("not numeric"))
  }

  test("null pivot value stringifies to \"null\" and can match a declared value (Pivot.java:337,347)") {
    val d = Seq(("a", Some("x")), ("b", None), ("c", None)).toDF("k", "v")
    val out = PivotOps.pivotConfig(d, "k", "v=x,null", "c: count(*)").main
    assertRowsMatch(out, Seq(Row("a", 1, 0), Row("b", 0, 1), Row("c", 0, 1)))
  }

  test("off-list value containing '_' does not collide into a declared cell (Pivot.java:330-353)") {
    // c1="a_b", c2="c": joined key "a_b_c" would collide with declared cell
    // (a, b_c); per-column routing must send it to NO cell.
    val d = Seq(("g", "a", "b_c", 10), ("g", "a_b", "c", 999))
      .toDF("k", "c1", "c2", "v")
    val out = PivotOps.pivotConfig(d, "k", "c1=a;c2=b_c,c", "s: sum(v)").main
    assertRowsMatch(out, Seq(Row("g", 10, null)))
  }

  test("defaultValue with collect aggregates fills scalars, skips arrays") {
    val out = PivotOps.pivotConfig(df, "Product", "Quarter=Q1,Q2",
      "s: sum(Sales), cl: collectlist(Sales)", defaultValue = Some("0")).main
    val socks = out.filter($"Product" === "Socks").head()
    assert(socks.getInt(1) == 0) // filled
    assert(socks.getSeq[Any](4) == Seq()) // empty array, not filled
  }

  test("send-to-error-port routes groups with off-list values (Pivot.java:259-261)") {
    val res = PivotOps.pivotConfig(df, "Product", "Quarter=Q1,Q2",
      "s: sum(Sales)", onError = Some("send-to-error-port"))
    assertRowsMatch(res.main, Seq(
      Row("Shoes", -294967296, 5),
      Row("Socks", null, null)))
    assertRowsMatch(res.errors, Seq(
      Row("Pants", "For columns name: Quarter following models are missing QX")))
  }

  test("fail-pipeline raises on off-list values") {
    val res = PivotOps.pivotConfig(df, "Product", "Quarter=Q1,Q2",
      "s: sum(Sales)", onError = Some("fail-pipeline"))
    val e = intercept[Exception](res.main.collect())
    assert(e.getMessage.contains("Failing pipeline due to error"))
  }

  test("fail-pipeline passes when all values are declared") {
    val res = PivotOps.pivotConfig(df.filter($"Quarter" =!= "QX"),
      "Product", "Quarter=Q1,Q2", "c: count(*)",
      onError = Some("fail-pipeline"))
    assert(res.main.count() == 2)
  }

  test("lineage description matches the reference's FieldTransformOperation shape") {
    val spec = graft.pivot.PivotSpec.parse("Product,Brand", "Quarter=Q1,Q2",
      "s:sum(Sales), c:count(*)").toOption.get
    val (name, desc, in, out) = PivotOps.lineage(spec)
    assert(name == "Pivot Product, Brand")
    assert(in == Seq("Quarter", "Product", "Brand"))
    assert(out == Seq("Product", "Brand", "Q1_s", "Q2_s", "Q1_c", "Q2_c"))
    assert(desc == "Pivoted the dataset by using the input field(s) " +
      "Product, Brand as the pivot row, and the fields Quarter as the pivot " +
      "columns with s(Sales), c(*) as the aggregate function(s) to generate " +
      "the fields Product,Brand,Q1_s,Q2_s,Q1_c,Q2_c.")
  }

  test("pivotRollup rejects an invalid spec") {
    val bad = graft.pivot.PivotSpec.parse("Product", "Quarter=Q1,Q2",
      "s:sum(Tag)").toOption.get
    val e = intercept[IllegalArgumentException] {
      PivotOps.pivotRollup(df, bad)
    }
    assert(e.getMessage.startsWith("Invalid pivot spec:\n  "))
    assert(e.getMessage.contains("Field Tag of type string is not numeric"))
  }

  test("pivotWide lifts the 2-column cap; pivot keeps reference parity") {
    val spec3 = graft.pivot.PivotSpec.parse("Product",
      "Quarter=Q1,Q2;Tag=alpha,b;Flag=true,false", "c:count(*)").toOption.get
    val e = intercept[IllegalArgumentException] {
      PivotOps.pivot(df, spec3)
    }
    assert(e.getMessage.contains("Maximum allowed number of pivot columns is 2."))
    val wide = PivotOps.pivotWide(df, spec3).main
    // rows column + 2x2x2 declared cells
    assert(wide.columns.length == 1 + 8)
    assert(wide.columns.contains("Q1_alpha_true_c"))
    // cell routing still per-column: the (Q1, alpha, true) cell holds
    // exactly the one matching record
    val shoes = wide.filter($"Product" === "Shoes").head()
    assert(shoes.getAs[Long]("Q1_alpha_true_c") == 1L)
    assert(shoes.getAs[Long]("Q2_alpha_true_c") == 0L)
  }

  test("mergeCrossTabs: slice merge ≡ whole pivot, incl. string case order and empty cells") {
    val spec = graft.pivot.PivotSpec.parse("Product", "Quarter=Q1,Q2",
      "c:count(*), s:sum(Sales), mn:min(Tag), mx:max(Tag), " +
        "nn:countnulls(Sales), sq:sumofsquares(Sales), la:logicaland(Flag), lo:logicalor(Flag)")
      .toOption.get
    val whole = PivotOps.pivot(df, spec).main
      .collect().map(_.toString).sorted.toSeq
    // three deliberately lopsided disjoint slices (one is empty of Q1 rows,
    // one holds a group the others lack)
    val slices = Seq(
      df.filter($"Tag".isNull || $"Tag" < "b"),
      df.filter($"Tag" >= "b" && $"Tag" < "x"),
      df.filter($"Tag" >= "x"))
    val merged = PivotOps.mergeCrossTabs(
        slices.map(PivotOps.pivot(_, spec).main), spec)
      .collect().map(_.toString).sorted.toSeq
    assert(merged == whole, s"\nmerged: $merged\nwhole:  $whole")
  }

  test("mergeCrossTabs rejects non-decomposable aggregates, defaults, error modes") {
    val avgSpec = graft.pivot.PivotSpec.parse("Product", "Quarter=Q1,Q2",
      "a:avg(Sales)").toOption.get
    val e = intercept[IllegalArgumentException] {
      PivotOps.mergeCrossTabs(Seq(PivotOps.pivot(df, avgSpec).main), avgSpec)
    }
    assert(e.getMessage.contains("AVG"))
    val dvSpec = graft.pivot.PivotSpec.parse("Product", "Quarter=Q1,Q2",
      "c:count(*)", defaultValue = Some("0")).toOption.get
    assert(intercept[IllegalArgumentException] {
      PivotOps.mergeCrossTabs(Seq(PivotOps.pivot(df, dvSpec).main), dvSpec)
    }.getMessage.contains("defaultValue"))
  }

  test("merge associativity: result invariant under input partitioning (Pivot.java:186-196)") {
    val base = PivotOps.pivotConfig(df, "Product", "Quarter=Q1,Q2",
      "s: sum(Sales), cd: countdistinct(Tag), v: variance(Sales), cl: collectlist(Sales)").main
      .collect().map(_.toString).sorted.toSeq
    for (n <- Seq(1, 3, 7)) {
      val out = PivotOps.pivotConfig(df.repartition(n), "Product", "Quarter=Q1,Q2",
        "s: sum(Sales), cd: countdistinct(Tag), v: variance(Sales), cl: collectlist(Sales)").main
        .collect().map(_.toString).sorted.toSeq
      assert(out == base, s"partition count $n changed the result")
    }
  }
}
