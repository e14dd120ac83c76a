package perfbench

import graft.SparkEntry
import graft.pivot.PivotOps
import graft.sources.{AvroSource, PipelineRunner}
import graft.sources.PipelineRunner.{SinkStage, SourceStage}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.functions._

import java.io.File
import java.nio.file.{Files, Paths}
import scala.util.{Failure, Success, Try}

/** Everything a workload needs at run time. `corrupt` makes the expected
  * result wrong on purpose, so the self-test can prove the check bites. */
final case class Ctx(spark: SparkSession, work: String, seed: Long, tiny: Boolean,
                     corrupt: Boolean) {
  def in(name: String): String = s"$work/input/$name"
  def out(name: String): String = s"$work/output/$name"
}

/** Opens a named span around a call into a layer (a no-op when untraced). */
trait Spans { def apply[T](name: String)(body: => T): T }

object NoSpans extends Spans {
  def apply[T](name: String)(body: => T): T = body
}

/** One operation of a pass: its result fingerprint, or why it failed. */
final case class Op(name: String, sig: Either[String, Sig])

object Op {
  def apply(name: String)(body: => Sig): Op = Op(name, Try(body) match {
    case Success(s) => Right(s)
    case Failure(e) => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
  })
}

trait Workload {
  def name: String

  /** Seeded inputs plus the reference result; timed as part of setup. */
  def setup(c: Ctx): Unit

  /** Rows the workload reads per pass, for `rows_per_s`. */
  def inputRows: Long

  /** One timed pass. */
  def pass(c: Ctx, sp: Spans): Seq[Op]

  /** Untimed content check of the last pass: per operation the
    * fingerprint every pass must reproduce, or why the output is wrong. */
  def check(c: Ctx): Map[String, Either[String, Sig]]

  /** `output_bytes`: what the last pass produced. */
  def outputBytes(c: Ctx, last: Seq[Op]): Long =
    last.flatMap(_.sig.toOption).map(_.bytes).sum

  /** Layer probes for the traced run, each timed alone. */
  def probes(c: Ctx, sp: Spans): Map[String, Double]
}

object Workloads {
  val names: Seq[String] =
    Seq("pipeline_csv_avro", "pivot_wide", "registry_mix")

  def apply(name: String, tiny: Boolean): Workload = name match {
    case "pipeline_csv_avro" =>
      if (tiny) new Pipeline(4000, 200) else new Pipeline(100000, 5000)
    case "pivot_wide" => if (tiny) new PivotWide(6000, 20, 50) else new PivotWide(50000, 200, 200)
    case "registry_mix" => new RegistryMix(14700, 2000)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (one of ${names.mkString(", ")})")
  }

  def seconds[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Median seconds of `reps` runs of `body`. */
  def medianSeconds(reps: Int)(body: => Unit): Double =
    Stats.median((1 to reps).map(_ => seconds(body)._2))

  /** Aggregate operators of an executed plan that run outside whole-stage
    * codegen (interpreted per row). */
  def interpretedAggs(df: DataFrame): Int = {
    def walk(p: SparkPlan, inCodegen: Boolean): Int = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan, inCodegen)
      case w: WholeStageCodegenExec => walk(w.child, inCodegen = true)
      case s: org.apache.spark.sql.execution.adaptive.QueryStageExec => walk(s.plan, inCodegen)
      case other =>
        val here = if (other.isInstanceOf[BaseAggregateExec] && !inCodegen) 1 else 0
        here + other.children.map(walk(_, inCodegen)).sum
    }
    walk(df.queryExecution.executedPlan, inCodegen = false)
  }

  /** Committed part files (not hidden, not markers) under `dir`. */
  def partFiles(dir: String): Seq[File] =
    Option(new File(dir).listFiles()).toSeq.flatten
      .filter(f => f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_"))

  private[perfbench] def write(path: String, text: String): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    Files.write(Paths.get(path), text.getBytes("UTF-8"))
  }

  /** Shared pivot-layer probes over one (source → pivot) call. */
  def pivotProbes(c: Ctx, sp: Spans, source: SourceStage, pivot: DataFrame => DataFrame,
                  sink: SinkStage): Map[String, Double] = {
    val reps = if (c.tiny) 1 else 2
    val decode = medianSeconds(reps) {
      sp("sources.readSource") { PipelineRunner.readSource(c.spark, source).queryExecution.toRdd.count() }
    }
    val plan = medianSeconds(reps) {
      sp("pivot.plan") { pivot(PipelineRunner.readSource(c.spark, source)).queryExecution.executedPlan }
    }
    val exec = medianSeconds(reps) {
      val df = pivot(PipelineRunner.readSource(c.spark, source))
      df.queryExecution.executedPlan
      sp("pivot.exec") { df.queryExecution.toRdd.count() }
    }
    val main = pivot(PipelineRunner.readSource(c.spark, source))
    val aggs = interpretedAggs(main)
    val cached = main.persist()
    cached.count()
    val write = medianSeconds(reps) { sp("sources.writeSink") { PipelineRunner.writeSink(cached, sink) } }
    cached.unpersist(blocking = true)
    Map("sources.decode_s" -> decode, "sources.write_s" -> write, "pivot.plan_s" -> plan,
      "pivot.exec_s" -> exec, "pivot.interpreted_aggs" -> aggs.toDouble)
  }
}

/** The paper's job: CSV source → Pivot (send-to-error-port, default 0) →
  * avro sink plus `_errors`, run through `PipelineRunner.run`. */
final class Pipeline(rows: Long, products: Long) extends Workload {
  val name = "pipeline_csv_avro"
  val inputRows: Long = rows
  private val aliases = Seq("Sum", "Avg", "Max")
  private var json = ""
  private var expected: (Cells, Long, Cells, Long) = _

  private def macros(c: Ctx) = Map("inputFile" -> c.in("sales_csv"), "outputDirectory" -> c.out("pivoted"))

  def setup(c: Ctx): Unit = {
    Gen.salesCsv(c.spark, c.in("sales_csv"), c.seed, rows, products)
    json = Gen.pipelineJson()
    Workloads.write(c.in("pipeline.json"), json)
    // reference: a plain groupBy over product × quarter × brand
    val src = c.spark.read.schema(Gen.SalesSchema).option("header", true).csv(c.in("sales_csv"))
    val onList = col("Brand").isin(Gen.Brands: _*) && col("Quarter").isin(Gen.Quarters: _*)
    val errors = src.filter(!onList).groupBy("Product").agg(concat(
      lit("For columns name: Brand following models are missing "),
      array_join(sort_array(collect_set(col("Brand"))), " ,")).as("__error"))
    val grouped = src.join(errors.select("Product"), Seq("Product"), "left_anti")
      .groupBy("Product", "Quarter", "Brand")
      .agg(sum("Sales").as("Sum"), avg("Sales").as("Avg"), max("Sales").as("Max"))
    val mainCells = Check.groupedCells(grouped, "Product", Seq("Quarter", "Brand"), aliases)
    val errCells = Check.wideCells(errors, "Product", Set.empty)._2
    val allProducts = src.select("Product").distinct().count()
    expected = (mainCells, allProducts - errCells.cells, errCells, errCells.cells)
  }

  def pass(c: Ctx, sp: Spans): Seq[Op] = Seq(Op(name) {
    sp("sources.PipelineRunner.run") { PipelineRunner.run(c.spark, json, macros(c)) }
    val main = Workloads.partFiles(c.out("pivoted"))
    val errs = Workloads.partFiles(c.out("pivoted_errors"))
    require(new File(c.out("pivoted"), "_SUCCESS").exists() &&
      new File(c.out("pivoted_errors"), "_SUCCESS").exists(), "sink not committed")
    Sig(main.size, errs.size, 0)
  })

  def check(c: Ctx): Map[String, Either[String, Sig]] = Map(name -> Try {
    val main = AvroSource.read(c.spark, c.out("pivoted"))
    val errors = AvroSource.read(c.spark, c.out("pivoted_errors"))
    // empty cells hold the default value 0
    val (mainSig, mainCells) = Check.wideCells(main, "Product", Set("0", "0.0"))
    val (errSig, errCells) = Check.wideCells(errors, "Product", Set.empty)
    val got = (mainCells, mainSig.rows, errCells, errSig.rows)
    val (ec, er, ee, en) = expected
    val want = (if (c.corrupt) ec.copy(sum = ec.sum + 1) else ec, er, ee, en)
    if (got != want) Left(s"sink content $got, reference $want")
    else Right(Sig(Workloads.partFiles(c.out("pivoted")).size,
      Workloads.partFiles(c.out("pivoted_errors")).size, 0))
  }.fold(e => Left(e.toString), identity))

  // Committed bytes can differ by a few varint bytes between passes (row
  // order inside avro blocks), so a pass is compared on its file layout
  // and the bytes are read off the sink directories.
  override def outputBytes(c: Ctx, last: Seq[Op]): Long =
    Seq("pivoted", "pivoted_errors").flatMap(d => Workloads.partFiles(c.out(d))).map(_.length).sum

  def probes(c: Ctx, sp: Spans): Map[String, Double] = {
    val p = PipelineRunner.parse(json, macros(c))
    Workloads.pivotProbes(c, sp, p.source,
      df => PivotOps.pivotConfig(df, p.pivot.pivotRow, p.pivot.pivotColumns,
        p.pivot.aggregates, p.pivot.fieldAliases, p.pivot.defaultValue,
        p.pivot.onError, p.pivot.numPartitions).main,
      p.sink.copy(path = c.out("probe_sink")))
  }
}

/** `PivotOps.pivotConfig` in skip-error mode over a parquet table: `keys`
  * row keys, `values` declared pivot values × sum/count/max of `v` cells,
  * consumed by executing its physical plan (`toRdd`). */
final class PivotWide(rows: Long, keys: Int, values: Int) extends Workload {
  val name = "pivot_wide"
  val inputRows: Long = rows
  private val declared = (0 until values).map(_.toString)
  private val aliases = Seq("s", "c", "m")
  private var expected: (Cells, Long) = _

  private def source(c: Ctx) = SourceStage(c.in(name), "parquet", ",", skipHeader = false, None)

  private def pivot(df: DataFrame): DataFrame =
    PivotOps.pivotConfig(df, "rk", s"pk=${declared.mkString(",")}", "s:sum(v), c:count(v), m:max(v)").main

  def setup(c: Ctx): Unit = {
    Gen.wideParquet(c.spark, c.in(name), c.seed, rows, keys, values)
    // reference: a plain groupBy over row key × pivot key
    val src = c.spark.read.parquet(c.in(name))
    val grouped = src.filter(col("pk").cast("string").isin(declared: _*))
      .groupBy("rk", "pk").agg(sum("v").as("s"), count("v").as("c"), max("v").as("m"))
    expected = (Check.groupedCells(grouped, "rk", Seq("pk"), aliases),
      src.select("rk").distinct().count())
  }

  def pass(c: Ctx, sp: Spans): Seq[Op] = Seq(Op(name) {
    val df = sp("sources.readSource") { PipelineRunner.readSource(c.spark, source(c)) }
    val main = sp("pivot.pivotConfig") { pivot(df) }
    sp("pivot.execute") { Check.signature(main) }
  })

  def check(c: Ctx): Map[String, Either[String, Sig]] = Map(name -> Try {
    val main = pivot(PipelineRunner.readSource(c.spark, source(c)))
    // empty cells: null sums/maxima, zero counts
    val (sig, cells) = Check.wideCells(main, "rk", Set("0"))
    val got = (cells, sig.rows)
    val (ec, er) = expected
    val want = (if (c.corrupt) ec.copy(sum = ec.sum + 1) else ec, er)
    if (got != want) Left(s"pivot cells $got, reference $want")
    else Right(sig)
  }.fold(e => Left(e.toString), identity))

  def probes(c: Ctx, sp: Spans): Map[String, Double] =
    Workloads.pivotProbes(c, sp, source(c), pivot, SinkStage(c.out("probe_sink"), "avro"))
}

object RegistryMix {
  val TableSeed = 42L
  val Mix: Seq[String] = Seq("graph_kcore", "graph_triangles")
}

/** Registry queries through `SparkEntry.queries` over a `lineitem` table
  * shaped like the library's sf0.01 test table. The table always comes from seed 42,
  * whatever the run's seed: k-core's peel-round count, and so its job
  * count, depends on the graph, and a seed-dependent graph would make the
  * runs of this workload disagree. Checked by run.py with DuckDB. */
final class RegistryMix(orders: Long, parts: Long) extends Workload {
  val name = "registry_mix"
  def mix: Seq[String] = RegistryMix.Mix
  var inputRows = 0L

  def setup(c: Ctx): Unit = {
    Gen.lineitem(c.spark, s"${c.in("tables")}/lineitem.parquet", RegistryMix.TableSeed, orders, parts)
    inputRows = c.spark.read.parquet(s"${c.in("tables")}/lineitem.parquet").count()
  }

  def pass(c: Ctx, sp: Spans): Seq[Op] = mix.map { q =>
    Op(q)(sp(s"queries.$q") { Check.signature(SparkEntry.queries(q)(c.spark, c.in("tables"))) })
  }

  /** Writes each query's result through the sources layer's parquet sink
    * for the DuckDB oracle and fingerprints what was written. */
  def check(c: Ctx): Map[String, Either[String, Sig]] = {
    val oracle = mix.map(q => s"${Json.str(q)}:${Json.str(SparkEntry.oracleSql(q))}")
    Workloads.write(c.out("oracle/oracle_sql.json"), oracle.mkString("{", ",\n", "}\n"))
    mix.map { q =>
      q -> Try {
        PipelineRunner.writeSink(SparkEntry.queries(q)(c.spark, c.in("tables")),
          SinkStage(c.out(s"oracle/$q"), "parquet"))
        val s = Check.signature(c.spark.read.parquet(c.out(s"oracle/$q")))
        if (c.corrupt && q == mix.head) s.copy(hash = s.hash + 1) else s
      }.fold(e => Left(e.toString), Right(_))
    }.toMap
  }

  def probes(c: Ctx, sp: Spans): Map[String, Double] = {
    val reps = if (c.tiny) 1 else 2
    val decode = Workloads.medianSeconds(reps) {
      sp("sources.readSource") {
        PipelineRunner.readSource(c.spark, SourceStage(s"${c.in("tables")}/lineitem.parquet", "parquet",
          ",", skipHeader = false, None)).queryExecution.toRdd.count()
      }
    }
    val results = mix.map(q => SparkEntry.queries(q)(c.spark, c.in("tables")).persist())
    results.foreach(_.count())
    val write = Workloads.medianSeconds(reps) {
      sp("sources.writeSink") {
        mix.zip(results).foreach { case (q, r) =>
          PipelineRunner.writeSink(r, SinkStage(c.out(s"probe_sink/$q"), "parquet"))
        }
      }
    }
    results.foreach(_.unpersist(blocking = true))
    Map("sources.decode_s" -> decode, "sources.write_s" -> write)
  }
}
