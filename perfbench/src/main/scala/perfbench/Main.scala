package perfbench

import org.apache.spark.perfbench.BusShim
import org.apache.spark.sql.SparkSession

import java.io.File
import java.nio.file.{Files, Paths}
import scala.io.Source

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

/** One benchmark run of one workload: set up several times (reporting the
  * median), time passes for the given seconds, check every output, and
  * write the result JSON. With `--trace 1` the time is split between
  * untraced passes, traced passes and layer probes, and the per-layer
  * metrics are reported instead of the end-to-end ones.
  *
  * Usage: perfbench.Main --workload <name> --seed <n> --seconds <s>
  *   --trace <0|1> --work <dir> --out <result.json> [--trace-out <spans.json>]
  *   [--scale tiny] [--corrupt-expected 1] [--source-id <id>] */
object Main {
  val Cores = 4
  val Master = s"local[$Cores]"
  private val MinPasses = 3
  // the first passes run up to 2x slower while the JIT compiles
  private val WarmupPasses = 2

  final case class Pass(ops: Seq[Op], wallS: Double, span: Option[Span])

  def session(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(Master)
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def stop(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  private def peakRssMb(): Double =
    Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  private def dirBytes(f: File): Long =
    if (f.isFile) f.length() else Option(f.listFiles()).toSeq.flatten.map(dirBytes).sum

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val wlName = a("workload")
    val seed = a("seed").toLong
    val budget = a("seconds").toDouble
    val trace = a.getOrElse("trace", "0") == "1"
    val tiny = a.get("scale").contains("tiny")
    val corrupt = a.get("corrupt-expected").contains("1")
    val work = new File(a("work")).getAbsolutePath
    val wl = Workloads(wlName, tiny)
    val mainStart = System.currentTimeMillis()
    val jvmStartS = (mainStart - java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    // ---- set-up: session, inputs and reference several times (the
    // last session is kept), then warm-up passes ------------------------
    val rounds = if (tiny) 1 else 3
    var spark: SparkSession = null
    val sessionS = Seq.newBuilder[Double]
    val roundS = (1 to rounds).map { _ =>
      Workloads.seconds {
        if (spark != null) stop(spark)
        sessionS += Workloads.seconds { spark = session(work) }._2
        wl.setup(Ctx(spark, work, seed, tiny, corrupt))
      }._2
    }
    val warmS = Workloads.seconds {
      (1 to (if (tiny) 1 else WarmupPasses)).foreach(_ => wl.pass(Ctx(spark, work, seed, tiny, corrupt), NoSpans))
    }._2
    val c = Ctx(spark, work, seed, tiny, corrupt)
    val sc = spark.sparkContext

    def measure(seconds: Double, sp: Option[Tracer], minPasses: Int): Seq[Pass] = {
      val t0 = System.nanoTime()
      val out = Seq.newBuilder[Pass]
      var n = 0
      while (n < minPasses || (System.nanoTime() - t0) / 1e9 < seconds) {
        val (ops, s) = Workloads.seconds(sp match {
          case Some(t) => t("pass") { wl.pass(c, t) }
          case None => wl.pass(c, NoSpans)
        })
        out += Pass(ops, s, sp.map(_.spans.filter(_.name == "pass").last))
        n += 1
      }
      out.result()
    }

    // ---- timed passes ------------------------------------------------
    val runId = s"$wlName-$seed-${System.currentTimeMillis()}"
    // a traced run splits its time between untraced passes, traced passes
    // and probes, with fewer passes each, to last about as long
    val untraced = measure(if (trace) budget / 3 else budget, None, if (trace) 2 else MinPasses)
    val (tracer, listener, traced) =
      if (!trace) (None, None, Nil)
      else {
        val t = new Tracer(sc, runId)
        val l = new EngineListener
        sc.addSparkListener(l)
        (Some(t), Some(l), measure(budget / 3, Some(t), 2))
      }

    // ---- output checks (untimed) ----------------------------------------
    val measuredAt = System.currentTimeMillis()
    val expected = wl.check(c)
    val checkS = (System.currentTimeMillis() - measuredAt) / 1e3
    val passes = untraced ++ traced
    val ops = passes.flatMap(_.ops)
    def ok(o: Op): Boolean = o.sig.isRight && expected.get(o.name).exists(e => e.isRight && e == o.sig)
    val failed = ops.count(o => !ok(o))
    val errors = (expected.values.collect { case Left(e) => e } ++
      ops.collect { case Op(n, Left(e)) => s"$n: $e" }).toSeq.distinct
    // per operation, the passes that stand or fall with run.py's oracle check
    val opsOk = ops.groupBy(_.name).map { case (n, os) => n -> os.count(ok) }

    val wall = Stats.median(untraced.map(_.wallS))
    val metrics: Seq[(String, Double, String)] =
      if (!trace) Seq(
        ("wall_s", wall, "s"),
        ("rows_per_s", wl.inputRows / wall, "rows/s"),
        ("setup_s", Stats.median(roundS) + warmS, "s"),
        ("ok_frac", 1.0 - failed.toDouble / ops.size, "ratio"),
        ("output_bytes", wl.outputBytes(c, untraced.last.ops).toDouble, "bytes"))
      else layerMetrics(c, wl, tracer.get, listener.get, untraced, traced)

    val fingerprint = Json.obj(Seq(
      "workload" -> Json.str(wlName), "seed" -> seed.toString, "trace" -> (if (trace) "1" else "0"),
      "scale" -> Json.str(if (tiny) "tiny" else "full"),
      "nproc" -> Runtime.getRuntime.availableProcessors.toString,
      "master" -> Json.str(Master), "shuffle_partitions" -> Cores.toString,
      "heap_max_mb" -> (Runtime.getRuntime.maxMemory / (1 << 20)).toString,
      "spark" -> Json.str(spark.version), "scala" -> Json.str(util.Properties.versionNumberString),
      "java" -> Json.str(sys.props("java.version")),
      "source_id" -> Json.str(a.getOrElse("source-id", "unknown")),
      "input_rows" -> wl.inputRows.toString,
      "input_bytes" -> dirBytes(new File(s"$work/input")).toString,
      "setup_rounds" -> rounds.toString, "setup_round_s" -> roundS.map(Json.num).mkString("[", ",", "]"),
      "session_s" -> sessionS.result().map(Json.num).mkString("[", ",", "]"),
      "warmup_s" -> Json.num(warmS), "jvm_start_s" -> Json.num(jvmStartS),
      "check_s" -> Json.num(checkS),
      "main_s" -> Json.num((System.currentTimeMillis() - mainStart) / 1e3),
      "passes_timed" -> untraced.size.toString, "passes_traced" -> traced.size.toString,
      "wall_s_each" -> untraced.map(p => Json.num(p.wallS)).mkString("[", ",", "]")))
    val result = Json.obj(Seq(
      "correct" -> (failed == 0).toString,
      "attempted" -> ops.size.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.map { case (n, v, u) =>
        n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      }),
      "fingerprint" -> fingerprint,
      "ops_ok" -> Json.obj(opsOk.toSeq.sortBy(_._1).map { case (n, k) => n -> k.toString }),
      "errors" -> errors.map(Json.str).mkString("[", ",", "]")))
    Workloads.write(a("out"), result + "\n")
    for (t <- tracer; p <- a.get("trace-out")) Workloads.write(p, t.json)
    stop(spark)
  }

  /** Per-layer metrics from the traced passes and probes. Layers a
    * workload does not call report 0. */
  private def layerMetrics(c: Ctx, wl: Workload, t: Tracer, l: EngineListener,
                           untraced: Seq[Pass], traced: Seq[Pass]): Seq[(String, Double, String)] = {
    val probes = t("probes") { wl.probes(c, t) }
    BusShim.drain(c.spark.sparkContext)
    val passSpans = traced.flatMap(_.span)
    val engines = passSpans.map(s => Engine.of(l.jobsIn(t.subtree(s.id)), s, Cores))
    def med(f: Engine => Double): Double = Stats.median(engines.map(f))
    val byId = t.spans.map(s => s.id -> s).toMap
    def under(s: Span, root: Span): Boolean =
      s.id == root.id || (s.parent != 0 && under(byId(s.parent), root))
    // jobs submitted inside spans whose name starts with `prefix`, per pass
    def jobsUnder(prefix: String, root: Span): Seq[JobStats] =
      t.spans.filter(s => s.name.startsWith(prefix) && under(s, root))
        .flatMap(s => l.jobsIn(t.subtree(s.id))).distinct
    val execCpu = t.spans.filter(_.name == "pivot.exec")
      .map(s => l.jobsIn(t.subtree(s.id)).map(_.cpuNs).sum / 1e9)
    val queries: Seq[(String, Double, String)] = wl match {
      case r: RegistryMix => r.mix.flatMap { q =>
        val spans = t.spans.filter(_.name == s"queries.$q")
        val es = spans.map(s => Engine.of(l.jobsIn(t.subtree(s.id)), s, Cores))
        Seq((s"queries.$q.wall_s", Stats.median(spans.map(_.seconds)), "s"),
          (s"queries.$q.jobs", Stats.median(es.map(_.jobs.toDouble)), "count"),
          (s"queries.$q.slot_util", Stats.median(es.map(_.slotUtil)), "ratio"))
      }
      case _ => RegistryMix.Mix.flatMap(q => Seq(
        (s"queries.$q.wall_s", 0.0, "s"), (s"queries.$q.jobs", 0.0, "count"),
        (s"queries.$q.slot_util", 0.0, "ratio")))
    }
    Seq(
      ("sources.decode_s", probes.getOrElse("sources.decode_s", 0.0), "s"),
      ("sources.write_s", probes.getOrElse("sources.write_s", 0.0), "s"),
      ("sources.rows_read_ratio", med(_.inputRows.toDouble) / wl.inputRows, "ratio"),
      ("sources.jobs", Stats.median(passSpans.map(s => jobsUnder("sources.", s).size.toDouble)), "count"),
      ("pivot.plan_s", probes.getOrElse("pivot.plan_s", 0.0), "s"),
      ("pivot.exec_s", probes.getOrElse("pivot.exec_s", 0.0), "s"),
      ("pivot.task_cpu_s", Stats.median(execCpu), "s"),
      ("pivot.interpreted_aggs", probes.getOrElse("pivot.interpreted_aggs", 0.0), "count")
    ) ++ queries ++ Seq(
      ("engine.jobs", med(_.jobs.toDouble), "count"),
      ("engine.stages", med(_.stages.toDouble), "count"),
      ("engine.tasks", med(_.tasks.toDouble), "count"),
      ("engine.task_run_s", med(_.taskRunS), "s"),
      ("engine.task_cpu_s", med(_.taskCpuS), "s"),
      ("engine.gc_s", med(_.gcS), "s"),
      ("engine.slot_util", med(_.slotUtil), "ratio"),
      ("engine.driver_s", med(_.driverS), "s"),
      ("engine.shuffle_write_mb", med(_.shuffleWriteMb), "MB"),
      ("engine.spill_mb", med(_.spillMb), "MB"),
      ("engine.input_rows", med(_.inputRows.toDouble), "rows"),
      ("trace.overhead_s",
        Stats.median(traced.map(_.wallS)) - Stats.median(untraced.map(_.wallS)), "s"),
      // varies by a fifth between runs, so it is not an end-to-end metric
      ("peak_rss_mb", peakRssMb(), "MB"))
  }
}
