package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable

/** One timed region on the driver thread. `parent` is 0 for a root span;
  * every span of one benchmark run carries the same `runId`. */
final case class Span(id: Int, name: String, parent: Int, runId: String,
                      startNs: Long, startMs: Long, var endNs: Long = 0L,
                      var endMs: Long = 0L) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans around the benchmark's calls into each layer. While a span is
  * open its id sits in the driver thread's local property [[Tracer.Prop]],
  * so every Spark job submitted inside it (also from threads the call
  * starts, which inherit local properties) is attributed to it by
  * [[EngineListener]]. Spans stay in memory until [[Tracer.json]]. */
final class Tracer(sc: SparkContext, val runId: String) extends Spans {
  private val buf = mutable.ArrayBuffer.empty[Span]
  private var current = 0

  def spans: Seq[Span] = buf.toSeq

  def apply[T](name: String)(body: => T): T = {
    val s = Span(buf.size + 1, name, current, runId,
      System.nanoTime(), System.currentTimeMillis())
    buf += s
    val prevProp = sc.getLocalProperty(Tracer.Prop)
    val prev = current
    current = s.id
    sc.setLocalProperty(Tracer.Prop, s.id.toString)
    try body
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      current = prev
      sc.setLocalProperty(Tracer.Prop, prevProp)
    }
  }

  /** Ids of `root` and every span below it. */
  def subtree(root: Int): Set[Int] = {
    val kids = buf.groupBy(_.parent)
    def go(id: Int): Seq[Int] = id +: kids.getOrElse(id, Nil).toSeq.flatMap(s => go(s.id))
    go(root).toSet
  }

  def json: String = buf.map { s =>
    s"""{"id":${s.id},"name":${Json.str(s.name)},"parent":${s.parent},""" +
      s""""run":${Json.str(s.runId)},"start_ns":${s.startNs},"end_ns":${s.endNs}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

object Tracer {
  val Prop = "perfbench.span"
}

/** Per-job totals gathered from task-end events. */
final class JobStats(val jobId: Int, val span: Int, val startMs: Long) {
  var endMs: Long = startMs
  var stages = 0
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var recordsRead = 0L
}

/** Engine-level view of every job, keyed to the span open when it was
  * submitted. Read only after [[org.apache.spark.perfbench.BusShim.drain]]. */
final class EngineListener extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobStats]
  private val stageJob = mutable.HashMap.empty[Int, JobStats]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Prop)))
      .map(_.toInt).getOrElse(0)
    val j = new JobStats(e.jobId, span, e.time)
    j.stages = e.stageIds.size
    jobs(e.jobId) = j
    e.stageIds.foreach(stageJob(_) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    stageJob.get(e.stageId).foreach { j =>
      j.tasks += 1
      if (m != null) {
        j.runMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        j.spillBytes += m.diskBytesSpilled
        j.recordsRead += m.inputMetrics.recordsRead
      }
    }
  }

  def jobsIn(spanIds: Set[Int]): Seq[JobStats] = synchronized {
    jobs.values.filter(j => spanIds.contains(j.span)).toSeq
  }
}

/** Engine totals for the jobs of one span subtree. */
final case class Engine(jobs: Int, stages: Int, tasks: Long, taskRunS: Double,
                        taskCpuS: Double, gcS: Double, slotUtil: Double,
                        driverS: Double, shuffleWriteMb: Double,
                        spillMb: Double, inputRows: Long)

object Engine {
  def of(js: Seq[JobStats], span: Span, cores: Int): Engine = {
    val wall = span.seconds
    val runS = js.map(_.runMs).sum / 1e3
    // time inside the span with no job running: union of job intervals
    val busyMs = js.map(j => (math.max(j.startMs, span.startMs), math.min(j.endMs, span.endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
      .foldLeft((0L, Long.MinValue)) { case ((acc, reach), (a, b)) =>
        if (b <= reach) (acc, reach)
        else (acc + b - math.max(a, reach), b)
      }._1
    Engine(js.size, js.map(_.stages).sum, js.map(_.tasks).sum, runS,
      js.map(_.cpuNs).sum / 1e9, js.map(_.gcMs).sum / 1e3,
      if (wall > 0) runS / (wall * cores) else 0.0,
      math.max(0.0, wall - busyMs / 1e3),
      js.map(_.shuffleWriteBytes).sum / 1e6, js.map(_.spillBytes).sum / 1e6,
      js.map(_.recordsRead).sum)
  }
}
