package graft

/** Dev utility: dump `.explain("formatted")` of named registry queries
  * to files, for before/after plan comparisons (plans/r15/, plans/r16/).
  *
  * `sbt "runMain graft.PlanDump <outDir> <suffix> <q1,q2,...>"`
  * writes `<outDir>/<name>_<suffix>.txt` per query, planned at the
  * bench's sf/core configuration (SPARK_GRAFT_SF_DIR /
  * SPARK_GRAFT_CPUS) so Exchange counts match what the bench runs.
  * The text is [[normalize]]d, so `diff` of two dumps of an unchanged
  * plan is empty. */
object PlanDump {

  /** `plan` with the ids that differ from run to run blanked:
    * expression ids (`l_orderkey#123L` → `l_orderkey#`), exchange plan
    * ids, the RDD id and call site of checkpointed scans
    * (`MapPartitionsRDD[24] at materialize at Graph.scala:426` → `RDD`),
    * lambda class names, object hashes (`TopKAggregator@352ad7fe`) and
    * scratch directories.
    *
    * A query with several distinct aggregates plans an `Expand` whose
    * groups Spark orders by hash, so the group order, the column order
    * and the `gid` numbers of every line of that rewrite vary from run
    * to run. On the lines that name `gid#`, the gid numbers are blanked
    * (`gid# = ?`, and the gid literal of each `Expand` projection) and
    * the elements of every `[...]` list and `hashpartitioning(...)` are
    * sorted. */
  def normalize(plan: String): String = plan
    .replaceAll("#\\d+L?", "#")
    .replaceAll("\\[plan_id=\\d+\\]", "[plan_id=#]")
    .replaceAll("\\w*RDD\\[\\d+\\] at \\S+ at \\S+:\\d+", "RDD")
    .replaceAll("\\$\\$Lambda[$\\w/]*", "\\$\\$Lambda")
    .replaceAll("@\\p{XDigit}{4,}\\b", "@")
    .replaceAll("graft_scratch_\\w+", "graft_scratch")
    .split("\n", -1)
    .map(l => if (l.contains("gid#")) groupsInOrder(l) else l)
    .mkString("\n")

  private def groupsInOrder(line: String): String = {
    val expand = "Arguments: [["
    val blanked =
      if (!line.startsWith(expand)) line
      else split(line.stripPrefix("Arguments: ")) match {
        case Seq(rows, out) =>
          val gid = split(inner(out)).indexOf("gid#")
          val rs = split(inner(rows)).map { r =>
            val es = split(inner(r))
            (if (gid >= 0 && gid < es.length) es.updated(gid, "?") else es)
              .mkString("[", ", ", "]")
          }
          s"Arguments: ${rs.mkString("[", ", ", "]")}, $out"
        case _ => line
      }
    sortLists(blanked.replaceAll("gid# = \\d+", "gid# = ?"))
  }

  private def inner(list: String): String = list.substring(1, list.length - 1)

  /** Index of the bracket closing the one at `open`, or -1. */
  private def closing(s: String, open: Int): Int = {
    var depth = 0
    var i = open
    while (i < s.length) {
      s(i) match {
        case '(' | '[' => depth += 1
        case ')' | ']' =>
          depth -= 1
          if (depth == 0) return i
        case _ =>
      }
      i += 1
    }
    -1
  }

  /** Top-level comma-separated elements of `s`, trimmed. */
  private def split(s: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var depth = 0
    var start = 0
    for (i <- s.indices) s(i) match {
      case '(' | '[' => depth += 1
      case ')' | ']' => depth -= 1
      case ',' if depth == 0 =>
        out += s.substring(start, i).trim
        start = i + 1
      case _ =>
    }
    (out += s.substring(start).trim).result()
  }

  /** `s` with the elements of every `[...]` list and of every
    * `hashpartitioning(...)` sorted, inner lists first. */
  private def sortLists(s: String): String = {
    val hp = "hashpartitioning("
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      val open =
        if (s(i) == '[') i
        else if (s.startsWith(hp, i)) i + hp.length - 1
        else -1
      val close = if (open >= 0) closing(s, open) else -1
      if (close < 0) { sb += s(i); i += 1 }
      else {
        sb ++= s.substring(i, open + 1)
        sb ++= split(s.substring(open + 1, close)).map(sortLists).sorted
          .mkString(", ")
        sb += s(close)
        i = close + 1
      }
    }
    sb.toString
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump <outDir> <suffix> <q1,q2,...>")
    val outDir = java.nio.file.Paths.get(args(0))
    val suffix = args(1)
    val names = args(2).split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.builder(cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(outDir)
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      // Iterative ops materialize intermediates while the DataFrame is
      // CONSTRUCTED, so building `df` above already ran the loop jobs;
      // the formatted plan below is the final composed query over the
      // declared (checkpointed) layouts — exactly what executes when
      // the bench counts it.
      val plan = normalize(df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
      java.nio.file.Files.write(outDir.resolve(s"${name}_$suffix.txt"),
        plan.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(s"wrote ${name}_$suffix.txt (${plan.length} chars)")
    }
    spark.stop()
  }
}
