package graft

import java.io.File

import org.scalatest.funsuite.AnyFunSuite

/** Source scans of the library (`src/main`), next to MaterializeSpec's
  * `localCheckpoint` scan: guards that hold over the text of the code. */
class SourceScanSpec extends AnyFunSuite {

  /** Public names that nothing else in `src/main` calls, on purpose. */
  private val unreferencedOnPurpose = Map(
    "Bench" -> "a main, run by name (`runMain graft.Bench`)",
    "Demo" -> "a main, run by name (`runMain graft.Demo`)",
    "Soak" -> "a main, run by name (`runMain graft.Soak`)",
    "incrementalMinhashPairs" ->
      "the no-bloom reference the bloom-tier spec compares the registered path to",
    "computeSeq" -> "MinHashOph's scalar reference for its codegen expression",
    "undirected" -> "wraps a raw frame as a typed undirected edge list (Graph.directed's twin)",
    "Observe" -> "holds summary, kept until the work collector folds it",
    "summary" -> "Observe.summary, kept until the work collector folds it")

  private def files(d: File): Seq[File] =
    Option(d.listFiles()).toSeq.flatten.sortBy(_.getPath).flatMap(f =>
      if (f.isDirectory) files(f) else Seq(f))

  /** The file's lines, with every line that STARTS a comment or
    * continues a scaladoc blanked. Only line-leading comments go: a
    * block-comment opener inside a string literal (a file glob ending
    * in slash-star) would make a block-comment strip eat code. */
  private def codeLines(f: File): Seq[String] = {
    val src = scala.io.Source.fromFile(f, "UTF-8")
    try src.getLines().map { l =>
      val t = l.trim
      if (t.startsWith("//") || t.startsWith("/*") || t.startsWith("*")) ""
      else l
    }.toList finally src.close()
  }

  test("every public def and object in the library is referenced by the library") {
    val main = files(new File("src/main")).filter(_.getName.endsWith(".scala"))
    assert(main.exists(_.getName == "StreamingOps.scala"))
    val code = main.map(f => f -> codeLines(f))
    // no private/protected/override modifier: those are called through
    // their owner or supertype, not by name
    val publicDef =
      """^\s*(?:(?:final|implicit|lazy|case|sealed|abstract)\s+)*(def|object)\s+(\w+)""".r
    val defs = for {
      (f, lines) <- code
      (l, i) <- lines.zipWithIndex
      m <- publicDef.findFirstMatchIn(l)
    } yield (m.group(2), s"${f.getPath}:${i + 1} ${m.group(1)} ${m.group(2)}")
    val uses = code.flatMap(_._2).flatMap("""\w+""".r.findAllIn(_))
      .groupBy(identity).view.mapValues(_.size).toMap
    val defCount = defs.groupBy(_._1).view.mapValues(_.size).toMap
    val unreferenced = defs.filter { case (name, _) =>
      uses.getOrElse(name, 0) <= defCount(name) &&
        !unreferencedOnPurpose.contains(name)
    }.map(_._2)
    assert(unreferenced.isEmpty,
      "public names only specs can reach; delete them or give them a " +
        s"registered caller:\n${unreferenced.mkString("\n")}")
    // an allowlist entry that is now referenced (or gone) is stale
    val stale = unreferencedOnPurpose.keySet.filter(n =>
      defCount.contains(n) && uses(n) > defCount(n) || !defCount.contains(n))
    assert(stale.isEmpty, s"stale allowlist entries: $stale")
  }
}
