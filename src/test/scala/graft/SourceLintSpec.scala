package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source lint, Spark-free: driver plumbing has one home each, so a
  * copy of it cannot creep back in. Sessions are built only by
  * [[Sessions.local]]; driver fan-out goes through
  * [[graft.operators.Par.all]], never the global execution context. */
class SourceLintSpec extends AnyFunSuite {
  // split literals so this file does not match its own patterns
  private val builder = "SparkSession" + ".builder"
  private val globalEc = "ExecutionContext" + ".Implicits.global"

  private def scalaFiles(root: String): Seq[java.io.File] = {
    val dir = new java.io.File(root)
    assert(dir.isDirectory, s"run from the repository root: no $root")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.sortBy(_.getName).flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Seq.empty
    walk(dir)
  }

  private def offenders(root: String, pattern: String,
      allowed: java.io.File => Boolean = _ => false): Seq[String] =
    scalaFiles(root).filterNot(allowed).flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().zipWithIndex.collect {
        case (line, i) if line.contains(pattern) => s"${f.getPath}:${i + 1}"
      }.toList
      finally src.close()
    }

  test("SparkSession builders live only in Sessions.scala") {
    val hits = offenders("src", builder,
      f => f.getPath.endsWith("src/main/scala/graft/Sessions.scala"))
    assert(hits.isEmpty, s"build sessions with graft.Sessions.local: $hits")
  }

  test("no driver fan-out on the global execution context in main code") {
    val hits = offenders("src/main", globalEc)
    assert(hits.isEmpty, s"fan out with graft.operators.Par.all: $hits")
  }
}
