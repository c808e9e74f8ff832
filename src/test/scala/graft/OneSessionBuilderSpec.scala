package graft

import graft.SourceCode.{codeLines, scalaFiles}
import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** Every main runs on [[GraftSession]]: a second `SparkSession.builder`
  * in the program is how the mains' session settings drifted apart (one
  * checked a different scan split from the one the bench timed). Test
  * sessions are exempt; they build their own on purpose.
  */
class OneSessionBuilderSpec extends AnyFunSuite {

  test("src/main has exactly one SparkSession.builder call site, in GraftSession") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root (no $root)")
    val sites = scalaFiles(root)
      .flatMap(f => codeLines(f).collect {
        case (n, code) if code.contains("SparkSession.builder") => (root.relativize(f).toString, n)
      })
    val (own, other) = sites.partition(_._1 == "graft/GraftSession.scala")
    assert(other.isEmpty,
      s"builder call sites outside GraftSession: ${other.map { case (f, n) => s"$f:$n" }}")
    assert(own.size == 1, s"GraftSession builder call sites: $own")
  }

  test("the comment filter skips scaladoc, block and line comments only") {
    val f = Files.createTempFile("builder-scan", ".scala")
    try {
      Files.writeString(f, Seq(
        "/** SparkSession.builder() in scaladoc",
        "  * SparkSession.builder() */ val a = SparkSession.builder()",
        "// SparkSession.builder()",
        "val b = 1 // SparkSession.builder()",
        "val c = SparkSession.builder() /* note */").mkString("\n"))
      assert(codeLines(f).collect { case (n, c) if c.contains("SparkSession.builder") => n }
        == Seq(2, 5))
    } finally Files.delete(f)
  }
}
