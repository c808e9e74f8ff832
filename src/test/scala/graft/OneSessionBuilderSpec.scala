package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Every main runs on [[GraftSession]]: a second `SparkSession.builder`
  * in the program is how the mains' session settings drifted apart (one
  * checked a different scan split from the one the bench timed). Test
  * sessions are exempt; they build their own on purpose.
  */
class OneSessionBuilderSpec extends AnyFunSuite {

  /** The code part of each line: block comments, scaladoc and `//`
    * comments are dropped (string literals are not parsed). */
  private def codeLines(file: Path): Seq[(Int, String)] = {
    var inBlock = false
    Files.readAllLines(file).asScala.toSeq.zipWithIndex.map { case (line, i) =>
      val code = new StringBuilder
      var rest = line
      while (rest.nonEmpty) {
        if (inBlock) {
          val end = rest.indexOf("*/")
          if (end < 0) rest = "" else { inBlock = false; rest = rest.substring(end + 2) }
        } else {
          val (block, comment) = (rest.indexOf("/*"), rest.indexOf("//"))
          if (comment >= 0 && (block < 0 || comment < block)) {
            code ++= rest.substring(0, comment); rest = ""
          } else if (block >= 0) {
            code ++= rest.substring(0, block); inBlock = true; rest = rest.substring(block + 2)
          } else { code ++= rest; rest = "" }
        }
      }
      (i + 1, code.toString)
    }
  }

  test("src/main has exactly one SparkSession.builder call site, in GraftSession") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root (no $root)")
    val walk = Files.walk(root)
    val sites = try walk.iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq.sorted
      .flatMap(f => codeLines(f).collect {
        case (n, code) if code.contains("SparkSession.builder") => (root.relativize(f).toString, n)
      })
    finally walk.close()
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
