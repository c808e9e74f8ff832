package graft

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** Source scans for the specs that guard how `src/main` is written. */
object SourceCode {
  /** The code part of each line: block comments, scaladoc and `//`
    * comments are dropped (string literals are not parsed). */
  def codeLines(file: Path): Seq[(Int, String)] = {
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

  /** Every `.scala` file under `root`, sorted. */
  def scalaFiles(root: Path): Seq[Path] = {
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq.sorted
    finally walk.close()
  }
}
