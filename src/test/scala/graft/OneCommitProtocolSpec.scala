package graft

import graft.SourceCode.{codeLines, scalaFiles}
import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** Every store commits through `IndexManifest.rebuild`/`append`, and
  * concurrent driver work goes through [[Overlap]]: a second blocking
  * future pool, or a store clearing its own versions, is how the commit
  * order got copied into every operator file. `writeSpectralTables` is
  * the one store tail left on the primitives: its `nrow` witness must
  * land before any stats table, which the protocol's overlapped writes
  * cannot order.
  */
class OneCommitProtocolSpec extends AnyFunSuite {
  private val root = Paths.get("src/main/scala")

  private def sites(needle: String): Seq[(String, Int)] = {
    assert(Files.isDirectory(root), s"run from the repository root (no $root)")
    scalaFiles(root).flatMap(f => codeLines(f).collect {
      case (n, code) if code.contains(needle) => (root.relativize(f).toString, n)
    })
  }

  test("src/main has no global execution context, Await.result or awaitAll") {
    for (needle <- Seq("ExecutionContext.Implicits.global", "Await.result", "awaitAll"))
      assert(sites(needle).isEmpty, s"$needle at ${sites(needle)}")
  }

  test("clearVersions is called only from IndexManifest and writeSpectralTables") {
    val sim = "graft/operators/Similarity.scala"
    val simLines = codeLines(root.resolve(sim))
    val start = simLines.collectFirst {
      case (n, c) if c.contains("def writeSpectralTables") => n
    }.getOrElse(fail(s"no writeSpectralTables in $sim"))
    val end = simLines.collectFirst {
      case (n, c) if n > start && c.contains(" def ") => n
    }.getOrElse(Int.MaxValue)
    val stray = sites("clearVersions").filterNot { case (f, n) =>
      f == "graft/sources/IndexManifest.scala" || (f == sim && n > start && n < end)
    }
    assert(stray.isEmpty, s"clearVersions outside the commit protocol: $stray")
  }
}
