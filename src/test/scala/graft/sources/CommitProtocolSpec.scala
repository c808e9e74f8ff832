package graft.sources

import graft.SparkTestSession
import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The crash matrix at the commit-protocol seam: a synthetic two-table
  * store built and appended through [[IndexManifest.rebuild]] and
  * [[IndexManifest.append]], with this spec supplying the writes. For
  * each table in turn, that table's append write throws; the append must
  * leave the commit unmade (live manifest and versions untouched), the
  * retry must name the other table's orphan rows, and the shared sync
  * must rebuild to a clean build's content.
  */
class CommitProtocolSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val (kind, params, tables) = ("two-table", Map("tables" -> 2L), Seq("a", "b"))

  private def corpus(from: Long, until: Long): DataFrame =
    spark.range(from, until).select(col("id"), (col("id") * 7 % 5).as("v"))

  private def save(df: DataFrame, path: String): Unit =
    IndexManifest.rebuild(path, kind, true, df, "id", _ => params)(
      tables.map(t => () => df.write.mode("overwrite").parquet(s"$path/$t")): _*)

  private def append(inc: DataFrame, path: String, failing: Option[String] = None): Unit =
    IndexManifest.append(path, IndexManifest.require(path, kind, params), true,
        inc, "id", tables.map(_ -> "id"), _.man.params) { _ =>
      tables.map(t => () => {
        if (failing.contains(t)) throw new IllegalStateException(s"injected: $t write failed")
        inc.write.mode("append").parquet(s"$path/$t")
      })
    }

  private def content(path: String): Seq[String] =
    tables.flatMap(t => spark.read.parquet(s"$path/$t").toJSON.collect().sorted
      .map(r => s"$t $r"))

  private def tmp(prefix: String): String = Files.createTempDirectory(prefix).toString

  test("rebuild then append: the watermark, the params and one version per commit") {
    val path = tmp("graft-commit-")
    val row = IndexManifest.rebuild(path, kind, true, corpus(0, 40), "id", _ => params,
      sum(col("v")))(() => corpus(0, 40).write.mode("overwrite").parquet(s"$path/a"))
    assert((row.getLong(0), row.getLong(1)) == ((40L, 39L)))
    assert(row.getLong(2) == corpus(0, 40).agg(sum(col("v"))).head().getLong(0))
    assert(IndexManifest.read(path) == IndexManifest.Manifest(kind, params, 40L, 39L))
    save(corpus(0, 40), path)
    append(corpus(40, 50), path)
    append(corpus(50, 50), path) // empty: a no-op
    assert(IndexManifest.read(path) == IndexManifest.Manifest(kind, params, 50L, 49L))
    assert(IndexManifest.versions(path) == Seq(1, 2))
    assert(content(path) == { val p = tmp("graft-commit-clean-"); save(corpus(0, 50), p); content(p) })
  }

  tables.foreach { failing =>
    test(s"an append whose '$failing' write throws commits nothing; the retry names the orphans and sync rebuilds to a clean build") {
      val path = tmp(s"graft-commit-crash-$failing-")
      save(corpus(0, 40), path)
      append(corpus(40, 50), path)
      val (live, versions) = (IndexManifest.read(path), IndexManifest.versions(path))
      val inc = corpus(50, 70)

      val e = intercept[IllegalStateException] { append(inc, path, Some(failing)) }
      assert(e.getMessage.contains(s"$failing write failed"), e.getMessage)
      assert(IndexManifest.read(path) == live)
      assert(IndexManifest.versions(path) == versions)

      val retry = intercept[IndexManifestException] { append(inc, path) }
      assert(retry.getMessage.contains("above its manifest watermark"), retry.getMessage)
      assert(IndexManifest.read(path) == live)

      val grown = corpus(0, 70)
      assert(IndexManifest.sync(grown, "id", path, kind, params)(append(_, path))(
        save(grown, path)) == "rebuild")
      val clean = tmp(s"graft-commit-clean-$failing-")
      save(grown, clean)
      assert(content(path) == content(clean))
      assert(IndexManifest.read(path) == IndexManifest.read(clean))
      assert(IndexManifest.versions(path) == Seq(1))
    }
  }
}
