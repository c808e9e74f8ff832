package graft.sources

import graft.{JobCount, SparkTestSession}
import graft.SourceCode.{codeLines, scalaFiles}
import graft.operators.TextAnalysis
import java.nio.file.{Files, Paths}
import java.util.regex.Pattern
import org.apache.spark.sql.{AnalysisException, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{MetadataBuilder, StructType}
import org.scalatest.funsuite.AnyFunSuite

/** The one parquet reader (`Tables.readParquet` doc): the schema it reads
  * on the driver is the one Spark's inference derives, the read submits
  * no Spark job, it falls back to inference where inference reads other
  * footers, and no schema-less parquet read is left in `src/main`.
  */
class ParquetReaderSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"
  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  private def tmp(tag: String): String = Files.createTempDirectory(tag).toString

  /** The reader's schema equals inference's; `fallback` says which of
    * the two produced it.
    */
  private def sameSchema(s: SparkSession, path: String, fallback: Boolean = false): StructType = {
    assert(Tables.footerSchema(s, path).isEmpty == fallback, s"fallback at $path")
    val ours = Tables.readParquet(s, path).schema
    assert(ours == s.read.parquet(path).schema, path)
    ours
  }

  test("testdata documents, embeddings and events (nanosAsLong) read with the inferred schema") {
    assert(spark.conf.get(NanosAsLong) == "true")
    Seq("documents", "embeddings", "events").foreach(t => sameSchema(spark, Tables.path(dir, t)))
    // with the conf off, events fails or reads exactly as inference does
    val off = spark.newSession()
    off.conf.set(NanosAsLong, "false")
    val path = Tables.path(dir, "events")
    val ours = scala.util.Try(Tables.readParquet(off, path).schema)
    val theirs = scala.util.Try(off.read.parquet(path).schema)
    assert(ours.map(Right(_)).recover { case e => Left(e.getClass) } ==
      theirs.map(Right(_)).recover { case e => Left(e.getClass) })
  }

  test("a d90 term-bucketed store keeps its tb partition column; Spark-written tables read as inferred") {
    val path = tmp("reader-bm25")
    TextAnalysis.saveBm25Index(Tables.documents(spark, dir), path, termBuckets = 4)
    val postings = sameSchema(spark, s"$path/postings")
    assert(postings.fieldNames.toSeq == Seq("term", "doc_id", "tf", "tb"))
    Seq("lens", "consts").foreach(t => sameSchema(spark, s"$path/$t"))
    val probe = col("tb") === 1 && col("doc_id") < 40
    assert(Tables.readParquet(spark, s"$path/postings").filter(probe).collect().sortBy(_.toString).toSeq ==
      spark.read.parquet(s"$path/postings").filter(probe).collect().sortBy(_.toString).toSeq)
  }

  test("a Spark-written store: the row-metadata schema, field metadata and nesting included") {
    val path = tmp("reader-spark") + "/t"
    val meta = new MetadataBuilder().putString("comment", "kept").build()
    spark.range(20).select(col("id").as("id", meta),
        struct(col("id").cast("int").as("a"), array(col("id").cast("double")).as("b")).as("s"),
        col("id").cast("decimal(20,4)").as("d"),
        to_timestamp(lit("2024-01-02 03:04:05")).as("ts"),
        map(lit("k"), col("id")).as("m"))
      .repartition(3).write.parquet(path)
    val schema = sameSchema(spark, path)
    assert(schema("id").metadata == meta)
  }

  test("falls back to inference with mergeSchema on, summary files, a glob path or no data file") {
    val two = tmp("reader-merge") + "/t"
    spark.range(5).select(col("id")).write.parquet(two)
    spark.range(5).select(col("id"), lit("x").as("extra")).write.mode("append").parquet(two)
    sameSchema(spark, two) // off: both read the first file in path order
    val merging = spark.newSession()
    merging.conf.set("spark.sql.parquet.mergeSchema", "true")
    assert(sameSchema(merging, two, fallback = true).fieldNames.toSeq == Seq("id", "extra"))

    // a summary file wins inference's pick, even over the data files' schema
    val summarized = tmp("reader-summary") + "/t"
    spark.range(5).write.parquet(summarized)
    Files.copy(Paths.get(Tables.path(dir, "embeddings")), Paths.get(summarized, "_common_metadata"))
    assert(sameSchema(spark, summarized, fallback = true).fieldNames.contains("embedding"))

    sameSchema(spark, s"$two/*.parquet", fallback = true)

    val empty = tmp("reader-empty")
    Files.createFile(Paths.get(empty, "_SUCCESS"))
    assert(Tables.footerSchema(spark, empty).isEmpty)
    intercept[AnalysisException](spark.read.parquet(empty))
    intercept[AnalysisException](Tables.readParquet(spark, empty))
  }

  test("the read submits no Spark job (inference submits one)") {
    val store = tmp("reader-jobs")
    TextAnalysis.saveBm25Index(Tables.documents(spark, dir), store, termBuckets = 4)
    val paths = Seq("documents", "embeddings", "events").map(Tables.path(dir, _)) ++
      Seq("postings", "lens").map(t => s"$store/$t")
    paths.foreach { p =>
      assert(JobCount(spark)(Tables.readParquet(spark, p))._2 == 0, p)
    }
    assert(JobCount(spark)(spark.read.parquet(paths.head))._2 >= 1)
  }

  test("src/main has no schema-less read.parquet( outside the reader") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root (no $root)")
    val reads = scalaFiles(root).map { f =>
      val code = codeLines(f).map(_._2).mkString.replaceAll("\\s", "")
      root.relativize(f).toString -> (code.split(Pattern.quote("read.parquet("), -1).length - 1)
    }.filter(_._2 > 0)
    assert(reads == Seq("graft/sources/Tables.scala" -> 1), reads)
  }
}
