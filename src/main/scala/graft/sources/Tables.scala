package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFooterReader
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.shims
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}
import scala.util.control.NonFatal

/** Loaders for the driver-generated parquet tables (TESTDATA.md /
  * FIXTURES.md §B), and the one parquet reader of the program. Plain
  * parquet scans, so Catalyst drives predicate pushdown + column pruning
  * into the scan.
  */
object Tables {
  def path(dir: String, name: String): String = s"$dir/$name.parquet"

  /** `spark.read.parquet(path)` without the one-task Spark job that
    * schema inference submits: the schema comes from the footer
    * inference would pick — the first data file in path order — read on
    * the driver and converted the way inference converts it
    * ([[shims.parquetFooterSchema]]). Partition columns (d90's `tb=`) are
    * still inferred from the directory names. Every parquet table and
    * store read of the program goes through here. Falls back to
    * `spark.read.parquet` where inference would read other footers or
    * this reader cannot pick the same one: `spark.sql.parquet.mergeSchema`
    * on, summary files present, a glob path, or no readable data file.
    */
  def readParquet(spark: SparkSession, path: String): DataFrame =
    footerSchema(spark, path) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None => spark.read.parquet(path)
    }

  /** The schema [[readParquet]] reads `path` with; None means fall back. */
  private[graft] def footerSchema(spark: SparkSession, path: String): Option[StructType] = {
    if (spark.conf.get(SQLConf.PARQUET_SCHEMA_MERGING_ENABLED.key).toBoolean ||
        path.exists("{}[]*?\\".contains(_))) return None
    val conf = shims.hadoopConf(spark)
    val root = new Path(path)
    try {
      val fs = root.getFileSystem(conf)
      def leaves(st: FileStatus): Seq[FileStatus] =
        if (!st.isDirectory) Seq(st)
        else fs.listStatus(st.getPath).toSeq
          .filterNot(c => shims.isHiddenPathName(c.getPath.getName)).flatMap(leaves)
      val (summaries, data) = leaves(fs.getFileStatus(root))
        .partition(f => f.getPath.getName == "_metadata" || f.getPath.getName == "_common_metadata")
      if (summaries.nonEmpty) None
      else data.sortBy(_.getPath.toString).headOption.filter(_.getLen > 0).map(f =>
        shims.parquetFooterSchema(spark, f.getPath,
          ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(f, conf), SKIP_ROW_GROUPS)))
    } catch { case NonFatal(_) => None }
  }

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    if (name == "events") {
      // events.ts is parquet TIMESTAMP(NANOS), which Spark's vectorized
      // reader rejects; read it as raw nanosecond Longs instead (public
      // conf spark.sql.legacy.parquet.nanosAsLong) and convert explicitly
      // where queries need a timestamp.
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    }
    readParquet(spark, path(dir, name))
  }

  def lineitem(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "region")
  /** The `events` table with `ts` normalized to nanoseconds-since-epoch
    * (LongType) regardless of how the driver regenerated the parquet.
    *
    * Two encodings have been observed across testdata generations:
    *   - parquet TIMESTAMP(NANOS) → read as raw Long via the public
    *     `spark.sql.legacy.parquet.nanosAsLong` conf (set in [[load]]);
    *   - parquet timestamp[us] → read as TIMESTAMP_NTZ (or TIMESTAMP),
    *     converted here with `unix_micros * 1000`.
    *
    * Every consumer ([[RedditView]], the relational q-family) does integer
    * arithmetic on `ts` (`ts div 1000000000` for epoch seconds etc.), so the
    * normalization happens once here and the downstream plans are unchanged.
    * The NTZ→TIMESTAMP cast interprets the wall-clock in the session
    * timezone; every graft session (Verify, Bench, SparkTestSession) pins
    * `spark.sql.session.timeZone=UTC`, matching DuckDB's `epoch_ns(ts)`
    * oracle reading, so the two engines agree bit-for-bit.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val raw = load(spark, dir, "events")
    raw.schema("ts").dataType match {
      case LongType => raw
      case TimestampNTZType | TimestampType =>
        raw.withColumn("ts", expr("unix_micros(cast(ts as timestamp)) * 1000L"))
      case other =>
        throw new IllegalStateException(
          s"events.ts has unsupported type $other — expected LongType (nanosAsLong), TIMESTAMP_NTZ or TIMESTAMP")
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")
}

/** Deterministic mapping of the synthetic `events` table onto the reference
  * engine's event envelope (FIXTURES.md §A1), used as the batch stand-in for
  * the Redis logs (rc/rs — /root/reference/sse.py:148-149).
  *
  * The mapping is pure arithmetic on (event_id, user_id, ts, event_type,
  * props) and is mirrored verbatim in the DuckDB oracle CTE
  * ([[graft.queries.RedditQueries.redditCte]]) so results hash-compare.
  * It deliberately produces the envelope's edge cases: NULL domain on some
  * submissions (stale-variable bug coverage), mixed-case over_18/is_self
  * (case-insensitive compares), NULL attrs on comments.
  */
object RedditView {
  def apply(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val isRs = col("event_id") % 3 === 0
    e.select(
      col("event_id").as("id"),
      when(isRs, lit("rs")).otherwise(lit("rc")).as("event"),
      // ts is nanoseconds-since-epoch (Long); envelope carries epoch seconds
      expr("ts div 1000000000").as("created_utc"),
      concat(lit("user_"), col("user_id").cast("string")).as("author"),
      col("event_type").as("subreddit"),
      when(isRs && col("user_id") % 7 =!= 0,
        concat(
          when(col("user_id") % 2 === 0, lit("Site")).otherwise(lit("site")),
          (col("user_id") % 5).cast("string"), lit(".com"))).as("domain"),
      when(isRs, when(col("user_id") % 2 === 0, lit("True")).otherwise(lit("false"))).as("over_18"),
      when(isRs, when(col("user_id") % 3 === 0, lit("true")).otherwise(lit("False"))).as("is_self"),
      col("props").as("json"))
  }
}
