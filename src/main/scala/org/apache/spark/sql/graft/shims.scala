package org.apache.spark.sql.graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Bridge between the public `Column` API and Catalyst `Expression`s.
  *
  * Spark 4 made `Column` carry an opaque `ColumnNode` instead of an
  * `Expression`; the conversion helpers live in `private[sql]` scope, so —
  * like other third-party Spark libraries — we expose them from a file
  * compiled inside the `org.apache.spark.sql` package tree. Public Spark
  * API knowledge only; no internal system references.
  */
object shims {
  def toColumn(e: Expression): Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)
  def toExpression(c: Column): Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)

  /** Wrap a logical plan as a DataFrame (`Dataset.ofRows` is
    * `private[sql]`). Used to pin a plan optimized under a scoped conf
    * so the conf can be unset without un-doing the optimization.
    */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  private def sessionState(spark: org.apache.spark.sql.SparkSession) =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState

  /** The Hadoop configuration `spark`'s file sources read with. */
  def hadoopConf(spark: org.apache.spark.sql.SparkSession): Configuration =
    sessionState(spark).newHadoopConf()

  /** True for the file and directory names a file index skips when it
    * lists a path (`_`- and `.`-prefixed names other than the parquet
    * summary files, and in-flight copies): Spark's own rule.
    */
  def isHiddenPathName(name: String): Boolean =
    org.apache.spark.util.HadoopFSUtils.shouldFilterOutPathName(name)

  /** The schema parquet schema inference takes from one file's footer:
    * the Spark schema stored under the row-metadata key when present,
    * otherwise the parquet schema converted under `spark`'s session conf
    * by the converter `ParquetFileFormat.mergeSchemasInParallel` builds.
    */
  def parquetFooterSchema(spark: org.apache.spark.sql.SparkSession, file: Path,
      footer: ParquetMetadata): StructType = {
    val conf = sessionState(spark).conf
    val converter = new ParquetToSparkSchemaConverter(
      assumeBinaryIsString = conf.isParquetBinaryAsString,
      assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
      inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
      nanosAsLong = conf.legacyParquetNanosAsLong,
      respectUnknownTypeAnnotation = conf.parquetReaderRespectUnknownTypeAnnotation)
    ParquetFileFormat.readSchemaFromFooter(new Footer(file, footer), converter)
  }
}
