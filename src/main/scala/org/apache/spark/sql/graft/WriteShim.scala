package org.apache.spark.sql.graft

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.{DataSource,
  DataSourceUtils, FileFormat}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.SchemaUtils

/** The `private[sql]` doorways the table layer's driver write arm
  * ([[graft.table.GraftTable]]'s `writeFiles`) needs — logic-free like
  * [[SqlShim]]: each method re-exports the internal surface a
  * `df.write.parquet` walks, so the driver arm collects, configures and
  * validates exactly as Spark's own write does.
  *
  *   - `collectInternal` — `Dataset.collect`'s own path (one SQL
  *     execution around `executeCollect`), stopping at the internal rows
  *     a file writer takes: no round trip through external types.
  *   - `hadoopConf` — the session's Hadoop configuration, the one a
  *     write job starts from.
  *   - `asNullable` — the schema a file write declares, and the data
  *     schema of a file scan ([[graft.table.ManifestFileIndex]]): every
  *     field, nested ones included, nullable.
  *   - `verifyWriteSchema` — the schema checks a file-format write runs
  *     before any row: empty schemas, duplicate column names, data types
  *     the format does not support, and field names it rejects.
  */
object WriteShim {

  def collectInternal(df: DataFrame): Array[InternalRow] = {
    val qe = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]]
      .queryExecution
    SQLExecution.withNewExecutionId(qe, Some("collect"))(
      qe.executedPlan.executeCollect())
  }

  def hadoopConf(spark: SparkSession): Configuration =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.newHadoopConf()

  def asNullable(schema: StructType): StructType = schema.asNullable

  def verifyWriteSchema(spark: SparkSession, format: FileFormat,
      schema: StructType): Unit = {
    val conf = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.conf
    DataSource.validateSchema(format.toString, schema, conf)
    SchemaUtils.checkColumnNameDuplication(schema.fieldNames.toSeq,
      conf.caseSensitiveAnalysis)
    DataSourceUtils.verifySchema(format, schema)
    DataSourceUtils.checkFieldNames(format, schema)
  }
}
