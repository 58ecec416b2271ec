package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.StructType

/** Bridge into private[sql] Column↔Expression conversion for custom
  * Catalyst expressions exposed as user-facing Columns,
  * LogicalPlan→DataFrame construction for custom logical operators,
  * Spark's private[spark] exit-time directory deleter, its listener
  * bus drain, and its parquet footer-to-schema conversion. */
object GraftSqlBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  def ofRows(spark: SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def logicalPlan(df: Dataset[_]): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.queryExecution.analyzed

  /** Delete `dir` recursively at JVM exit, after the SparkContext stops. */
  def deleteOnShutdown(dir: java.io.File): Unit =
    org.apache.spark.util.ShutdownHookManager.registerShutdownDeleteDir(dir)

  def isDeletedOnShutdown(dir: java.io.File): Boolean =
    org.apache.spark.util.ShutdownHookManager.hasShutdownDeleteDir(dir)

  /** Block until every event posted so far has been delivered to the
    * listeners (Spark's own timeout: 10 s). */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** The schema Spark's parquet inference takes from one file's footer:
    * the Spark schema the writer stored in the footer's key-value
    * metadata, else the parquet schema converted under the session's
    * SQL conf (binary-as-string, INT96, TIMESTAMP_NTZ, nanos-as-long). */
  def parquetSchema(spark: SparkSession,
                    footer: org.apache.parquet.hadoop.Footer): StructType = {
    import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
    val conf = spark.asInstanceOf[classic.SparkSession].sessionState.conf
    ParquetFileFormat.readSchemaFromFooter(footer, new ParquetToSparkSchemaConverter(conf))
  }
}
