package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into private[sql] Column↔Expression conversion for custom
  * Catalyst expressions exposed as user-facing Columns,
  * LogicalPlan→DataFrame construction for custom logical operators,
  * Spark's private[spark] exit-time directory deleter, and its listener
  * bus drain. */
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
}
