package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/**
 * Minimal bridge into `private[sql]` surface: Column <-> Catalyst
 * Expression conversion for graft's native expressions (the conversion
 * became sql-private with Spark 4's column-node API). This is the
 * conventional escape hatch for Spark extension libraries; nothing else
 * private is touched.
 */
object GraftShims {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Wrap a (resolved) logical plan as a DataFrame — the entry point for
    * graft's custom logical operators (e.g. the native as-of join). */
  def ofRows(spark: SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Block until the listener bus has delivered every event posted so
    * far (`listenerBus` is `private[spark]`). */
  def drainListeners(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** The session's temp view names: a catalog lookup that, unlike
    * `spark.catalog.listTables()`, runs no Spark job. */
  def tempViewNames(spark: SparkSession): Seq[String] =
    spark.sessionState.catalog.getTempViewNames()

  /** `AbstractDataType` is `private[sql]`; re-export the type so graft
    * expressions can declare `inputTypes` for analysis-time checking. */
  type AbstractType = org.apache.spark.sql.types.AbstractDataType
}
