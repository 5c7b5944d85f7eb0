package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into Spark's private[sql] Column↔Expression conversions so the
  * engine's custom Catalyst expressions (FloatVecDot, SimHash60, …) can
  * be exposed as user-facing Columns. Lives in the org.apache.spark.sql
  * namespace solely for access; contains no Spark-derived logic.
  */
package object graftshim {
  def exprToColumn(e: Expression): Column = classic.ExpressionUtils.column(e)
  def columnToExpr(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Fully converted Catalyst expression (ColumnNode tree → Expression),
    * so `.sql` renders real SQL text instead of the lazy
    * ColumnNodeExpression placeholder — needed to persist gestures as
    * replayable SQL (redo log / bookmarks). */
  def columnToSql(c: Column): String =
    classic.ColumnNodeToExpressionConverter.apply(c.node).sql

  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def analyzedPlan(df: DataFrame): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed

  def experimentalStrategies(spark: SparkSession): ExperimentalMethods =
    spark.asInstanceOf[classic.SparkSession].experimental

  /** Wait (up to 10 s) until every listener event posted so far has
    * been delivered. */
  def drainListeners(spark: SparkSession): Unit =
    try spark.sparkContext.listenerBus.waitUntilEmpty()
    catch { case _: java.util.concurrent.TimeoutException => () }
}
