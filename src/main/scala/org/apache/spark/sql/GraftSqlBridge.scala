package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge into `private[sql]` classic-API conversions: `Dataset.ofRows`
  * so the graft library can wrap a custom `LogicalPlan`
  * (graft.plans.AsOfJoinPlan) in a public DataFrame, and the
  * Expression/Column pair so a custom Catalyst `Expression` can be used
  * as a Column (graft.functions) — the standard pattern for Spark
  * extension libraries that add operators without forking Spark. */
object GraftSqlBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** A Column over `e`; children built by [[expression]] resolve
    * against the frame the Column is used on. */
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** The (unresolved) expression of a Column, for use as a child. */
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
}
