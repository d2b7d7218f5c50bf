package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge to the `private[sql]` DataFrame-from-LogicalPlan constructor, the
  * standard pattern for libraries that add custom logical operators (Spark
  * exposes strategies/rules through SparkSessionExtensions but no public
  * plan→DataFrame entry point). Used by graft's AsOfJoinPlan API surface
  * and the outer-join default fill; `column` wraps a Catalyst expression
  * (a typed literal) as a DataFrame column.
  */
object GraftSqlBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
}
