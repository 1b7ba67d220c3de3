package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge into Spark 4's private[sql] Column/Expression conversion —
  * the supported pattern for libraries shipping custom Catalyst
  * expressions (the classic Column(expr) constructor is gone in 4.x). */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  /** A frame over an (analyzed) logical plan. */
  def dataFrame(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
  /** ANSI division's DIVIDE_BY_ZERO error, as `Divide` raises it. */
  def divideByZero(): ArithmeticException =
    errors.QueryExecutionErrors.divideByZeroError(null)
}
