/* Bridge into Spark's private[sql] Column <-> Expression converters.
 * Spark 4 hides ExpressionUtils behind private[sql]; extension
 * libraries conventionally open it with a same-package shim. */
package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

object GraftSqlBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Execute an arbitrary LogicalPlan (tests use this to run plans
    * transformed by custom optimizer rules). */
  def ofRows(s: SparkSession, plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(s.asInstanceOf[classic.SparkSession], plan)
}
