package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.StructType

/** Minimal bridge into private[sql] API: Column <-> Expression for
  * registering custom Catalyst expressions (Spark 4 hides the direct
  * constructors behind the classic module), a DataFrame over a logical
  * plan, and the nullable view of a schema that file-source inference
  * applies. */
object GraftSqlBridge {
  def toColumn(e: Expression): Column = classic.ExpressionUtils.column(e)
  def toExpression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  def ofRows(s: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(s.asInstanceOf[classic.SparkSession], plan)
  def asNullable(t: StructType): StructType = t.asNullable
}
