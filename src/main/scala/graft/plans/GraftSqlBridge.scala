package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Minimal access bridge: `classic.Dataset.ofRows` is `private[sql]`, and
  * building a DataFrame from a custom logical node (graft's
  * TopKPerGroupPlan) has no public constructor — the standard extension
  * escape hatch is a one-liner in the `org.apache.spark.sql` package. The
  * same holds for the Column ↔ Expression conversions a custom expression
  * (graft's `TypedDecodeExpr`) needs. */
object GraftSqlBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
}
