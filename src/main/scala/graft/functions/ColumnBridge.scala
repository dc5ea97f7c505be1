// Bridge into Spark's private[sql] Column <-> Expression conversion.
// Spark 4 hides Expression-backed Column construction behind
// private[sql] (columnNodeSupport.scala); third-party Catalyst
// extensions conventionally bridge from a subpackage. Only this file
// lives in the spark namespace; all graft logic stays in graft.*.
package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}

/** Bridge to the private[sql] `Dataset.ofRows` — the way an optimizer
  * rule EVALUATES a subplan it is inspecting (join-driven file
  * pruning runs the dim side at plan time, the dynamic-partition-
  * pruning trade at the file level). */
object PlanBridge {
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** `t` with every field nullable, at every depth — the schema a
    * `spark.read` relation carries. */
  def nullable(t: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = t.asNullable
}
