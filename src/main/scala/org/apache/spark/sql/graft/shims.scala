package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{ColumnNodeToExpressionConverter, ExpressionUtils, Dataset => ClassicDataset, SparkSession => ClassicSparkSession}

/** The `private[sql]` bridges a library-level custom operator or
  * expression needs: turning a hand-built [[LogicalPlan]] back into a
  * [[DataFrame]] (`Dataset.ofRows` — the same door Spark's own connectors
  * use), and converting between a [[Column]] and its Catalyst
  * [[Expression]] (Spark 4's connect-compatible Column hides both
  * directions behind `ExpressionUtils`). Kept to single forwarding calls
  * in an isolated package.
  */
object shims {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    ClassicDataset.ofRows(spark.asInstanceOf[ClassicSparkSession], plan)

  // Eager conversion: ExpressionUtils.expression returns a lazy
  // ColumnNodeExpression wrapper that still references the (non-
  // serializable) ColumnNode — fatal once captured in a task closure.
  def expression(c: Column): Expression =
    ColumnNodeToExpressionConverter(c.node)

  def column(e: Expression): Column = ExpressionUtils.column(e)
}
