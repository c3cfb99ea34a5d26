package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{DataFrame => ClassicDataFrame, Dataset => ClassicDataset, ExpressionUtils, SparkSession => ClassicSparkSession}

/** Minimal bridge into `private[sql]` surface — the standard extension-library
  * technique (Delta/Sedona do the same) for turning a custom LogicalPlan into
  * a user-facing DataFrame, and a custom Catalyst Expression into a Column
  * with no function-registry entry. Nothing else from the private surface is
  * used. */
object GraftSqlShims {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    ClassicDataset.ofRows(spark.asInstanceOf[ClassicSparkSession], plan)

  def logicalPlan(df: DataFrame): LogicalPlan =
    df.asInstanceOf[ClassicDataFrame].queryExecution.analyzed

  def column(e: Expression): Column = ExpressionUtils.column(e)

  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
