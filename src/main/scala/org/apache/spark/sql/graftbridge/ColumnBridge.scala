package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{ClassicConversions, Dataset, ExpressionUtils}

/** Spark 4 removed the public Column(expr)/Column.expr bridge and the
  * public Dataset-from-LogicalPlan constructor; the blessed paths,
  * classic.ExpressionUtils and classic.Dataset.ofRows, are private[sql] —
  * this shim lives under org.apache.spark.sql.* to re-export exactly the
  * conversions the engine needs. */
object ColumnBridge {
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    Dataset.ofRows(ClassicConversions.castToImpl(spark), plan)
}
