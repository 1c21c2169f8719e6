package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Spark 4 removed the public Column(expr)/Column.expr bridge; the blessed
  * path, classic.ExpressionUtils, is private[sql] — this shim lives under
  * org.apache.spark.sql.* to re-export exactly the conversions the engine
  * needs. */
object ColumnBridge {
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  def column(e: Expression): Column = ExpressionUtils.column(e)
}
