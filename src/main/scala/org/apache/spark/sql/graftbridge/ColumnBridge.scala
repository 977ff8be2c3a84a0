package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Spark 4 made Column a thin wrapper over ColumnNode and hid the
  * Expression⇄Column converters behind `private[sql]`. Extensions that
  * define native Catalyst expressions need exactly these two calls, so this
  * bridge lives inside the org.apache.spark.sql package namespace — the
  * standard technique for Spark extension libraries. */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
