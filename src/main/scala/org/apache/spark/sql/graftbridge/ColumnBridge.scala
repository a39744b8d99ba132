package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into `private[sql]` Column↔Expression converters (Spark 4 classic
  * Column wraps a ColumnNode, not an Expression). Lives under
  * org.apache.spark.sql so the package-private members resolve; the rest of
  * the engine uses only this facade. */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  // Eagerly converts the ColumnNode tree to a Catalyst Expression (the
  // ExpressionUtils wrapper alone is a lazy Unevaluable placeholder).
  def expression(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)
}
