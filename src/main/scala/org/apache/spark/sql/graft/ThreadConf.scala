package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression

/** Column ⇄ Expression bridge (Spark 4 moved Column onto ColumnNode,
  * so a custom Expression that carries a RUNTIME value — e.g. a
  * Broadcast handle, which the function-registry builder path cannot
  * thread through — needs `ExpressionUtils` to enter a plan; both
  * converters are `private[sql]`, hence this shim).
  */
object GraftExpr {
  def toExpr(c: Column): Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)
  def toColumn(e: Expression): Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)
}
