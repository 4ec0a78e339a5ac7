package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Catalyst expression conversions for graft's custom
  * expressions. Spark keeps them `private[sql]`, so this one object sits
  * inside Spark's package; nothing else of graft does. */
object ExpressionBridge {
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  def column(e: Expression): Column = ExpressionUtils.column(e)
}
