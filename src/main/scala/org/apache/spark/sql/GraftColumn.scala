package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge between a Catalyst [[Expression]] and a [[Column]]: the
  * `classic.ExpressionUtils` converters are `private[sql]`; this object only
  * exposes them. A native expression bound this way needs no function
  * registry entry, so the resulting `Column` resolves in any session.
  */
object GraftColumn {
  def apply(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expr(c: Column): Expression = classic.ExpressionUtils.expression(c)
}
