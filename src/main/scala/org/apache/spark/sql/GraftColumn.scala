package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Catalyst expression ⇄ [[Column]] for graft's Column helpers, over the
  * package-private `classic.ExpressionUtils`: a helper builds its
  * expression node directly, so it resolves on any session without a
  * registered SQL name. */
object GraftColumn {
  def apply(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
}
