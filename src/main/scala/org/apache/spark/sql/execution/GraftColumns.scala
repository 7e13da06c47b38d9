package org.apache.spark.sql.execution

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Catalyst expression bridge for graft's custom expressions: a
  * Column helper builds its expression around its argument columns, with
  * Scala-side parameters as constructor arguments, so no session function
  * registry sits between a query and its kernels. `classic.ExpressionUtils`
  * is `private[sql]`, hence this file's package. */
object GraftColumns {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
