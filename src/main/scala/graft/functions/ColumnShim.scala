package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Registry-free Column ⇄ Expression bridge. `classic.ExpressionUtils` is
  * `private[sql]`, so graft's typed kernel builders
  * ([[graft.functions.GraftFunctions]]) reach it through this shim — the
  * same accessor every Spark connector library embeds to inject custom
  * expressions into the classic DataFrame API. */
object ColumnShim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
