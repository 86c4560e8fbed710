package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into the `private[sql]` Column<->Expression conversions, needed to
  * expose custom Catalyst expressions (graft.functions.*) as user-facing
  * `Column`s in Spark 4 (where `new Column(expr)` is no longer public).
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

}
