package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** The second `private[sql]` access point (the first is
  * [[InternalRows]]): a Catalyst expression as a `Column` and back, so
  * graft's Column helpers wrap their kernels directly —
  * `column(Kernel(expression(a)))` — instead of registering a SQL name
  * and resolving it again through `call_function`. Pinned by
  * GraftBridgeContractSpec.
  */
object Columns {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
