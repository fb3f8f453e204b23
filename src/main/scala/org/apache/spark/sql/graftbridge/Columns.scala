package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** One of graft's three access points to Spark internals, all kept
  * in this bridge package ([[Replan]] and [[ListenerDrain]] are the
  * others): a Catalyst expression as a `Column` and back, so
  * graft's Column helpers wrap their kernels directly —
  * `column(Kernel(expression(a)))` — instead of registering a SQL name
  * and resolving it again through `call_function`. Pinned by
  * GraftBridgeContractSpec.
  */
object Columns {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
