package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext

/** One of graft's three access points to Spark internals ([[Columns]]
  * and [[Replan]] are the others): `SparkContext.listenerBus`.
  * Listener events arrive asynchronously, so a counter read right after
  * an action can miss that action's job-start or task-end events, and
  * a late event from an earlier action can land in the next window. A
  * fixed sleep flakes under load; draining the bus does not. Callers
  * drain OUTSIDE any timed window ([[graft.Metrics.measure]]).
  */
object ListenerDrain {
  /** Block until every queued listener event has been delivered. */
  def drain(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
