package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private.
  * The tracer drains the bus at operation boundaries so every event of
  * an operation has been counted before the next one starts.
  */
object GraftBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
