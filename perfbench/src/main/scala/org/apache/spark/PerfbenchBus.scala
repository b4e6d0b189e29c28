package org.apache.spark

/** Listener events reach listeners asynchronously. Before reading what
  * the listeners recorded for a finished region, wait until every event
  * posted so far has been delivered (the bus's own drain is private to
  * Spark's package, hence this file's package). */
object PerfbenchBus {
  def drain(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
