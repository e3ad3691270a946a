package org.apache.spark

/** Waits until every queued listener event has been delivered. Listener
  * delivery is asynchronous, and the bus's drain call is package-private,
  * so this one-line bridge lives in Spark's package. The tracer calls it at
  * the end of each traced op, outside every timed interval. */
object ListenerDrain {
  def apply(sc: SparkContext, timeoutMs: Long = 10000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
