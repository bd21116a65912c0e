package org.apache.spark.graft

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.SparkListenerEvent

/** Listener events arrive asynchronously; a caller that reads what
  * its listener counted waits for the bus to drain first. The bus is
  * private to Spark, hence this accessor in Spark's package. Waits on
  * every queue (the status queue and the shared queue user listeners
  * sit on), for at most 10 s. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

/** Post an engine event (an operator's tier pick) on the same bus
  * Spark's own job and stage events ride, so one listener reads both. */
object ListenerBusPost {
  def apply(sc: SparkContext, event: SparkListenerEvent): Unit =
    sc.listenerBus.post(event)
}
