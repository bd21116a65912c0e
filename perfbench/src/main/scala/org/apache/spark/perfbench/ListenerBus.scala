package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener events are delivered asynchronously. The traced run waits
  * for the bus to drain after each op, so every event an op posted is
  * counted against that op before the next one starts. The bus is
  * private to Spark, hence this accessor in Spark's package. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
