package org.apache.spark

/** Waits until every posted listener event has been delivered, so span
  * counters are complete before they are read (the bus is internal to
  * Spark, hence this package). */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
