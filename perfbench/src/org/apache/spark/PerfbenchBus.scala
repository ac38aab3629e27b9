package org.apache.spark

/** Lets the benchmark wait for the listener bus to deliver every queued
  * event before it reads its counters; the bus is `private[spark]`. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
