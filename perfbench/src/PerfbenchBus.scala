package org.apache.spark

/** Waits for Spark's asynchronous listener bus to deliver every queued
  * event. The bus is `private[spark]`, hence this package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
