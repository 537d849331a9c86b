package org.apache.spark

/** The listener bus is internal to Spark; specs that count scheduler
  * events wait for it to deliver every event before they read a count. */
object TestListenerBus {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
