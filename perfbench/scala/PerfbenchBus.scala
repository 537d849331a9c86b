package org.apache.spark

/** The listener bus is internal to Spark; the harness needs to wait for
  * it to deliver every event before it reads its trace. */
object PerfbenchBus {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
