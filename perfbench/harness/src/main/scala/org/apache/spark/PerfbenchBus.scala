package org.apache.spark

/** The listener bus is private to Spark; the traced run needs to wait until
  * every event of a pass has been delivered before it detaches. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
