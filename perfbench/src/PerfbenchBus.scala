package org.apache.spark

/** The listener bus is private to Spark; this is the one call the
  * benchmark needs from it.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
