package org.apache.spark

/** Access to the listener bus drain, so the listener's totals are
  * complete before they are read. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
