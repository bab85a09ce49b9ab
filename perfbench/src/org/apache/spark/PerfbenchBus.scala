package org.apache.spark

/** Wait until the listener bus has delivered every queued event, so the
  * benchmark's listener counts are complete before they are read.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
