package org.apache.spark

/** Waits until Spark's listener bus has delivered every posted event, so a
  * traced operation's listener counts are complete before they are read.
  * Lives in this package because the bus is package-private. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
