package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so the
  * traced run's listener aggregates are complete before they are read.
  * Lives in this package because the bus is `private[spark]`. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
