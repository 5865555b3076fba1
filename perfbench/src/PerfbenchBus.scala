package org.apache.spark

/** Waits until Spark's listener bus has delivered every posted event, so
  * listener totals read at a boundary include that boundary's work. The
  * bus is `private[spark]`, hence this one-method shim in Spark's package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
