package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so the
  * benchmark's listener counters are complete before they are read. The
  * bus is `private[spark]`, hence this one-line shim in Spark's package.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
