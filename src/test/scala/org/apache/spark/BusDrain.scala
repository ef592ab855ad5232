package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so
  * listener totals read after an operation include all of its jobs. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
