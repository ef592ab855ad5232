package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so
  * listener totals read after a phase include all of its stages. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
