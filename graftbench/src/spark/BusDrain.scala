package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so counters read
  * afterwards are complete. Lives in Spark's package for `listenerBus` access. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
