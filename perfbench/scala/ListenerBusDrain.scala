package org.apache.spark

/** Blocks until the listener bus has delivered every posted event. The
  * bus is private to Spark, hence this one-line shim in its package.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
