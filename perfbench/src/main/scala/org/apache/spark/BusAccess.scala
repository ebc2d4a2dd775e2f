package org.apache.spark

/** The listener bus is private to Spark; op isolation waits on it so that
  * listener-driven cache releases have run before the next op starts. */
object BusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
