package org.apache.spark

/** Blocks until the listener bus has delivered every queued event, so
  * job and task totals are complete before they are read. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
