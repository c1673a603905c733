package org.apache.spark

/** Test shim: deliver every queued listener event (the bus is
  * `private[spark]`) before a spec reads what its listener saw. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
