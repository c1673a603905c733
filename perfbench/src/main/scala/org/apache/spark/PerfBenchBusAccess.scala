package org.apache.spark

/** Bridge to the private[spark] listener-bus drain: the benchmark's
  * recorder reads its counters only after every event of a call has been
  * delivered, without sleep-polling. Same shim style as the engine's
  * GraftExprAccess. */
object PerfBenchBusAccess {
  def drain(sc: SparkContext, timeoutMs: Long = 120000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
