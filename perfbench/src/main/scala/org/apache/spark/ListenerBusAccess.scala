package org.apache.spark

/** Lets the benchmark wait until every posted listener event has been
  * delivered, so a pass's trace is complete before it is read. */
object ListenerBusAccess {
  def drain(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
