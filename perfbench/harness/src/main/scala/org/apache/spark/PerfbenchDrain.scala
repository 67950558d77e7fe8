package org.apache.spark

/** Waits until every queued listener event has been delivered. The
  * listener bus is `private[spark]`; the harness calls this between
  * spans only, never inside one. */
object PerfbenchDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
