package org.apache.spark

/** Block until every queued listener event has been delivered, so the
  * benchmark's trace is complete before it is written out.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
