package org.apache.spark

/** Wait for the listener bus to deliver every queued event, so the job
  * table is complete before the traced run reads it. */
object PerfbenchBus {
  def drain(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
