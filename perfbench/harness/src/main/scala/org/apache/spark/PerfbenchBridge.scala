package org.apache.spark

/** The one Spark-private call the harness needs: wait until the
 *  listener bus has delivered every queued event, so the counters read
 *  between two timed operations include all of the earlier one. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext, timeoutMs: Long = 10000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
