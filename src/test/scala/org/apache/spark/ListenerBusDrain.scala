package org.apache.spark

/** Test access to the (Spark-private) listener bus: wait until every
 *  queued event is delivered, so a listener's counters read after an
 *  action cover all of it. */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(10000L)
}
