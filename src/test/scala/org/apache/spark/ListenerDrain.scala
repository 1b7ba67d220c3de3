package org.apache.spark

/** Waits until every queued listener event has been delivered, so a
  * spec can read a listener's counters without stopping its session.
  * `LiveListenerBus` is Spark-private; this is the one reach into it. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
