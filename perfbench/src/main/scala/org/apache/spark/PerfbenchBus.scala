package org.apache.spark

/** Waits until every queued listener event has been delivered, so the
  * benchmark's span attribution sees all jobs and tasks of a finished
  * span. `LiveListenerBus` is Spark-private; this is the one reach into
  * it. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
