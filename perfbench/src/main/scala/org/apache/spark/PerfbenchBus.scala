package org.apache.spark

/** Waits until every queued listener event has been delivered, so the
  * benchmark reads complete stage metrics right after an action returns.
  * (`listenerBus` is package-private to Spark.)
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
