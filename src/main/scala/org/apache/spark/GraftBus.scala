package org.apache.spark

/** Waits until every queued listener event has been delivered, so
  * [[graft.tools.Metrics]] reads complete metrics right after its body
  * returns. (`listenerBus` is package-private to Spark.)
  */
object GraftBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
