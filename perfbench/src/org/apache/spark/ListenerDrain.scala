package org.apache.spark

/** Waits until every queued listener event has been delivered, so that
  * a listener's sums are complete when they are read.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
