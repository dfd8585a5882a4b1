package org.apache.spark

/** Waits until every posted listener event has been delivered, so a
  * listener's counters are read only after the last event of the work
  * they measure has arrived. */
object GraftBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
