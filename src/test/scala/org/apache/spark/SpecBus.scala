package org.apache.spark

/** Lets a spec wait until every posted listener event has been delivered,
  * so a listener's count is read only after its last event arrived. */
object SpecBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
