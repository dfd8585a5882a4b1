package org.apache.spark

/** Lets the benchmark wait until every posted listener event has been
  * delivered, so a traced phase is summarised only once its last task-end
  * and query-execution events have arrived. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
