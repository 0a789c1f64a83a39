package org.apache.spark

/** Waits until every posted listener event is delivered, so a traced step's
  * counters are complete before the next step changes the trace scope. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
