package org.apache.spark

/** Lets the benchmark wait until every listener event of a finished job
  * has been delivered, before it reads its counters. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
