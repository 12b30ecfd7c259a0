package org.apache.spark

/** Test access to the `private[spark]` listener bus: blocks until every
  * posted event (SQL execution start, AQE plan updates, end) has reached
  * its listeners, so status-store reads see the finished executions. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
