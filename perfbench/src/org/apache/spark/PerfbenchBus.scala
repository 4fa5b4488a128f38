package org.apache.spark

/** Bridge to the `private[spark]` listener bus: blocks until every event
  * posted so far has reached every listener, so counters read afterwards
  * are complete without sleeping. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
