package org.apache.spark

/** Blocks until every event posted so far has reached every listener.
  * Listener delivery is asynchronous, so a spec that reads a listener's
  * totals right after an action calls this first. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
