package org.apache.spark

/** Blocks until every event posted so far has reached every listener.
  * Listener delivery is asynchronous; the benchmark reads its listeners'
  * totals only after this returns, so no task or progress event of the
  * measured pass is still in flight. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
