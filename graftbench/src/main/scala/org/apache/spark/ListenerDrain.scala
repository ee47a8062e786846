package org.apache.spark

/** Waits until every queued listener event has been delivered, so counts
  * read right after an action include that action's jobs and tasks. The bus
  * is package-private; Spark's own tests reach it the same way.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
