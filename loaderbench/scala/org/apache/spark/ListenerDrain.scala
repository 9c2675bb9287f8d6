package org.apache.spark

/** Blocks until every listener event posted so far has been delivered.
  * The listener bus is private to Spark; reading a listener's counters
  * without draining it first would miss the last tasks of a job. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
