package org.apache.spark

/** Waits until every listener event posted so far has been delivered,
  * so a listener's counts are complete when read. Spark keeps the
  * listener bus private to its own packages. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
