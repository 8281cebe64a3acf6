package org.apache.spark

/** Blocks until every queued listener event has been delivered, so a
  * traced run's task metrics are complete before they are attributed.
  * Lives in Spark's package because the listener bus is package-private.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
