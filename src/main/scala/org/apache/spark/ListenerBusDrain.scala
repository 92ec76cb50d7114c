package org.apache.spark

/** Waits until every queued listener event has been delivered. Spark keeps
  * the listener bus package-private; a caller that records events with a
  * listener drains it before attaching the listener (so earlier events are
  * not delivered to it) and before reading what it recorded (so none are
  * missed). */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
