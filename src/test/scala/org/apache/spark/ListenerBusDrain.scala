package org.apache.spark

/** Waits until every queued listener event has been delivered. Spark keeps
  * the listener bus package-private; a spec that counts jobs with a
  * listener drains it before attaching the listener (so earlier jobs are
  * not counted) and before reading the counts (so none are missed). */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
