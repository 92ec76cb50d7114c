package org.apache.spark

/** Waits until every queued listener event has been delivered. Spark keeps
  * the listener bus package-private; the benchmark needs it so that a
  * pass's job and stage events are all recorded before the listener is
  * detached or its records are read. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
