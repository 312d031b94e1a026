package org.apache.spark

/** Listener-bus access for the benchmark's tracer, which lives outside
  * Spark's package: blocks until every posted event has reached the
  * listeners, so job and task counts are complete when they are read.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
