package org.apache.spark

/** The listener bus is package-private; the benchmark's tracer must wait
  * until every event of a finished operation has reached its listeners
  * before it reads their totals. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
