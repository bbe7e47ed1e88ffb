package org.apache.spark

/** Waits until every event posted so far has reached the listeners, so
  * the benchmark reads complete per-query counts. The listener bus is
  * package-private to Spark, hence this accessor's package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
