package org.apache.spark

/** Waits until every event posted so far has reached the listeners, so
  * the benchmark reads complete listener totals after an action. The
  * listener bus is private to Spark, hence this package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
