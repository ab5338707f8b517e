package org.apache.spark

/** Listener events are delivered asynchronously; the benchmark reads its
  * listener's totals only after the bus has drained (the drain call is
  * package-private to Spark, hence this one-line bridge). */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
