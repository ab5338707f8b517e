package org.apache.spark

/** Listener events are delivered asynchronously; a spec reads its listener's
  * record only after the bus has drained (the drain call is package-private
  * to Spark, hence this one-line bridge). */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
