package org.apache.spark

/** Access to the listener bus, which is private to Spark: the tracer waits
  * for every queued event before it reads its listener's records.
  */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
