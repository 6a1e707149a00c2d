package org.apache.spark

/** Reaches the listener bus, which is private to Spark, so that the traced
  * run reads its counters only after every event of the window arrived. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
