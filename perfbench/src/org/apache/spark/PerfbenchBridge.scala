package org.apache.spark

/** Lets the benchmark wait until Spark's listener bus has delivered every
  * queued event before it detaches its listeners (the bus is
  * package-private).
  */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(10000L)
}
