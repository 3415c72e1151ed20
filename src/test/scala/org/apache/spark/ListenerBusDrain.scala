package org.apache.spark

/** Test access to the package-private listener bus: returns once every
  * event queued so far has been delivered to every listener.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
