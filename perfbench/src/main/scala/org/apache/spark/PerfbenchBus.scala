package org.apache.spark

/** Listener events reach listeners asynchronously. The traced run reads its
  * per-span task metrics right after each forced action, so it first waits
  * for the bus to deliver everything posted so far.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
