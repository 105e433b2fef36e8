package org.apache.spark

/** Access to the package-private listener bus: the traced run waits for it
  * to drain before reading what the listeners saw.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
