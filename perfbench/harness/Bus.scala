package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
