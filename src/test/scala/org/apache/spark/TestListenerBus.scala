package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private: specs that
  * count jobs, stages or tasks drain it before reading their listener. */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
