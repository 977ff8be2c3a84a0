package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private: the
  * benchmark waits for every posted event to be delivered before it
  * closes a span or reads a listener's figures. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
