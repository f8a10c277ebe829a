package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private: the
  * traced run waits for it to drain before it reads its counters.
  */
object PerfbenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
