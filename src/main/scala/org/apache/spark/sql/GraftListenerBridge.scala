package org.apache.spark.sql

/** Bridge to the private[spark] listener bus: query-execution listeners
  * are called asynchronously, so a reader of what they recorded must first
  * wait for the bus to deliver every posted event. Same narrow-shim
  * rationale as [[GraftFunctionBridge]].
  */
object GraftListenerBridge {
  /** Block until every event posted so far has reached its listeners. */
  def drain(spark: SparkSession): Unit = spark.sparkContext.listenerBus.waitUntilEmpty()
}
