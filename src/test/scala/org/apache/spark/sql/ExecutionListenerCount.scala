package org.apache.spark.sql

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.util.ExecutionListenerBus

/** QueryExecutionListeners registered on any session of a context. Each
  * session's listeners sit on its private[sql] ExecutionListenerBus, which
  * lives on the private[spark] context listener bus, so a spec can only
  * count them from this package.
  */
object ExecutionListenerCount {
  def apply(spark: SparkSession): Int =
    spark.sparkContext.listenerBus.listeners.asScala.collect {
      case b: ExecutionListenerBus => b.listeners.size
    }.sum
}
