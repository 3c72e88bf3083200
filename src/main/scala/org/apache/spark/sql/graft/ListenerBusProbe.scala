package org.apache.spark.sql.graft

/** Bridge into the private[spark] listener bus: blocks until every event
  * posted so far has been delivered to every listener, so a count kept
  * by a SparkListener is final when read. */
object ListenerBusProbe {
  def drain(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty(30000L)
}
