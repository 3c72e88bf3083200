package org.apache.spark.sql.graft

import org.apache.spark.sql.classic.SparkSession

/** Test-only bridge into the private[sql] CacheManager: asserts the
  * "operators leak no persisted frames" contract (r11 ADVICE — an
  * operator that `persist()`s an intermediate and returns without
  * unpersisting parks cached partitions in the session's CacheManager
  * for its whole lifetime; `Checkpoints.materialize` storage, by
  * contrast, is RDD-level and reclaimed by the ContextCleaner once the
  * plan is dropped, so it never registers here). */
object CacheProbe {
  /** True iff no Dataset-level persist() registration is live. */
  def noCachedPlans(spark: org.apache.spark.sql.SparkSession): Boolean =
    spark.asInstanceOf[SparkSession].sharedState.cacheManager.isEmpty
}

/** Test-only bridge into DFP internals: counts the Spark jobs launched
  * inside DFP key-collection job groups while `body` runs — the direct
  * observable for "a memoized decline must not re-pay the collection
  * on a recompile" (r17 ADVICE: the covering-range decline previously
  * left no memo, so every fixed-point iteration re-collected). Drains
  * the listener bus ([[ListenerBusProbe]]) before reading the count. */
object DfpProbe {
  def dfpJobsDuring(spark: org.apache.spark.sql.SparkSession)(
      body: => Unit): Int = {
    val sc = spark.sparkContext
    val counter = new java.util.concurrent.atomic.AtomicInteger()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val g = Option(j.properties)
          .map(_.getProperty("spark.jobGroup.id")).orNull
        if (g != null && g.startsWith("graft-dfp-"))
          counter.incrementAndGet()
      }
    }
    sc.addSparkListener(l)
    try { body; ListenerBusProbe.drain(spark) }
    finally sc.removeSparkListener(l)
    counter.get()
  }
}
