package org.apache.spark.sql

import org.apache.spark.SparkContext

/** The two Spark internals the benchmark reads, which Spark keeps
  * package-private.
  */
object BenchAccess {
  /** Blocks until every posted event has reached every listener. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Entries in the session's CacheManager. */
  def cachedPlans(spark: SparkSession): Int = spark match {
    case c: classic.SparkSession => c.sharedState.cacheManager.numCachedEntries
    case _ => 0
  }
}
