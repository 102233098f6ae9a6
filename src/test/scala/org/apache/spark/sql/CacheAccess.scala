package org.apache.spark.sql

/** The session CacheManager's entry count, which Spark keeps
  * package-private; specs compare it around an operator's run.
  */
object CacheAccess {
  def cachedPlans(spark: SparkSession): Int =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.numCachedEntries
}
