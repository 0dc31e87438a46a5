package org.apache.spark.sql

/** Test access to the session's CacheManager entry count (`private[sql]`). */
object CacheEntries {
  def count(spark: SparkSession): Int =
    spark.sharedState.cacheManager.numCachedEntries
}
