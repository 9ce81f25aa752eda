package org.apache.spark.sql

/** How many plans the session's `CacheManager` holds. Its
  * `numCachedEntries` is `private[sql]`, hence this package.
  */
object TestCacheEntries {
  def count(spark: SparkSession): Int =
    spark.sharedState.cacheManager.numCachedEntries
}
