package org.apache.spark.sql

/** Number of frames the session's CacheManager holds. The count is
  * package-private to Spark SQL, hence this package.
  */
object CacheEntries {
  def count(s: SparkSession): Int =
    s.asInstanceOf[classic.SparkSession].sharedState.cacheManager.numCachedEntries
}
