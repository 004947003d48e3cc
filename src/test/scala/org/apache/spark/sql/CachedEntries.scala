package org.apache.spark.sql

/** How many frames the session's cache manager holds, so a test can
  * check that a call leaves no cached frame behind. The count is
  * package-private to Spark SQL, hence this package. */
object CachedEntries {
  def apply(spark: SparkSession): Int =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.numCachedEntries
}
