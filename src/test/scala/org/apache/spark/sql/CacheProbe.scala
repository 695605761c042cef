package org.apache.spark.sql

/** Test-only view of the session's cache manager, whose entry count is
  * package-private to `sql`: specs use it to assert that a kernel released
  * every frame it persisted. */
object CacheProbe {
  def entries(spark: SparkSession): Int =
    spark.sharedState.cacheManager.numCachedEntries
}
