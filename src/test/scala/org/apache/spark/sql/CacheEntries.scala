package org.apache.spark.sql

/** The CacheManager's entry count (Dataset.cache/persist plans), which
  * Spark keeps private to its own packages. */
object CacheEntries {
  def apply(spark: SparkSession): Int =
    spark.asInstanceOf[classic.SparkSession]
      .sharedState.cacheManager.numCachedEntries
}
