// Two package-private Spark internals the traced run reads. Spark keeps
// them private to its own packages, so the accessors live there.

package org.apache.spark {
  object BenchBus {
    /** Wait until every listener event posted so far has been delivered,
      * so that an operation's counters are complete when read. */
    def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
  }
}

package org.apache.spark.sql {
  object BenchCache {
    /** Number of CacheManager entries (Dataset.cache/persist plans). */
    def entries(spark: SparkSession): Int =
      spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.numCachedEntries
  }
}
