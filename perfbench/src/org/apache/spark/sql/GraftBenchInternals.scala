package org.apache.spark.sql

import org.apache.spark.SparkContext

/** The two Spark internals the benchmark reads, reachable only from
  * inside Spark's package. */
object GraftBenchInternals {
  /** Blocks until every event posted so far has reached the listeners. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Number of CacheManager entries (cached query plans). */
  def cacheEntries(spark: SparkSession): Int =
    spark.sharedState.cacheManager.numCachedEntries
}
