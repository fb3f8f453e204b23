package org.apache.spark.sql.grafttest

import org.apache.spark.sql.SparkSession

/** Test-only bridge: `CacheManager.numCachedEntries` is
  * `private[sql]`, and cache-release assertions need the number of
  * plans the session's CacheManager holds.
  */
object CachedPlans {
  def count(spark: SparkSession): Int = spark
    .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    .sharedState.cacheManager.numCachedEntries
}
