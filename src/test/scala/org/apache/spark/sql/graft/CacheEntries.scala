package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession

/** How many frames a session has cached: specs' access to the
  * `private[sql]` `CacheManager.numCachedEntries`. */
object CacheEntries {
  def apply(spark: SparkSession): Int = spark.sharedState.cacheManager.numCachedEntries
}
