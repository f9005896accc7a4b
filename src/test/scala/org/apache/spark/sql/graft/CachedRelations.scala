package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession

/** Entries in the session's shared `CacheManager` (shared by every
  * `newSession()` of one context). The count is `private[spark]`.
  */
object CachedRelations {
  def count(spark: SparkSession): Int =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.numCachedEntries
}
