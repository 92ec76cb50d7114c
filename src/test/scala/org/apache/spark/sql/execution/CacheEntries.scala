package org.apache.spark.sql.execution

import org.apache.spark.sql.SparkSession

/** Entries in the CacheManager every session of `s`'s context shares;
  * Spark keeps the count package-private. */
object CacheEntries {
  def apply(s: SparkSession): Int =
    s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.numCachedEntries
}
