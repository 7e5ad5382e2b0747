package org.apache.spark.sql.graftshim

import org.apache.spark.sql.SparkSession

/** Test-side bridge to the session's CacheManager (private[sql]): the
  * number of cached frames, counted whether or not their blocks were
  * ever built — a release spec must catch a cache nobody materialized. */
object CacheProbe {
  def cachedEntries(spark: SparkSession): Int =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.numCachedEntries
}
