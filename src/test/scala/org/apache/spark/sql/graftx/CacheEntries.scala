package org.apache.spark.sql.graftx

import org.apache.spark.sql.SparkSession

/** The number of `CacheManager` entries, which Spark keeps `private[sql]`. */
object CacheEntries {
  def apply(spark: SparkSession): Int = spark.sharedState.cacheManager.numCachedEntries
}
