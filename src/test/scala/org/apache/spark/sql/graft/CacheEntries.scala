package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession

/** How many plans the session's `CacheManager` holds (Spark keeps the
  * count package-private).
  */
object CacheEntries {
  def count(spark: SparkSession): Int = spark.sharedState.cacheManager.numCachedEntries
}
