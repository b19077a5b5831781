package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession

/** The cache manager's entry count is private to Spark; a spec compares it
  * before and after an operator to see that the operator released what it
  * cached.
  */
object Caches {
  def entries(spark: SparkSession): Int =
    spark.sharedState.cacheManager.numCachedEntries
}
