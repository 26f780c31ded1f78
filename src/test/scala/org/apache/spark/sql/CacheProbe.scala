package org.apache.spark.sql

/** Test access to the number of entries in the session cache, which Spark
  * keeps package-private. */
object CacheProbe {
  def entries(spark: SparkSession): Int =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.numCachedEntries
}
