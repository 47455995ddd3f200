package org.apache.spark.sql

/** Test-side read of the shared cache manager, whose entry count Spark
  * keeps package-private.
  */
object CacheProbe {
  def entries(spark: SparkSession): Int =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.numCachedEntries
}
