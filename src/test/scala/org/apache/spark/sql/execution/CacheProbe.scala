package org.apache.spark.sql.execution

/** Test access to the session cache's entry count, which Spark keeps
  * package-private.
  */
object CacheProbe {
  def entries(spark: org.apache.spark.sql.SparkSession): Int =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.numCachedEntries
}
