package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.SparkSession

/** The number of plans `spark`'s CacheManager holds — every lazy
  * persist, filled or not. Lives in the `org.apache.spark.sql`
  * namespace because the count is `private[sql]`.
  */
object CacheEntries {
  def count(spark: SparkSession): Int =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sharedState.cacheManager.numCachedEntries
}
