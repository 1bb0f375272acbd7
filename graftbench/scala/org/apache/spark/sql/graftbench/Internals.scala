package org.apache.spark.sql.graftbench

import org.apache.spark.sql.SparkSession

/** The two Spark-internal reads the benchmark needs, hence this package:
  * the number of CacheManager entries, and waiting until every queued
  * listener event has been delivered (so a traced run's task metrics
  * are complete before they are written out).
  */
object Internals {
  def cacheEntries(spark: SparkSession): Int =
    spark.sharedState.cacheManager.numCachedEntries

  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
