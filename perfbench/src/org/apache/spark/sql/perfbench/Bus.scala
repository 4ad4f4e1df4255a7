package org.apache.spark.sql.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession

/** Two package-private reads the benchmark needs: draining the
  * asynchronous listener bus, so every posted event has reached its
  * listeners before they are read, and the number of entries in the
  * session's cache manager.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def cacheEntries(spark: SparkSession): Int =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sharedState.cacheManager.numCachedEntries
}
