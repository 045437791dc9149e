package org.apache.spark.sql.perfbenchshim

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession

/** Access to two package-private Spark internals the benchmark reads. */
object Bus {
  /** Block until every posted listener event has been delivered. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Number of relations in the session's cache manager. */
  def cachedRelations(spark: SparkSession): Int =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.numCachedEntries
}
