package org.apache.spark.sql.graftshim

import org.apache.spark.SparkContext

/** Specs that count Spark events with a listener call this before they
  * assert: events reach listeners asynchronously, and the bus that
  * delivers them is Spark-private.
  */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
