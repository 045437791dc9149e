package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One object's slice of the query registry: its queries, their DuckDB
  * oracles, and the oracles rendered at run time from learned parameters
  * (q64's k-means centroids and the like).
  */
trait QuerySet {
  def queries: Map[String, (SparkSession, String) => DataFrame]
  def oracleSql: Map[String, String]
  def dynamicOracleSql: Map[String, (SparkSession, String) => String] =
    Map.empty
}
