package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` maps one entry per implemented operator (SURVEY.md §2 inventory
  * + the large-scale extension operators); `oracleSql` holds the equivalent
  * DuckDB SQL over the same parquet tables for the driver's hash compare.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0:
    * the reference's budget report (A1) over the lineitem-mapped fact table.
    */
  def entry(spark: SparkSession): DataFrame =
    ParityQueries.queries("q01_budget_report")(spark, "/root/testdata/sf0.001")

  /** Every object that contributes to the registry, each named once. */
  private[graft] def querySets: Seq[QuerySet] = Seq(
    ParityQueries, RelationalQueries, ExtensionQueries, AdvancedQueries,
    CorpusQueries, BreadthQueries, StreamingQueries, Round2Queries,
    Round4Queries, Round5Queries, Round6Queries, Round6bQueries,
    Round7Queries, Round8Queries, Round9Queries, Round10Queries,
    Round11Queries, Round12Queries, Round12bQueries, Round12cQueries,
    Round13Queries, Round13bQueries, Round13cQueries, Round13dQueries,
    Round13eQueries, Round13fQueries, Round13gQueries, Round13hQueries,
    Round13iQueries, Round13jQueries, Round14Queries, Round15Queries,
    Round15bQueries, Round16Queries, Round17Queries, Round18Queries)

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    querySets.flatMap(_.queries).toMap

  /** Builds query `name` over `sfDir`, passes it to `consume`, and then,
    * however `consume` ends, releases what the query pinned
    * ([[graft.ext.Checkpoints.release]]). Bench, Verify, Explain and the
    * registry suite run every query through here.
    */
  def run[A](spark: SparkSession, sfDir: String, name: String)(
      consume: DataFrame => A): A = {
    val df = queries(name)(spark, sfDir)
    try consume(df)
    finally graft.ext.Checkpoints.release(df)
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = querySets.flatMap(_.oracleSql).toMap

  /** Oracles whose SQL depends on run-time-learned parameters (q64's
    * k-means centroids): rendered per (session, sfDir) when Verify dumps
    * oracle_sql.json, so the driver's DuckDB check covers them too.
    */
  def dynamicOracleSql: Map[String, (SparkSession, String) => String] =
    querySets.flatMap(_.dynamicOracleSql).toMap
}
