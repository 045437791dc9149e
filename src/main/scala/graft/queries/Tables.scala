package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import graft.engine.Readers

/** The table reads the query files share, one copy each: a query file
  * imports `Tables.t` (and `Tables.eventsUs`) instead of carrying its own
  * private delegate. Both go through [[Readers]], so every registry read
  * is served by its schema catalog.
  */
private[queries] object Tables {

  /** The `name` parquet table of the sf dir `dir`. */
  def t(s: SparkSession, dir: String, name: String): DataFrame =
    Readers.table(s, dir, name)

  /** Events with `ts` as epoch MICROS (`tsu`), beside the ids, type and
    * value the sessionizing queries consume.
    */
  def eventsUs(s: SparkSession, dir: String): DataFrame =
    Readers.eventsNanos(s, dir).select(
      col("user_id"), expr("ts div 1000").as("tsu"),
      col("event_id"), col("event_type"), col("value"))
}
