package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.engine.Readers
import Tables.t

/** Second wave of relational coverage: exact percentiles, conditional
  * aggregation, string/date scalar functions, window-based dedup
  * materialization, batch sessionization (the batch twin of
  * `streaming.EventStream.userSessions`), and an as-of-style
  * "latest prior event" join expressed as a running window maximum
  * (portable to the oracle, and shuffle-free beyond the per-key sort).
  */
object AdvancedQueries extends QuerySet {

  /** events with the nanosecond timestamp read as long and converted. */
  private def events(s: SparkSession, dir: String): DataFrame =
    Readers.eventsNanos(s, dir)
      .withColumn("ts", timestamp_micros(expr("ts div 1000")))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Exact interpolated percentiles per group (Spark `percentile` ==
    // DuckDB `quantile_cont`); cheap because the sort is per-group.
    // Rounded to 4dp, NOT 2: interpolated values over 2-decimal prices are
    // multiples of 0.0005 (e.g. an even-count median lands exactly on a
    // .005 midpoint), which sit ON the 4dp grid but exactly AT the 2dp
    // rounding boundary, where the engines' interpolation formulas differ
    // by an ulp and flip the rounded cent.
    // One array-percentile aggregate, not three scalar ones: each scalar
    // `percentile` is its own ImperativeAggregate buffering EVERY value
    // per group — the array form shares one buffer (3x less memory and
    // merge work; 4.2s -> ~1.5s at sf0.1).
    "q33_percentiles" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(expr("percentile(l_extendedprice, array(0.25D, 0.5D, 0.9D))")
          .as("ps"))
        .select(col("l_returnflag"),
          round(element_at(col("ps"), 1), 4).as("p25"),
          round(element_at(col("ps"), 2), 4).as("p50"),
          round(element_at(col("ps"), 3), 4).as("p90"))
        .orderBy("l_returnflag")),

    // Conditional aggregation: filtered counts/sums in one pass (no
    // self-joins, no multiple scans).
    "q34_conditional_agg" -> ((s, dir) =>
      t(s, dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
          count(lit(1)).as("n"),
          count_if(col("o_totalprice") > 200000).as("n_big"),
          round(sum(when(col("o_orderpriority") === "1-URGENT",
            col("o_totalprice")).otherwise(0.0)), 2).as("urgent_total"))
        .orderBy("o_orderstatus")),

    // String scalar-function sweep over part names.
    "q35_string_funcs" -> ((s, dir) =>
      t(s, dir, "part").select(
        col("p_partkey"),
        upper(col("p_brand")).as("brand_u"),
        lower(col("p_type")).as("type_l"),
        substring(col("p_name"), 2, 5).as("name_mid"),
        replace(col("p_name"), lit(" "), lit("_")).as("name_us"),
        lpad(col("p_partkey").cast("string"), 10, "0").as("key_pad"),
        concat_ws("|", col("p_brand"), col("p_type")).as("brand_type"),
        col("p_name").like("%green%").as("is_green"),
        length(col("p_name")).cast("long").as("name_len"))
        .orderBy("p_partkey")),

    // Date/time scalar sweep (UTC session; truncation + parts).
    "q36_date_funcs" -> ((s, dir) =>
      t(s, dir, "orders").select(
        col("o_orderkey"),
        year(col("o_orderdate")).cast("long").as("y"),
        month(col("o_orderdate")).cast("long").as("m"),
        dayofmonth(col("o_orderdate")).cast("long").as("d"),
        date_trunc("month", col("o_orderdate")).as("month_start"),
        // o_orderdate reads as TIMESTAMP_NTZ; session TZ is UTC so the
        // cast to instant is identity, enabling epoch extraction
        unix_micros(col("o_orderdate").cast("timestamp")).as("epoch_us"))
        .orderBy("o_orderkey")),

    // Dedup materialization: keep the lowest doc_id per identical text
    // (row_number over the content digest — the "apply" step of q26).
    "q37_dedup_keep_first" -> ((s, dir) => {
      val w = Window.partitionBy(md5(col("text"))).orderBy("doc_id")
      t(s, dir, "documents")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")
    }),

    // Batch sessionization: 30-minute-gap sessions per user via
    // lag + running sum — the batch twin of EventStream.userSessions.
    "q38_sessionize_batch" -> ((s, dir) => {
      val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val newSession = when(
        unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(byUser))
          > 30L * 60 * 1000000, 1).otherwise(0)
      events(s, dir)
        .withColumn("new_s", coalesce(newSession, lit(0)))
        .withColumn("session_id", sum("new_s").over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "session_id")
        .agg(count(lit(1)).as("n_events"),
          unix_micros(min("ts")).as("start_us"),
          unix_micros(max("ts")).as("end_us"),
          round(sum("value"), 2).as("value_sum"))
        .orderBy("user_id", "session_id")
    }),

    // As-of lookup: for every event, the timestamp of the same user's most
    // recent 'purchase' at-or-before it — a running windowed max, no join.
    "q39_asof_prev_purchase" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      events(s, dir).select(
        col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"),
        unix_micros(max(when(col("event_type") === "purchase", col("ts")))
          .over(w)).as("last_purchase_us"))
        .orderBy("event_id")
    })
  )

  val oracleSql: Map[String, String] = Map(
    "q33_percentiles" ->
      """SELECT l_returnflag,
                round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
                round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
                round(quantile_cont(l_extendedprice, 0.9), 4) AS p90
         FROM lineitem GROUP BY 1 ORDER BY l_returnflag""",

    "q34_conditional_agg" ->
      """SELECT o_orderstatus, count(*) AS n,
                CAST(count_if(o_totalprice > 200000) AS BIGINT) AS n_big,
                round(sum(CASE WHEN o_orderpriority = '1-URGENT'
                          THEN o_totalprice ELSE 0.0 END), 2) AS urgent_total
         FROM orders GROUP BY 1 ORDER BY o_orderstatus""",

    "q35_string_funcs" ->
      """SELECT p_partkey,
                upper(p_brand) AS brand_u,
                lower(p_type) AS type_l,
                substr(p_name, 2, 5) AS name_mid,
                replace(p_name, ' ', '_') AS name_us,
                lpad(CAST(p_partkey AS VARCHAR), 10, '0') AS key_pad,
                concat_ws('|', p_brand, p_type) AS brand_type,
                p_name LIKE '%green%' AS is_green,
                length(p_name) AS name_len
         FROM part ORDER BY p_partkey""",

    "q36_date_funcs" ->
      """SELECT o_orderkey,
                year(o_orderdate) AS y,
                month(o_orderdate) AS m,
                day(o_orderdate) AS d,
                CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
                epoch_us(o_orderdate) AS epoch_us
         FROM orders ORDER BY o_orderkey""",

    "q37_dedup_keep_first" ->
      """SELECT doc_id, lang, source, n_chars FROM (
           SELECT doc_id, lang, source, n_chars,
                  row_number() OVER (PARTITION BY md5(text)
                                     ORDER BY doc_id) AS rn
           FROM documents) t
         WHERE rn = 1 ORDER BY doc_id""",

    "q38_sessionize_batch" ->
      """WITH g AS (
           SELECT user_id, event_id, ts, value,
                  CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER
                         (PARTITION BY user_id ORDER BY ts, event_id))
                       > 30 * 60 * 1000000 THEN 1 ELSE 0 END AS new_s
           FROM events),
         s AS (
           SELECT user_id, event_id, ts, value,
                  sum(coalesce(new_s, 0)) OVER (PARTITION BY user_id
                    ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS session_id
           FROM g)
         SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
                count(*) AS n_events,
                epoch_us(min(ts)) AS start_us, epoch_us(max(ts)) AS end_us,
                round(sum(value), 2) AS value_sum
         FROM s GROUP BY 1, 2 ORDER BY user_id, session_id""",

    "q39_asof_prev_purchase" ->
      """SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us,
                epoch_us(max(CASE WHEN event_type = 'purchase' THEN ts END)
                  OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING)) AS last_purchase_us
         FROM events ORDER BY event_id"""
  )
}
