package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.engine.Readers
import Tables.t

/** Relational operators beyond the reference's own surface (the reference
  * has no joins/windows/set-ops — SURVEY.md §2.4/§2.6/§2.8) exercised the
  * way a 100 TB deployment would use them, with the physical plan chosen
  * deliberately:
  *
  *  - dimension joins broadcast the small side (`broadcast()` hint) so the
  *    fact table never shuffles;
  *  - fact-fact joins shuffle on the join key and pre-aggregate map-side
  *    (Spark's partial HashAggregate) before the exchange;
  *  - windowed running totals are computed over DECIMAL, not DOUBLE, so the
  *    result is independent of accumulation order (safe under any
  *    partitioning AND hash-comparable against the oracle);
  *  - rollup grouping columns are coalesced to a sentinel so null-ordering
  *    differences between engines cannot affect the compare.
  */
object RelationalQueries extends QuerySet {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Broadcast hash join: fact(lineitem) ⋈ dim(part) — dim fits in memory
    // at any realistic part-catalog size, so the fact side never moves.
    "q11_join_broadcast" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "part")), col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n_items"),
          round(sum(col("l_extendedprice")), 2).as("revenue"))
        .orderBy("p_brand")),

    // Shuffle hash/sort-merge join of two fact tables on the shared key;
    // aggregation happens after the join but partials run map-side.
    "q12_join_shuffle" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_items"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
            .as("revenue"))
        .orderBy("o_orderpriority")),

    // Multi-way dim join chain (customer ⋈ nation ⋈ region), both dims
    // broadcast; no shuffle until the final small aggregation.
    "q13_join_multi" -> ((s, dir) =>
      t(s, dir, "customer")
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(count(lit(1)).as("n_customers"),
          round(sum("c_acctbal"), 2).as("acctbal_sum"))
        .orderBy("r_name", "n_name")),

    // Left-anti join: customers who never ordered, per market segment.
    "q14_join_anti" -> ((s, dir) =>
      t(s, dir, "customer")
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_customers"))
        .orderBy("c_mktsegment")),

    // Left-semi join: suppliers that shipped at least one item.
    "q15_join_semi" -> ((s, dir) =>
      t(s, dir, "supplier")
        .join(t(s, dir, "lineitem"), col("s_suppkey") === col("l_suppkey"), "left_semi")
        .groupBy("s_nationkey")
        .agg(count(lit(1)).as("n_suppliers"))
        .orderBy("s_nationkey")),

    // Window ranking: top-3 parts per brand by retail price (deterministic
    // tie-break on the key). One shuffle on p_brand, per-partition sort.
    "q16_window_rank" -> ((s, dir) => {
      val w = Window.partitionBy("p_brand")
        .orderBy(desc("p_retailprice"), asc("p_partkey"))
      t(s, dir, "part")
        .select(col("p_brand"), col("p_partkey"), col("p_retailprice"),
          rank().over(w).cast("long").as("rnk"))
        .filter(col("rnk") <= 3)
        .orderBy("p_brand", "rnk", "p_partkey")
    }),

    // Window running total per customer over order time. DECIMAL sum makes
    // the cumulative value exact and order-of-accumulation independent;
    // the final cast to DOUBLE is the comparison boundary (values are exact
    // at 2dp, so the round-trip is lossless) — engines' DECIMAL widening
    // rules differ (Spark decimal(28,2) vs DuckDB decimal(38,2)) and typed
    // hashes diverge on the representation even when values agree.
    "q17_window_running" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(asc("o_orderdate"), asc("o_orderkey"))
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          sum(col("o_totalprice").cast("decimal(18,2)")).over(w)
            .cast("double").as("running_spend"))
        .orderBy("o_custkey", "o_orderkey")
    }),

    // Set operations: nations with customers vs nations with suppliers.
    "q18_setops" -> ((s, dir) => {
      val cn = t(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
      val sn = t(s, dir, "supplier").select(col("s_nationkey").as("nationkey"))
      val both = cn.intersect(sn).select(lit("both").as("tag"), col("nationkey"))
      val custOnly = cn.except(sn).select(lit("cust_only").as("tag"), col("nationkey"))
      val suppOnly = sn.except(cn).select(lit("supp_only").as("tag"), col("nationkey"))
      both.unionAll(custOnly).unionAll(suppOnly).orderBy("tag", "nationkey")
    }),

    // Distinct aggregation (expand-based two-phase distinct in Spark).
    "q19_distinct_agg" -> ((s, dir) =>
      t(s, dir, "customer")
        .groupBy("c_nationkey")
        .agg(countDistinct("c_mktsegment").as("n_segments"),
          count(lit(1)).as("n_customers"))
        .orderBy("c_nationkey")),

    // ROLLUP grouping sets; grouping keys coalesced to a sentinel so the
    // subtotal rows compare identically across engines.
    "q20_rollup" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"),
          round(sum("l_quantity"), 2).as("qty"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
          col("n"), col("qty"))
        .orderBy("returnflag", "linestatus")),

    // JSON extraction from the events payload column + windowed-by-hour agg
    // (the batch shape of the streaming aggregation in graft.streaming).
    // events.ts is parquet TIMESTAMP(NANOS), which Spark only reads as a
    // long (nanosAsLong) — convert to a microsecond timestamp explicitly.
    "q21_json_events" -> ((s, dir) => {
      Readers.eventsNanos(s, dir)
        .select(
          date_trunc("hour", timestamp_micros(expr("ts div 1000"))).as("hour"),
          col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"),
          col("value"))
        .groupBy("hour", "event_type")
        .agg(count(lit(1)).as("n"),
          sum("k").as("k_sum"),
          round(sum("value"), 2).as("value_sum"))
        .orderBy("hour", "event_type")
    })
  )

  val oracleSql: Map[String, String] = Map(
    "q11_join_broadcast" ->
      """SELECT p_brand, count(*) AS n_items,
         round(sum(l_extendedprice), 2) AS revenue
         FROM lineitem JOIN part ON l_partkey = p_partkey
         GROUP BY 1 ORDER BY p_brand""",

    "q12_join_shuffle" ->
      """SELECT o_orderpriority, count(*) AS n_items,
         round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY 1 ORDER BY o_orderpriority""",

    "q13_join_multi" ->
      """SELECT r_name, n_name, count(*) AS n_customers,
         round(sum(c_acctbal), 2) AS acctbal_sum
         FROM customer
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY 1, 2 ORDER BY r_name, n_name""",

    "q14_join_anti" ->
      """SELECT c_mktsegment, count(*) AS n_customers
         FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
         GROUP BY 1 ORDER BY c_mktsegment""",

    "q15_join_semi" ->
      """SELECT s_nationkey, count(*) AS n_suppliers
         FROM supplier
         WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_suppkey = s_suppkey)
         GROUP BY 1 ORDER BY s_nationkey""",

    "q16_window_rank" ->
      """SELECT p_brand, p_partkey, p_retailprice, rnk FROM (
           SELECT p_brand, p_partkey, p_retailprice,
                  rank() OVER (PARTITION BY p_brand
                               ORDER BY p_retailprice DESC, p_partkey) AS rnk
           FROM part) t
         WHERE rnk <= 3 ORDER BY p_brand, rnk, p_partkey""",

    "q17_window_running" ->
      """SELECT o_custkey, o_orderkey,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
           PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
           AS DOUBLE) AS running_spend
         FROM orders ORDER BY o_custkey, o_orderkey""",

    "q18_setops" ->
      """WITH cn AS (SELECT c_nationkey AS nationkey FROM customer),
            sn AS (SELECT s_nationkey AS nationkey FROM supplier)
         SELECT 'both' AS tag, nationkey FROM (SELECT nationkey FROM cn INTERSECT SELECT nationkey FROM sn)
         UNION ALL
         SELECT 'cust_only' AS tag, nationkey FROM (SELECT nationkey FROM cn EXCEPT SELECT nationkey FROM sn)
         UNION ALL
         SELECT 'supp_only' AS tag, nationkey FROM (SELECT nationkey FROM sn EXCEPT SELECT nationkey FROM cn)
         ORDER BY tag, nationkey""",

    "q19_distinct_agg" ->
      """SELECT c_nationkey, count(DISTINCT c_mktsegment) AS n_segments,
         count(*) AS n_customers
         FROM customer GROUP BY 1 ORDER BY c_nationkey""",

    "q20_rollup" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
                coalesce(l_linestatus, 'ALL') AS linestatus,
                count(*) AS n, round(sum(l_quantity), 2) AS qty
         FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
         ORDER BY returnflag, linestatus""",

    "q21_json_events" ->
      """SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS n,
                CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
                round(sum(value), 2) AS value_sum
         FROM events GROUP BY 1, 2 ORDER BY hour, event_type"""
  )
}
