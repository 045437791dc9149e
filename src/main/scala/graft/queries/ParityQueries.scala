package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.{Readers, Reports}
import graft.engine.models.Corporate
import Tables.t

/** Operator-parity queries (SURVEY.md §2) expressed over the harness
  * testdata tables, each paired with ANSI SQL the driver runs in DuckDB on
  * the same parquet files. Column names and row order are deterministic on
  * both sides (every query ends in a total ORDER BY; aggregated doubles are
  * rounded to 2dp so floating-point summation order cannot flip the compare).
  *
  * The payroll surface is mapped onto the TPC-H-ish tables per FIXTURES.md
  * §B: lineitem plays the fact table (job_title ≅ l_returnflag,
  * total_amount ≅ l_extendedprice), orders feeds the string-cleaning
  * programs, part feeds name normalization and top-k.
  */
object ParityQueries extends QuerySet {

  /** lineitem mapped to the fct contract (job_title, total_amount). */
  def lineitemFact(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem").select(
      col("l_returnflag").as("job_title"),
      col("l_extendedprice").as("total_amount"))

  private def report(s: SparkSession, dir: String): DataFrame =
    Reports.budgetReport(lineitemFact(s, dir))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // A1/O2 — hash group-by budget report, ranked by budget.
    "q01_budget_report" -> ((s, dir) =>
      report(s, dir).select(
        col("job_title"),
        col("total_employee"),
        round(col("total_budget"), 2).as("total_budget"))
        .orderBy(desc("total_budget"), asc("job_title"))),

    // O1 — full export with ASC NULLS LAST ordering (tie-broken on the key
    // so the compare is stable regardless of partitioning).
    "q02_full_export" -> ((s, dir) =>
      Reports.fullExport(
        t(s, dir, "part").select(
          col("p_type").as("job_title"),
          col("p_retailprice").as("total_amount"),
          col("p_partkey"), col("p_name"), col("p_brand"), col("p_size")),
        col("p_partkey"))),

    // O3 — top-k via sort+limit; Catalyst plans TakeOrderedAndProject.
    "q03_topk" -> ((s, dir) =>
      t(s, dir, "part")
        .select(col("p_partkey"), col("p_name"), col("p_brand"),
          col("p_retailprice"))
        .orderBy(desc("p_retailprice"), asc("p_partkey"))
        .limit(10)),

    // A2 — KPI grand totals + guarded average over the report.
    "q04_kpi_totals" -> ((s, dir) =>
      Reports.kpis(report(s, dir)).select(
        round(col("total_budget"), 2).as("total_budget"),
        col("total_employee"),
        round(col("avg_budget_per_employee"), 2).as("avg_budget_per_employee"))),

    // A3 — count/max/min/median summary stats over the report.
    "q05_stats_summary" -> ((s, dir) =>
      Reports.stats(report(s, dir)).select(
        col("n_rows"),
        round(col("max_budget"), 2).as("max_budget"),
        round(col("min_budget"), 2).as("min_budget"),
        round(col("median_budget"), 2).as("median_budget"))),

    // P2+P3+P4 — currency strip + cast + zero-fill over synthesized money
    // strings (every 7th order's value goes missing to exercise COALESCE).
    "q06_currency_clean" -> ((s, dir) =>
      t(s, dir, "orders").select(
        col("o_orderkey"),
        concat(lit("$"), col("o_totalprice").cast("string")).as("raw_money"),
        when(col("o_orderkey") % 7 === 0, lit(null: String))
          .otherwise(concat(lit("$"), col("o_totalprice").cast("string")))
          .as("raw_maybe"))
        .select(
          col("o_orderkey"),
          Corporate.money(col("raw_money")).as("cleaned"),
          coalesce(Corporate.money(col("raw_maybe")), lit(0.0)).as("cleaned_filled"))
        .orderBy("o_orderkey")),

    // P6 — 3-branch CASE categorization using the real corporate risk
    // program (overtime ≅ l_discount, base ≅ l_tax), branch order sensitive.
    "q07_case_bands" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .select(Corporate.overtimeStatus(col("l_discount"), col("l_tax"))
          .as("band"))
        .groupBy("band").agg(count(lit(1)).as("n"))
        .orderBy("band")),

    // P8-P11 — ROUND(x / NULLIF(y,0) * 100, 2) divide-by-zero guard.
    "q08_ratio_guard" -> ((s, dir) =>
      t(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        Corporate.loyaltyBonusPercentage(col("l_discount"), col("l_tax"))
          .as("pct"))
        .orderBy("l_orderkey", "l_linenumber")),

    // §2.2 end-to-end — the full corporate stg→fct column program over a
    // payroll-shaped projection of orders (currency strings with injected
    // nulls), audit timestamp excluded (non-deterministic P5).
    "q09_corporate_pipeline" -> ((s, dir) => {
      val money = concat(lit("$"), col("o_totalprice").cast("string"))
      val raw = t(s, dir, "orders").select(
        col("o_orderkey").cast("string").as("Row ID"),
        year(col("o_orderdate")).cast("string").as("Year"),
        col("o_orderpriority").as("Department Title"),
        col("o_orderstatus").as("Job Class Title"),
        col("o_orderpriority").as("Employment Type"),
        money.as("Base Pay"),
        when(col("o_orderkey") % 3 === 0, lit(null: String))
          .otherwise((col("o_totalprice") * 0.1).cast("string"))
          .as("Overtime Pay"),
        when(col("o_orderkey") % 5 === 0, lit(null: String))
          .otherwise((col("o_totalprice") * 0.05).cast("string"))
          .as("Longevity Bonus Pay"),
        (col("o_totalprice") * 0.2).cast("string").as("Average Benefit Cost"))
      Corporate.fct(Corporate.stg(raw))
        .drop("processed_at")
        .orderBy(col("row_id").cast("long"))
    }),

    // S2 — DuckDB normalize_names semantics: messy headers (spaces, case,
    // punctuation) come out as snake_case; verified via output column names.
    "q10_normalize_names" -> ((s, dir) => {
      val messy = t(s, dir, "part").toDF(
        " P Partkey ", "P-Name", "p  BRAND", "P/Type", " p size!", "Retail$Price")
      Readers.normalizeColumns(messy).orderBy("p_partkey")
    })
  )

  val oracleSql: Map[String, String] = Map(
    "q01_budget_report" ->
      """SELECT l_returnflag AS job_title, count(*) AS total_employee,
         round(sum(l_extendedprice), 2) AS total_budget
         FROM lineitem GROUP BY 1
         ORDER BY total_budget DESC, job_title""",

    "q02_full_export" ->
      """SELECT p_type AS job_title, p_retailprice AS total_amount,
         p_partkey, p_name, p_brand, p_size
         FROM part ORDER BY job_title ASC NULLS LAST, p_partkey""",

    "q03_topk" ->
      """SELECT p_partkey, p_name, p_brand, p_retailprice
         FROM part ORDER BY p_retailprice DESC, p_partkey LIMIT 10""",

    "q04_kpi_totals" ->
      """WITH r AS (
           SELECT l_returnflag, count(*) AS emp, sum(l_extendedprice) AS bud
           FROM lineitem GROUP BY 1)
         SELECT round(sum(bud), 2) AS total_budget,
                CAST(sum(emp) AS BIGINT) AS total_employee,
                round(CASE WHEN sum(emp) > 0 THEN sum(bud) / sum(emp)
                      ELSE 0.0 END, 2) AS avg_budget_per_employee
         FROM r""",

    "q05_stats_summary" ->
      """WITH r AS (
           SELECT l_returnflag, sum(l_extendedprice) AS total_budget
           FROM lineitem GROUP BY 1)
         SELECT count(*) AS n_rows,
                round(max(total_budget), 2) AS max_budget,
                round(min(total_budget), 2) AS min_budget,
                round(median(total_budget), 2) AS median_budget
         FROM r""",

    "q06_currency_clean" ->
      """SELECT o_orderkey,
         CAST(regexp_replace('$' || CAST(o_totalprice AS VARCHAR), '[$,]', '', 'g') AS DOUBLE) AS cleaned,
         coalesce(CAST(regexp_replace(
             CASE WHEN o_orderkey % 7 = 0 THEN NULL
                  ELSE '$' || CAST(o_totalprice AS VARCHAR) END,
             '[$,]', '', 'g') AS DOUBLE), 0.0) AS cleaned_filled
         FROM orders ORDER BY o_orderkey""",

    "q07_case_bands" ->
      """SELECT CASE WHEN l_discount > 0.25 * l_tax THEN 'High Overtime'
                     WHEN l_discount > 0 THEN 'Regular Overtime'
                     ELSE 'No Overtime' END AS band,
                count(*) AS n
         FROM lineitem GROUP BY 1 ORDER BY band""",

    "q08_ratio_guard" ->
      """SELECT l_orderkey, l_linenumber,
         round(l_discount / nullif(l_tax, 0) * 100, 2) AS pct
         FROM lineitem ORDER BY l_orderkey, l_linenumber""",

    "q09_corporate_pipeline" ->
      """WITH raw AS (
           SELECT CAST(o_orderkey AS VARCHAR) AS row_id_s,
                  CAST(year(o_orderdate) AS VARCHAR) AS year_s,
                  o_orderpriority AS dept_s,
                  o_orderstatus AS job_s,
                  '$' || CAST(o_totalprice AS VARCHAR) AS base_s,
                  CASE WHEN o_orderkey % 3 = 0 THEN NULL
                       ELSE CAST(o_totalprice * 0.1 AS VARCHAR) END AS ot_s,
                  CASE WHEN o_orderkey % 5 = 0 THEN NULL
                       ELSE CAST(o_totalprice * 0.05 AS VARCHAR) END AS bonus_s,
                  CAST(o_totalprice * 0.2 AS VARCHAR) AS benefit_s
           FROM orders),
         stg AS (
           SELECT row_id_s AS row_id, year_s AS year, dept_s AS department,
                  job_s AS job_title,
                  CAST(regexp_replace(base_s, '[$,]', '', 'g') AS DOUBLE) AS base_pay,
                  coalesce(CAST(regexp_replace(ot_s, '[$,]', '', 'g') AS DOUBLE), 0.0) AS overtime_pay,
                  coalesce(CAST(regexp_replace(bonus_s, '[$,]', '', 'g') AS DOUBLE), 0.0) AS longevity_bonus,
                  coalesce(CAST(regexp_replace(benefit_s, '[$,]', '', 'g') AS DOUBLE), 0.0) AS benefit_cost
           FROM raw)
         SELECT row_id, year, department, job_title, base_pay, overtime_pay,
                base_pay + overtime_pay + longevity_bonus + benefit_cost AS total_amount,
                CASE WHEN overtime_pay > 0.25 * base_pay THEN 'High Overtime'
                     WHEN overtime_pay > 0 THEN 'Regular Overtime'
                     ELSE 'No Overtime' END AS overtime_status,
                round(longevity_bonus / nullif(base_pay, 0) * 100, 2) AS loyalty_bonus_percentage
         FROM stg ORDER BY CAST(row_id AS BIGINT)""",

    "q10_normalize_names" ->
      """SELECT p_partkey, p_name, p_brand AS p_brand, p_type AS p_type,
         p_size AS p_size, p_retailprice AS retail_price
         FROM part ORDER BY p_partkey"""
  )
}
