package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ArrowBridge

/** Read-path queries (SURVEY.md §2.5, §2.7, §3.2-3.3). All operate on a fact
  * table honoring the cross-industry contract (`job_title`, `total_amount` —
  * reference `serve_flight.py:285-286`).
  *
  * Scale notes: the budget report is a hash aggregate — Spark plans
  * partial (map-side) aggregation before the exchange, so the shuffle carries
  * one row per (partition × job_title), not per input row; cardinality of
  * job_title is small, so the final stage is trivial at any input size.
  * The top-k is planned as TakeOrderedAndProject (per-partition heap + driver
  * merge of k rows), never a global sort. The full export is the only global
  * sort (range-partitioned exchange) — inherent to its ORDER BY semantics.
  */
object Reports {

  /** Contract check — every fact table must expose these (M-contract). */
  def requireContract(fct: DataFrame): DataFrame = {
    val cols = fct.columns.toSet
    require(Set("job_title", "total_amount").subsetOf(cols),
      s"fact table violates contract (job_title, total_amount): ${cols.mkString(",")}")
    fct
  }

  /** A1 + O2 — the budget report (`serve_flight.py:295`):
    * per job_title head-count and total budget, ranked by budget desc;
    * tied budgets in job_title order (NULLS LAST), so the row sequence is
    * a function of the fact table alone. The report has one row per
    * job_title, so it is sorted in one partition: no range exchange and
    * no sampling job (2 jobs instead of 4 per execution).
    */
  def budgetReport(fct: DataFrame): DataFrame =
    requireContract(fct)
      .groupBy("job_title")
      .agg(
        count(lit(1)).as("total_employee"),
        sum("total_amount").as("total_budget"))
      .coalesce(1)
      .orderBy(desc("total_budget"), asc_nulls_last("job_title"))

  /** The budget report as Arrow IPC batches (S7's wire payload). The one
    * encoding of the report: [[GraftService.budgetReportArrow]] computes it
    * on a build's first report request and stores it with that build.
    */
  def budgetReportArrow(fct: DataFrame): Array[Array[Byte]] =
    ArrowBridge.toArrowBatches(budgetReport(fct))

  /** O1 — full export (`serve_flight.py:291`): ORDER BY job_title with
    * DuckDB's default NULLS LAST for ascending order (SURVEY.md §2.7 O1).
    */
  def fullExport(fct: DataFrame, tieBreak: Column*): DataFrame =
    requireContract(fct).orderBy(asc_nulls_last("job_title") +: tieBreak: _*)

  /** A2 — KPI grand totals over the report (`app.py:340-342`): total budget,
    * total employees, and average budget per employee (0 when no employees).
    */
  def kpis(report: DataFrame): DataFrame =
    report.agg(
      sum("total_budget").as("total_budget"),
      sum("total_employee").as("total_employee"))
      .select(
        col("total_budget"),
        col("total_employee"),
        when(col("total_employee") > 0, col("total_budget") / col("total_employee"))
          .otherwise(lit(0.0)).as("avg_budget_per_employee"))

  /** A3 — summary stats over the report (`app.py:490-495`): count, max, min,
    * exact median of total_budget. Exact percentile needs a per-group sort of
    * the REPORT (small: one row per job_title), not of the raw fact table —
    * cheap at any input scale. Use percentile_approx upstream if the report
    * itself ever becomes high-cardinality.
    */
  def stats(report: DataFrame): DataFrame =
    report.agg(
      count(lit(1)).as("n_rows"),
      max("total_budget").as("max_budget"),
      min("total_budget").as("min_budget"),
      expr("percentile(total_budget, 0.5)").as("median_budget"))
}
