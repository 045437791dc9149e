package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.Readers
import graft.ext.{Analytics, Stats, TimeSeries}
import graft.functions.Portable.hash60
import OracleSql.centsSql

/** Round-13 eighth batch: forecast-trust and preference-learning
  * primitives — split-conformal interval backtesting for the seasonal-
  * naive forecaster (distribution-free coverage, exact discrete
  * quantile) and Bradley–Terry strength scores from pairwise
  * per-user comparisons (the RLHF reward-shaping primitive). Win/loss
  * margins and residual quantiles verify in SQL; only the MM-fixed-
  * point scores render into a dynamic oracle.
  */
object Round13hQueries extends QuerySet {

  private val DayUs = 86400000000L
  // events span 2024-01-01 (day 19723) .. 2024-01-30 (day 19752);
  // lag-7 residuals exist from day 19730
  private val CalLo = 19730L; private val CalHi = 19744L
  private val TestLo = 19745L; private val TestHi = 19752L
  private val CovPct = 90

  private def eventsUs(s: SparkSession, dir: String): DataFrame =
    Readers.eventsNanos(s, dir)
      .select(col("user_id"), col("event_type"),
        expr("ts div 1000").as("tsu"), col("value"))

  private def dailyByType(s: SparkSession, dir: String): DataFrame =
    eventsUs(s, dir)
      .groupBy(col("event_type"), expr(s"tsu div ${DayUs}L").as("day"))
      .agg(sum(Stats.cents(col("value"))).as("y"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Split-conformal coverage backtest of the lag-7 seasonal-naive
    // band on per-type daily totals.
    "q323_conformal" -> ((s, dir) =>
      TimeSeries.conformalBacktest(dailyByType(s, dir), "event_type",
          "day", "y", lag = 7, CalLo, CalHi, TestLo, TestHi, CovPct)
        .orderBy("event_type")),

    // Bradley-Terry preference strengths: per user, event type a beats
    // b when a's mean value exceeds b's (exact cross-multiplied
    // integer compare); the MM solve runs on the collected win matrix.
    "q324_bradley_terry" -> ((s, dir) => {
      val ut = eventsUs(s, dir)
        .groupBy(col("user_id"), col("event_type"))
        .agg(sum(Stats.cents(col("value"))).as("s"),
          count(lit(1)).as("n"))
      val pairs = ut.as("a").join(ut.as("b"),
          col("a.user_id") === col("b.user_id") &&
            col("a.event_type") < col("b.event_type"))
        .select(hash60(col("a.event_type")).as("ca"),
          hash60(col("b.event_type")).as("cb"),
          (col("a.s") * col("b.n") - col("b.s") * col("a.n")).as("__d"))
      val wa = pairs.filter(col("__d") > 0)
        .groupBy(col("ca").as("wa"), col("cb").as("la"))
        .agg(count(lit(1)).as("w"))
      val wb = pairs.filter(col("__d") < 0)
        .groupBy(col("cb").as("wa"), col("ca").as("la"))
        .agg(count(lit(1)).as("w"))
      val dim = eventsUs(s, dir).select(hash60(col("event_type"))
        .as("code"), col("event_type")).distinct()
      Analytics.bradleyTerry(wa.unionAll(wb), "wa", "la", "w")
        .join(broadcast(dim), "code")
        .select(col("event_type"), col("wins"), col("losses"),
          col("bt_micro"), col("bt_score"))
        .orderBy("event_type")
    }),
  )

  private val dailySql =
    s"""SELECT event_type, epoch_us(ts) // $DayUs AS day,
               CAST(sum(${centsSql("value")}) AS BIGINT) AS y
        FROM events GROUP BY 1, 2"""

  val oracleSql: Map[String, String] = Map(

    "q323_conformal" ->
      s"""WITH daily AS ($dailySql),
          r AS (SELECT a.event_type, a.day, abs(a.y - b.y) AS r
                FROM daily a JOIN daily b
                  ON b.event_type = a.event_type
                 AND b.day = a.day - 7),
          cal AS (SELECT * FROM r
                  WHERE day BETWEEN $CalLo AND $CalHi),
          rk AS (SELECT event_type, r,
                        row_number() OVER (PARTITION BY event_type
                          ORDER BY r, day) AS rn,
                        count(*) OVER (PARTITION BY event_type) AS n
                 FROM cal),
          q AS (SELECT event_type, CAST(n AS BIGINT) AS n_cal,
                       r AS q_hat
                FROM rk WHERE rn = 1 + ((n - 1) * $CovPct) // 100),
          te AS (SELECT * FROM r
                 WHERE day BETWEEN $TestLo AND $TestHi)
          SELECT q.event_type, q.n_cal, q.q_hat,
                 CAST(count(*) AS BIGINT) AS n_test,
                 CAST(sum(CASE WHEN te.r <= q.q_hat THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_covered,
                 CAST(sum(CASE WHEN te.r <= q.q_hat THEN 1 ELSE 0 END)
                      AS DOUBLE) / CAST(count(*) AS DOUBLE) AS coverage
          FROM te JOIN q USING (event_type)
          GROUP BY 1, 2, 3 ORDER BY 1""",
  )

  /** q324's oracle: the win/loss margins recompute independently in
    * SQL (exact cross-multiplied mean compare, ties excluded); the MM
    * strengths render as literals.
    */
  override val dynamicOracleSql: Map[String, (SparkSession, String) => String] =
    Map(
      "q324_bradley_terry" -> ((s, dir) => {
        val scored = queries("q324_bradley_terry")(s, dir)
          .select(col("event_type"), col("bt_micro"))
          .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
        val cases = scored.map { case (n, m) => s"WHEN '$n' THEN $m" }
          .mkString(" ")
        s"""WITH ut AS (SELECT user_id, event_type,
                               CAST(sum(${centsSql("value")}) AS BIGINT)
                                 AS s,
                               CAST(count(*) AS BIGINT) AS n
                        FROM events GROUP BY 1, 2),
            p AS (SELECT a.event_type AS ta, b.event_type AS tb,
                         a.s * b.n - b.s * a.n AS d
                  FROM ut a JOIN ut b
                    ON a.user_id = b.user_id
                   AND a.event_type < b.event_type
                  WHERE a.s * b.n <> b.s * a.n),
            u AS (SELECT ta AS t,
                         CASE WHEN d > 0 THEN 1 ELSE 0 END AS w,
                         CASE WHEN d < 0 THEN 1 ELSE 0 END AS l
                  FROM p
                  UNION ALL
                  SELECT tb,
                         CASE WHEN d < 0 THEN 1 ELSE 0 END,
                         CASE WHEN d > 0 THEN 1 ELSE 0 END
                  FROM p),
            m AS (SELECT t AS event_type,
                         CAST(sum(w) AS BIGINT) AS wins,
                         CAST(sum(l) AS BIGINT) AS losses
                  FROM u GROUP BY 1)
            SELECT event_type, wins, losses,
                   CAST(CASE event_type $cases END AS BIGINT) AS bt_micro,
                   CAST(CASE event_type $cases END AS DOUBLE) / 1000000.0
                     AS bt_score
            FROM m ORDER BY event_type"""
      }))
}
