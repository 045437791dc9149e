package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.Readers
import graft.ext.{Analytics, Stats}
import graft.functions.Portable
import Tables.t

/** Round-13 seventh batch: Markov removal-effect attribution (the
  * first-principles channel-credit model, solved exactly with driver
  * rationals) and closed-form two-feature OLS. Edge counts and
  * regression sums are integer-exact; only the solved chain
  * probabilities render into a dynamic oracle.
  */
object Round13gQueries extends QuerySet {

  /** hash60('purchase') as a compile-side constant — must equal the
    * engine expression conv(substr(md5(x),1,15),16,10).
    */
  private val ConvCode: Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest("purchase".getBytes("UTF-8"))
    java.lang.Long.parseLong(
      d.map(b => f"$b%02x").mkString.substring(0, 15), 16)
  }

  /** 2024-01-16T00:00:00Z in epoch micros — the pre/post period cut. */
  private val CupedCutUs = 1705363200000000L

  private def codedEvents(s: SparkSession, dir: String): DataFrame =
    Readers.eventsNanos(s, dir).select(col("user_id"),
      expr("ts div 1000").as("t_us"), col("event_id"),
      Portable.hash60(col("event_type")).as("code"), col("event_type"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Channel credit by removal effect over first-conversion journeys.
    "q320_markov_attribution" -> ((s, dir) => {
      val ev = codedEvents(s, dir)
      val dim = ev.select(col("code"), col("event_type")).distinct()
      Analytics.markovRemovalEffect(ev, "user_id", "t_us", "code",
          col("event_id"), ConvCode)
        .join(broadcast(dim), "code")
        .select(col("event_type"), col("out_n"), col("conv_micro"),
          col("removal_micro"), col("removal_effect"))
        .orderBy("event_type")
    }),

    // Two-feature OLS per return flag: price explained by quantity and
    // discount cents, exact closed form.
    "q321_ols2" -> ((s, dir) =>
      Stats.groupLinFit2(t(s, dir, "lineitem"), "l_returnflag",
          Stats.cents(col("l_extendedprice")),
          col("l_quantity").cast("long"),
          Stats.cents(col("l_discount")))
        .orderBy("l_returnflag")),

    // CUPED-adjusted cohort means: per-user pre-period (Jan 1-15) spend
    // predicts post-period spend; the pooled theta removes it.
    "q322_cuped" -> ((s, dir) => {
      val cents = Stats.cents(col("value"))
      val units = Readers.eventsNanos(s, dir)
        .select(col("user_id"), expr("ts div 1000").as("t_us"), cents.as("c"))
        .groupBy("user_id")
        .agg(coalesce(sum(when(col("t_us") < CupedCutUs, col("c"))),
            lit(0L)).as("pre"),
          coalesce(sum(when(col("t_us") >= CupedCutUs, col("c"))),
            lit(0L)).as("post"))
        .select((col("user_id") % 2).as("cohort"), col("pre"), col("post"))
      Stats.cupedAdjust(units, "cohort", col("pre"), col("post"))
        .orderBy("cohort")
    }),
  )

  val oracleSql: Map[String, String] = Map(

    "q321_ols2" ->
      s"""WITH x AS (SELECT l_returnflag AS g,
                            CAST(floor(l_extendedprice * 100 + 0.5)
                                 AS BIGINT) AS y,
                            CAST(l_quantity AS BIGINT) AS x1,
                            CAST(floor(l_discount * 100 + 0.5) AS BIGINT)
                              AS x2
                     FROM lineitem),
          s AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
                       CAST(sum(x1) AS BIGINT) AS sx1,
                       CAST(sum(x2) AS BIGINT) AS sx2,
                       CAST(sum(y) AS BIGINT) AS sy,
                       CAST(sum(x1 * x1) AS BIGINT) AS sx11,
                       CAST(sum(x1 * x2) AS BIGINT) AS sx12,
                       CAST(sum(x2 * x2) AS BIGINT) AS sx22,
                       CAST(sum(x1 * y) AS BIGINT) AS sx1y,
                       CAST(sum(x2 * y) AS BIGINT) AS sx2y
                FROM x GROUP BY 1),
          d AS (SELECT g, n,
                       CAST(n AS DOUBLE) AS nd,
                       CAST(sx1 AS DOUBLE) AS sx1, CAST(sx2 AS DOUBLE) AS sx2,
                       CAST(sy AS DOUBLE) AS sy,
                       CAST(sx11 AS DOUBLE) AS sx11,
                       CAST(sx12 AS DOUBLE) AS sx12,
                       CAST(sx22 AS DOUBLE) AS sx22,
                       CAST(sx1y AS DOUBLE) AS sx1y,
                       CAST(sx2y AS DOUBLE) AS sx2y
                FROM s),
          m AS (SELECT g, n,
                       nd * (sx11 * sx22 - sx12 * sx12) -
                         sx1 * (sx1 * sx22 - sx12 * sx2) +
                         sx2 * (sx1 * sx12 - sx11 * sx2) AS det,
                       sy * (sx11 * sx22 - sx12 * sx12) -
                         sx1 * (sx1y * sx22 - sx12 * sx2y) +
                         sx2 * (sx1y * sx12 - sx11 * sx2y) AS det0,
                       nd * (sx1y * sx22 - sx12 * sx2y) -
                         sy * (sx1 * sx22 - sx12 * sx2) +
                         sx2 * (sx1 * sx2y - sx1y * sx2) AS det1,
                       nd * (sx11 * sx2y - sx1y * sx12) -
                         sx1 * (sx1 * sx2y - sx1y * sx2) +
                         sy * (sx1 * sx12 - sx11 * sx2) AS det2
                FROM d)
          SELECT g AS l_returnflag, n,
                 CASE WHEN n >= 3 AND det <> 0.0 THEN det0 / det END AS b0,
                 CASE WHEN n >= 3 AND det <> 0.0 THEN det1 / det END AS b1,
                 CASE WHEN n >= 3 AND det <> 0.0 THEN det2 / det END AS b2
          FROM m ORDER BY l_returnflag""",

    "q322_cuped" ->
      s"""WITH u AS (SELECT user_id,
                            CAST(coalesce(sum(CASE WHEN epoch_us(ts)
                                   < $CupedCutUs
                                   THEN CAST(floor(value * 100 + 0.5)
                                        AS BIGINT) END), 0) AS BIGINT)
                              AS pre,
                            CAST(coalesce(sum(CASE WHEN epoch_us(ts)
                                   >= $CupedCutUs
                                   THEN CAST(floor(value * 100 + 0.5)
                                        AS BIGINT) END), 0) AS BIGINT)
                              AS post
                     FROM events GROUP BY 1),
          units AS (SELECT user_id % 2 AS cohort, pre, post FROM u),
          g AS (SELECT CAST(count(*) AS BIGINT) AS gn,
                       CAST(sum(pre) AS BIGINT) AS sp,
                       CAST(sum(post) AS BIGINT) AS sq,
                       CAST(sum(pre * pre) AS BIGINT) AS spp,
                       CAST(sum(pre * post) AS BIGINT) AS spq
                FROM units),
          c AS (SELECT cohort, CAST(count(*) AS BIGINT) AS n,
                       CAST(sum(pre) AS BIGINT) AS spc,
                       CAST(sum(post) AS BIGINT) AS sqc
                FROM units GROUP BY 1),
          m AS (SELECT cohort, n,
                       CAST(sqc AS DOUBLE) / CAST(n AS DOUBLE)
                         AS mean_post,
                       CAST(spc AS DOUBLE) / CAST(n AS DOUBLE)
                         AS mean_pre,
                       CAST(spp AS DOUBLE) - CAST(sp AS DOUBLE) *
                         CAST(sp AS DOUBLE) / CAST(gn AS DOUBLE)
                         AS var_pre,
                       CAST(spq AS DOUBLE) - CAST(sp AS DOUBLE) *
                         CAST(sq AS DOUBLE) / CAST(gn AS DOUBLE)
                         AS cov_pp,
                       CAST(sp AS DOUBLE) / CAST(gn AS DOUBLE)
                         AS pre_mean
                FROM c, g)
          SELECT cohort, n, mean_post,
                 CASE WHEN var_pre > 0.0 THEN cov_pp / var_pre END
                   AS theta,
                 coalesce(mean_post - (CASE WHEN var_pre > 0.0
                            THEN cov_pp / var_pre END) *
                            (mean_pre - pre_mean), mean_post) AS mean_adj
          FROM m ORDER BY cohort""",
  )

  /** q320's oracle: journey truncation, pair/start/null edge counts —
    * the out_n column — recomputed independently with SQL windows; the
    * rational-solve probabilities render as per-channel literals.
    */
  override val dynamicOracleSql: Map[String, (SparkSession, String) => String] =
    Map(
      "q320_markov_attribution" -> ((s, dir) => {
        val ev = codedEvents(s, dir)
        val dim = ev.select(col("code"), col("event_type")).distinct()
        val rows = Analytics.markovRemovalEffect(ev, "user_id", "t_us",
            "code", col("event_id"), ConvCode)
          .join(broadcast(dim), "code")
          .select(col("event_type"), col("conv_micro"),
            col("removal_micro"))
          .collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
          .sortBy(_._1)
        val convMicro = rows.head._2
        val cases = rows.map { case (n, _, m) => s"WHEN '$n' THEN $m" }
          .mkString(" ")
        val ok = Portable.ordKeySql("epoch_us(ts)", "event_id")
        s"""WITH base AS (SELECT user_id, event_type, epoch_us(ts) AS t,
                                 event_id, $ok AS ok
                          FROM events),
            fc AS (SELECT user_id, min(ok) AS fc FROM base
                   WHERE event_type = 'purchase' GROUP BY 1),
            tr AS (SELECT b.user_id, b.event_type, b.t, b.event_id, b.ok,
                          fc.fc
                   FROM base b LEFT JOIN fc USING (user_id)
                   WHERE fc.fc IS NULL OR b.ok <= fc.fc),
            pe AS (SELECT lag(event_type) OVER w AS src
                   FROM tr
                   WINDOW w AS (PARTITION BY user_id
                                ORDER BY t, event_id)),
            pc AS (SELECT src, CAST(count(*) AS BIGINT) AS n
                   FROM pe WHERE src IS NOT NULL GROUP BY 1),
            nl AS (SELECT max_by(event_type, ok) AS src
                   FROM tr WHERE fc IS NULL GROUP BY user_id),
            nc AS (SELECT src, CAST(count(*) AS BIGINT) AS n
                   FROM nl GROUP BY 1),
            outs AS (SELECT coalesce(pc.src, nc.src) AS event_type,
                            CAST(coalesce(pc.n, 0) + coalesce(nc.n, 0)
                                 AS BIGINT) AS out_n
                     FROM pc FULL OUTER JOIN nc ON pc.src = nc.src)
            SELECT event_type, out_n,
                   CAST($convMicro AS BIGINT) AS conv_micro,
                   CAST(CASE event_type $cases END AS BIGINT)
                     AS removal_micro,
                   CAST(CASE event_type $cases END AS DOUBLE) / 1000000.0
                     AS removal_effect
            FROM outs WHERE event_type <> 'purchase'
            ORDER BY event_type"""
      }))
}
