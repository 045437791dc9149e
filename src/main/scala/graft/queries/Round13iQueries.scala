package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.Readers
import graft.ext.{Mixture, Similarity}

/** Round-13 ninth batch: data-selection primitives — k-center greedy
  * diversity seeds over the embedding space (the coreset selector; the
  * whole selection is data-determined, so its oracle recomputes every
  * greedy step from the parquet itself), and water-filling mixture
  * allocation (uniform-up-to-availability, the anti-skew counterpart
  * of proportional allocation).
  */
object Round13iQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Readers.table(s, dir, name)

  private val KSeeds = 4

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Farthest-point diversity seeds: 4 exemplars covering the
    // embedding space, exact integer-micro distances, total tie order.
    "q325_kcenter" -> ((s, dir) =>
      Similarity.kCenterSeeds(t(s, dir, "embeddings"), KSeeds)
        .orderBy("step")),

    // Water-filling: spend a budget of half the corpus docs as evenly
    // across sources as availability allows.
    "q326_waterfill" -> ((s, dir) => {
      val perSource = t(s, dir, "documents")
        .groupBy("source").agg(count(lit(1)).as("n"))
      val budget = t(s, dir, "documents").count() / 2
      Mixture.waterFill(perSource, "source", "n", budget)
        .orderBy("source")
    }),

    // Interrupted time series: fit the Jan 1-22 daily trend per event
    // type, extrapolate over Jan 23-30, report the total divergence —
    // the trend-aware pre/post causal read.
    "q327_its" -> ((s, dir) => {
      val daily = graft.engine.Readers.eventsNanos(s, dir)
        .groupBy(col("event_type"),
          expr(s"(ts div 1000) div ${DayUs}L").as("day"))
        .agg(sum(graft.ext.Stats.cents(col("value"))).as("y"))
      graft.ext.TimeSeries.interruptedTrend(daily, "event_type", "day",
          "y", preLo = 19723L, preHi = 19744L,
          postLo = 19745L, postHi = 19752L)
        .orderBy("event_type")
    }),
  )

  private val DayUs = 86400000000L

  /** d²(a, b) in the canonical engine-portable order. */
  private def d2Sql(a: String, b: String): String =
    s"list_dot_product($a, $a) - 2 * list_dot_product($a, $b) + " +
      s"list_dot_product($b, $b)"

  private def microSql(e: String): String =
    s"CAST(floor(($e) * 1000000.0 + 0.5) AS BIGINT)"

  val oracleSql: Map[String, String] = Map(

    // The greedy selection is pure data: each stage recomputes the
    // min-distance-to-selected argmax (d DESC, vec_id ASC) in SQL.
    "q325_kcenter" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                     FROM embeddings),
          p1 AS (SELECT vec_id, v FROM e
                 WHERE vec_id = (SELECT min(vec_id) FROM e)),
          d2 AS (SELECT e.vec_id, e.v,
                        ${microSql(s"min(${d2Sql("e.v", "s.v")})")} AS d
                 FROM e CROSS JOIN p1 s GROUP BY e.vec_id, e.v),
          p2 AS (SELECT vec_id, v, d FROM d2
                 ORDER BY d DESC, vec_id LIMIT 1),
          s2 AS (SELECT vec_id, v FROM p1
                 UNION ALL SELECT vec_id, v FROM p2),
          d3 AS (SELECT e.vec_id, e.v,
                        ${microSql(s"min(${d2Sql("e.v", "s.v")})")} AS d
                 FROM e CROSS JOIN s2 s GROUP BY e.vec_id, e.v),
          p3 AS (SELECT vec_id, v, d FROM d3
                 ORDER BY d DESC, vec_id LIMIT 1),
          s3 AS (SELECT vec_id, v FROM s2
                 UNION ALL SELECT vec_id, v FROM p3),
          d4 AS (SELECT e.vec_id, e.v,
                        ${microSql(s"min(${d2Sql("e.v", "s.v")})")} AS d
                 FROM e CROSS JOIN s3 s GROUP BY e.vec_id, e.v),
          p4 AS (SELECT vec_id, v, d FROM d4
                 ORDER BY d DESC, vec_id LIMIT 1)
          SELECT CAST(1 AS BIGINT) AS step, vec_id,
                 CAST(0 AS BIGINT) AS dmin_micro FROM p1
          UNION ALL SELECT 2, vec_id, d FROM p2
          UNION ALL SELECT 3, vec_id, d FROM p3
          UNION ALL SELECT 4, vec_id, d FROM p4
          ORDER BY step""",

    "q327_its" ->
      s"""WITH daily AS (SELECT event_type,
                                epoch_us(ts) // $DayUs AS day,
                                CAST(sum(CAST(floor(value * 100 + 0.5)
                                     AS BIGINT)) AS BIGINT) AS y
                         FROM events GROUP BY 1, 2),
          pre AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_pre,
                         CAST(sum(day - 19723) AS BIGINT) AS sx,
                         CAST(sum(y) AS BIGINT) AS sy,
                         CAST(sum((day - 19723) * (day - 19723))
                              AS BIGINT) AS sxx,
                         CAST(sum((day - 19723) * y) AS BIGINT) AS sxy
                  FROM daily WHERE day BETWEEN 19723 AND 19744
                  GROUP BY 1),
          post AS (SELECT event_type,
                          CAST(count(*) AS BIGINT) AS n_post,
                          CAST(sum(day - 19723) AS BIGINT) AS px,
                          CAST(sum(y) AS BIGINT) AS actual_total
                   FROM daily WHERE day BETWEEN 19745 AND 19752
                   GROUP BY 1),
          m AS (SELECT pre.event_type, n_pre,
                       CAST(n_pre AS DOUBLE) AS nd,
                       CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
                       CAST(sxx AS DOUBLE) AS sxxd,
                       CAST(sxy AS DOUBLE) AS sxyd,
                       n_post, px, actual_total
                FROM pre JOIN post USING (event_type)),
          f AS (SELECT event_type, n_pre, n_post, actual_total, px, nd,
                       nd * sxxd - sxd * sxd AS denom,
                       (nd * sxyd - sxd * syd) /
                         (nd * sxxd - sxd * sxd) AS b,
                       sxd, syd
                FROM m),
          g AS (SELECT event_type, n_pre, n_post, actual_total, px,
                       denom, b, (syd - b * sxd) / nd AS a
                FROM f)
          SELECT event_type, n_pre,
                 CASE WHEN n_pre >= 2 AND denom <> 0.0 THEN b END
                   AS slope,
                 CASE WHEN n_pre >= 2 AND denom <> 0.0 THEN a END
                   AS intercept,
                 n_post, actual_total,
                 CASE WHEN n_pre >= 2 AND denom <> 0.0
                      THEN CAST(n_post AS DOUBLE) * a +
                           b * CAST(px AS DOUBLE) END AS pred_total,
                 CASE WHEN n_pre >= 2 AND denom <> 0.0
                      THEN CAST(actual_total AS DOUBLE) -
                           (CAST(n_post AS DOUBLE) * a +
                            b * CAST(px AS DOUBLE)) END AS effect_total
          FROM g ORDER BY event_type""",
  )

  /** q326's oracle: per-source counts are genuine; the water level and
    * leftover (a k-element driver computation) render as literals, and
    * the allocation is re-derived in SQL as least(n, level).
    */
  val dynamicOracleSql: Map[String, (SparkSession, String) => String] =
    Map(
      "q326_waterfill" -> ((s, dir) => {
        val one = queries("q326_waterfill")(s, dir)
          .select(col("level"), col("leftover")).limit(1)
          .collect().head
        val (level, leftover) = (one.getLong(0), one.getLong(1))
        s"""SELECT source, CAST(count(*) AS BIGINT) AS n,
                   least(CAST(count(*) AS BIGINT), $level) AS alloc,
                   CAST($level AS BIGINT) AS level,
                   CAST($leftover AS BIGINT) AS leftover
            FROM documents GROUP BY source ORDER BY source"""
      }))
}
