package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.Readers
import graft.ext.{Analytics, Dedup, Stats}
import graft.functions.Portable.hash60
import OracleSql.tokSql
import Tables.t

/** Round-13 fifth batch: behavioral-sequence and corpus-overlap
  * primitives — consecutive event-type trigram motifs (two chained
  * boundary-stitch lags, no per-user window), the EXACT stationary
  * distribution of the empirical event-transition chain (driver-side
  * rational solve, zero iteration residual), a reliability/calibration
  * table for the stopword language score, and the cross-source n-gram
  * Jaccard matrix. DuckDB-gated; q312's learned π constants are
  * rendered into a dynamic oracle whose transition counts are
  * recomputed independently.
  */
object Round13eQueries extends QuerySet {

  private val CalBins = 10
  private val EnWords: Seq[String] =
    graft.ext.TextAnalysis.langStopwords.toMap.apply("en")

  /** events with the LongType (user, ts-micros, type-code) triple the
    * boundary-stitch operators need; event_type rides along for the
    * name join-back. Micros via the nanos-long reader (the established
    * events-vintage-proof path; DuckDB's epoch_us sees the same value).
    */
  private def codedEvents(s: SparkSession, dir: String): DataFrame =
    graft.engine.Readers.eventsNanos(s, dir).select(col("user_id"),
      expr("ts div 1000").as("t_us"), col("event_id"),
      hash60(col("event_type")).as("code"), col("event_type"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Behavioral trigram motifs: counts of consecutive event-type
    // triples per user timeline (hot-user-safe double lag stitch).
    "q311_event_trigrams" -> ((s, dir) => {
      val ev = codedEvents(s, dir)
      val dim = ev.select(col("code"), col("event_type")).distinct()
      def nameOf(c: String, out: String) = broadcast(
        dim.select(col("code").as(c), col("event_type").as(out)))
      Analytics.sequenceTrigrams(ev, "user_id", "t_us", "code",
          Seq(col("event_id")))
        .join(nameOf("c1", "t1"), "c1")
        .join(nameOf("c2", "t2"), "c2")
        .join(nameOf("c3", "t3"), "c3")
        .select(col("t1"), col("t2"), col("t3"), col("n"))
        .orderBy("t1", "t2", "t3")
    }),

    // Long-run behavioral mix: exact stationary distribution of the
    // event-type transition chain (rational solve on the 5x5 counts).
    "q312_markov_stationary" -> ((s, dir) => {
      val ev = codedEvents(s, dir)
      val dim = ev.select(col("code"), col("event_type")).distinct()
      Analytics.markovStationary(ev, "user_id", "t_us", "code",
          Seq(col("event_id")))
        .join(broadcast(dim), "code")
        .select(col("event_type"), col("out_n"), col("pi_micro"),
          col("pi"))
        .orderBy("event_type")
    }),

    // Reliability diagram of the en-stopword score against the truth
    // label: is "fraction of en stopwords" calibrated as P(lang=en)?
    "q313_calibration_bins" -> ((s, dir) => {
      val toks = graft.functions.Portable.wsTokens(col("text"))
      val scored = t(s, dir, "documents").select(
        size(filter(toks, t => t.isin(EnWords.map(_.asInstanceOf[Any]): _*)))
          .cast("long").as("c_en"),
        size(toks).cast("long").as("n_toks"),
        (col("lang") === "en").as("is_en"))
        .filter(col("n_toks") > 0)
        .select(expr("(c_en * 1000000L) div n_toks").as("score"),
          col("is_en"))
      Stats.calibrationBins(scored, col("score"), col("is_en"), CalBins)
        .orderBy("bin")
    }),

    // Cross-source 3-gram Jaccard matrix: slice-level scrape-overlap
    // audit (set grain; q298's dup_flow is the positional-span view).
    "q314_source_jaccard" -> ((s, dir) =>
      Dedup.sliceGramJaccard(t(s, dir, "documents"), "source")
        .orderBy("slice_a", "slice_b")),
  )

  private val trigramLags =
    """SELECT event_type AS t3,
              lag(event_type, 1) OVER w AS t2,
              lag(event_type, 2) OVER w AS t1
       FROM events
       WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)"""

  val oracleSql: Map[String, String] = Map(

    "q311_event_trigrams" ->
      s"""WITH l AS ($trigramLags)
          SELECT t1, t2, t3, CAST(count(*) AS BIGINT) AS n
          FROM l WHERE t1 IS NOT NULL AND t2 IS NOT NULL
          GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""",

    "q313_calibration_bins" -> {
      val enIn = EnWords.map(w => s"'$w'").mkString("(", ", ", ")")
      s"""WITH d AS (SELECT CAST(len(list_filter($tokSql,
                            t -> t IN $enIn)) AS BIGINT) AS c_en,
                            CAST(len($tokSql) AS BIGINT) AS n_toks,
                            lang = 'en' AS is_en
                     FROM documents),
          sc AS (SELECT (c_en * 1000000) // n_toks AS score, is_en
                 FROM d WHERE n_toks > 0),
          b AS (SELECT least((score * $CalBins) // 1000000,
                             ${CalBins - 1}) AS bin,
                       CASE WHEN is_en THEN 1 ELSE 0 END AS p
                FROM sc)
          SELECT CAST(bin AS BIGINT) AS bin,
                 CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(p) AS BIGINT) AS n_pos,
                 CAST(sum(p) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                   AS rate
          FROM b GROUP BY 1 ORDER BY 1"""
    },

    "q314_source_jaccard" ->
      s"""WITH w AS (SELECT source, $tokSql AS w FROM documents),
          g AS (SELECT DISTINCT source,
                       CAST('0x' || substr(md5(
                         array_to_string(w[i:i+2], ' ')), 1, 15) AS BIGINT)
                         AS h
                FROM (SELECT source, w,
                             unnest(generate_series(1, len(w) - 2)) AS i
                      FROM w)),
          sz AS (SELECT source, CAST(count(*) AS BIGINT) AS sz
                 FROM g GROUP BY 1),
          inter AS (SELECT a.source AS slice_a, b.source AS slice_b,
                           CAST(count(*) AS BIGINT) AS inter
                    FROM g a JOIN g b
                      ON a.h = b.h AND a.source < b.source
                    GROUP BY 1, 2)
          SELECT slice_a, slice_b, sa.sz AS size_a, sb.sz AS size_b,
                 inter,
                 CAST(inter AS DOUBLE) /
                   CAST(sa.sz + sb.sz - inter AS DOUBLE) AS jaccard
          FROM inter
          JOIN sz sa ON sa.source = slice_a
          JOIN sz sb ON sb.source = slice_b
          ORDER BY slice_a, slice_b""",
  )

  /** q312's oracle: transition/out counts recomputed independently in
    * SQL; the rational-solve π constants (not expressible in SQL) are
    * learned at render time and emitted as literals.
    */
  override val dynamicOracleSql: Map[String, (SparkSession, String) => String] =
    Map(
      "q312_markov_stationary" -> ((s, dir) => {
        val ev = codedEvents(s, dir)
        val dim = ev.select(col("code"), col("event_type")).distinct()
        val pis = Analytics.markovStationary(ev, "user_id", "t_us",
            "code", Seq(col("event_id")))
          .join(broadcast(dim), "code")
          .select(col("event_type"), col("pi_micro"))
          .collect().map(r => r.getString(0) -> r.getLong(1))
          .sortBy(_._1)
        val cases = pis.map { case (n, m) =>
          s"WHEN '$n' THEN ${m}" }.mkString(" ")
        s"""WITH l AS (SELECT lag(event_type, 1) OVER w AS prev
                       FROM events
                       WINDOW w AS (PARTITION BY user_id
                                    ORDER BY epoch_us(ts), event_id)),
            o AS (SELECT prev AS event_type,
                         CAST(count(*) AS BIGINT) AS out_n
                  FROM l WHERE prev IS NOT NULL GROUP BY 1),
            p AS (SELECT event_type, out_n,
                         CAST(CASE event_type $cases END AS BIGINT)
                           AS pi_micro
                  FROM o)
            SELECT event_type, out_n, pi_micro,
                   CAST(pi_micro AS DOUBLE) / 1000000.0 AS pi
            FROM p ORDER BY event_type"""
      }))
}
