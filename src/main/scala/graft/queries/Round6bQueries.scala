package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.{Readers, Warehouse}
import graft.ext.{Sampling, Stats, TextAnalysis}
import OracleSql.{centsSql, hash60Sql, tokSql}
import Tables.t

/** Round-6 second batch: dimension history (SCD-2), corpus-curation
  * scoring (n-gram novelty, PMI collocations, token-budget selection),
  * robust statistics (quantile transform, median/MAD), and ORC format
  * breadth. Every entry is hash-checked against a DuckDB oracle; the
  * doubles emitted are all compositions of IEEE exactly-rounded ops
  * (·, /, integer-grid percentile midpoints), never libm calls, so they
  * are bit-identical across engines.
  */
object Round6bQueries extends QuerySet {

  /** q110: a bigram must occur this often to be a collocation candidate. */
  private val PmiMinCount = 20L

  /** q112: token budget — ~half the sf0.01 corpus, so the gate exercises
    * both the kept prefix and the cut tail at the driver's SF.
    */
  private val TokenBudget = 8000L

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // SCD-2 dimension history: the events change log (user_id keyed,
    // micros version) compressed to event_type validity intervals.
    // scd2History requires versions DISTINCT per key (lag/lead ordering
    // is otherwise partition-order-dependent), and the micros version is
    // a truncation of the nanos source (the oracle engine reads the
    // parquet timestamp at micro resolution, so the version must live on
    // the micros grid) — so the precondition is ENFORCED, not assumed: a
    // same-microsecond pair aborts the query instead of silently
    // producing a nondeterministic history.
    "q108_scd2_history" -> ((s, dir) => {
      val changes = Readers.eventsNanos(s, dir)
        .select(col("user_id"), expr("ts div 1000").as("ver_us"),
          col("event_type"))
      val dup = changes.groupBy("user_id", "ver_us")
        .agg(count(lit(1)).as("n")).filter(col("n") > 1).limit(1).count()
      require(dup == 0L, "q108: duplicate (user_id, micros) version — " +
        "SCD-2 lag/lead ordering would be nondeterministic")
      Warehouse.scd2History(changes, "user_id", "ver_us", Seq("event_type"))
        .select(col("user_id"), col("event_type"), col("valid_from"),
          col("valid_to"), col("is_current"))
        .orderBy("user_id", "valid_from")
    }),

    // Per-document 3-gram novelty: distinct grams and how many first
    // occur in this document (min doc_id over the corpus).
    "q109_gram_novelty" -> ((s, dir) =>
      TextAnalysis.gramNovelty(t(s, dir, "documents"), 3)
        .orderBy("doc_id")),

    // Bigram collocations by PMI lift (e^PMI — same ordering, no log).
    "q110_pmi_bigrams" -> ((s, dir) =>
      TextAnalysis.pmiBigrams(t(s, dir, "documents"), PmiMinCount)
        .orderBy(desc("lift"), asc("bigram"))),

    // Per-language empirical-CDF normalization of document length.
    "q111_quantile_transform" -> ((s, dir) =>
      Stats.quantileTransform(
          t(s, dir, "documents").select("doc_id", "lang", "n_chars"),
          "lang", col("n_chars"))
        .orderBy("doc_id")),

    // Token-budget greedy selection: best-quality-first prefix whose
    // running token total fits the budget (range-partitioned prefix
    // scan, not a single-partition window).
    "q112_token_budget" -> ((s, dir) =>
      Sampling.selectWithinBudget(
          TextAnalysis.quality(t(s, dir, "documents"))
            .select("doc_id", "n_tokens", "quality_score"),
          Seq(col("quality_score").desc, col("doc_id")),
          "n_tokens", TokenBudget)
        .orderBy("doc_id")),

    // Robust per-group stats: exact median + MAD over integer cents.
    "q113_median_mad" -> ((s, dir) =>
      Stats.robustStats(
          t(s, dir, "lineitem").select(col("l_returnflag"),
            Stats.cents(col("l_extendedprice")).as("c")),
          "l_returnflag", col("c"))
        .orderBy("l_returnflag")),

    // ORC roundtrip: the same lineitem slice written and re-read as ORC
    // must aggregate identically to the parquet original (the oracle
    // reads parquet — any ORC read/write fidelity loss fails the hash).
    "q114_orc_roundtrip" -> ((s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("q114_orc")
      try {
        t(s, dir, "lineitem")
          .select("l_orderkey", "l_returnflag", "l_linestatus",
            "l_quantity", "l_extendedprice")
          .write.mode("overwrite").orc(s"$tmp/li")
        val agg = s.read.orc(s"$tmp/li")
          .groupBy("l_returnflag", "l_linestatus")
          .agg(count(lit(1)).as("n"),
            sum(Stats.cents(col("l_extendedprice"))).as("price_cents"),
            round(sum("l_quantity"), 2).as("qty"))
          .orderBy("l_returnflag", "l_linestatus")
        // materialize (a handful of rows) so the ORC corpus can go now
        s.createDataFrame(
          java.util.Arrays.asList(agg.collect(): _*), agg.schema)
          .orderBy("l_returnflag", "l_linestatus")
      } finally graft.engine.Pipeline.deleteRecursively(tmp)
    })
  )

  private val enIn = TextAnalysis.enStopwords
    .map(w => s"'$w'").mkString("(", ", ", ")")

  val oracleSql: Map[String, String] = Map(

    "q108_scd2_history" ->
      """WITH c AS (SELECT user_id, epoch_us(ts) AS ver_us, event_type,
                           lag(event_type) OVER w AS prev,
                           lag(epoch_us(ts)) OVER w AS prev_ver
                    FROM events
                    WINDOW w AS (PARTITION BY user_id
                                 ORDER BY epoch_us(ts))),
          ch AS (SELECT user_id, ver_us, event_type FROM c
                 WHERE prev_ver IS NULL
                    OR prev IS DISTINCT FROM event_type)
          SELECT user_id, event_type, ver_us AS valid_from,
                 lead(ver_us) OVER (PARTITION BY user_id ORDER BY ver_us)
                   AS valid_to,
                 lead(ver_us) OVER (PARTITION BY user_id ORDER BY ver_us)
                   IS NULL AS is_current
          FROM ch ORDER BY user_id, valid_from""",

    "q109_gram_novelty" ->
      s"""WITH w AS (SELECT doc_id, $tokSql AS w FROM documents),
          g AS (SELECT DISTINCT doc_id,
                       w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS gram
                FROM (SELECT doc_id, w,
                             unnest(generate_series(1, len(w) - 2)) AS i
                      FROM w)),
          f AS (SELECT doc_id, ${hash60Sql("gram")} AS gram_h FROM g),
          m AS (SELECT doc_id,
                       min(doc_id) OVER (PARTITION BY gram_h) AS first_doc
                FROM f)
          SELECT doc_id, count(*) AS n_grams,
                 CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)
                   AS BIGINT) AS novel_grams
          FROM m GROUP BY doc_id ORDER BY doc_id""",

    "q110_pmi_bigrams" ->
      s"""WITH w AS (SELECT $tokSql AS w FROM documents),
          uc AS (SELECT word, count(*) AS c_w
                 FROM (SELECT unnest(w) AS word FROM w) GROUP BY 1),
          tot AS (SELECT CAST(sum(c_w) AS DOUBLE) AS n_total FROM uc),
          bc AS (SELECT bigram, count(*) AS c_ab
                 FROM (SELECT w[i] || ' ' || w[i+1] AS bigram
                       FROM (SELECT w, unnest(generate_series(1, len(w) - 1))
                               AS i FROM w))
                 GROUP BY 1 HAVING count(*) >= $PmiMinCount),
          sp AS (SELECT bigram, c_ab,
                        string_split(bigram, ' ')[1] AS w1,
                        string_split(bigram, ' ')[2] AS w2 FROM bc)
          SELECT bigram, c_ab, a.c_w AS c_a, b.c_w AS c_b,
                 CAST(c_ab AS DOUBLE) * n_total /
                   (CAST(a.c_w AS DOUBLE) * CAST(b.c_w AS DOUBLE)) AS lift
          FROM sp JOIN uc a ON sp.w1 = a.word
                  JOIN uc b ON sp.w2 = b.word
          CROSS JOIN tot
          ORDER BY lift DESC, bigram""",

    "q111_quantile_transform" ->
      """SELECT doc_id, lang, n_chars,
                cume_dist() OVER (PARTITION BY lang ORDER BY n_chars)
                  AS cdf,
                percent_rank() OVER (PARTITION BY lang ORDER BY n_chars)
                  AS pr
         FROM documents ORDER BY doc_id""",

    "q112_token_budget" ->
      s"""WITH q AS (
            SELECT doc_id, len($tokSql) AS n_tokens,
                   CASE WHEN length(text) > 0 THEN
                     length(regexp_replace(text, '[^a-z0-9\\s]', '', 'g'))
                       * 1.0 / length(text)
                   ELSE 0.0 END AS alnum_ratio,
                   len(list_filter($tokSql, t -> t IN $enIn))
                     * 1.0 / len($tokSql) AS stopword_ratio
            FROM documents),
          sc AS (SELECT doc_id, n_tokens,
                        0.4 * least(n_tokens / 50.0, 1.0)
                          + 0.3 * least(stopword_ratio * 5.0, 1.0)
                          + 0.3 * alnum_ratio AS quality_score
                 FROM q),
          r AS (SELECT doc_id, n_tokens, quality_score,
                       CAST(sum(n_tokens) OVER (
                         ORDER BY quality_score DESC, doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                         AS BIGINT) AS running_tokens
                FROM sc)
          SELECT * FROM r WHERE running_tokens <= $TokenBudget
          ORDER BY doc_id""",

    "q113_median_mad" ->
      s"""WITH x AS (SELECT l_returnflag,
                            ${centsSql("l_extendedprice")} AS c
                     FROM lineitem),
          m AS (SELECT l_returnflag, count(c) AS n, median(c) AS med
                FROM x GROUP BY 1)
          SELECT l_returnflag, n, med,
                 median(abs(CAST(x.c AS DOUBLE) - m.med)) AS mad
          FROM x JOIN m USING (l_returnflag)
          GROUP BY l_returnflag, n, med
          ORDER BY l_returnflag""",

    "q114_orc_roundtrip" ->
      s"""SELECT l_returnflag, l_linestatus, count(*) AS n,
                 CAST(sum(${centsSql("l_extendedprice")}) AS BIGINT)
                   AS price_cents,
                 round(sum(l_quantity), 2) AS qty
          FROM lineitem GROUP BY 1, 2
          ORDER BY l_returnflag, l_linestatus"""
  )
}
