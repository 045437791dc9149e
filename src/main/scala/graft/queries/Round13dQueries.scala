package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ext.{Stats, TextAnalysis}
import OracleSql.{centsSql, hash60Sql, tokSql}
import Tables.t

/** Round-13 fourth batch: corpus-audit and distribution-shape
  * primitives — Cohen's κ (chance-corrected classifier agreement), χ²
  * term–slice association (the DSIR-style importance signal),
  * Good–Turing frequency-of-frequencies octaves, exact higher moments
  * (skewness/kurtosis from decimal power sums), and per-source TF-IDF
  * keyword extraction on the bounded top-k aggregate. Window-free,
  * integer-exact at every shuffle, DuckDB-gated.
  */
object Round13dQueries extends QuerySet {

  private val Chi2Target = "src0"
  private val KeywordK = 10

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Cohen's kappa of the stopword langId heuristic vs ground truth:
    // the one-scalar trust gate on the cheap classifier (q281 is the
    // full confusion census; this is the number you threshold).
    "q306_langid_kappa" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val scored = docs.select(col("doc_id"), col("lang"))
        .join(TextAnalysis.langId(docs)
          .select(col("doc_id"), col("lang_pred")), Seq("doc_id"))
      Stats.cohenKappa(scored, "lang", "lang_pred")
    }),

    // χ² association of every term with the src0 slice — the
    // importance-weighting / feature-selection table.
    "q307_term_chi2" -> ((s, dir) =>
      TextAnalysis.termChi2(t(s, dir, "documents"),
          col("source") === Chi2Target)
        .orderBy("term")),

    // Good–Turing frequency-of-frequencies, octave-bucketed.
    "q308_freq_of_freqs" -> ((s, dir) =>
      TextAnalysis.freqOfFreqs(t(s, dir, "documents"))
        .orderBy("octave")),

    // Exact per-event-type skewness / excess kurtosis of the value
    // distribution, from decimal power sums.
    "q309_value_moments" -> ((s, dir) =>
      Stats.higherMoments(
          t(s, dir, "events")
            .select(col("event_type"), Stats.cents(col("value")).as("v")),
          "event_type", col("v"))
        .orderBy("event_type")),

    // Top-10 characteristic terms per source by integer TF-IDF —
    // the corpus-card keyword extractor (bounded top-k aggregate; the
    // oracle is the window formulation, proving rank semantics).
    "q310_source_keywords" -> ((s, dir) =>
      TextAnalysis.sourceKeywords(t(s, dir, "documents"), "source",
          KeywordK)
        .orderBy("source", "rnk")),
  )

  val oracleSql: Map[String, String] = Map(

    "q306_langid_kappa" ->
      s"""WITH c AS (SELECT doc_id, lang, ${ExtensionQueries.langCols}
                     FROM documents),
          p AS (SELECT lang,
                       CASE WHEN c_en + c_es + c_fr + c_de = 0
                              THEN 'und'
                            WHEN c_en >= c_es AND c_en >= c_fr
                              AND c_en >= c_de THEN 'en'
                            WHEN c_es >= c_fr AND c_es >= c_de
                              THEN 'es'
                            WHEN c_fr >= c_de THEN 'fr'
                            ELSE 'de' END AS lang_pred
                FROM c),
          tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
                         CAST(sum(CASE WHEN lang = lang_pred
                                       THEN 1 ELSE 0 END) AS BIGINT)
                           AS n_agree
                  FROM p),
          ma AS (SELECT lang AS l, CAST(count(*) AS BIGINT) AS na
                 FROM p GROUP BY 1),
          mb AS (SELECT lang_pred AS l, CAST(count(*) AS BIGINT) AS nb
                 FROM p GROUP BY 1),
          pe AS (SELECT CAST(coalesce(sum(na * nb), 0) AS BIGINT)
                          AS pe_num
                 FROM ma JOIN mb USING (l)),
          k AS (SELECT n, n_agree,
                       CAST(n_agree AS DOUBLE) / CAST(n AS DOUBLE) AS p_o,
                       CAST(pe_num AS DOUBLE) /
                         (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS p_e
                FROM tot, pe)
          SELECT n, n_agree, p_o, p_e,
                 CASE WHEN p_e < 1.0
                      THEN (p_o - p_e) / (1.0 - p_e) END AS kappa
          FROM k""",

    "q307_term_chi2" ->
      s"""WITH tok AS (SELECT unnest($tokSql) AS term,
                              CASE WHEN source = '$Chi2Target'
                                   THEN 1 ELSE 0 END AS t
                       FROM documents),
          cells AS (SELECT term, CAST(sum(t) AS BIGINT) AS k1,
                           CAST(sum(1 - t) AS BIGINT) AS k2
                    FROM tok GROUP BY 1),
          tot AS (SELECT CAST(sum(k1) AS BIGINT) AS n1,
                         CAST(sum(k2) AS BIGINT) AS n2
                  FROM cells),
          e AS (SELECT term, k1, k2,
                       CAST(k1 * (n2 - k2) - k2 * (n1 - k1) AS DOUBLE)
                         AS diff,
                       CAST(n1 AS DOUBLE) AS n1d, CAST(n2 AS DOUBLE) AS n2d,
                       CAST(k1 AS DOUBLE) + CAST(k2 AS DOUBLE) AS rowt
                FROM cells, tot)
          SELECT term, k1, k2,
                 CASE WHEN n1d > 0.0 AND n2d > 0.0
                        AND (n1d + n2d) - rowt > 0.0
                      THEN (n1d + n2d) * (diff * diff) /
                           (n1d * n2d * rowt * ((n1d + n2d) - rowt))
                      END AS chi2
          FROM e ORDER BY term""",

    "q308_freq_of_freqs" ->
      s"""WITH c AS (SELECT unnest($tokSql) AS term FROM documents),
          f AS (SELECT term, CAST(count(*) AS BIGINT) AS c
                FROM c GROUP BY 1)
          SELECT CAST(length(bin(c)) - 1 AS BIGINT) AS octave,
                 CAST(count(*) AS BIGINT) AS n_terms,
                 CAST(sum(c) AS BIGINT) AS token_mass,
                 CAST(min(c) AS BIGINT) AS min_freq,
                 CAST(max(c) AS BIGINT) AS max_freq
          FROM f GROUP BY 1 ORDER BY 1""",

    "q309_value_moments" ->
      s"""WITH x AS (SELECT event_type, ${centsSql("value")} AS v
                     FROM events),
          s AS (SELECT event_type,
                       CAST(count(v) AS BIGINT) AS n,
                       CAST(sum(v) AS BIGINT) AS sx,
                       sum(CAST(CAST(v AS HUGEINT) * v
                                AS DECIMAL(38,0))) AS sxx,
                       sum(CAST(CAST(v AS HUGEINT) * v * v
                                AS DECIMAL(38,0))) AS sx3,
                       sum(CAST(CAST(v AS HUGEINT) * v * v * v
                                AS DECIMAL(38,0))) AS sx4
                FROM x GROUP BY 1),
          d AS (SELECT event_type, n,
                       CAST(n AS DOUBLE) AS nd,
                       CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
                       CAST(sxx AS DOUBLE) AS sxxd,
                       CAST(sx3 AS DOUBLE) AS sx3d,
                       CAST(sx4 AS DOUBLE) AS sx4d
                FROM s),
          m AS (SELECT event_type, n, mean,
                       sxxd / nd - mean * mean AS m2,
                       sx3d / nd - 3.0 * mean * (sxxd / nd) +
                         2.0 * mean * mean * mean AS m3,
                       sx4d / nd - 4.0 * mean * (sx3d / nd) +
                         6.0 * mean * mean * (sxxd / nd) -
                         3.0 * mean * mean * mean * mean AS m4
                FROM d),
          g AS (SELECT event_type, n, mean,
                       CASE WHEN n >= 2 AND m2 > 0.0
                            THEN CAST(floor((m3 / sqrt(m2 * m2 * m2)) *
                                   1000000.0 + 0.5) AS BIGINT)
                            END AS skew_micro,
                       CASE WHEN n >= 2 AND m2 > 0.0
                            THEN CAST(floor((m4 / (m2 * m2) - 3.0) *
                                   1000000.0 + 0.5) AS BIGINT)
                            END AS kurt_micro
                FROM m)
          SELECT event_type, n, mean, skew_micro, kurt_micro,
                 CAST(skew_micro AS DOUBLE) / 1000000.0 AS skewness,
                 CAST(kurt_micro AS DOUBLE) / 1000000.0 AS excess_kurtosis
          FROM g ORDER BY event_type""",

    "q310_source_keywords" ->
      s"""WITH tok AS (SELECT source, doc_id, unnest($tokSql) AS term
                       FROM documents),
          nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
          dft AS (SELECT term,
                         CAST(count(DISTINCT doc_id) AS BIGINT) AS df
                  FROM tok GROUP BY 1),
          idf AS (SELECT term, df,
                         CAST(length(bin(n_docs // df)) AS BIGINT)
                           AS idf_bits
                  FROM dft, nd),
          tf AS (SELECT source, term, CAST(count(*) AS BIGINT) AS tf
                 FROM tok GROUP BY 1, 2),
          sc AS (SELECT source, term, tf * idf_bits AS score, df,
                        idf_bits, ${hash60Sql("term")} AS h
                 FROM tf JOIN idf USING (term)),
          r AS (SELECT *, row_number() OVER (PARTITION BY source
                            ORDER BY score DESC, h) AS rnk
                FROM sc)
          SELECT source, CAST(rnk AS BIGINT) AS rnk, term, score, df,
                 idf_bits
          FROM r WHERE rnk <= $KeywordK ORDER BY source, rnk""",
  )
}
