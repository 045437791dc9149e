package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ext.{Analytics, Dedup, GlobalOrder, Sampling, Stats, TextAnalysis}
import graft.functions.Portable.wsTokens
import OracleSql.{hash60Sql, tokSql}
import Tables.t

/** Round-13 second batch: the training-run data-path primitives around
  * the new exact-substring family — cross-source duplication flow
  * (which source scrapes which), a bigram-LM fluency score (the
  * perplexity-filter stand-in), deterministic epoch shuffling, a
  * winsorized robust mean (exact discrete-quantile fences), and
  * reciprocal rank fusion (integer pico-unit contributions). All
  * window-free, all integer-exact up to one final IEEE division, all
  * DuckDB-gated.
  */
object Round13bQueries extends QuerySet {

  private val SpanL = 8
  private val RrfK = 60
  private val BatchSize = 256L

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Cross-source duplication flow: duplicated 8-token windows
    // attributed owner-source -> borrower-source.
    "q298_dup_flow" -> ((s, dir) =>
      Dedup.dupFlow(t(s, dir, "documents"), SpanL, "source")
        .orderBy("owner_attr", "borrower_attr")),

    // Bigram-LM fluency score per document (integer micro conditional
    // frequencies; the corpus-statistics perplexity stand-in).
    "q299_bigram_lm" -> ((s, dir) =>
      TextAnalysis.bigramLmScore(t(s, dir, "documents"))
        .orderBy("doc_id")),

    // Deterministic epoch-1 shuffle order + fixed-size microbatch ids:
    // the per-epoch data order a trainer replays identically anywhere.
    "q300_epoch_shuffle" -> ((s, dir) =>
      Sampling.epochOrder(t(s, dir, "documents").select("doc_id"),
          col("doc_id"), epoch = 1)
        .select(col("doc_id"), col("shuffle_pos"),
          expr(s"(shuffle_pos - 1) div $BatchSize").as("microbatch"))
        .orderBy("shuffle_pos")),

    // Winsorized mean of document length per language: exact discrete
    // 5%/95% fences, integer-clamped sum, one final division.
    "q301_winsorized_mean" -> ((s, dir) =>
      Stats.winsorizedMean(
          t(s, dir, "documents").select("lang", "n_chars"),
          "lang", "n_chars")
        .orderBy("lang")),

    // Reciprocal rank fusion of two retrieval orderings (longest docs;
    // most distinct tokens), top-100 by fused score.
    "q302_rrf_fusion" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val byLen = GlobalOrder.withRowNumber(
        docs.select("doc_id", "n_chars"),
        Seq(col("n_chars").desc, col("doc_id")), out = "rank")
      val byUniq = GlobalOrder.withRowNumber(
        docs.select(col("doc_id"),
          size(array_distinct(wsTokens(col("text")))).cast("long")
            .as("nu")),
        Seq(col("nu").desc, col("doc_id")), out = "rank")
      Analytics.rrfFuse(Seq(byLen, byUniq), "doc_id", "rank", RrfK)
        .orderBy(desc("rrf_pico"), asc("doc_id"))
        .limit(100)
        .select(col("doc_id"), col("n_lists"), col("rrf_pico"),
          col("rrf"))
    }),
  )

  val oracleSql: Map[String, String] = Map(

    "q298_dup_flow" ->
      s"""WITH w AS (SELECT doc_id, $tokSql AS w FROM documents),
          p AS (SELECT doc_id, i,
                       ${hash60Sql(s"array_to_string(w[i:i+${SpanL - 1}], ' ')")} AS g
                FROM (SELECT doc_id, w,
                             unnest(generate_series(1, len(w) - ${SpanL - 1})) AS i
                      FROM w)),
          hot AS (SELECT g, min(doc_id) AS owner FROM p
                  GROUP BY g HAVING count(*) >= 2),
          f AS (SELECT p.doc_id, hot.owner FROM p JOIN hot USING (g)
                WHERE p.doc_id <> hot.owner)
          SELECT od.source AS owner_attr, bd.source AS borrower_attr,
                 CAST(count(*) AS BIGINT) AS n_windows
          FROM f JOIN documents bd ON bd.doc_id = f.doc_id
                 JOIN documents od ON od.doc_id = f.owner
          GROUP BY 1, 2 ORDER BY owner_attr, borrower_attr""",

    "q299_bigram_lm" ->
      s"""WITH w AS (SELECT doc_id, $tokSql AS w FROM documents),
          t AS (SELECT doc_id, w[i] AS w1, w[i+1] AS w2
                FROM (SELECT doc_id, w,
                             unnest(generate_series(1, len(w) - 1)) AS i
                      FROM w)),
          uni AS (SELECT ${hash60Sql("tok")} AS h1, count(*) AS c1
                  FROM (SELECT unnest(w) AS tok FROM w) GROUP BY 1),
          big AS (SELECT ${hash60Sql("w1 || ' ' || w2")} AS h2,
                         count(*) AS c2
                  FROM t GROUP BY 1),
          j AS (SELECT doc_id, (c2 * 1000000) // c1 AS m
                FROM t JOIN uni ON uni.h1 = ${hash60Sql("w1")}
                       JOIN big ON big.h2 = ${hash60Sql("w1 || ' ' || w2")}),
          d AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
                       CAST(sum(m) AS BIGINT) AS lm_micro
                FROM j GROUP BY 1)
          SELECT w.doc_id,
                 CAST(coalesce(d.n_bigrams, 0) AS BIGINT) AS n_bigrams,
                 CAST(coalesce(d.lm_micro, 0) AS BIGINT) AS lm_micro,
                 CAST(d.lm_micro AS DOUBLE) / (d.n_bigrams * 1000000)
                   AS lm_score
          FROM w LEFT JOIN d USING (doc_id) ORDER BY doc_id""",

    "q300_epoch_shuffle" ->
      s"""WITH h AS (SELECT doc_id,
                 ${hash60Sql("'epoch1:' || CAST(doc_id AS VARCHAR)")} AS ek
               FROM documents),
          r AS (SELECT doc_id,
                       row_number() OVER (ORDER BY ek, doc_id) AS shuffle_pos
                FROM h)
          SELECT doc_id, CAST(shuffle_pos AS BIGINT) AS shuffle_pos,
                 CAST((shuffle_pos - 1) // $BatchSize AS BIGINT) AS microbatch
          FROM r ORDER BY shuffle_pos""",

    "q301_winsorized_mean" ->
      """WITH q AS (SELECT lang, CAST(count(*) AS BIGINT) AS n,
                         CAST(quantile_disc(n_chars, 0.05) AS BIGINT) AS q_lo,
                         CAST(quantile_disc(n_chars, 0.95) AS BIGINT) AS q_hi
                  FROM documents GROUP BY 1)
         SELECT q.lang, q.n, q.q_lo, q.q_hi,
                CAST(sum(least(greatest(d.n_chars, q.q_lo), q.q_hi))
                  AS DOUBLE) / q.n AS win_mean
         FROM documents d JOIN q ON d.lang = q.lang
         GROUP BY 1, 2, 3, 4 ORDER BY 1""",

    "q302_rrf_fusion" ->
      s"""WITH u AS (SELECT doc_id,
                 CAST(len(list_distinct($tokSql)) AS BIGINT) AS nu
               FROM documents),
          r1 AS (SELECT doc_id,
                        row_number() OVER (ORDER BY n_chars DESC, doc_id)
                          AS rank
                 FROM documents),
          r2 AS (SELECT doc_id,
                        row_number() OVER (ORDER BY nu DESC, doc_id) AS rank
                 FROM u),
          c AS (SELECT doc_id, 1000000000000 // ($RrfK + rank) AS pico
                FROM r1
                UNION ALL
                SELECT doc_id, 1000000000000 // ($RrfK + rank) FROM r2),
          f AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lists,
                       CAST(sum(pico) AS BIGINT) AS rrf_pico
                FROM c GROUP BY 1)
          SELECT doc_id, n_lists, rrf_pico,
                 CAST(rrf_pico AS DOUBLE) / 1000000000000.0 AS rrf
          FROM f ORDER BY rrf_pico DESC, doc_id LIMIT 100""",
  )
}
