package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ext.{Dedup, Stats}
import graft.functions.Portable.wsTokens
import OracleSql.{hash60Sql, tokSql}
import Tables.t

/** Round-13 third batch: distribution surgery and corpus-growth
  * diagnostics — cross-cohort quantile normalization (batch-effect
  * removal), the dedup yield curve (tokens retained vs exact-substring
  * threshold — the knob-setting evidence for q295's family), and a
  * Heaps-law vocabulary growth census. Window-free, integer-exact,
  * DuckDB-gated.
  */
object Round13cQueries extends QuerySet {

  private val SpanL = 8
  private val RefLang = "en"
  private val YieldCuts = Seq(0.0, 0.1, 0.2, 0.3, 0.5)

  /** q305 grain: the synthetic corpus draws from a ~31-token vocabulary
    * that saturates inside the first 10 documents (unigram Heaps is a
    * 1-row degenerate), so growth is measured at 3-GRAM grain — 2.4k
    * novel grams in bucket 0 decaying to ~0.9k by bucket 9 at sf0.01, a
    * real curve at every SF.
    */
  private val HeapsN = 3
  private val HeapsBucket = 50L

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Quantile-normalize each language's doc-length distribution onto
    // English's: the (lang, n_chars) -> mapped table.
    "q303_quantile_normalize" -> ((s, dir) =>
      Stats.quantileNormalize(
          t(s, dir, "documents").select("lang", "n_chars"),
          "lang", "n_chars", RefLang)
        .orderBy("lang", "n_chars")),

    // Dedup yield curve: documents / tokens retained at each
    // exact-substring dup_ratio threshold — the evidence that sets the
    // curation knob before committing a 100 TB rewrite.
    "q304_dedup_yield" -> ((s, dir) => {
      val spans = Dedup.duplicatedSpans(t(s, dir, "documents"), SpanL)
      val sums = YieldCuts.flatMap { c =>
        val tag = f"${(c * 100).round}%02d"
        Seq(
          sum(when(col("dup_ratio") <= c, 1L).otherwise(0L))
            .as(s"docs_le_$tag"),
          sum(when(col("dup_ratio") <= c, col("n_tokens")).otherwise(0L))
            .as(s"tokens_le_$tag"))
      }
      val aggCols = Seq(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens")) ++ sums
      spans.agg(aggCols.head, aggCols.tail: _*)
    }),

    // Heaps-law growth at 3-gram grain: novel and cumulative distinct
    // grams per corpus prefix bucket (doc_id order) — the diminishing-
    // returns curve that answers "does the next shard of data still add
    // anything new".
    "q305_heaps_law" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val firstB = Dedup.shinglesRaw(docs, HeapsN)
        .select(expr(s"doc_id div $HeapsBucket").as("b"),
          graft.functions.Portable.hash60(col("shingle")).as("h"))
        .groupBy("h").agg(min(col("b")).as("fb"))
      val novel = firstB.groupBy(col("fb").as("bucket"))
        .agg(count(lit(1)).as("novel_terms"))
      // cumulative over the handful of buckets: a bucket² self-join,
      // |buckets| is corpus_size/HeapsBucket — bounded and tiny
      novel.as("a")
        .join(novel.as("b"), col("b.bucket") <= col("a.bucket"))
        .groupBy(col("a.bucket").as("bucket"),
          col("a.novel_terms").as("novel_terms"))
        .agg(sum(col("b.novel_terms")).as("cum_vocab"))
        .orderBy("bucket")
    }),
  )

  private def spansSql: String =
    s"""w AS (SELECT doc_id, $tokSql AS w FROM documents),
        sz AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens FROM w),
        p AS (SELECT doc_id, i,
                     ${hash60Sql(s"array_to_string(w[i:i+${SpanL - 1}], ' ')")} AS g
              FROM (SELECT doc_id, w,
                           unnest(generate_series(1, len(w) - ${SpanL - 1})) AS i
                    FROM w)),
        hot AS (SELECT g FROM p GROUP BY g HAVING count(*) >= 2),
        f AS (SELECT doc_id, i FROM p WHERE g IN (SELECT g FROM hot)),
        b AS (SELECT doc_id, i,
                     CASE WHEN i - lag(i) OVER (PARTITION BY doc_id
                                                ORDER BY i) <= $SpanL
                          THEN 0 ELSE 1 END AS brk FROM f),
        isl AS (SELECT doc_id, i,
                       sum(brk) OVER (PARTITION BY doc_id ORDER BY i) AS isl
                FROM b),
        sp AS (SELECT doc_id, isl, min(i) AS s, max(i) AS e
               FROM isl GROUP BY 1, 2),
        d AS (SELECT doc_id, CAST(sum(e - s + $SpanL) AS BIGINT)
                       AS dup_tokens
              FROM sp GROUP BY 1),
        per AS (SELECT sz.doc_id, sz.n_tokens,
                       coalesce(d.dup_tokens, 0) * 1.0 / sz.n_tokens
                         AS dup_ratio
                FROM sz LEFT JOIN d USING (doc_id))"""

  val oracleSql: Map[String, String] = Map(

    "q303_quantile_normalize" ->
      s"""WITH cells AS (SELECT lang, n_chars AS v, CAST(count(*) AS BIGINT) AS c
                       FROM documents GROUP BY 1, 2),
          cum AS (SELECT lang, v, c,
                         sum(c) OVER (PARTITION BY lang ORDER BY v) AS cum,
                         sum(c) OVER (PARTITION BY lang) AS n
                  FROM cells),
          ref AS (SELECT v, cum FROM cum WHERE lang = '$RefLang'),
          refn AS (SELECT max(cum) AS n_ref FROM ref),
          m AS (SELECT lang, v, c, least(
                         CAST(ceil((CAST(cum AS DOUBLE) / n) *
                           (SELECT n_ref FROM refn)) AS BIGINT),
                         (SELECT n_ref FROM refn)) AS r
                FROM cum)
          SELECT m.lang, m.v AS n_chars, m.c AS n_rows,
                 (SELECT min(r2.v) FROM ref r2 WHERE r2.cum >= m.r)
                   AS mapped
          FROM m ORDER BY lang, n_chars""",

    "q304_dedup_yield" -> {
      val cols = YieldCuts.flatMap { c =>
        val tag = f"${(c * 100).round}%02d"
        Seq(
          s"CAST(sum(CASE WHEN dup_ratio <= $c THEN 1 ELSE 0 END) AS BIGINT) AS docs_le_$tag",
          s"CAST(sum(CASE WHEN dup_ratio <= $c THEN n_tokens ELSE 0 END) AS BIGINT) AS tokens_le_$tag")
      }.mkString(",\n                 ")
      s"""WITH $spansSql
          SELECT CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
                 $cols
          FROM per"""
    },

    "q305_heaps_law" ->
      s"""WITH w AS (SELECT doc_id, $tokSql AS w FROM documents),
          tk AS (SELECT doc_id // $HeapsBucket AS b,
                        ${hash60Sql(s"array_to_string(w[i:i+${HeapsN - 1}], ' ')")} AS h
                 FROM (SELECT doc_id, w,
                              unnest(generate_series(1, len(w) - ${HeapsN - 1})) AS i
                       FROM w)),
          fb AS (SELECT h, min(b) AS fb FROM tk GROUP BY 1),
          novel AS (SELECT fb AS bucket, CAST(count(*) AS BIGINT)
                           AS novel_terms
                    FROM fb GROUP BY 1)
          SELECT a.bucket, a.novel_terms,
                 CAST(sum(b.novel_terms) AS BIGINT) AS cum_vocab
          FROM novel a JOIN novel b ON b.bucket <= a.bucket
          GROUP BY 1, 2 ORDER BY a.bucket""",
  )
}
