package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.Readers
import graft.ext.Dedup

/** Round-13 batch: exact substring-level dedup (the suffix-gram
  * re-expression of Lee et al. 2022's exact-substring dedup — the one
  * prominent LLM-curation primitive the dedup family was still missing),
  * gated per-document, as a per-language census, and as a provenance
  * attribution (which copy is canonical). Library operator:
  * [[graft.ext.Dedup.duplicatedSpans]] / [[graft.ext.Dedup.spanProvenance]];
  * adversarial shape: `substring_dedup_boilerplate`, ratio 0.29
  * (docs/PLANS.md).
  */
object Round13Queries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Readers.table(s, dir, name)

  private val tokSql = raw"string_split_regex(trim(text), '\s+')"

  private def hash60Sql(e: String): String =
    s"CAST('0x' || substr(md5($e), 1, 15) AS BIGINT)"

  /** Window length (tokens) for the exact-substring queries. Lee et al.
    * use 50 BPE tokens on web corpora; the synthetic documents run
    * ~10²–10³ whitespace tokens, so 8 keeps planted near-dup overlap
    * detectable at every SF while staying long enough that chance
    * 8-gram collisions are nil.
    */
  private val SpanL = 8

  /** q296's flag threshold: a doc ≥ 20% covered by corpus-duplicated
    * spans is curation-actionable boilerplate.
    */
  private val FlagRatio = 0.2

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Exact substring-level duplication per document: maximal merged
    // spans of L-token windows that occur >= 2 times in the corpus.
    "q295_substring_dedup" -> ((s, dir) =>
      Dedup.duplicatedSpans(t(s, dir, "documents"), SpanL)
        .orderBy("doc_id")),

    // Per-language duplication census over the same spans: how much of
    // each language's token mass is exact-duplicated, and how many
    // documents cross the curation flag threshold.
    "q296_substring_dup_census" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.duplicatedSpans(docs, SpanL)
        .join(docs.select("doc_id", "lang"), Seq("doc_id"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("dup_ratio") >= FlagRatio, 1L).otherwise(0L))
            .as("flagged_docs"),
          sum(col("dup_tokens")).as("dup_tokens"),
          sum(col("n_tokens")).as("n_tokens"))
        .select(col("lang"), col("n_docs"), col("flagged_docs"),
          col("dup_tokens"), col("n_tokens"),
          (col("dup_tokens").cast("double") / col("n_tokens"))
            .as("dup_share"))
        .orderBy("lang")
    }),

    // Provenance: each duplicated window's canonical owner is the
    // minimum doc_id holding it; per doc, how many of its duplicated
    // windows it owns vs borrows — the "keep the canonical copy"
    // signal exact-substring curation acts on.
    "q297_substring_provenance" -> ((s, dir) =>
      Dedup.spanProvenance(t(s, dir, "documents"), SpanL)
        .orderBy("doc_id")),
  )

  val oracleSql: Map[String, String] = Map(

    "q295_substring_dedup" ->
      s"""WITH w AS (SELECT doc_id, $tokSql AS w FROM documents),
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
          d AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
                       CAST(sum(e - s + $SpanL) AS BIGINT) AS dup_tokens
                FROM sp GROUP BY 1)
          SELECT sz.doc_id,
                 CAST(coalesce(d.n_spans, 0) AS BIGINT) AS n_spans,
                 CAST(coalesce(d.dup_tokens, 0) AS BIGINT) AS dup_tokens,
                 sz.n_tokens,
                 CAST(coalesce(d.dup_tokens, 0) AS DOUBLE) / sz.n_tokens
                   AS dup_ratio
          FROM sz LEFT JOIN d USING (doc_id) ORDER BY doc_id""",

    "q296_substring_dup_census" ->
      s"""WITH w AS (SELECT doc_id, lang, $tokSql AS w FROM documents),
          sz AS (SELECT doc_id, lang, CAST(len(w) AS BIGINT) AS n_tokens
                 FROM w),
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
          per AS (SELECT sz.lang, sz.n_tokens,
                         coalesce(d.dup_tokens, 0) AS dup_tokens
                  FROM sz LEFT JOIN d USING (doc_id))
          SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(sum(CASE WHEN dup_tokens * 1.0 / n_tokens >= $FlagRatio
                               THEN 1 ELSE 0 END) AS BIGINT) AS flagged_docs,
                 CAST(sum(dup_tokens) AS BIGINT) AS dup_tokens,
                 CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
                 CAST(sum(dup_tokens) AS DOUBLE) / sum(n_tokens) AS dup_share
          FROM per GROUP BY lang ORDER BY lang""",

    "q297_substring_provenance" ->
      s"""WITH w AS (SELECT doc_id, $tokSql AS w FROM documents),
          sz AS (SELECT doc_id FROM w),
          p AS (SELECT doc_id, i,
                       ${hash60Sql(s"array_to_string(w[i:i+${SpanL - 1}], ' ')")} AS g
                FROM (SELECT doc_id, w,
                             unnest(generate_series(1, len(w) - ${SpanL - 1})) AS i
                      FROM w)),
          hot AS (SELECT g, min(doc_id) AS owner FROM p
                  GROUP BY g HAVING count(*) >= 2),
          f AS (SELECT p.doc_id, hot.owner FROM p JOIN hot USING (g)),
          d AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dup_windows,
                       CAST(sum(CASE WHEN owner = doc_id THEN 1 ELSE 0 END)
                         AS BIGINT) AS owned_windows
                FROM f GROUP BY 1)
          SELECT sz.doc_id,
                 CAST(coalesce(d.dup_windows, 0) AS BIGINT) AS dup_windows,
                 CAST(coalesce(d.owned_windows, 0) AS BIGINT) AS owned_windows,
                 CAST(d.owned_windows AS DOUBLE) / nullif(d.dup_windows, 0)
                   AS owned_share
          FROM sz LEFT JOIN d USING (doc_id) ORDER BY doc_id""",
  )
}
