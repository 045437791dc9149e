package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.Readers
import graft.ext.TextAnalysis
import graft.functions.TopKFunctions

/** Round-13 tenth batch: curation-knob evidence — the quality-score
  * yield curve (docs/tokens retained per threshold, per source; the
  * q304 dedup-yield companion for the quality axis) and hard-negative
  * mining over the labeled embedding space (nearest DIFFERENT-label
  * neighbors — the contrastive-training pair generator).
  */
object Round13jQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Readers.table(s, dir, name)

  private val tokSql = raw"string_split_regex(trim(text), '\s+')"

  private val QualityCuts = Seq(0.5, 0.6, 0.7, 0.8, 0.9)
  private val HnQueries = 5
  private val HnK = 3

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Quality yield curve: per source, docs and tokens surviving each
    // quality-score threshold. The scores are bit-identical on both
    // engines (q23's gate), so threshold comparisons are portable.
    "q328_quality_yield" -> ((s, dir) => {
      val scored = TextAnalysis.quality(t(s, dir, "documents"))
        .join(t(s, dir, "documents").select("doc_id", "source"),
          Seq("doc_id"))
      val cuts = QualityCuts.flatMap { c =>
        val tag = f"${(c * 100).round}%02d"
        Seq(
          sum(when(col("quality_score") >= c, 1L).otherwise(0L))
            .as(s"docs_ge_$tag"),
          sum(when(col("quality_score") >= c, col("n_tokens"))
            .otherwise(0L)).as(s"tokens_ge_$tag"))
      }
      val aggs = Seq(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens")) ++ cuts
      scored.groupBy("source").agg(aggs.head, aggs.tail: _*)
        .orderBy("source")
    }),

    // Hard negatives: per query vector, the 3 nearest neighbors whose
    // LABEL differs (exact micro L2, total tie order) — contrastive
    // pair mining.
    "q329_hard_negatives" -> ((s, dir) => {
      import graft.functions.VectorFunctions.dot
      val e = t(s, dir, "embeddings").select(col("vec_id"),
        col("label").cast("long").as("label"),
        col("embedding").cast("array<double>").as("v"))
      val q = e.filter(col("vec_id") < HnQueries)
        .select(col("vec_id").as("query_id"),
          col("label").as("qlabel"), col("v").as("qv"))
      val d = e.crossJoin(broadcast(q))
        .filter(col("label") =!= col("qlabel"))
        .select(col("query_id"), col("vec_id"),
          floor((dot(col("v"), col("v")) -
            lit(2.0) * dot(col("v"), col("qv")) +
            dot(col("qv"), col("qv"))) * 1e6 + lit(0.5)).cast("long")
            .as("d_micro"))
      TopKFunctions.topkPerGroup(d, Seq(col("query_id")),
          -col("d_micro"), col("vec_id"), HnK)
        .select(col("query_id"), col("rnk"),
          col("id").as("neighbor_id"), (-col("key")).as("d_micro"))
        .orderBy("query_id", "rnk")
    }),
  )

  val oracleSql: Map[String, String] = Map(

    "q328_quality_yield" -> {
      val enIn = TextAnalysis.enStopwords.map(w => s"'$w'")
        .mkString("(", ", ", ")")
      val cols = QualityCuts.flatMap { c =>
        val tag = f"${(c * 100).round}%02d"
        Seq(
          s"CAST(sum(CASE WHEN quality_score >= $c THEN 1 ELSE 0 END) AS BIGINT) AS docs_ge_$tag",
          s"CAST(sum(CASE WHEN quality_score >= $c THEN n_tokens ELSE 0 END) AS BIGINT) AS tokens_ge_$tag")
      }.mkString(",\n                 ")
      raw"""WITH q AS (
              SELECT doc_id, source,
                     CAST(len($tokSql) AS BIGINT) AS n_tokens,
                     CASE WHEN length(text) > 0
                          THEN length(regexp_replace(text,
                                 '[^a-z0-9\s]', '', 'g')) * 1.0 /
                               length(text)
                          ELSE 0.0 END AS alnum_ratio,
                     len(list_filter($tokSql, t -> t IN $enIn)) * 1.0
                       / len($tokSql) AS stopword_ratio
              FROM documents),
            sc AS (SELECT source, n_tokens,
                          0.4 * least(n_tokens / 50.0, 1.0) +
                            0.3 * least(stopword_ratio * 5.0, 1.0) +
                            0.3 * alnum_ratio AS quality_score
                   FROM q)
            SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
                   $cols
            FROM sc GROUP BY source ORDER BY source"""
    },

    "q329_hard_negatives" ->
      s"""WITH e AS (SELECT vec_id, label,
                            CAST(embedding AS DOUBLE[]) AS v
                     FROM embeddings),
          q AS (SELECT vec_id AS query_id, label AS qlabel, v AS qv
                FROM e WHERE vec_id < $HnQueries),
          d AS (SELECT q.query_id, e.vec_id,
                       CAST(floor((list_dot_product(e.v, e.v)
                         - 2 * list_dot_product(e.v, q.qv)
                         + list_dot_product(q.qv, q.qv)) * 1000000.0
                         + 0.5) AS BIGINT) AS d_micro
                FROM e CROSS JOIN q
                WHERE e.label <> q.qlabel),
          r AS (SELECT query_id, vec_id AS neighbor_id, d_micro,
                       row_number() OVER (PARTITION BY query_id
                         ORDER BY d_micro ASC, vec_id ASC) AS rnk
                FROM d)
          SELECT query_id, CAST(rnk AS BIGINT) AS rnk, neighbor_id,
                 d_micro
          FROM r WHERE rnk <= $HnK ORDER BY query_id, rnk""",
  )
}
