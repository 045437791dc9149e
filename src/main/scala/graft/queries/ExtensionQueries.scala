package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.Readers
import graft.ext.{Dedup, Similarity, TextAnalysis}
import OracleSql.tokSql

/** Training-data-pipeline operators (dedup, similarity search, text
  * analysis) over the `documents` and `embeddings` tables. Oracles for the
  * hash-based operators (MinHash, SimHash) are generated from the same
  * parameters as the Spark programs, using the md5-derived portable hash —
  * so even the LSH signatures are verified value-for-value in DuckDB, not
  * just row-counted.
  */
object ExtensionQueries extends QuerySet {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Readers.table(s, dir, "documents")
  private def emb(s: SparkSession, dir: String): DataFrame =
    Readers.table(s, dir, "embeddings")

  // ---- shared oracle SQL fragments (DuckDB) -------------------------------

  /** 60-bit md5 hash of a string SQL expression, as in Portable.hash60. */
  private def hashSql(e: String): String =
    s"CAST(('0x' || substr(md5($e), 1, 15)) AS BIGINT)"

  /** Word-3-gram shingle CTEs (words, sh) over documents. Positions come
    * from scalar-list `unnest(generate_series(1, len(w)-2))`, which allows
    * per-row (correlated) bounds — unlike the table-function form, whose
    * constant bound would silently truncate longer documents.
    */
  private[queries] val shingleCte =
    raw"""words AS (SELECT doc_id, $tokSql AS w FROM documents),
          pos AS (SELECT doc_id, w, unnest(generate_series(1, len(w) - 2)) AS i
                  FROM words),
          sh AS (SELECT DISTINCT doc_id,
                        w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
                 FROM pos)"""

  private[queries] val NumHashes = 16
  private[queries] val RowsPerBand = 4
  private val SimhashBits = 60
  private val LshPlanes = 8
  private val EmbDim = 64

  private[queries] def inList(ws: Seq[String]): String =
    ws.map(w => s"'$w'").mkString("(", ", ", ")")

  // ---- queries ------------------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q22_text_tokens" -> ((s, dir) =>
      TextAnalysis.tokenCounts(docs(s, dir)).orderBy("doc_id")),

    "q23_text_quality" -> ((s, dir) =>
      TextAnalysis.quality(docs(s, dir)).orderBy("doc_id")),

    "q24_lang_id" -> ((s, dir) =>
      TextAnalysis.langId(docs(s, dir)).orderBy("doc_id")),

    "q25_fingerprint" -> ((s, dir) =>
      TextAnalysis.fingerprint(docs(s, dir)).orderBy("doc_id")),

    "q26_dedup_exact" -> ((s, dir) =>
      Dedup.exactGroups(docs(s, dir)).orderBy("fp")),

    "q27_dedup_jaccard" -> ((s, dir) =>
      Dedup.jaccardPairs(docs(s, dir), 0.5).orderBy("doc_a", "doc_b")),

    "q28_dedup_minhash" -> ((s, dir) =>
      Dedup.minhashCandidates(docs(s, dir), NumHashes, RowsPerBand)
        .orderBy("doc_a", "doc_b")),

    "q29_simhash" -> ((s, dir) =>
      Dedup.simhash(docs(s, dir), SimhashBits).orderBy("doc_id")),

    "q30_embed_knn" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.knnBrute(e.filter(col("vec_id") < 10), e, 5)
        .orderBy("query_id", "rnk")
    }),

    "q31_embed_neardup" -> ((s, dir) =>
      Similarity.neardupPairs(emb(s, dir), 0.4).orderBy("vec_a", "vec_b")),

    "q32_ann_lsh" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.knnLsh(e.filter(col("vec_id") < 10), e, 5, LshPlanes, EmbDim)
        .orderBy("query_id", "rnk")
    })
  )

  // ---- oracles ------------------------------------------------------------

  private val enIn = inList(TextAnalysis.enStopwords)

  private[queries] val langCols = TextAnalysis.langStopwords.map { case (l, ws) =>
    s"len(list_filter($tokSql, t -> t IN ${inList(ws)})) AS c_$l"
  }.mkString(", ")

  private[queries] val minhashAggs = {
    val consts = graft.functions.Portable.minhashConstants(NumHashes)
    val p = graft.functions.Portable.MinhashPrime
    (0 until NumHashes).map { h =>
      val (a, b) = consts(h)
      s"min(($a * h30 + $b) % $p) AS h$h"
    }.mkString(", ")
  }

  private[queries] val hash30Sql =
    s"(${hashSql("shingle")} & ${graft.functions.Portable.Hash30Mask})"

  private[queries] val bandSelects = (0 until NumHashes / RowsPerBand).map { b =>
    val key = (0 until RowsPerBand)
      .map(r => s"CAST(h${b * RowsPerBand + r} AS VARCHAR)")
      .mkString(" || ',' || ")
    s"SELECT doc_id, $b AS band, md5($key) AS bkey FROM sig"
  }.mkString(" UNION ALL ")

  private val simhashBitSums = (0 until SimhashBits).map { b =>
    s"sum(((h >> $b) & 1) * 2 - 1) AS b$b"
  }.mkString(", ")

  private val simhashAssemble = (0 until SimhashBits).map { b =>
    s"(CASE WHEN b$b > 0 THEN (CAST(1 AS BIGINT) << $b) ELSE CAST(0 AS BIGINT) END)"
  }.mkString(" + ")

  /** cosine(a, b) over DOUBLE[] columns, matching Similarity.cosine. */
  private def cosSql(a: String, b: String): String =
    s"list_dot_product($a, $b) / sqrt(list_sum(list_transform($a, x -> x*x)) * list_sum(list_transform($b, x -> x*x)))"

  /** ±1 hyperplane literal for LSH, matching Similarity.planeSign. */
  private def planeLit(p: Int): String =
    (0 until EmbDim).map(j => Similarity.planeSign(p, j))
      .mkString("CAST([", ", ", "] AS DOUBLE[])")

  private val bucketSql = (0 until LshPlanes).map { p =>
    s"(CASE WHEN list_dot_product(v, ${planeLit(p)}) > 0 THEN ${1 << p} ELSE 0 END)"
  }.mkString(" + ")

  val oracleSql: Map[String, String] = Map(
    "q22_text_tokens" ->
      raw"""SELECT doc_id, len($tokSql) AS n_tokens_ws,
            len(regexp_extract_all(text, '[a-z0-9]+|[^a-z0-9\s]')) AS n_tokens_re
            FROM documents ORDER BY doc_id""",

    "q23_text_quality" ->
      raw"""WITH q AS (
              SELECT doc_id, len($tokSql) AS n_tokens,
                     length(regexp_replace(text, '[^a-z0-9\s]', '', 'g')) * 1.0 / length(text) AS alnum_ratio,
                     len(list_filter($tokSql, t -> t IN $enIn)) * 1.0 / len($tokSql) AS stopword_ratio,
                     length(regexp_replace(text, '\s', '', 'g')) * 1.0 / len($tokSql) AS avg_token_len
              FROM documents)
            SELECT doc_id, n_tokens, alnum_ratio, stopword_ratio, avg_token_len,
                   0.4 * least(n_tokens / 50.0, 1.0) + 0.3 * least(stopword_ratio * 5.0, 1.0) + 0.3 * alnum_ratio AS quality_score
            FROM q ORDER BY doc_id""",

    "q24_lang_id" ->
      s"""WITH c AS (SELECT doc_id, $langCols FROM documents)
          SELECT doc_id, c_en, c_es, c_fr, c_de,
                 CASE WHEN c_en + c_es + c_fr + c_de = 0 THEN 'und'
                      WHEN c_en >= c_es AND c_en >= c_fr AND c_en >= c_de THEN 'en'
                      WHEN c_es >= c_fr AND c_es >= c_de THEN 'es'
                      WHEN c_fr >= c_de THEN 'fr'
                      ELSE 'de' END AS lang_pred
          FROM c ORDER BY doc_id""",

    "q25_fingerprint" ->
      s"""SELECT doc_id,
          md5(array_to_string(list_sort(list_distinct($tokSql)), ' ')) AS fp
          FROM documents ORDER BY doc_id""",

    "q26_dedup_exact" ->
      """SELECT md5(text) AS fp, count(*) AS n_docs, min(doc_id) AS keep_doc_id
         FROM documents GROUP BY 1 ORDER BY fp""",

    "q27_dedup_jaccard" ->
      s"""WITH $shingleCte,
          sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
          inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
                    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                    GROUP BY 1, 2)
          SELECT doc_a, doc_b, i * 1.0 / (x.n + y.n - i) AS jaccard
          FROM inter JOIN sz x ON x.doc_id = doc_a JOIN sz y ON y.doc_id = doc_b
          WHERE i * 1.0 / (x.n + y.n - i) >= 0.5
          ORDER BY doc_a, doc_b""",

    "q28_dedup_minhash" ->
      s"""WITH $shingleCte,
          shh AS (SELECT doc_id, $hash30Sql AS h30 FROM sh),
          sig AS (SELECT doc_id, $minhashAggs FROM shh GROUP BY doc_id),
          banded AS ($bandSelects)
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_bands
          FROM banded a
          JOIN banded b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
          GROUP BY 1, 2 ORDER BY doc_a, doc_b""",

    "q29_simhash" ->
      s"""WITH toks AS (SELECT doc_id, unnest(list_distinct($tokSql)) AS tok FROM documents),
          h AS (SELECT doc_id, ${hashSql("tok")} AS h FROM toks),
          bits AS (SELECT doc_id, $simhashBitSums FROM h GROUP BY doc_id)
          SELECT doc_id, $simhashAssemble AS simhash
          FROM bits ORDER BY doc_id""",

    "q30_embed_knn" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
          q AS (SELECT * FROM e WHERE vec_id < 10),
          scored AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                            round(${cosSql("q.v", "c.v")}, 6) AS score
                     FROM q, e c WHERE c.vec_id <> q.vec_id),
          r AS (SELECT query_id, neighbor_id, score,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY score DESC, neighbor_id) AS rnk
                FROM scored)
          SELECT query_id, neighbor_id, score, rnk FROM r
          WHERE rnk <= 5 ORDER BY query_id, rnk""",

    "q31_embed_neardup" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
          SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                 round(${cosSql("a.v", "b.v")}, 6) AS score
          FROM e a JOIN e b ON a.vec_id < b.vec_id
          WHERE round(${cosSql("a.v", "b.v")}, 6) >= 0.4
          ORDER BY vec_a, vec_b""",

    "q32_ann_lsh" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
          eb AS (SELECT vec_id, v, $bucketSql AS bucket FROM e),
          q AS (SELECT * FROM eb WHERE vec_id < 10),
          scored AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                            round(${cosSql("q.v", "c.v")}, 6) AS score
                     FROM q JOIN eb c ON c.bucket = q.bucket AND c.vec_id <> q.vec_id),
          r AS (SELECT query_id, neighbor_id, score,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY score DESC, neighbor_id) AS rnk
                FROM scored)
          SELECT query_id, neighbor_id, score, rnk FROM r
          WHERE rnk <= 5 ORDER BY query_id, rnk"""
  )
}
