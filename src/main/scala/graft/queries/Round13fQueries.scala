package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ext.{Dedup, Pq, Sampling}
import graft.functions.Portable.hash60
import OracleSql.tokSql
import Tables.t

/** Round-13 sixth batch: the memory-compressed half of the ANN stack
  * and submodular source selection — product-quantization codebooks
  * (encode + reconstruction-error census, ADC top-k over codes), and
  * greedy max-coverage slice selection. PQ training (k-means) stays
  * outside the gate exactly like q64's IVF: everything AFTER `fit` —
  * code assignment, reconstruction error, lookup-table distances,
  * ranking — is re-expressed in the dynamic oracle from the rendered
  * codebooks and hash-checked.
  *
  * ROUND-14 NOTE: this family quantizes only the FIRST 8 of the
  * embeddings' 64 dimensions (Dim below), which is why q319's honest
  * recall audit reports ~0.05–0.30 — the distance mass in the other 56
  * dimensions is invisible to ADC by construction. It stays gated as
  * the SMALL-configuration exercise of the literal-codebook path
  * (plan-time constant folding, m=2 oracle shape); the full-dimension,
  * usable-recall stack is the q330 family
  * ([[Round14Queries]] + [[graft.ext.Pq.encodePacked]]), whose recall
  * is gated ≥ 0.7.
  */
object Round13fQueries extends QuerySet {

  private val Dim = 8
  private val M = 2
  private val K = 16
  private val AdcQueries = 5
  private val AdcK = 3
  private val CoverSteps = 3
  private val IvfProbe = 4

  /** One PQ fit per sf dir (the q64 centroid-cache discipline: query
    * and generated oracle must see the same codebooks within a run).
    */
  private val pqCache =
    new java.util.concurrent.ConcurrentHashMap[String, Pq.Model]()
  private def pqModel(s: SparkSession, dir: String): Pq.Model =
    pqCache.computeIfAbsent(dir, _ =>
      Pq.trainCodebooks(s, t(s, dir, "embeddings"), Dim, M, K))

  /** (source, 3-gram-hash) incidence for the coverage queries. */
  private def sourceGrams(s: SparkSession, dir: String): DataFrame =
    Dedup.shinglesRaw(
        t(s, dir, "documents").select(col("source").as("doc_id"),
          col("text")), 3)
      .select(col("doc_id").as("source"),
        hash60(col("shingle")).as("h"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // PQ reconstruction-error census per code cell: how much signal the
    // m x log2(k)-bit representation loses, and where.
    "q315_pq_error" -> ((s, dir) =>
      Pq.encode(t(s, dir, "embeddings"), pqModel(s, dir))
        .groupBy("code0", "code1")
        .agg(count(lit(1)).as("n"), sum("err_micro").as("err_micro_sum"))
        .withColumn("mean_err_micro",
          col("err_micro_sum").cast("double") / col("n").cast("double"))
        .orderBy("code0", "code1")),

    // ADC top-k: queries keep exact vectors, the corpus is scanned as
    // CODES + per-query lookup tables (exact integer distances).
    "q316_pq_adc" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val model = pqModel(s, dir)
      Pq.adcKnn(e.filter(col("vec_id") < AdcQueries),
          Pq.encode(e, model), model, AdcK)
        .orderBy("query_id", "rnk")
    }),

    // Greedy max-coverage source selection: which 3 sources buy the
    // most distinct 3-gram vocabulary (submodular greedy, exact ties).
    "q317_greedy_coverage" -> ((s, dir) =>
      Sampling.greedyCoverage(sourceGrams(s, dir), "source", "h",
          CoverSteps)
        .orderBy("step")),

    // The composed FAISS-style stack: IVF cosine probe (q64's cells)
    // picks candidate cells, PQ ADC integer distances rank within them.
    "q318_ivf_pq" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Pq.ivfPqKnn(e, e.filter(col("vec_id") < AdcQueries),
          Round2Queries.ivfCentroids(s, dir), pqModel(s, dir),
          AdcK, IvfProbe)
        .orderBy("query_id", "rnk")
    }),

    // ADC-vs-exact recall audit: how many of the true (exact-L2) top-k
    // the code-only ADC ranking recovers, per query — the in-gate
    // quality number behind the PQ compression choice.
    "q319_pq_recall" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val model = pqModel(s, dir)
      Round14Queries.recallFrame(e,
        Pq.adcKnn(e.filter(col("vec_id") < AdcQueries), Pq.encode(e, model),
          model, Round14Queries.RecallK))
    }),
  )

  val oracleSql: Map[String, String] = Map(

    "q317_greedy_coverage" -> {
      val hashSql =
        s"CAST('0x' || substr(md5(array_to_string(w[i:i+2], ' ')), 1, 15) AS BIGINT)"
      s"""WITH w AS (SELECT source, $tokSql AS w FROM documents),
          g AS (SELECT DISTINCT source, $hashSql AS h
                FROM (SELECT source, w,
                             unnest(generate_series(1, len(w) - 2)) AS i
                      FROM w)),
          c1 AS (SELECT source, CAST(count(*) AS BIGINT) AS gain
                 FROM g GROUP BY 1),
          s1 AS (SELECT source, gain FROM c1
                 ORDER BY gain DESC, source LIMIT 1),
          cov1 AS (SELECT DISTINCT h FROM g
                   WHERE source = (SELECT source FROM s1)),
          c2 AS (SELECT g.source, CAST(count(*) AS BIGINT) AS gain
                 FROM g LEFT JOIN cov1 ON g.h = cov1.h
                 WHERE cov1.h IS NULL
                   AND g.source <> (SELECT source FROM s1)
                 GROUP BY 1),
          s2 AS (SELECT source, gain FROM c2
                 ORDER BY gain DESC, source LIMIT 1),
          cov2 AS (SELECT DISTINCT h FROM g
                   WHERE source IN ((SELECT source FROM s1),
                                    (SELECT source FROM s2))),
          c3 AS (SELECT g.source, CAST(count(*) AS BIGINT) AS gain
                 FROM g LEFT JOIN cov2 ON g.h = cov2.h
                 WHERE cov2.h IS NULL
                   AND g.source NOT IN ((SELECT source FROM s1),
                                        (SELECT source FROM s2))
                 GROUP BY 1),
          s3 AS (SELECT source, gain FROM c3
                 ORDER BY gain DESC, source LIMIT 1)
          SELECT CAST(1 AS BIGINT) AS step, s1.source AS slice, s1.gain,
                 s1.gain AS cum_coverage
          FROM s1
          UNION ALL
          SELECT 2, s2.source, s2.gain, s1.gain + s2.gain
          FROM s1, s2
          UNION ALL
          SELECT 3, s3.source, s3.gain, s1.gain + s2.gain + s3.gain
          FROM s1, s2, s3
          ORDER BY step"""
    },
  )

  /** VALUES-rendered codebook for subspace `s` ('x'::DOUBLE components:
    * bare SQL decimal literals parse as DECIMAL whose DOUBLE cast is
    * not correctly rounded — the q64 lesson).
    */
  private def bookValues(model: Pq.Model, s: Int): String =
    model.books(s).zipWithIndex.map { case (c, i) =>
      c.map(x => s"'$x'::DOUBLE").mkString(s"($i, [", ", ", "])")
    }.mkString(", ")

  /** Shared SQL prelude: codebooks as VALUES, per-subspace nearest-code
    * assignment with (d2 ASC, code ASC) ties — the array_min struct
    * order — and the (vec_id, code0, code1, err) code table.
    */
  private val eCte =
    """e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
              FROM embeddings)"""

  private def codesSql(model: Pq.Model): String = {
    def d2(vs: String, cv: String) =
      s"list_dot_product($vs, $vs) - 2 * list_dot_product($vs, $cv) + " +
        s"list_dot_product($cv, $cv)"
    val half = Dim / M
    def sub(s: Int) = s"v[${s * half + 1}:${(s + 1) * half}]"
    s"""b0(code, cv) AS (VALUES ${bookValues(model, 0)}),
        b1(code, cv) AS (VALUES ${bookValues(model, 1)}),
        $eCte,
        a0 AS (SELECT vec_id, code, d2 FROM (
                 SELECT e.vec_id, b0.code,
                        ${d2(sub(0), "b0.cv")} AS d2,
                        row_number() OVER (PARTITION BY e.vec_id
                          ORDER BY ${d2(sub(0), "b0.cv")} ASC,
                                   b0.code ASC) AS rnk
                 FROM e CROSS JOIN b0) t WHERE rnk = 1),
        a1 AS (SELECT vec_id, code, d2 FROM (
                 SELECT e.vec_id, b1.code,
                        ${d2(sub(1), "b1.cv")} AS d2,
                        row_number() OVER (PARTITION BY e.vec_id
                          ORDER BY ${d2(sub(1), "b1.cv")} ASC,
                                   b1.code ASC) AS rnk
                 FROM e CROSS JOIN b1) t WHERE rnk = 1),
        codes AS (SELECT a0.vec_id, a0.code AS code0, a1.code AS code1,
                         CAST(floor((a0.d2 + a1.d2) * 1000000.0 + 0.5)
                              AS BIGINT) AS err_micro
                  FROM a0 JOIN a1 USING (vec_id))"""
  }

  /** ADC prelude of q316 and q319: the code table, the query rows `q`,
    * both subspaces' micro lookup tables, and `dist` (query_id, vec_id,
    * dist_micro) over every non-query vector.
    */
  private def adcDistSql(model: Pq.Model): String = {
    def d2(vs: String, cv: String) =
      s"list_dot_product($vs, $vs) - 2 * list_dot_product($vs, $cv)" +
        s" + list_dot_product($cv, $cv)"
    val half = Dim / M
    def sub(s0: Int) = s"v[${s0 * half + 1}:${(s0 + 1) * half}]"
    s"""${codesSql(model)},
            q AS (SELECT vec_id AS query_id, v FROM e
                  WHERE vec_id < $AdcQueries),
            l0 AS (SELECT query_id, code,
                          CAST(floor((${d2(sub(0), "b0.cv")}) * 1000000.0
                            + 0.5) AS BIGINT) AS d
                   FROM q CROSS JOIN b0),
            l1 AS (SELECT query_id, code,
                          CAST(floor((${d2(sub(1), "b1.cv")}) * 1000000.0
                            + 0.5) AS BIGINT) AS d
                   FROM q CROSS JOIN b1),
            dist AS (SELECT l0.query_id, c.vec_id,
                            CAST(l0.d + l1.d AS BIGINT) AS dist_micro
                     FROM codes c
                     JOIN l0 ON l0.code = c.code0
                     JOIN l1 ON l1.code = c.code1
                       AND l1.query_id = l0.query_id
                     WHERE c.vec_id <> l0.query_id)"""
  }

  override val dynamicOracleSql: Map[String, (SparkSession, String) => String] =
    Map(
      "q315_pq_error" -> ((s, dir) => {
        val model = pqModel(s, dir)
        s"""WITH ${codesSql(model)}
            SELECT CAST(code0 AS BIGINT) AS code0,
                   CAST(code1 AS BIGINT) AS code1,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(err_micro) AS BIGINT) AS err_micro_sum,
                   CAST(sum(err_micro) AS DOUBLE) /
                     CAST(count(*) AS DOUBLE) AS mean_err_micro
            FROM codes GROUP BY 1, 2 ORDER BY 1, 2"""
      }),

      "q316_pq_adc" -> ((s, dir) =>
        s"""WITH ${adcDistSql(pqModel(s, dir))},
            r AS (SELECT query_id, vec_id AS neighbor_id, dist_micro,
                         row_number() OVER (PARTITION BY query_id
                           ORDER BY dist_micro ASC, vec_id ASC) AS rnk
                  FROM dist)
            SELECT query_id, CAST(rnk AS BIGINT) AS rnk, neighbor_id,
                   dist_micro
            FROM r WHERE rnk <= $AdcK ORDER BY query_id, rnk"""),

      "q318_ivf_pq" -> ((s, dir) => {
        val model = pqModel(s, dir)
        val cents = Round2Queries.ivfCentroids(s, dir)
        val centValues = cents.zipWithIndex.map { case (c, i) =>
          c.map(x => s"'$x'::DOUBLE").mkString(s"($i, [", ", ", "])")
        }.mkString(", ")
        def d2(vs: String, cv: String) =
          s"list_dot_product($vs, $vs) - 2 * list_dot_product($vs, $cv)" +
            s" + list_dot_product($cv, $cv)"
        val half = Dim / M
        def sub(s0: Int) = s"v[${s0 * half + 1}:${(s0 + 1) * half}]"
        s"""WITH ${codesSql(model)},
            cents(cell, cv) AS (VALUES $centValues),
            cn AS (SELECT cell, cv, list_dot_product(cv, cv) AS cv_n2
                   FROM cents),
            acell AS (SELECT vec_id, cell FROM (
                        SELECT e.vec_id, cn.cell,
                               row_number() OVER (PARTITION BY e.vec_id
                                 ORDER BY (list_dot_product(e.v, e.v)
                                   - 2 * list_dot_product(e.v, cn.cv)
                                   + cn.cv_n2) ASC, cn.cell ASC) AS arnk
                        FROM e CROSS JOIN cn) t WHERE arnk = 1),
            q AS (SELECT vec_id AS query_id, v,
                         list_dot_product(v, v) AS qv_n2
                  FROM e WHERE vec_id < $AdcQueries),
            probe AS (SELECT query_id, cell FROM (
                        SELECT q.query_id, cn.cell,
                               row_number() OVER (PARTITION BY q.query_id
                                 ORDER BY list_dot_product(q.v, cn.cv)
                                   / sqrt(q.qv_n2 * cn.cv_n2) DESC,
                                   cn.cell ASC) AS cell_rnk
                        FROM q CROSS JOIN cn) t
                      WHERE cell_rnk <= $IvfProbe),
            l0 AS (SELECT query_id, code,
                          CAST(floor((${d2(sub(0), "b0.cv")}) * 1000000.0
                            + 0.5) AS BIGINT) AS d
                   FROM q CROSS JOIN b0),
            l1 AS (SELECT query_id, code,
                          CAST(floor((${d2(sub(1), "b1.cv")}) * 1000000.0
                            + 0.5) AS BIGINT) AS d
                   FROM q CROSS JOIN b1),
            cand AS (SELECT p.query_id, c.vec_id, c.code0, c.code1
                     FROM codes c
                     JOIN acell a ON a.vec_id = c.vec_id
                     JOIN probe p ON p.cell = a.cell
                     WHERE c.vec_id <> p.query_id),
            dist AS (SELECT cand.query_id, cand.vec_id,
                            CAST(l0.d + l1.d AS BIGINT) AS dist_micro
                     FROM cand
                     JOIN l0 ON l0.code = cand.code0
                       AND l0.query_id = cand.query_id
                     JOIN l1 ON l1.code = cand.code1
                       AND l1.query_id = cand.query_id),
            r AS (SELECT query_id, vec_id AS neighbor_id, dist_micro,
                         row_number() OVER (PARTITION BY query_id
                           ORDER BY dist_micro ASC, vec_id ASC) AS rnk
                  FROM dist)
            SELECT query_id, CAST(rnk AS BIGINT) AS rnk, neighbor_id,
                   dist_micro
            FROM r WHERE rnk <= $AdcK ORDER BY query_id, rnk"""
      }),

      "q319_pq_recall" -> ((s, dir) =>
        Round14Queries.recallSql(adcDistSql(pqModel(s, dir)), None)))
}
