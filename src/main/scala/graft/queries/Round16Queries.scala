package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ext.{Dedup, LangModel, Mixture}
import OracleSql.{hash60Sql, tokSql}
import Tables.t

/** Round-16 batch: the REWRITE half of exact-substring dedup (cut the
  * duplicated spans and re-emit the cleaned corpus — the step an LLM
  * pipeline actually ships, q372; its incremental persisted-stats seam,
  * q375), temperature-scaled mixture weights
  * (DoReMi/Pile-style n^(1/T) domain reweighting on the exact integer
  * grid, q373), and per-document KN-LM quality scoring (the CCNet-style
  * LM filter composed from q360's exact-rational bigram model on the
  * integer-bits grid, q374). Library operators:
  * [[graft.ext.Dedup.removeDuplicatedSpans]] /
  * [[graft.ext.Dedup.removeDuplicatedSpansFromStats]],
  * [[graft.ext.Mixture.temperatureAllocation]] / [[graft.ext.Mixture.isqrt]],
  * [[graft.ext.LangModel.knDocScoreBits]].
  */
object Round16Queries extends QuerySet {

  /** Window length for the span rewrite — q295's SpanL (8 whitespace
    * tokens: long enough that chance collisions are nil at every SF,
    * short enough that the planted near-dup overlap is detectable).
    */
  private val SpanL = 8

  /** Token budget for the temperature-scaled mixture recipe. */
  private val MixBudget = 1000000L

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Duplicated-span REMOVAL: re-emit each document with every token
    // cut that a FOREIGN duplicated window covers (the canonical
    // min-doc_id owner keeps its copy, so exactly one occurrence of
    // every repeated span survives). The oracle re-derives windows,
    // owners, the covered token set, and the space-joined rewrite
    // independently — a wrong island merge, owner rule, or slice
    // boundary hash-fails on the rewritten TEXT itself.
    "q372_remove_dup_spans" -> ((s, dir) =>
      Dedup.removeDuplicatedSpans(t(s, dir, "documents"), SpanL)
        .orderBy("doc_id")),

    // Temperature-scaled mixture: per-language token mass reweighted
    // w ∝ n^(1/2) (T = 2 — the standard skew-flattening direction)
    // via the exact integer square root, then a 1M-token budget split
    // by the largest-remainder method. The oracle re-runs the
    // seed-and-correct isqrt and the full allocation from raw counts;
    // Σalloc == budget exactly on both engines.
    "q373_temperature_alloc" -> ((s, dir) =>
      Mixture.temperatureAllocation(
        t(s, dir, "documents")
          .groupBy("lang")
          .agg(sum(size(graft.functions.Portable.wsTokens(col("text")))
            .cast("long")).as("n_tokens")),
        "lang", "n_tokens", MixBudget, invT2 = 1)
        .select(col("lang"), col("n_tokens"),
          col("weight").cast("long").as("weight"), col("alloc"))
        .orderBy("lang")),

    // Incremental span REWRITE: per-shard gram stats merged via
    // mergeGramStats, then only shard-1 documents re-cut against the
    // merged table — the persisted-stats seam (q333's merge contract)
    // composed with the q372 rewrite. The oracle recomputes stats over
    // the WHOLE corpus in one pass and cuts the same documents, so the
    // gate proves merge + subset-rewrite ≡ full-corpus rewrite.
    "q375_remove_spans_incremental" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val merged = Dedup.mergeGramStats(Seq(0, 1).map(r =>
        Dedup.gramStats(docs.filter(col("doc_id") % 2 === r), SpanL)))
      Dedup.removeDuplicatedSpansFromStats(
          docs.filter(col("doc_id") % 2 === 1), merged, SpanL)
        .orderBy("doc_id")
    }),

    // Per-document KN-LM score: whole-bit surprisal under the corpus's
    // own Kneser-Ney bigram model (num/den exact rationals, log via
    // integer division + bit length — no float log). The oracle
    // RE-LEARNS the model from raw text and re-scores every document,
    // so the two engines compare independently-trained LM filters.
    "q374_kn_doc_score" -> ((s, dir) =>
      LangModel.knDocScoreBits(t(s, dir, "documents"))
        .orderBy("doc_id")),
  )

  val oracleSql: Map[String, String] = Map(

    "q372_remove_dup_spans" ->
      s"""WITH w AS MATERIALIZED (SELECT doc_id, $tokSql AS w
            FROM documents),
          p AS MATERIALIZED (
            SELECT doc_id, i,
                   ${hash60Sql(s"array_to_string(w[i:i+${SpanL - 1}], ' ')")}
                     AS g
            FROM (SELECT doc_id, w,
                         unnest(generate_series(1, len(w) - ${SpanL - 1}))
                           AS i
                  FROM w)),
          st AS (SELECT g, count(*) AS cnt, min(doc_id) AS owner
                 FROM p GROUP BY g),
          f AS (SELECT p.doc_id, p.i FROM p JOIN st USING (g)
                WHERE st.cnt >= 2 AND st.owner <> p.doc_id),
          cut AS (SELECT DISTINCT doc_id, i + j AS t
                  FROM f CROSS JOIN range(0, $SpanL) r(j)),
          toks AS (SELECT doc_id, t, w[t] AS tok
                   FROM (SELECT doc_id, w,
                                unnest(generate_series(1, len(w))) AS t
                         FROM w)),
          kept AS (SELECT k.doc_id, k.t, k.tok
                   FROM toks k LEFT JOIN cut c
                     ON c.doc_id = k.doc_id AND c.t = k.t
                   WHERE c.t IS NULL),
          agg AS (SELECT doc_id,
                         string_agg(tok, ' ' ORDER BY t) AS clean_text,
                         CAST(count(*) AS BIGINT) AS kept
                  FROM kept GROUP BY 1),
          sz AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens
                 FROM w)
          SELECT sz.doc_id,
                 coalesce(agg.clean_text, '') AS clean_text,
                 sz.n_tokens,
                 CAST(coalesce(agg.kept, 0) AS BIGINT) AS kept_tokens,
                 sz.n_tokens - CAST(coalesce(agg.kept, 0) AS BIGINT)
                   AS cut_tokens
          FROM sz LEFT JOIN agg USING (doc_id) ORDER BY doc_id""",

    "q375_remove_spans_incremental" ->
      s"""WITH w AS MATERIALIZED (SELECT doc_id, $tokSql AS w
            FROM documents),
          p AS MATERIALIZED (
            SELECT doc_id, i,
                   ${hash60Sql(s"array_to_string(w[i:i+${SpanL - 1}], ' ')")}
                     AS g
            FROM (SELECT doc_id, w,
                         unnest(generate_series(1, len(w) - ${SpanL - 1}))
                           AS i
                  FROM w)),
          st AS (SELECT g, count(*) AS cnt, min(doc_id) AS owner
                 FROM p GROUP BY g),
          f AS (SELECT p.doc_id, p.i FROM p JOIN st USING (g)
                WHERE st.cnt >= 2 AND st.owner <> p.doc_id
                  AND p.doc_id % 2 = 1),
          cut AS (SELECT DISTINCT doc_id, i + j AS t
                  FROM f CROSS JOIN range(0, $SpanL) r(j)),
          toks AS (SELECT doc_id, t, w[t] AS tok
                   FROM (SELECT doc_id, w,
                                unnest(generate_series(1, len(w))) AS t
                         FROM w WHERE doc_id % 2 = 1)),
          kept AS (SELECT k.doc_id, k.t, k.tok
                   FROM toks k LEFT JOIN cut c
                     ON c.doc_id = k.doc_id AND c.t = k.t
                   WHERE c.t IS NULL),
          agg AS (SELECT doc_id,
                         string_agg(tok, ' ' ORDER BY t) AS clean_text,
                         CAST(count(*) AS BIGINT) AS kept
                  FROM kept GROUP BY 1),
          sz AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens
                 FROM w WHERE doc_id % 2 = 1)
          SELECT sz.doc_id,
                 coalesce(agg.clean_text, '') AS clean_text,
                 sz.n_tokens,
                 CAST(coalesce(agg.kept, 0) AS BIGINT) AS kept_tokens,
                 sz.n_tokens - CAST(coalesce(agg.kept, 0) AS BIGINT)
                   AS cut_tokens
          FROM sz LEFT JOIN agg USING (doc_id) ORDER BY doc_id""",

    "q373_temperature_alloc" ->
      s"""WITH per AS (SELECT lang,
                CAST(sum(len($tokSql)) AS BIGINT) AS n_tokens
                FROM documents GROUP BY 1),
          sq AS (SELECT lang, n_tokens,
                   s0 + CASE WHEN CAST(s0+1 AS HUGEINT)*CAST(s0+1 AS HUGEINT)
                               <= CAST(n_tokens AS HUGEINT)
                        THEN 1 ELSE 0 END AS s1
                 FROM (SELECT lang, n_tokens,
                         CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)))
                           AS BIGINT) AS s0 FROM per)),
          wt AS (SELECT lang, n_tokens,
                   CAST(s1 - CASE WHEN CAST(s1 AS HUGEINT)*CAST(s1 AS HUGEINT)
                                    > CAST(n_tokens AS HUGEINT)
                             THEN 1 ELSE 0 END
                     AS BIGINT) AS weight
                 FROM sq),
          e AS (SELECT lang, n_tokens, weight,
                  CAST(weight AS DOUBLE) * $MixBudget
                    / sum(weight) OVER () AS ex FROM wt),
          b AS (SELECT lang, n_tokens, weight, floor(ex) AS base,
                  ex - floor(ex) AS rem FROM e),
          r AS (SELECT lang, n_tokens, weight, base,
                  row_number() OVER (ORDER BY rem DESC, lang) AS rk,
                  $MixBudget - sum(base) OVER () AS leftover FROM b)
          SELECT lang, n_tokens, weight,
                 CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END
                      AS BIGINT) AS alloc
          FROM r ORDER BY lang""",

    "q374_kn_doc_score" ->
      s"""WITH w AS MATERIALIZED (
            SELECT doc_id,
                   list_filter($tokSql,
                     x -> regexp_matches(x, '^[a-z0-9]+$$')) AS w
            FROM documents),
          cvwd AS MATERIALIZED (
            SELECT doc_id, a, b, CAST(count(*) AS BIGINT) AS cd FROM (
              SELECT doc_id, w[i] AS a, w[i + 1] AS b
              FROM (SELECT doc_id, w,
                           unnest(generate_series(1, len(w) - 1)) AS i
                    FROM w WHERE len(w) >= 2)) GROUP BY 1, 2, 3),
          cvw AS MATERIALIZED (
            SELECT a, b, CAST(sum(cd) AS BIGINT) AS c
            FROM cvwd GROUP BY 1, 2),
          cv AS (SELECT a, CAST(sum(c) AS BIGINT) AS cv,
                        CAST(count(*) AS BIGINT) AS n1p
                 FROM cvw GROUP BY a),
          n1r AS (SELECT b, CAST(count(*) AS BIGINT) AS n1r
                  FROM cvw GROUP BY b),
          npp AS (SELECT CAST(count(*) AS BIGINT) AS npp FROM cvw),
          mdl AS (SELECT a, b,
                    CAST(length(bin(CAST(4*cv*npp AS BIGINT)
                      // CAST((4*c - 3)*npp + 3*n1p*n1r AS BIGINT)))
                      - 1 AS BIGINT) AS bits
                  FROM cvw JOIN cv USING (a) JOIN n1r USING (b)
                  CROSS JOIN npp),
          sc AS (SELECT d.doc_id,
                        CAST(sum(d.cd) AS BIGINT) AS n_bigrams,
                        CAST(sum(d.cd * m.bits) AS BIGINT) AS bits_total
                 FROM cvwd d JOIN mdl m USING (a, b) GROUP BY 1)
          SELECT doc_id,
                 CAST(coalesce(sc.n_bigrams, 0) AS BIGINT) AS n_bigrams,
                 CAST(coalesce(sc.bits_total, 0) AS BIGINT) AS bits_total,
                 CASE WHEN coalesce(sc.n_bigrams, 0) > 0
                      THEN CAST(sc.bits_total AS DOUBLE) / sc.n_bigrams
                      ELSE 0.0 END AS mean_bits
          FROM (SELECT doc_id FROM documents) LEFT JOIN sc USING (doc_id)
          ORDER BY doc_id""",
  )
}
