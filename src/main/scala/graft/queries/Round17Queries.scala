package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import OracleSql.tokSql
import Tables.t

/** Round-17 batch: the token-ID corpus materialization — the table an
  * LLM pipeline actually ships to training once curation ends (q354
  * learned the merges, q355 measured their fit, q372 rewrote the text;
  * q376 emits the tokenized result). Library operator:
  * [[graft.ext.TextAnalysis.bpeEncode]].
  */
object Round17Queries extends QuerySet {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Tokenized-corpus materialization under the learned 8-merge BPE
    // vocabulary (the q355 train-once cache): per document, the piece
    // segmentation AND the piece-ID sequence (lexicographic vocabulary
    // ranks), flat space-joined strings. The oracle RE-LEARNS the
    // merges stage by stage, re-derives the vocabulary and its ranks,
    // re-segments every word occurrence, and re-assembles both
    // sequences in document order — a wrong merge, rank, segmentation,
    // or assembly order on either engine hash-fails on the emitted
    // sequences themselves.
    "q376_bpe_encode" -> ((s, dir) =>
      graft.ext.TextAnalysis.bpeEncode(t(s, dir, "documents"),
        Round15Queries.bpeMerges(s, dir)).orderBy("doc_id")),

    // Pack the TOKENIZED corpus into fixed-length training sequences:
    // q78's concat-and-chunk prefix scan driven by the BPE piece count
    // instead of the whitespace token count — the sequence-packing step
    // as training actually consumes it (513-token rows come from piece
    // IDs, not words). Piece counts are a single in-row fold pass
    // (bpePieceCounts: no explode, no join); the chunk assignment is
    // the range-shuffle prefix scan, never a one-task window. The
    // oracle re-learns the merges, re-counts pieces per word TYPE,
    // re-sums per document, and re-runs the running-total chunking.
    "q377_bpe_pack" -> ((s, dir) =>
      graft.ext.Packing.chunkSpans(
        graft.ext.TextAnalysis.bpePieceCounts(t(s, dir, "documents"),
          Round15Queries.bpeMerges(s, dir)),
        col("n_pieces"), Seq(col("doc_id")), PackTokens)
        .select("doc_id", "n_tokens", "chunk_first", "chunk_last",
          "n_chunks")
        .orderBy("doc_id")))

  /** Training-sequence length for q377 (the q78 convention). */
  private val PackTokens = 512

  /** q376's oracle: [[Round15Queries.bpeStagesSql]] re-learns the merge
    * list (census → argmax → replace, every stage MATERIALIZED), then
    * the final word-state table w_k segments each word TYPE, the
    * vocabulary ranks its DISTINCT pieces lexicographically, and the
    * occurrence table re-assembles per-document piece and ID sequences
    * ordered by (word position, piece position).
    */
  private def bpeEncodeSql(steps: Int): String =
    s"""WITH ${Round15Queries.bpeStagesSql(steps)},
        seg AS MATERIALIZED (
          SELECT replace(trim(state, '|'), '|', '') AS w,
                 replace(trim(state, '|'), '|', ' ') AS seg
          FROM w$steps),
        vocab AS MATERIALIZED (
          SELECT piece,
                 CAST(row_number() OVER (ORDER BY piece) AS BIGINT) AS id
          FROM (SELECT DISTINCT unnest(string_split(trim(state, '|'), '|'))
                  AS piece FROM w$steps)),
        occ AS (
          SELECT doc_id, j AS wpos, toks[j] AS w
          FROM (SELECT doc_id, toks,
                       unnest(generate_series(1, len(toks))) AS j
                FROM (SELECT doc_id,
                             list_filter($tokSql,
                               x -> regexp_matches(x, '^[a-z0-9]+$$'))
                               AS toks
                      FROM documents))),
        wp AS MATERIALIZED (
          SELECT doc_id, wpos, k AS ppos, ps[k] AS piece
          FROM (SELECT o.doc_id, o.wpos, string_split(s.seg, ' ') AS ps,
                       unnest(generate_series(1,
                         len(string_split(s.seg, ' ')))) AS k
                FROM occ o JOIN seg s ON s.w = o.w)),
        agg AS (
          SELECT doc_id, CAST(count(*) AS BIGINT) AS n_pieces,
                 string_agg(piece, ' ' ORDER BY wpos, ppos) AS pieces,
                 string_agg(CAST(v.id AS VARCHAR), ' ' ORDER BY wpos, ppos)
                   AS piece_ids
          FROM wp JOIN vocab v USING (piece) GROUP BY doc_id)
        SELECT d.doc_id,
               CAST(COALESCE(a.n_pieces, 0) AS BIGINT) AS n_pieces,
               COALESCE(a.pieces, '') AS pieces,
               COALESCE(a.piece_ids, '') AS piece_ids
        FROM documents d LEFT JOIN agg a USING (doc_id)
        ORDER BY d.doc_id"""

  /** q377's oracle: the merge list re-learned (the q354 prelude), piece
    * counts per word TYPE from the final word-state table, summed per
    * document through the occurrence join, then the q78 running-total
    * chunk assignment over doc_id order.
    */
  private def bpePackSql(steps: Int, chunk: Int): String =
    s"""WITH ${Round15Queries.bpeStagesSql(steps)},
        seg AS MATERIALIZED (
          SELECT replace(trim(state, '|'), '|', '') AS w,
                 CAST(len(string_split(trim(state, '|'), '|')) AS BIGINT)
                   AS np
          FROM w$steps),
        occ AS (
          SELECT doc_id, w
          FROM (SELECT doc_id, unnest($tokSql) AS w FROM documents)
          WHERE regexp_matches(w, '^[a-z0-9]+$$')),
        nd AS (SELECT o.doc_id, CAST(sum(s.np) AS BIGINT) AS n
               FROM occ o JOIN seg s ON s.w = o.w GROUP BY 1),
        d AS (SELECT dd.doc_id,
                     CAST(COALESCE(nd.n, 0) AS BIGINT) AS n_tokens
              FROM documents dd LEFT JOIN nd USING (doc_id)),
        c AS (SELECT doc_id, n_tokens,
              CAST(sum(n_tokens) OVER (ORDER BY doc_id
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM d)
        SELECT doc_id, n_tokens,
               (cum - n_tokens) // $chunk AS chunk_first,
               CASE WHEN n_tokens = 0 THEN (cum - n_tokens) // $chunk
                    ELSE (cum - 1) // $chunk END AS chunk_last,
               CASE WHEN n_tokens = 0 THEN CAST(0 AS BIGINT)
                    ELSE (cum - 1) // $chunk
                         - (cum - n_tokens) // $chunk + 1
               END AS n_chunks
        FROM c ORDER BY doc_id"""

  val oracleSql: Map[String, String] = Map(
    "q376_bpe_encode" -> bpeEncodeSql(Round15Queries.BpeSteps),
    "q377_bpe_pack" -> bpePackSql(Round15Queries.BpeSteps, PackTokens))
}
