package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.Readers
import graft.ext.{Decontaminate, Packing, Sampling, TextAnalysis}
import graft.functions.Portable
import OracleSql.tokSql
import Tables.t

/** Round-5 batch: the training-data-pipeline operators a 100 TB corpus
  * build needs beyond dedup/ANN — sequence packing (concat-and-chunk),
  * benchmark decontamination, PII scrubbing, within-document repetition
  * scoring, quality-weighted sampling, and the JSONL + JSON-column source
  * paths. Every entry is hash-checked against a DuckDB oracle.
  */
object Round5Queries extends QuerySet {

  /** Chunk size for q78 — small enough that sf0.01 docs span chunk
    * boundaries both ways (many docs per chunk AND docs crossing chunks).
    */
  private val ChunkTokens = 512

  /** Word n-gram size for q79. Real decontamination runs use 8-13-gram
    * overlap; the synthetic corpus has a ~45-word vocabulary, so 3-grams
    * are where overlap is discriminating (about a third of the corpus
    * hits the benchmark set) — the operator is identical, only `n`
    * differs.
    */
  private val ContamN = 3

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Sequence packing: concatenate the corpus in doc_id order, chunk the
    // token stream every 512 tokens, and map each document to the chunk
    // span holding its tokens. The running token count is the scalable
    // range-shuffle prefix scan (GlobalOrder.withRunningTotal), never a
    // single-partition window.
    "q78_seq_packing" -> ((s, dir) =>
      Packing.chunkSpans(
        t(s, dir, "documents").select("doc_id", "text"),
        size(Portable.wsTokens(col("text"))), Seq(col("doc_id")),
        ChunkTokens)
        .select("doc_id", "n_tokens", "chunk_first", "chunk_last",
          "n_chunks")
        .orderBy("doc_id")),

    // Benchmark decontamination: corpus docs (doc_id % 97 != 0) sharing a
    // word 3-gram with the held-out benchmark slice (doc_id % 97 == 0).
    // Gram hashes are 60-bit md5 (8-byte shuffle keys); the benchmark
    // gram set is broadcast, so the corpus side never shuffles.
    "q79_decontaminate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Decontaminate.contaminated(
        docs.filter(col("doc_id") % 97 =!= 0),
        docs.filter(col("doc_id") % 97 === 0),
        col("doc_id"), col("text"), ContamN)
        .orderBy("doc_id")
    }),

    // PII scrubbing: the synthetic corpus carries no PII, so the gate
    // plants a deterministic email + reference number per document (same
    // construction in the oracle) and verifies the redaction counts and
    // the md5 of the scrubbed text byte-for-byte.
    "q80_pii_scrub" -> ((s, dir) => {
      val planted = concat(
        substring(col("text"), 1, 40),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@mail.example.com or ref "),
        (col("doc_id") + 100000).cast("string"))
      TextAnalysis.piiScrub(t(s, dir, "documents"), planted)
        .orderBy("doc_id")
    }),

    // Gopher/C4-style repetition signal: duplicate 2-gram and 3-gram
    // fractions per document. Pure projection — no shuffle.
    "q81_repetition" -> ((s, dir) =>
      TextAnalysis.repetition(t(s, dir, "documents")).orderBy("doc_id")),

    // Quality-weighted sampling: keep each doc with probability
    // min(1, n_chars/500), decided by the doc_id content hash — the
    // deterministic form of importance sampling a mixture recipe needs.
    "q82_weighted_sample" -> ((s, dir) =>
      Sampling.sampleByWeight(
        t(s, dir, "documents").select("doc_id", "lang", "n_chars"),
        col("doc_id"), least(lit(1.0), col("n_chars") / lit(500.0)))
        .orderBy("doc_id")),

    // JSONL source path: export documents as newline-delimited JSON, read
    // them back through the schema'd JSONL reader, and aggregate — the
    // oracle computes the same totals from the parquet, so any loss in
    // the JSON round-trip (escaping, type mapping) breaks the hash.
    "q83_jsonl_roundtrip" -> ((s, dir) => {
      val tmpPath = java.nio.file.Files.createTempDirectory("q83_jsonl")
      val tmp = tmpPath.toString
      try {
        t(s, dir, "documents").select("doc_id", "lang", "n_chars", "text")
          .write.mode("overwrite").json(tmp)
        val agg = Readers.jsonl(s, tmp,
          "doc_id BIGINT, lang STRING, n_chars BIGINT, text STRING")
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum("n_chars").as("sum_chars"),
            sum(length(col("text"))).as("sum_len"),
            min("doc_id").as("min_id"),
            max("doc_id").as("max_id"))
          .orderBy("lang")
        // Materialize (tiny: one row per lang) so the temp dir can be
        // deleted NOW instead of leaking one JSON corpus per gate run.
        s.createDataFrame(
          java.util.Arrays.asList(agg.collect(): _*), agg.schema)
          .orderBy("lang")
      } finally graft.engine.Pipeline.deleteRecursively(tmpPath)
    }),

    // JSON metadata column: extract a typed field from the events table's
    // JSON props string and aggregate per event type.
    "q84_json_extract" -> ((s, dir) => {
      Readers.eventsNanos(s, dir)
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum("k").as("sum_k"),
          max("k").as("max_k"),
          count_if(col("k").isNull).as("n_null"))
        .orderBy("event_type")
    }),

    // Incremental exact dedup: the recurring-crawl step — from an
    // incoming snapshot slice (doc_id % 5 == 0), keep one doc per digest
    // whose digest is unseen in the existing corpus. The digest here is a
    // 30-char-prefix md5 so the synthetic corpus (all texts distinct)
    // actually exercises the anti-join: ~13% of incoming digests collide
    // with the existing side and are dropped.
    "q85_incremental_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.ext.Dedup.incrementalNew(
        docs.filter(col("doc_id") % 5 === 0),
        docs.filter(col("doc_id") % 5 =!= 0),
        md5(substring(col("text"), 1, 30)))
        .orderBy("doc_id")
    }),

    // Mixture recipe: allocate a 1M-token budget across sources by the
    // largest-remainder method — allocations sum to exactly the budget.
    "q86_mixture_alloc" -> ((s, dir) => {
      val perSource = t(s, dir, "documents")
        .groupBy("source")
        .agg(sum(size(Portable.wsTokens(col("text"))).cast("long"))
          .as("n_tokens"))
      graft.ext.Mixture.withAllocation(perSource, "source", "n_tokens",
        1000000L)
        .orderBy("source")
    }),

    // Unpivot (wide -> long): lineitem's four measures melted into
    // (measure, val) rows, then re-aggregated per measure.
    "q87_unpivot" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity",
          "l_extendedprice", "l_discount", "l_tax")
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_extendedprice"),
            col("l_discount"), col("l_tax")),
          "measure", "val")
        .groupBy("measure")
        .agg(count(lit(1)).as("n"), round(sum("val"), 2).as("total"))
        .orderBy("measure")),

    // Time-RANGE window frame (not ROWS): per event, how many of the same
    // user's events fall in the trailing hour, plus the frame's max value.
    // count/max are order-insensitive and exact, so the frame semantics
    // are hash-checked without double-summation noise.
    "q88_range_window" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("ts_us")
        .rangeBetween(-3600000000L, 0L)
      Readers.eventsNanos(s, dir)
        .withColumn("ts_us", expr("ts div 1000"))
        .select(col("event_id"), col("user_id"), col("ts_us"),
          count(lit(1)).over(w).as("n_last_hour"),
          max("value").over(w).as("max_last_hour"))
        .orderBy("event_id")
    }),

    // Stream-stream interval join: purchases attributed to same-user
    // clicks in the preceding hour, run through the real watermarked
    // streaming join on a bounded stream; the oracle is the equivalent
    // batch interval join.
    "q89_streaming_join" -> ((s, dir) =>
      StreamingQueries.runEventsStream(s, dir, "q89_events") { raw =>
        val stream = raw
          .withColumn("ts", timestamp_micros(expr("ts div 1000")))
        graft.streaming.EventStream.runToMemory(
          graft.streaming.EventStream.purchaseAttribution(stream),
          StreamingQueries.memName("q89_mem_"),
          outputMode = org.apache.spark.sql.streaming.OutputMode.Append(),
          statePartitions = Some(8))
          .orderBy("purchase_id", "click_id")
      }),

    // SCD-1 upsert (CDC apply): a deterministic "updates batch" (every
    // 4th order, version 2, price bumped, status 'U') merged over the
    // base snapshot (version 1); keep-latest-per-key via one windowed
    // shuffle. The oracle states the expected post-merge table directly.
    "q90_upsert_latest" -> ((s, dir) => {
      val orders = t(s, dir, "orders")
      val base = orders.select(col("o_orderkey"),
        lit(1L).as("version"), col("o_totalprice").as("price"),
        col("o_orderstatus").as("status"))
      val updates = orders.filter(col("o_orderkey") % 4 === 0)
        .select(col("o_orderkey"), lit(2L).as("version"),
          (col("o_totalprice") + 100.0).as("price"), lit("U").as("status"))
      graft.engine.Warehouse
        .upsertLatest(base, updates, "o_orderkey", "version")
        .orderBy("o_orderkey")
    }),

    // The operators COMPOSED as one corpus-prep pipeline: quality filter
    // (>= 20 tokens) -> exact dedup keep-first -> quality-weighted sample
    // -> sequence packing. One oracle checks the whole chain, proving the
    // pieces agree when stacked, not just in isolation.
    "q91_corpus_prep" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("doc_id"), col("text"),
          size(Portable.wsTokens(col("text"))).cast("long").as("n_tokens"))
        .filter(col("n_tokens") >= 20)
      val winners = d.groupBy(md5(col("text")).as("fp"))
        .agg(min("doc_id").as("doc_id")).select("doc_id")
      val deduped = d.join(winners, "doc_id")
      val sampled = Sampling.sampleByWeight(deduped, col("doc_id"),
        least(lit(1.0), col("n_tokens") / lit(100.0)))
      Packing.chunkSpans(sampled.select("doc_id", "n_tokens"),
        col("n_tokens"), Seq(col("doc_id")), 256)
        .select("doc_id", "n_tokens", "chunk_first", "chunk_last")
        .orderBy("doc_id")
    }),

    // Fixed-width histogram binning (floor-div bins, clamped) — the
    // arithmetic stays on exact floor/compare ops so bin edges can't
    // drift between engines.
    "q92_histogram" -> ((s, dir) => {
      Readers.eventsNanos(s, dir)
        .select(greatest(least(floor(col("value") / 5.0), lit(19L)),
          lit(0L)).as("bin"), col("value"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total"))
        .orderBy("bin")
    })
  )

  val oracleSql: Map[String, String] = Map(

    "q78_seq_packing" ->
      s"""WITH d AS (SELECT doc_id,
                CAST(len($tokSql) AS BIGINT) AS n_tokens FROM documents),
          c AS (SELECT doc_id, n_tokens,
                CAST(sum(n_tokens) OVER (ORDER BY doc_id
                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM d)
          SELECT doc_id, n_tokens,
                 (cum - n_tokens) // $ChunkTokens AS chunk_first,
                 CASE WHEN n_tokens = 0 THEN (cum - n_tokens) // $ChunkTokens
                      ELSE (cum - 1) // $ChunkTokens END AS chunk_last,
                 CASE WHEN n_tokens = 0 THEN CAST(0 AS BIGINT)
                      ELSE (cum - 1) // $ChunkTokens
                           - (cum - n_tokens) // $ChunkTokens + 1
                 END AS n_chunks
          FROM c ORDER BY doc_id""",

    "q79_decontaminate" ->
      s"""WITH w AS (SELECT doc_id, $tokSql AS w FROM documents),
          g AS (SELECT DISTINCT doc_id,
                CAST('0x' || substr(md5(array_to_string(
                     w[i:i+${ContamN - 1}], ' ')), 1, 15) AS BIGINT) AS gh
                FROM (SELECT doc_id, w,
                      unnest(generate_series(1, len(w) - ${ContamN - 1})) AS i
                      FROM w)),
          bench AS (SELECT DISTINCT gh FROM g WHERE doc_id % 97 = 0),
          corp AS (SELECT doc_id, gh FROM g WHERE doc_id % 97 <> 0)
          SELECT doc_id, count(*) AS n_hits
          FROM corp JOIN bench USING (gh) GROUP BY 1
          ORDER BY doc_id""",

    "q80_pii_scrub" -> {
      val email = raw"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
      val digits = raw"\d{4,}"
      s"""WITH s AS (SELECT doc_id,
                substr(text, 1, 40) || ' contact user'
                  || CAST(doc_id AS VARCHAR) || '@mail.example.com or ref '
                  || CAST(doc_id + 100000 AS VARCHAR) AS t
                FROM documents),
          r AS (SELECT doc_id, t,
                regexp_replace(t, '$email', '<EMAIL>', 'g') AS t1 FROM s)
          SELECT doc_id,
                 CAST(len(regexp_extract_all(t, '$email')) AS BIGINT)
                   AS n_emails,
                 CAST(len(regexp_extract_all(t1, '$digits')) AS BIGINT)
                   AS n_digit_runs,
                 md5(regexp_replace(t1, '$digits', '<NUM>', 'g'))
                   AS scrub_md5
          FROM r ORDER BY doc_id"""
    },

    "q81_repetition" ->
      s"""WITH w AS (SELECT doc_id, $tokSql AS w FROM documents),
          g AS (SELECT doc_id,
                list_transform(generate_series(1, len(w) - 1),
                  i -> w[i] || ' ' || w[i+1]) AS g2,
                list_transform(generate_series(1, len(w) - 2),
                  i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) AS g3
                FROM w)
          SELECT doc_id,
                 CAST(len(g2) AS BIGINT) AS n_grams2,
                 CAST(len(list_distinct(g2)) AS BIGINT) AS n_uniq2,
                 CASE WHEN len(g2) = 0 THEN 0.0
                      ELSE 1.0 - len(list_distinct(g2)) * 1.0 / len(g2)
                 END AS dup_frac2,
                 CAST(len(g3) AS BIGINT) AS n_grams3,
                 CAST(len(list_distinct(g3)) AS BIGINT) AS n_uniq3,
                 CASE WHEN len(g3) = 0 THEN 0.0
                      ELSE 1.0 - len(list_distinct(g3)) * 1.0 / len(g3)
                 END AS dup_frac3
          FROM g ORDER BY doc_id""",

    "q82_weighted_sample" ->
      """SELECT doc_id, lang, n_chars FROM documents
         WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
                    AS BIGINT) % 1000000
               < CAST(floor(least(1.0, n_chars / 500.0) * 1000000)
                      AS BIGINT)
         ORDER BY doc_id""",

    "q83_jsonl_roundtrip" ->
      """SELECT lang, count(*) AS n_docs,
                CAST(sum(n_chars) AS BIGINT) AS sum_chars,
                CAST(sum(length(text)) AS BIGINT) AS sum_len,
                min(doc_id) AS min_id, max(doc_id) AS max_id
         FROM documents GROUP BY 1 ORDER BY lang""",

    "q84_json_extract" ->
      """WITH e AS (SELECT event_type,
                CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
                FROM events)
         SELECT event_type, count(*) AS n,
                CAST(sum(k) AS BIGINT) AS sum_k, max(k) AS max_k,
                CAST(count_if(k IS NULL) AS BIGINT) AS n_null
         FROM e GROUP BY 1 ORDER BY event_type""",

    "q85_incremental_dedup" ->
      """WITH inc AS (SELECT md5(substr(text, 1, 30)) AS fp,
                min(doc_id) AS doc_id
                FROM documents WHERE doc_id % 5 = 0 GROUP BY 1),
         ex AS (SELECT DISTINCT md5(substr(text, 1, 30)) AS fp
                FROM documents WHERE doc_id % 5 <> 0)
         SELECT doc_id, fp FROM inc
         WHERE fp NOT IN (SELECT fp FROM ex) ORDER BY doc_id""",

    "q86_mixture_alloc" ->
      s"""WITH per AS (SELECT source,
                CAST(sum(len($tokSql)) AS BIGINT) AS n_tokens
                FROM documents GROUP BY 1),
          e AS (SELECT source, n_tokens,
                CAST(n_tokens AS DOUBLE) * 1000000
                  / sum(n_tokens) OVER () AS ex FROM per),
          b AS (SELECT source, n_tokens, floor(ex) AS base,
                ex - floor(ex) AS rem FROM e),
          r AS (SELECT source, n_tokens, base,
                row_number() OVER (ORDER BY rem DESC, source) AS rk,
                1000000 - sum(base) OVER () AS leftover FROM b)
          SELECT source, n_tokens,
                 CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END
                      AS BIGINT) AS alloc
          FROM r ORDER BY source""",

    "q87_unpivot" ->
      """WITH u AS (
           SELECT measure, val FROM (
             SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
                    l_discount, l_tax FROM lineitem)
           UNPIVOT (val FOR measure IN
             (l_quantity, l_extendedprice, l_discount, l_tax)))
         SELECT measure, count(*) AS n, round(sum(val), 2) AS total
         FROM u GROUP BY 1 ORDER BY measure""",

    "q88_range_window" ->
      """WITH e AS (SELECT event_id, user_id, value,
                epoch_us(ts) AS ts_us FROM events)
         SELECT event_id, user_id, ts_us,
                count(*) OVER w AS n_last_hour,
                max(value) OVER w AS max_last_hour
         FROM e
         WINDOW w AS (PARTITION BY user_id ORDER BY ts_us
                      RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
         ORDER BY event_id""",

    "q89_streaming_join" ->
      """WITH e AS (SELECT event_id, user_id, event_type,
                epoch_us(ts) AS ts_us FROM events),
         c AS (SELECT event_id AS click_id, user_id, ts_us AS click_us
               FROM e WHERE event_type = 'click'),
         p AS (SELECT event_id AS purchase_id, user_id,
                      ts_us AS purchase_us
               FROM e WHERE event_type = 'purchase')
         SELECT p.purchase_id, c.click_id, p.user_id
         FROM p JOIN c ON p.user_id = c.user_id
           AND c.click_us BETWEEN p.purchase_us - 3600000000
                              AND p.purchase_us
         ORDER BY purchase_id, click_id""",

    "q90_upsert_latest" ->
      """SELECT o_orderkey,
                CAST(CASE WHEN o_orderkey % 4 = 0 THEN 2 ELSE 1 END
                     AS BIGINT) AS version,
                CASE WHEN o_orderkey % 4 = 0 THEN o_totalprice + 100.0
                     ELSE o_totalprice END AS price,
                CASE WHEN o_orderkey % 4 = 0 THEN 'U'
                     ELSE o_orderstatus END AS status
         FROM orders ORDER BY o_orderkey""",

    "q91_corpus_prep" ->
      s"""WITH d AS (SELECT doc_id, text,
                CAST(len($tokSql) AS BIGINT) AS n_tokens FROM documents),
          f AS (SELECT * FROM d WHERE n_tokens >= 20),
          k AS (SELECT min(doc_id) AS doc_id FROM f GROUP BY md5(text)),
          dd AS (SELECT f.* FROM f JOIN k USING (doc_id)),
          sm AS (SELECT * FROM dd
                 WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                            1, 15) AS BIGINT) % 1000000
                       < CAST(floor(least(1.0, n_tokens / 100.0) * 1000000)
                              AS BIGINT)),
          c AS (SELECT doc_id, n_tokens,
                CAST(sum(n_tokens) OVER (ORDER BY doc_id
                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM sm)
          SELECT doc_id, n_tokens, (cum - n_tokens) // 256 AS chunk_first,
                 (cum - 1) // 256 AS chunk_last
          FROM c ORDER BY doc_id""",

    "q92_histogram" ->
      """SELECT CAST(greatest(least(floor(value / 5.0), 19), 0) AS BIGINT)
                  AS bin,
                count(*) AS n, round(sum(value), 2) AS total
         FROM events GROUP BY 1 ORDER BY bin"""
  )
}
