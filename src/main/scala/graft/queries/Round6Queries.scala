package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.Readers
import graft.ext.{Batching, Dedup, Profile, Quantize, SemDedup, Stats, TimeSeries}
import graft.functions.Portable
import OracleSql.{centsSql, tokSql}
import Tables.t

/** Round-6 batch: reproducible statistics and similarity primitives —
  * blocked edit-distance near-dup, exact-moment correlation/z-score
  * (integer-cents sums, so results are bit-identical under any
  * partitioning), per-key time-series gap-fill, one-pass dataset
  * profiling, int8 embedding quantization with integer-exact top-k, and
  * SemDeDup-style semantic dedup (cluster-then-compare). Every entry is
  * hash-checked against a DuckDB oracle; q99's oracle is generated from
  * the run's trained centroids (the q64 pattern).
  */
object Round6Queries extends QuerySet {

  /** q93 params: prefix-4 blocking keeps candidate pairs ~1k at sf0.01
    * (vs 125k all-pairs); distance over the first 60 chars at maxDist 35
    * exercises both the accept and the banded-DP early-abandon paths.
    */
  private val EditPrefix = 4
  private val EditCmpLen = 60
  private val EditMaxDist = 35

  /** q99 threshold — same corpus regime as q31's near-dup scan. */
  private val SemThreshold = 0.4

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Blocked Levenshtein near-dup pairs: same-(lang, 4-char prefix)
    // blocking turns the self-join into an equality join; distance on the
    // 60-char prefix with threshold early-abandon.
    "q93_edit_distance" -> ((s, dir) =>
      Dedup.editDistancePairs(t(s, dir, "documents"),
        EditPrefix, EditCmpLen, EditMaxDist)
        .orderBy("doc_a", "doc_b")),

    // Exact-moment correlation/covariance/stddev of quantity vs discount
    // per returnflag: integer-cents sums (exact under any partitioning)
    // then one fixed double formula — no float aggregate anywhere, so the
    // doubles are bit-identical cross-engine with NO rounding step.
    "q94_corr_stats" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      Stats.momentStats(li, "l_returnflag",
        Stats.cents(col("l_quantity")), Stats.cents(col("l_discount")))
        .orderBy("l_returnflag")
    }),

    // Per-user daily gap-fill: dense epoch-day series over each user's
    // active span, zero-filled counts and value sums (cents — exact).
    "q95_gapfill" -> ((s, dir) =>
      TimeSeries.gapFillDaily(
        Readers.eventsNanos(s, dir),
        "user_id",
        expr("(ts div 1000) div 86400000000"),
        Stats.cents(col("value")))
        .orderBy("user_id", "day_idx")),

    // Per-group z-score outlier flags over event values: group moments
    // from exact integer sums, z derived with one fixed double formula —
    // broadcast-join of the tiny stats table, no window over the facts.
    "q96_zscore_outliers" -> ((s, dir) =>
      Stats.withZScore(
        Readers.eventsNanos(s, dir)
          .select(col("event_id"), col("event_type"),
            Stats.cents(col("value")).as("vc")),
        "event_type", col("vc"), 3.0)
        .select("event_id", "event_type", "z", "is_outlier")
        .orderBy("event_id")),

    // One-pass dataset profile of lineitem: per-column nulls, exact
    // distinct counts, min/max (stringified into one report schema).
    "q97_profile" -> ((s, dir) =>
      Profile.profile(t(s, dir, "lineitem"), ProfileCols)
        .orderBy("col_name")),

    // Int8-quantized brute-force top-k: per-vector symmetric quantization
    // (4x smaller corpus at scale), integer-exact dot-product scores.
    "q98_quantized_ann" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Quantize.knnInt8(e.filter(col("vec_id") < 10), e, 5)
        .orderBy("query_id", "rnk")
    }),

    // SemDeDup: assign vectors to the q64 k-means cells (shared per-dir
    // centroid cache, so query and generated oracle see one fit), then
    // drop any vector with a lower-id >= 0.4-cosine match in its cell.
    "q99_semdedup" -> ((s, dir) =>
      SemDedup.semanticDedup(s, t(s, dir, "embeddings"),
        Round2Queries.ivfCentroids(s, dir), SemThreshold)
        .orderBy("vec_id")),

    // Deterministic corpus shuffle: training order = rank of the salted
    // content hash, assigned by the scalable global row number (range
    // shuffle + offsets) — pseudorandom, byte-identical on every rerun
    // and cluster layout, which is what checkpoint resume needs.
    "q102_det_shuffle" -> ((s, dir) =>
      Batching.deterministicShuffle(
        t(s, dir, "documents").select("doc_id", "lang"),
        col("doc_id"), salt = 1)
        .orderBy("position")),

    // Length-bucketed inference batching: band by token length, chunk
    // each band at 512 cumulative tokens — similar-length sequences
    // share a batch (bounded padding waste) under an exact, portable
    // integer rule.
    "q103_length_batches" -> ((s, dir) =>
      Batching.lengthBucketedBatches(
        t(s, dir, "documents").select(col("doc_id"),
          size(Portable.wsTokens(col("text"))).cast("long").as("n_tokens")),
        col("doc_id"), col("n_tokens"), bandWidth = 32L, capTokens = 512L)
        .orderBy("doc_id")),

    // Schema-evolution read: the corpus written in two waves — the
    // second wave adds l_returnflag — read back as ONE mergeSchema scan;
    // pre-evolution rows null-fill the new column. The oracle restates
    // the union with an explicit NULL, so any column misalignment or
    // row loss in the merge fails the hash.
    "q105_schema_evolution" -> ((s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("q105_evo")
      try {
        val li = t(s, dir, "lineitem")
        li.filter(col("l_orderkey") % 2 === 0)
          .select("l_orderkey", "l_quantity")
          .write.parquet(s"$tmp/v1")
        li.filter(col("l_orderkey") % 2 === 1)
          .select("l_orderkey", "l_quantity", "l_returnflag")
          .write.parquet(s"$tmp/v2")
        val agg = Readers
          .parquetMerged(s, Seq(s"$tmp/v1", s"$tmp/v2"))
          .groupBy(coalesce(col("l_returnflag"), lit("<pre-schema>"))
            .as("flag"))
          .agg(count(lit(1)).as("n"),
            round(sum("l_quantity"), 2).as("qty"),
            countDistinct("l_orderkey").as("n_orders"))
          .orderBy("flag")
        // materialize (4 rows) so the temp corpus can be deleted now
        s.createDataFrame(
          java.util.Arrays.asList(agg.collect(): _*), agg.schema)
          .orderBy("flag")
      } finally deleteRecursively(tmp)
    }),

    // Heavy-hitter survey: the skew pre-flight that decides whether a
    // join needs salting — users with > 70 events plus their counts.
    "q106_heavy_hitters" -> ((s, dir) =>
      graft.engine.Skew
        .heavyKeys(Readers.eventsNanos(s, dir), "user_id", 70L)
        .orderBy("user_id")),

    // Count-min frequency bounds (the q69 pattern for a third sketch
    // family): per-user exact counts hash-compared, CMS estimate
    // asserted within [exact, exact + ceil(eps*N)] via TRUE flags.
    "q107_cms_bounds" -> ((s, dir) =>
      graft.ext.Sketches.cmsBounds(
        Readers.eventsNanos(s, dir).select("user_id"),
        "user_id", eps = 0.001, confidence = 0.99, seed = 42)
        .orderBy("user_id")),

    // Sliding-window chunking (RAG / context-window prep): 64-token
    // chunks every 32 tokens, identity = chunk-text md5 — pure
    // projection+explode, no shuffle; the oracle recomputes every chunk
    // hash from the same slicing rule.
    "q104_sliding_chunks" -> ((s, dir) =>
      graft.ext.TextAnalysis
        .slidingChunks(t(s, dir, "documents"), window = 64, stride = 32)
        .orderBy("doc_id", "chunk_idx")),

    // Stream-static enrichment: the events stream left-joined per
    // micro-batch against the static customer dimension (broadcast,
    // stateless), run bounded — the oracle is the plain batch left join,
    // so a row dropped, duplicated, or mis-joined by the per-batch
    // broadcast machinery fails the hash.
    "q101_stream_static" -> ((s, dir) =>
      StreamingQueries.runEventsStream(s, dir, "q101_events") { stream =>
        val dim = t(s, dir, "customer")
          .select(col("c_custkey").as("user_id"),
            col("c_mktsegment").as("segment"))
        val out = graft.streaming.EventStream.runToMemory(
          graft.streaming.EventStream.enrich(stream, dim, "user_id")
            .select(col("event_id"), col("user_id"),
              col("event_type"), col("segment")),
          StreamingQueries.memName("q101_mem_"),
          outputMode = org.apache.spark.sql.streaming.OutputMode.Append(),
          statePartitions = Some(8))
        out.select(col("event_id"), col("user_id"), col("event_type"),
          coalesce(col("segment"), lit("none")).as("segment"))
          .orderBy("event_id")
      }),

    // Bloom-prefiltered join ≡ plain join: the sketch prefilter on the
    // fact side must be result-invisible (false positives are removed by
    // the exact join; false negatives don't exist) — the oracle is the
    // plain DuckDB join, so any row the bloom path loses fails the hash.
    "q100_bloom_join" -> ((s, dir) => {
      val orders = t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val dim = t(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey").as("o_custkey"), col("c_name"))
      graft.ext.BloomJoin
        .prefilteredJoin(orders, dim, "o_custkey", expectedKeys = 10000L)
        .orderBy("o_orderkey")
    })
  )

  private val ProfileCols =
    Seq("l_orderkey", "l_partkey", "l_quantity", "l_returnflag",
      "l_linestatus")

  private def deleteRecursively(p: java.nio.file.Path): Unit =
    graft.engine.Pipeline.deleteRecursively(p)

  val oracleSql: Map[String, String] = Map(

    "q93_edit_distance" ->
      s"""WITH d AS (SELECT doc_id, lang, substr(text, 1, $EditPrefix) AS blk,
                substr(text, 1, $EditCmpLen) AS tc FROM documents)
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 CAST(levenshtein(a.tc, b.tc) AS BIGINT) AS dist
          FROM d a JOIN d b
            ON a.lang = b.lang AND a.blk = b.blk AND a.doc_id < b.doc_id
          WHERE levenshtein(a.tc, b.tc) <= $EditMaxDist
          ORDER BY doc_a, doc_b""",

    "q94_corr_stats" -> {
      val x = centsSql("l_quantity")
      val y = centsSql("l_discount")
      // mirror Stats.momentStats arithmetic EXACTLY (same ops, same
      // order) INCLUDING the pairwise-complete null handling and the
      // degenerate-group guards (n<2 / zero variance -> NULL, not a
      // division) — the gate data has neither, but the oracle states the
      // operator's full contract
      val nd = "CAST(n AS DOUBLE)"
      val cov = s"(CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / $nd) / ($nd - 1.0)"
      val varx = s"(CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / $nd) / ($nd - 1.0)"
      val vary = s"(CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / $nd) / ($nd - 1.0)"
      s"""WITH c0 AS (SELECT l_returnflag, $x AS x0, $y AS y0
                      FROM lineitem),
          c AS (SELECT l_returnflag,
                CASE WHEN x0 IS NOT NULL AND y0 IS NOT NULL THEN x0 END AS x,
                CASE WHEN x0 IS NOT NULL AND y0 IS NOT NULL THEN y0 END AS y
                FROM c0),
          g AS (SELECT l_returnflag, count(x) AS n,
                CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
                CAST(sum(x*x) AS BIGINT) AS sxx,
                CAST(sum(y*y) AS BIGINT) AS syy,
                CAST(sum(x*y) AS BIGINT) AS sxy
                FROM c GROUP BY 1)
          SELECT l_returnflag, n, sx, sy,
                 CASE WHEN n >= 2 THEN $cov END AS covar,
                 sqrt(CASE WHEN n >= 2 THEN greatest($varx, 0.0) END)
                   AS stddev_x,
                 sqrt(CASE WHEN n >= 2 THEN greatest($vary, 0.0) END)
                   AS stddev_y,
                 CASE WHEN n >= 2 AND $varx > 0 AND $vary > 0
                      THEN $cov / (sqrt($varx) * sqrt($vary)) END AS corr
          FROM g ORDER BY l_returnflag"""
    },

    "q95_gapfill" ->
      s"""WITH e AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day_idx,
                ${centsSql("value")} AS vc FROM events),
          obs AS (SELECT user_id, day_idx, count(*) AS n,
                  CAST(sum(vc) AS BIGINT) AS value_cents
                  FROM e GROUP BY 1, 2),
          span AS (SELECT user_id, min(day_idx) AS lo, max(day_idx) AS hi
                   FROM obs GROUP BY 1),
          dense AS (SELECT user_id,
                    unnest(generate_series(lo, hi)) AS day_idx FROM span)
          SELECT d.user_id, d.day_idx,
                 CAST(coalesce(n, 0) AS BIGINT) AS n,
                 CAST(coalesce(value_cents, 0) AS BIGINT) AS value_cents
          FROM dense d LEFT JOIN obs o
            ON d.user_id = o.user_id AND d.day_idx = o.day_idx
          ORDER BY d.user_id, d.day_idx""",

    "q96_zscore_outliers" -> {
      // mirrors Stats.withZScore including its guards: degenerate groups
      // (n<2 / zero variance) give NULL z and FALSE flag
      val nd = "CAST(n AS DOUBLE)"
      val variance = s"(CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / $nd) / ($nd - 1.0)"
      val z = s"CASE WHEN n >= 2 AND $variance > 0 THEN " +
        s"(CAST(x AS DOUBLE) - CAST(sx AS DOUBLE) / $nd) / sqrt($variance) END"
      s"""WITH e AS (SELECT event_id, event_type,
                ${centsSql("value")} AS x FROM events),
          g AS (SELECT event_type, count(x) AS n,
                CAST(sum(x) AS BIGINT) AS sx,
                CAST(sum(x*x) AS BIGINT) AS sxx
                FROM e GROUP BY 1),
          j AS (SELECT event_id, e.event_type, $z AS z
                FROM e JOIN g ON e.event_type = g.event_type)
          SELECT event_id, event_type, z,
                 coalesce(abs(z) > 3.0, false) AS is_outlier
          FROM j ORDER BY event_id"""
    },

    "q97_profile" ->
      ProfileCols.map { c =>
        s"""SELECT '$c' AS col_name, count(*) AS n_rows,
               CAST(count_if($c IS NULL) AS BIGINT) AS n_nulls,
               CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
               CAST(min($c) AS VARCHAR) AS min_val,
               CAST(max($c) AS VARCHAR) AS max_val
            FROM lineitem"""
      }.mkString("", " UNION ALL ", " ORDER BY col_name"),

    "q98_quantized_ann" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                FROM embeddings),
         m AS (SELECT vec_id, v,
               list_max(list_transform(v, x -> abs(x))) AS ma FROM e),
         q8 AS (SELECT vec_id,
                CASE WHEN ma = 0
                     THEN list_transform(v, x -> CAST(0 AS BIGINT))
                     ELSE list_transform(v, x ->
                       greatest(CAST(-127 AS BIGINT),
                         least(CAST(127 AS BIGINT),
                           CAST(floor(x * (127.0 / ma) + 0.5) AS BIGINT))))
                END AS qv FROM m),
         qs AS (SELECT vec_id AS query_id, qv AS qq FROM q8
                WHERE vec_id < 10),
         scored AS (SELECT query_id, c.vec_id AS neighbor_id,
                    CAST(list_dot_product(CAST(qq AS DOUBLE[]),
                         CAST(c.qv AS DOUBLE[])) AS BIGINT) AS qdot
                    FROM qs, q8 c WHERE c.vec_id <> query_id),
         r AS (SELECT query_id, neighbor_id, qdot,
                      row_number() OVER (PARTITION BY query_id
                        ORDER BY qdot DESC, neighbor_id) AS rnk
               FROM scored)
         SELECT query_id, neighbor_id, qdot, CAST(rnk AS BIGINT) AS rnk
         FROM r WHERE rnk <= 5 ORDER BY query_id, rnk""",

    "q100_bloom_join" ->
      """SELECT o.o_orderkey, o.o_custkey, o.o_totalprice, c.c_name
         FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
         WHERE c.c_mktsegment = 'BUILDING'
         ORDER BY o.o_orderkey""",

    "q101_stream_static" ->
      """SELECT e.event_id, e.user_id, e.event_type,
                coalesce(c.c_mktsegment, 'none') AS segment
         FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
         ORDER BY e.event_id""",

    "q105_schema_evolution" ->
      """WITH m AS (
           SELECT l_orderkey, l_quantity, NULL AS l_returnflag
           FROM lineitem WHERE l_orderkey % 2 = 0
           UNION ALL
           SELECT l_orderkey, l_quantity, l_returnflag
           FROM lineitem WHERE l_orderkey % 2 = 1)
         SELECT coalesce(l_returnflag, '<pre-schema>') AS flag,
                count(*) AS n, round(sum(l_quantity), 2) AS qty,
                CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders
         FROM m GROUP BY 1 ORDER BY flag""",

    "q106_heavy_hitters" ->
      """SELECT user_id, count(*) AS n FROM events
         GROUP BY 1 HAVING count(*) > 70 ORDER BY user_id""",

    "q107_cms_bounds" ->
      """SELECT user_id, count(*) AS n_exact,
                CAST(1 AS BIGINT) AS lower_ok, CAST(1 AS BIGINT) AS upper_ok
         FROM events GROUP BY 1 ORDER BY user_id""",

    "q104_sliding_chunks" ->
      s"""WITH w AS (SELECT doc_id, $tokSql AS w FROM documents),
          s AS (SELECT doc_id, w,
                unnest(generate_series(1, len(w), 32)) AS i FROM w)
          SELECT doc_id,
                 CAST((i - 1) // 32 AS BIGINT) AS chunk_idx,
                 CAST(len(w[i:i+63]) AS BIGINT) AS chunk_tokens,
                 md5(array_to_string(w[i:i+63], ' ')) AS chunk_md5
          FROM s ORDER BY doc_id, chunk_idx""",

    "q102_det_shuffle" ->
      """SELECT doc_id, lang,
                CAST(row_number() OVER (
                  ORDER BY CAST('0x' || substr(md5('1:' ||
                    CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT),
                  doc_id) AS BIGINT) AS position
         FROM documents ORDER BY position""",

    "q103_length_batches" ->
      s"""WITH d AS (SELECT doc_id,
                CAST(len($tokSql) AS BIGINT) AS n_tokens FROM documents),
          b AS (SELECT doc_id, n_tokens, n_tokens // 32 AS size_bucket
                FROM d),
          c AS (SELECT doc_id, n_tokens, size_bucket,
                sum(n_tokens) OVER w AS cum,
                row_number() OVER w AS pos_in_bucket
                FROM b
                WINDOW w AS (PARTITION BY size_bucket
                             ORDER BY n_tokens, doc_id))
          SELECT doc_id, n_tokens, size_bucket,
                 CAST((cum - n_tokens) // 512 AS BIGINT) AS batch_in_bucket,
                 CAST(pos_in_bucket AS BIGINT) AS pos_in_bucket
          FROM c ORDER BY doc_id"""
  )

  /** q99's oracle, generated from the run's trained centroids (rendered
    * as '<repr>'::DOUBLE string casts — DuckDB's DECIMAL literal path
    * loses 1 ulp, the q64 lesson). Assignment CTE mirrors
    * `IvfIndex.fromCentroids` (v·v − 2·v·c + c·c, ties to lowest cell).
    */
  private def semOracle(centroids: Seq[Seq[Double]],
                        threshold: Double): String = {
    val values = centroids.zipWithIndex.map { case (c, i) =>
      c.map(x => s"'$x'::DOUBLE").mkString(s"($i, [", ", ", "])")
    }.mkString(", ")
    s"""WITH centroids(cell, cv) AS (VALUES $values),
        cn AS (SELECT cell, cv, list_dot_product(cv, cv) AS cv_n2
               FROM centroids),
        e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
              FROM embeddings),
        en AS (SELECT vec_id, v, list_dot_product(v, v) AS v_n2 FROM e),
        assigned AS (
          SELECT vec_id, v, v_n2, cell FROM (
            SELECT en.vec_id, en.v, en.v_n2, cn.cell,
                   row_number() OVER (PARTITION BY en.vec_id
                     ORDER BY (en.v_n2 - 2 * list_dot_product(en.v, cn.cv)
                               + cn.cv_n2) ASC,
                              cn.cell ASC) AS arnk
            FROM en CROSS JOIN cn) t
          WHERE arnk = 1),
        pairs AS (
          SELECT b.vec_id AS vec_b
          FROM assigned a JOIN assigned b
            ON a.cell = b.cell AND a.vec_id < b.vec_id
          WHERE list_dot_product(a.v, b.v) / sqrt(a.v_n2 * b.v_n2)
                  >= $threshold),
        ld AS (SELECT vec_b AS vec_id, count(*) AS n_dup_lower
               FROM pairs GROUP BY 1)
        SELECT a.vec_id, CAST(a.cell AS BIGINT) AS cell,
               CAST(coalesce(ld.n_dup_lower, 0) AS BIGINT) AS n_dup_lower,
               coalesce(ld.n_dup_lower, 0) = 0 AS kept
        FROM assigned a LEFT JOIN ld ON a.vec_id = ld.vec_id
        ORDER BY a.vec_id"""
  }

  override val dynamicOracleSql: Map[String, (SparkSession, String) => String] = Map(
    "q99_semdedup" -> ((s, dir) =>
      semOracle(Round2Queries.ivfCentroids(s, dir), SemThreshold)))
}
