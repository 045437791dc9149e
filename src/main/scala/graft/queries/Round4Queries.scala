package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.Readers
import Tables.t

/** Round-4 batch: driver-gate coverage for the last components that were
  * ScalaTest-only — sketches (within-error-bound check), the salted skew
  * join (result parity with the plain join), and the multimodal
  * embed/resize/frame-sample paths (stub-codec outputs are md5-derived,
  * hence SQL-expressible value checks, like q67's decode).
  */
object Round4Queries extends QuerySet {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Sketch accuracy as a hashable gate entry: HLL++ distinct counts and
    // KLL-ish percentile sketches are implementation-defined, so exact
    // cross-engine hashing is impossible — but "within the configured
    // error bound of the exact answer" is deterministic (sketches have no
    // run-time randomness), and a TRUE flag row hash-matches an oracle
    // that asserts TRUE. The exact distinct count rides along as a
    // directly-compared value.
    "q69_sketch_bounds" -> ((s, dir) => {
      val orders = t(s, dir, "orders")
      val approxD = graft.ext.Sketches
        .approxDistinct(orders, "o_orderstatus", "o_custkey", rsd = 0.01)
      val approxP = graft.ext.Sketches
        .approxPercentiles(orders, "o_orderstatus", "o_totalprice",
          Seq(0.5), accuracy = 10000)
      val exact = orders.groupBy("o_orderstatus").agg(
        countDistinct("o_custkey").as("exact_distinct"),
        expr("percentile(o_totalprice, 0.5)").as("exact_p50"))
      exact.join(approxD, "o_orderstatus").join(approxP, "o_orderstatus")
        .select(col("o_orderstatus"), col("exact_distinct"),
          (abs(col("approx_distinct") - col("exact_distinct")) /
            col("exact_distinct") <= 0.05).cast("long").as("distinct_ok"),
          (abs(element_at(col("approx_pcts"), 1) - col("exact_p50")) /
            col("exact_p50") <= 0.01).cast("long").as("p50_ok"))
        .orderBy("o_orderstatus")
    }),

    // Salted skew join ≡ plain join: the salt/explode/8-way-spread
    // machinery must be result-invisible — the oracle is the plain DuckDB
    // join, so any row lost or duplicated by the salting fails the hash.
    "q70_salted_join" -> ((s, dir) => {
      val orders = t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val cust = t(s, dir, "customer")
        .select(col("c_custkey").as("o_custkey"), col("c_name"))
      graft.engine.Skew.saltedJoin(orders, cust, "o_custkey", f = 8)
        .select("o_orderkey", "o_custkey", "c_name", "o_totalprice")
        .orderBy("o_orderkey")
    }),

    // Multimodal embed / resize / frame-sample, oracle-verified end to end
    // (q67 covers decode): documents' text bytes play the media blobs, and
    // every stub-codec output is an md5 derivation — so the embedding
    // components, resized bytes (compared via hex), and per-frame digests
    // are all recomputable in DuckDB. Frame fan-out joins back LEFT so
    // non-video rows assert their absence from the sampler too.
    "q71_multimodal_pipeline" -> ((s, dir) => {
      val media = t(s, dir, "documents").select(
        col("doc_id").as("media_id"),
        when(col("doc_id") % 2 === 0, "video").otherwise("image").as("kind"),
        col("text").cast("binary").as("bytes"),
        struct(lit(null).cast("int").as("width"),
          lit(null).cast("int").as("height"),
          lit(null).cast("int").as("sample_rate"),
          (col("doc_id") % 7 + 3).cast("int").as("n_frames")).as("meta"))
      // float32 codec outputs vs the oracle's float64 recomputation differ
      // by <= 2^-24; every (b-127.5)/127.5 value is provably >= 1.9e-7 from
      // a 4-decimal round boundary (20000*odd = 255*m has no solution), so
      // round(, 4) is engine-stable
      val fe = graft.ext.Multimodal.featureExtract(media, dim = 16)
        .select(col("media_id"),
          round(element_at(col("embedding"), 1).cast("double"), 4).as("e0"),
          round(element_at(col("embedding"), 8).cast("double"), 4).as("e7"),
          round(element_at(col("embedding"), 16).cast("double"), 4).as("e15"))
      val rz = graft.ext.Multimodal.resize(media, 64, 48)
        .select(col("media_id"),
          length(col("bytes")).cast("long").as("rz_len"),
          hex(col("bytes")).as("rz_hex"))
      val fs = graft.ext.Multimodal.sampleFrames(media, everyK = 2)
        .groupBy("media_id")
        .agg(count(lit(1)).as("n_frames_sampled"),
          min("frame_digest").as("min_frame_digest"))
      fe.join(rz, "media_id").join(fs, Seq("media_id"), "left")
        .select(col("media_id"), col("e0"), col("e7"), col("e15"),
          col("rz_len"), col("rz_hex"),
          coalesce(col("n_frames_sampled"), lit(0L)).as("n_frames_sampled"),
          coalesce(col("min_frame_digest"), lit("")).as("min_frame_digest"))
        .orderBy("media_id")
    }),

    // The same query as q64: IVF has one assignment path, so the two run
    // the same plan against the same generated DuckDB oracle.
    "q72_ann_ivf_matrix" -> ((s, dir) => {
      val e = Readers.table(s, dir, "embeddings")
      val model = graft.ext.IvfIndex.fromCentroids(
        s, e, Round2Queries.ivfCentroids(s, dir))
      graft.ext.IvfIndex.knn(model, e.filter(col("vec_id") < 10), 5, nProbe = 4)
        .orderBy("query_id", "rnk")
    }),

    // The PRODUCTION near-dup path — jaccardPairs WITH dfCap — under the
    // hash gate (q27 gates the exact default): the oracle reproduces the
    // same df-pruning (full |A|/|B| denominators, candidate generation
    // only over under-cap shingles), so the underestimate-only semantics
    // are verified value-for-value, not just unit-tested.
    "q73_dedup_jaccard_capped" -> ((s, dir) =>
      graft.ext.Dedup.jaccardPairs(
        t(s, dir, "documents"), 0.2, dfCap = 20)
        .orderBy("doc_a", "doc_b")),

    // GlobalOrder's offset-numbering machinery gated directly (q44 gates
    // it only through ntile): distributed global row numbers over a total
    // order vs DuckDB's single ROW_NUMBER window.
    "q74_global_rownum" -> ((s, dir) =>
      graft.ext.GlobalOrder.withRowNumber(
        t(s, dir, "orders").select("o_orderkey", "o_totalprice"),
        Seq(desc("o_totalprice"), asc("o_orderkey")), "rn")
        .orderBy("o_orderkey")),

    // SimHash near-dup PAIRS (q29 gates the signatures): banding is only
    // a candidate filter — pigeonhole (<= maxDist diffs across maxDist+1
    // bands) guarantees every true pair shares a clean band, so the
    // banded join's result set EQUALS the naive all-pairs Hamming filter,
    // which is exactly what the DuckDB oracle computes.
    "q75_simhash_pairs" -> ((s, dir) =>
      graft.ext.Dedup.simhashPairs(t(s, dir, "documents"), maxDist = 3)
        .select(col("doc_a"), col("doc_b"),
          col("hamming").cast("long").as("hamming"))
        .orderBy("doc_a", "doc_b")),

    // mapGroupsWithState under the hash gate (q53/q55 gate the windowed
    // operators; this gates CUSTOM keyed state): per-user running totals
    // run bounded, then each user's FINAL state row selected via
    // max(struct(n_events, ...)) — n_events strictly increases per update,
    // so the pick is deterministic however AvailableNow micro-batches the
    // input — and compared to the plain batch aggregate. round(2) is safe:
    // event values are 2-decimal, so true sums sit ON the 2dp grid.
    "q76_streaming_state_totals" -> ((s, dir) =>
      StreamingQueries.runEventsStream(s, dir, "q76_events") { raw =>
        val stream = raw
          .withColumn("ts", timestamp_micros(expr("ts div 1000")))
          .select("event_id", "ts", "user_id", "event_type", "value")
        import s.implicits._
        val out = graft.streaming.EventStream.runToMemory(
          graft.streaming.EventStream
            .runningUserTotals(stream.as[graft.streaming.EventStream.Event])
            .toDF(),
          StreamingQueries.memName("q76_mem_"),
          outputMode = org.apache.spark.sql.streaming.OutputMode.Update(),
          statePartitions = Some(8))
        out.groupBy("user_id")
          .agg(max(struct(col("n_events"), col("value_sum"))).as("m"))
          .select(col("user_id"), col("m.n_events").as("n_events"),
            round(col("m.value_sum"), 2).as("value_sum"))
          .orderBy("user_id")
      }),

    // Streaming exact dedup under the hash gate: the events file is fed
    // to the stream TWICE (two symlinks), so every event_id arrives
    // duplicated — possibly across micro-batches —
    // dropDuplicatesWithinWatermark must emit each exactly once. The
    // oracle is the plain events table: any duplicate leaked (state
    // miss) or row lost fails the hash. Deterministic because duplicate
    // copies are bit-identical rows, so "which copy won" is invisible.
    "q77_streaming_dedup" -> ((s, dir) =>
      StreamingQueries.runEventsStream(s, dir, "q77_events",
        copies = 2) { raw =>
        val stream = raw
          .withColumn("ts", timestamp_micros(expr("ts div 1000")))
        val out = graft.streaming.EventStream.runToMemory(
          graft.streaming.EventStream.dedupedEvents(stream),
          StreamingQueries.memName("q77_mem_"),
          outputMode = org.apache.spark.sql.streaming.OutputMode.Append(),
          statePartitions = Some(8))
        out.select("event_id", "ts", "user_id", "event_type", "value")
          .orderBy("event_id")
      }))

  /** Oracles that depend on run-time-learned parameters (q72 shares q64's
    * trained-centroid oracle generator).
    */
  override val dynamicOracleSql: Map[String, (SparkSession, String) => String] = Map(
    "q72_ann_ivf_matrix" -> ((s, dir) =>
      Round2Queries.ivfOracle(Round2Queries.ivfCentroids(s, dir),
        k = 5, nProbe = 4)))

  private def embComponent(i: Int): String =
    s"round((CAST(('0x' || substr(md5(text), ${2 * i + 1}, 2)) AS INTEGER)" +
      " - 127.5) / 127.5, 4)"

  val oracleSql: Map[String, String] = Map(
    "q69_sketch_bounds" ->
      """SELECT o_orderstatus, count(DISTINCT o_custkey) AS exact_distinct,
                CAST(1 AS BIGINT) AS distinct_ok, CAST(1 AS BIGINT) AS p50_ok
         FROM orders GROUP BY 1 ORDER BY 1""",

    "q70_salted_join" ->
      """SELECT o.o_orderkey, o.o_custkey, c.c_name, o.o_totalprice
         FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
         ORDER BY o.o_orderkey""",

    "q73_dedup_jaccard_capped" ->
      s"""WITH ${ExtensionQueries.shingleCte},
          sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
          keep AS (SELECT shingle FROM sh GROUP BY shingle
                   HAVING count(*) <= 20),
          shp AS (SELECT sh.doc_id, sh.shingle FROM sh
                  JOIN keep USING (shingle)),
          inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                           count(*) AS i
                    FROM shp a JOIN shp b
                      ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                    GROUP BY 1, 2)
          SELECT doc_a, doc_b, i * 1.0 / (x.n + y.n - i) AS jaccard
          FROM inter JOIN sz x ON x.doc_id = doc_a
                     JOIN sz y ON y.doc_id = doc_b
          WHERE i * 1.0 / (x.n + y.n - i) >= 0.2
          ORDER BY doc_a, doc_b""",

    "q77_streaming_dedup" ->
      """SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id,
                event_type, value
         FROM events ORDER BY event_id""",

    "q76_streaming_state_totals" ->
      """SELECT user_id, count(*) AS n_events,
                round(sum(value), 2) AS value_sum
         FROM events GROUP BY 1 ORDER BY user_id""",

    "q74_global_rownum" ->
      """SELECT o_orderkey, o_totalprice,
                row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey)
                  AS rn
         FROM orders ORDER BY o_orderkey""",

    "q75_simhash_pairs" -> {
      val simhashSql = ExtensionQueries.oracleSql("q29_simhash")
      s"""WITH s AS ($simhashSql)
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT)
                   AS hamming
          FROM s a JOIN s b ON a.doc_id < b.doc_id
          WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
          ORDER BY doc_a, doc_b"""
    },

    "q71_multimodal_pipeline" ->
      s"""WITH m AS (SELECT doc_id AS media_id,
                 CASE WHEN doc_id % 2 = 0 THEN 'video' ELSE 'image' END AS kind,
                 text, doc_id % 7 + 3 AS n_frames
               FROM documents),
          fe AS (SELECT media_id, ${embComponent(0)} AS e0,
                   ${embComponent(7)} AS e7, ${embComponent(15)} AS e15
                 FROM m),
          -- resize stub output = md5(bytes) digest ++ big-endian w, h
          -- (64 -> 0040, 48 -> 0030): 20 bytes, hex-comparable
          rz AS (SELECT media_id, CAST(20 AS BIGINT) AS rz_len,
                   upper(md5(text)) || '00400030' AS rz_hex
                 FROM m),
          fs AS (SELECT media_id, CAST(count(*) AS BIGINT) AS n_frames_sampled,
                   min(md5(text || CAST(f AS VARCHAR))) AS min_frame_digest
                 FROM (SELECT media_id, text,
                         unnest(generate_series(0, n_frames - 1, 2)) AS f
                       FROM m WHERE kind = 'video') t
                 GROUP BY 1)
          SELECT fe.media_id, fe.e0, fe.e7, fe.e15, rz.rz_len, rz.rz_hex,
                 coalesce(fs.n_frames_sampled, 0) AS n_frames_sampled,
                 coalesce(fs.min_frame_digest, '') AS min_frame_digest
          FROM fe JOIN rz USING (media_id) LEFT JOIN fs USING (media_id)
          ORDER BY media_id""")
}
