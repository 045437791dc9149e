package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.Readers
import graft.ext.AsofJoin
import graft.functions.Portable
import graft.streaming.EventStream
import OracleSql.tokSql
import Tables.t

/** Round-2 batch: two-table as-of join (union-interleave, oracle = native
  * DuckDB ASOF JOIN), streaming session windows run bounded against a
  * batch sessionization oracle, CUBE, correlated EXISTS, lateral token
  * positions, and a polynomial rolling-hash fingerprint.
  */
object Round2Queries extends QuerySet {

  private def events(s: SparkSession, dir: String): DataFrame =
    Readers.eventsNanos(s, dir)

  /** Rolling polynomial hash params: acc < P < 2^30 and B ~ 2^20 keep
    * acc*B + h30 < 2^51 — no BIGINT overflow on either engine.
    */
  private val RollB = 1000003L
  private val RollP = Portable.MinhashPrime

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Two-table as-of join: for every purchase event, the same user's
    // latest click at-or-before it. Right side pre-aggregated to unique
    // (user_id, ts) — as-of ties inside the right table are undefined in
    // every engine.
    "q54_asof_join" -> ((s, dir) => {
      val ev = events(s, dir).withColumn("ts_us", expr("ts div 1000"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts_us")
      // carry the matched right time as a payload column (click_at)
      val clicksR = ev.filter(col("event_type") === "click")
        .groupBy(col("user_id"), col("ts_us").as("click_us"))
        .agg(max("event_id").as("click_id"))
        .withColumn("click_at", col("click_us"))
      AsofJoin.leftAsof(purchases, clicksR, "user_id", "ts_us", "click_us",
        Seq("click_at", "click_id"))
        .select("event_id", "user_id", "ts_us", "click_at", "click_id")
        .orderBy("event_id")
    }),

    // The streaming session-window operator (EventStream.userSessions,
    // watermarked session_window) run bounded — results hash-equal to a
    // batch gap-sessionization oracle.
    "q55_streaming_sessions" -> ((s, dir) =>
      StreamingQueries.runEventsStream(s, dir, "q55_events") { raw =>
        val stream = raw
          .withColumn("ts", timestamp_micros(expr("ts div 1000")))
        // session state is keyed by user (~thousands): 8 partitions
        val out = EventStream.runToMemory(
          EventStream.userSessions(stream),
          StreamingQueries.memName("q55_mem_"), statePartitions = Some(8))
        out.select(col("user_id"), col("session_start"),
          col("session_end"), col("n_events"),
          round(col("value_sum"), 2).as("value_sum"))
          .orderBy("user_id", "session_start")
      }),

    // CUBE over two dimensions (rollup's big sibling: all 4 grouping sets).
    "q56_cube" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 2).as("qty"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
          col("n"), col("qty"))
        .orderBy("returnflag", "linestatus")),

    // Correlated EXISTS subquery (Catalyst decorrelates to a semi join).
    "q57_exists_subquery" -> ((s, dir) => {
      t(s, dir, "customer").createOrReplaceTempView("customer")
      t(s, dir, "orders").createOrReplaceTempView("orders")
      s.sql("""SELECT c_custkey, c_name FROM customer c
               WHERE EXISTS (SELECT 1 FROM orders o
                             WHERE o.o_custkey = c.c_custkey
                               AND o.o_totalprice > 400000)
               ORDER BY c_custkey""")
    }),

    // Lateral positions: every token with its 1-based position
    // (posexplode = Spark's LATERAL VIEW with ordinality).
    "q58_lateral_positions" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          posexplode(Portable.wsTokens(col("text"))).as(Seq("pos0", "tok")))
        .select(col("doc_id"), (col("pos0") + 1).cast("long").as("pos"),
          col("tok"))
        .orderBy("doc_id", "pos")),

    // Keyless range join via binning: events falling inside the 20
    // busiest hours (intervals derived rank-based so the query is
    // scale-factor-independent). A bare range predicate would plan as a
    // nested-loop join; RangeJoin makes it an equi-join on bin ids.
    "q60_range_join" -> ((s, dir) => {
      val ev = events(s, dir).withColumn("ts_us", expr("ts div 1000"))
        .select("event_id", "ts_us")
      val hourUs = 3600L * 1000000
      val busy = events(s, dir)
        .groupBy(expr(s"(ts div 1000) div $hourUs * $hourUs").as("start_us"))
        .agg(count(lit(1)).as("hn"))
        .orderBy(desc("hn"), asc("start_us")).limit(20)
        .withColumn("end_us", col("start_us") + hourUs)
      graft.ext.RangeJoin.pointInInterval(
        ev, busy, "ts_us", "start_us", "end_us", hourUs)
        .select("event_id", "start_us", "hn")
        .orderBy("event_id", "start_us")
    }),

    // Stratified (per-class) deterministic sampling: downsample open
    // orders to 10%, finished to 50%, keep everything else — content-hash
    // based, so the kept set is stable across runs and engines.
    "q68_stratified_sample" -> ((s, dir) =>
      graft.ext.Sampling.stratifiedSample(
        t(s, dir, "orders"), col("o_orderstatus"), col("o_orderkey"),
        Map("O" -> 0.1, "F" -> 0.5), default = 1.0)
        .select("o_orderkey", "o_orderstatus")
        .orderBy("o_orderkey")),

    // Multimodal decode path, oracle-verified: documents' text bytes play
    // the role of media blobs; Multimodal.decodeStats runs the real
    // mapPartitions plumbing with the md5-derived stub codec, whose
    // outputs ARE SQL-expressible — so the whole binary-column pipeline
    // (schema, batch shape, per-partition codec init) gets a value-level
    // DuckDB check, not just unit tests.
    "q67_multimodal_stats" -> ((s, dir) => {
      val media = t(s, dir, "documents").select(
        col("doc_id").as("media_id"), lit("image").as("kind"),
        col("text").cast("binary").as("bytes"))
      graft.ext.Multimodal.decodeStats(media)
        .select(col("media_id"), col("kind"),
          col("n_bytes").cast("long").as("n_bytes"),
          round(col("mean_r"), 6).as("mean_r"),
          round(col("mean_g"), 6).as("mean_g"),
          round(col("mean_b"), 6).as("mean_b"))
        .orderBy("media_id")
    }),

    // ANSI-safe arithmetic: try_divide nulls on zero denominators,
    // try_cast nulls on garbage — Spark 4 runs ANSI-on by default, where
    // plain / and CAST would THROW; these are the production-safe forms
    // (DuckDB expresses the same as NULLIF-guarded division + TRY_CAST).
    "q66_try_arithmetic" -> ((s, dir) =>
      t(s, dir, "orders").select(
        col("o_orderkey"),
        try_divide(col("o_totalprice"), (col("o_orderkey") % 5).cast("double"))
          .as("per_bucket"),
        when(col("o_orderkey") % 3 === 0, lit("badnum"))
          .otherwise(col("o_orderkey").cast("string"))
          .try_cast("double").as("maybe_num"))
        .orderBy("o_orderkey")),

    // Dedup GROUPS: connected components (iterative hash-to-min label
    // propagation) over the exact-Jaccard near-dup pairs — the iterative
    // Spark algorithm is verified against a DuckDB RECURSIVE CTE
    // transitive closure.
    "q65_dedup_groups" -> ((s, dir) => {
      import graft.ext.{Dedup, DedupGroups}
      val pairs = Dedup.jaccardPairs(
        Readers.table(s, dir, "documents"), 0.5)
      DedupGroups.connectedComponents(pairs)
        .select(col("id").as("doc_id"), col("component"))
        .orderBy("doc_id")
    }),

    // IVF ANN top-k: KMeans coarse quantizer + probed-cell scoring. The
    // k-means FIT is the only step outside the oracle gate: the trained
    // centroids are injected as literal VALUES into a generated DuckDB
    // oracle (dynamicOracleSql below), so assignment, probing, and scoring
    // are all hash-checked. Recall vs brute force is asserted in ExtSuite.
    "q64_ann_ivf" -> ((s, dir) => {
      val e = Readers.table(s, dir, "embeddings")
      val model = graft.ext.IvfIndex.fromCentroids(s, e, ivfCentroids(s, dir))
      graft.ext.IvfIndex.knn(model, e.filter(col("vec_id") < 10), 5, nProbe = 4)
        .orderBy("query_id", "rnk")
    }),

    // Sorted set-aggregation into arrays (collect_set is unordered —
    // array_sort makes it deterministic). The compared surface is the
    // string-joined form: the driver's pandas comparator cannot sort/hash
    // array cells, so arrays never cross the comparison boundary.
    "q61_array_agg" -> ((s, dir) =>
      t(s, dir, "customer")
        .groupBy("c_nationkey")
        .agg(array_join(array_sort(collect_set("c_mktsegment")), ",")
            .as("segments"),
          countDistinct("c_mktsegment").as("n_segments"))
        .orderBy("c_nationkey")),

    // Window navigation sweep: lag, lead-with-default, first_value and
    // nth_value over a running frame.
    "q62_window_nav" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
      val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "orders").select(
        col("o_custkey"), col("o_orderkey"),
        lag("o_totalprice", 1).over(w).as("prev_price"),
        lead("o_totalprice", 1, -1.0).over(w).as("next_price"),
        first("o_totalprice").over(run).as("first_price"),
        nth_value(col("o_totalprice"), 2).over(run).as("second_price"))
        .orderBy("o_custkey", "o_orderkey")
    }),

    // GROUPING SETS with grouping flags (the general form of q20's rollup
    // and q56's cube), via the SQL surface.
    "q63_grouping_sets" -> ((s, dir) => {
      t(s, dir, "lineitem").createOrReplaceTempView("lineitem")
      s.sql("""SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
                      coalesce(l_linestatus, 'ALL') AS linestatus,
                      CAST(grouping(l_returnflag) AS BIGINT) AS g_rf,
                      CAST(grouping(l_linestatus) AS BIGINT) AS g_ls,
                      count(*) AS n
               FROM lineitem
               GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus),
                                       (l_returnflag, l_linestatus))
               ORDER BY returnflag, linestatus""")
    }),

    // Rolling-hash document fingerprint: order-SENSITIVE polynomial hash
    // over the token stream (the order-insensitive set fingerprint is
    // q25) — fold is a single projection, no shuffle.
    "q59_rolling_hash" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          aggregate(
            transform(Portable.wsTokens(col("text")),
              tok => Portable.hash30(tok)),
            lit(0L),
            (acc, h) => (acc * RollB + h) % RollP).as("roll_fp"))
        .orderBy("doc_id"))
  )

  /** One k-means fit per sf dir: the q64 query AND its generated oracle
    * must see the SAME centroids within a Verify/Bench run. Keyed by dir
    * alone, which assumes a dir's contents are immutable for the JVM's
    * lifetime — true for the driver's testdata; a long-lived service
    * regenerating data in place under the same path would need a data
    * fingerprint in the key.
    */
  private val ivfCentroidCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[Seq[Double]]]()
  private[queries] def ivfCentroids(s: SparkSession, dir: String): Seq[Seq[Double]] =
    ivfCentroidCache.computeIfAbsent(dir, _ =>
      graft.ext.IvfIndex.trainCentroids(
        s, Readers.table(s, dir, "embeddings"), nCells = 16))

  /** q64's DuckDB oracle, generated from the trained centroids: everything
    * after `fit` — squared-Euclidean cell assignment (ties to lowest cell),
    * cosine cell probing, in-cell scoring, top-k — re-expressed over the
    * same parquet with the centroids as literal VALUES. Float math matches
    * because both engines fold dot products left-to-right over doubles.
    */
  private[queries] def ivfOracle(centroids: Seq[Seq[Double]], k: Int, nProbe: Int): String = {
    // each component rendered as a VARCHAR cast ('x'::DOUBLE): DuckDB parses
    // bare decimal literals as DECIMAL, and DECIMAL->DOUBLE is not correctly
    // rounded (~12% of doubles lose 1 ulp through [..]::DOUBLE[]), which
    // could flip cell assignment on near-ties; string->double parsing
    // round-trips Java's shortest-repr Double.toString exactly
    val values = centroids.zipWithIndex.map { case (c, i) =>
      c.map(x => s"'$x'::DOUBLE").mkString(s"($i, [", ", ", "])")
    }.mkString(", ")
    s"""WITH centroids(cell, cv) AS (VALUES $values),
        cn AS (SELECT cell, cv, list_dot_product(cv, cv) AS cv_n2 FROM centroids),
        e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        en AS (SELECT vec_id, v, list_dot_product(v, v) AS v_n2 FROM e),
        assigned AS (
          SELECT vec_id, v, v_n2, cell FROM (
            SELECT en.vec_id, en.v, en.v_n2, cn.cell,
                   row_number() OVER (PARTITION BY en.vec_id
                     ORDER BY (en.v_n2 - 2 * list_dot_product(en.v, cn.cv) + cn.cv_n2) ASC,
                              cn.cell ASC) AS arnk
            FROM en CROSS JOIN cn) t
          WHERE arnk = 1),
        q AS (SELECT vec_id AS query_id, v AS qv, v_n2 AS qv_n2
              FROM en WHERE vec_id < 10),
        probe AS (
          SELECT query_id, qv, qv_n2, cell FROM (
            SELECT q.query_id, q.qv, q.qv_n2, cn.cell,
                   row_number() OVER (PARTITION BY q.query_id
                     ORDER BY list_dot_product(q.qv, cn.cv) / sqrt(q.qv_n2 * cn.cv_n2) DESC,
                              cn.cell ASC) AS cell_rnk
            FROM q CROSS JOIN cn) t
          WHERE cell_rnk <= $nProbe),
        scored AS (
          SELECT p.query_id, a.vec_id AS neighbor_id,
                 round(list_dot_product(p.qv, a.v) / sqrt(p.qv_n2 * a.v_n2), 6) AS score
          FROM probe p JOIN assigned a ON a.cell = p.cell AND a.vec_id <> p.query_id),
        r AS (SELECT query_id, neighbor_id, score,
                     row_number() OVER (PARTITION BY query_id
                       ORDER BY score DESC, neighbor_id) AS rnk
              FROM scored)
        SELECT query_id, neighbor_id, score, rnk FROM r
        WHERE rnk <= $k ORDER BY query_id, rnk"""
  }

  /** Oracles that depend on run-time-learned parameters: generated per
    * (session, sfDir) at Verify dump time.
    */
  override val dynamicOracleSql: Map[String, (SparkSession, String) => String] = Map(
    "q64_ann_ivf" -> ((s, dir) => ivfOracle(ivfCentroids(s, dir), k = 5, nProbe = 4)))

  private def hash30Sql(e: String): String =
    s"(CAST(('0x' || substr(md5($e), 1, 15)) AS BIGINT) & ${Portable.Hash30Mask})"

  val oracleSql: Map[String, String] = Map(
    "q54_asof_join" ->
      """WITH p AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us
                    FROM events WHERE event_type = 'purchase'),
            c AS (SELECT user_id, epoch_us(ts) AS click_us,
                         CAST(max(event_id) AS BIGINT) AS click_id
                  FROM events WHERE event_type = 'click' GROUP BY 1, 2)
         SELECT p.event_id, p.user_id, p.ts_us,
                c.click_us AS click_at, c.click_id
         FROM p ASOF LEFT JOIN c
           ON p.user_id = c.user_id AND p.ts_us >= c.click_us
         ORDER BY p.event_id""",

    "q55_streaming_sessions" ->
      """WITH g AS (
           SELECT user_id, ts, value,
                  CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER
                         (PARTITION BY user_id ORDER BY ts, event_id))
                       > 30 * 60 * 1000000 THEN 1 ELSE 0 END AS new_s
           FROM events),
         s AS (
           SELECT user_id, ts, value,
                  sum(coalesce(new_s, 0)) OVER (PARTITION BY user_id
                    ORDER BY ts ROWS UNBOUNDED PRECEDING) AS session_id
           FROM g)
         SELECT user_id,
                CAST(min(ts) AS TIMESTAMP) AS session_start,
                CAST(max(ts) + INTERVAL 30 MINUTE AS TIMESTAMP) AS session_end,
                count(*) AS n_events,
                round(sum(value), 2) AS value_sum
         FROM s GROUP BY user_id, session_id
         ORDER BY user_id, session_start""",

    "q56_cube" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
                coalesce(l_linestatus, 'ALL') AS linestatus,
                count(*) AS n, round(sum(l_quantity), 2) AS qty
         FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
         ORDER BY returnflag, linestatus""",

    "q57_exists_subquery" ->
      """SELECT c_custkey, c_name FROM customer c
         WHERE EXISTS (SELECT 1 FROM orders o
                       WHERE o.o_custkey = c.c_custkey
                         AND o.o_totalprice > 400000)
         ORDER BY c_custkey""",

    "q58_lateral_positions" ->
      s"""WITH words AS (SELECT doc_id, $tokSql AS w FROM documents),
          pos AS (SELECT doc_id, w,
                         unnest(generate_series(1, len(w))) AS i FROM words)
          SELECT doc_id, CAST(i AS BIGINT) AS pos, w[i] AS tok
          FROM pos ORDER BY doc_id, pos""",

    "q68_stratified_sample" ->
      """SELECT o_orderkey, o_orderstatus FROM orders
         WHERE (CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15)) AS BIGINT)
                % 10000) <
               CASE o_orderstatus WHEN 'O' THEN 1000
                                  WHEN 'F' THEN 5000
                                  ELSE 10000 END
         ORDER BY o_orderkey""",

    "q67_multimodal_stats" ->
      """SELECT doc_id AS media_id, 'image' AS kind,
                CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
                round(CAST(('0x' || substr(md5(text), 1, 2)) AS INTEGER) / 255.0, 6) AS mean_r,
                round(CAST(('0x' || substr(md5(text), 3, 2)) AS INTEGER) / 255.0, 6) AS mean_g,
                round(CAST(('0x' || substr(md5(text), 5, 2)) AS INTEGER) / 255.0, 6) AS mean_b
         FROM documents ORDER BY media_id""",

    "q66_try_arithmetic" ->
      """SELECT o_orderkey,
                o_totalprice / nullif(CAST(o_orderkey % 5 AS DOUBLE), 0.0)
                  AS per_bucket,
                TRY_CAST(CASE WHEN o_orderkey % 3 = 0 THEN 'badnum'
                              ELSE CAST(o_orderkey AS VARCHAR) END AS DOUBLE)
                  AS maybe_num
         FROM orders ORDER BY o_orderkey""",

    "q65_dedup_groups" -> {
      val pairsSql = ExtensionQueries.oracleSql("q27_dedup_jaccard")
      s"""WITH RECURSIVE pr AS (SELECT doc_a, doc_b FROM ($pairsSql) t),
            e AS (SELECT doc_a AS a, doc_b AS b FROM pr
                  UNION SELECT doc_b, doc_a FROM pr),
            nodes AS (SELECT DISTINCT a AS id FROM e),
            reach(id, m) AS (
              SELECT id, id FROM nodes
              UNION
              SELECT e.a, reach.m FROM e JOIN reach ON e.b = reach.id)
          SELECT id AS doc_id, min(m) AS component
          FROM reach GROUP BY 1 ORDER BY doc_id"""
    },

    "q61_array_agg" ->
      """SELECT c_nationkey,
                array_to_string(list_sort(list(DISTINCT c_mktsegment)), ',')
                  AS segments,
                count(DISTINCT c_mktsegment) AS n_segments
         FROM customer GROUP BY 1 ORDER BY c_nationkey""",

    "q62_window_nav" ->
      """SELECT o_custkey, o_orderkey,
                lag(o_totalprice) OVER w AS prev_price,
                lead(o_totalprice, 1, -1.0) OVER w AS next_price,
                first_value(o_totalprice) OVER
                  (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                   ROWS UNBOUNDED PRECEDING) AS first_price,
                nth_value(o_totalprice, 2) OVER
                  (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                   ROWS UNBOUNDED PRECEDING) AS second_price
         FROM orders
         WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
         ORDER BY o_custkey, o_orderkey""",

    "q63_grouping_sets" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
                coalesce(l_linestatus, 'ALL') AS linestatus,
                CAST(grouping(l_returnflag) AS BIGINT) AS g_rf,
                CAST(grouping(l_linestatus) AS BIGINT) AS g_ls,
                count(*) AS n
         FROM lineitem
         GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus),
                                 (l_returnflag, l_linestatus))
         ORDER BY returnflag, linestatus""",

    "q60_range_join" ->
      """WITH busy AS (
           SELECT (epoch_us(ts) // 3600000000) * 3600000000 AS start_us,
                  count(*) AS hn
           FROM events GROUP BY 1 ORDER BY hn DESC, start_us LIMIT 20)
         SELECT e.event_id, b.start_us, CAST(b.hn AS BIGINT) AS hn
         FROM events e JOIN busy b
           ON epoch_us(e.ts) >= b.start_us
          AND epoch_us(e.ts) < b.start_us + 3600000000
         ORDER BY event_id, start_us""",

    "q59_rolling_hash" ->
      s"""WITH h AS (SELECT doc_id,
                 list_transform($tokSql, t -> ${hash30Sql("t")}) AS hs
               FROM documents)
          SELECT doc_id,
                 list_reduce(list_prepend(CAST(0 AS BIGINT), hs),
                   (a, b) -> (a * $RollB + b) % $RollP) AS roll_fp
          FROM h ORDER BY doc_id"""
  )
}
