package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.Warehouse
import graft.ext.{Dedup, Drift, GlobalOrder, Graph, Stats}
import graft.queries.ExtensionQueries.shingleCte
import graft.streaming.EventStream
import OracleSql.{centsSql, tokSql}
import Tables.t

/** Round-7 batch: scale-guard variants of existing operators, each
  * oracle-gated — the capped blocked edit-distance (the blockCap pruning
  * reproduced by the oracle, the q73 dfCap pattern), bucketed-join parity
  * (the shuffle-free layout must be result-invisible vs a plain join),
  * and the approx-percentile robustStats escape hatch (exact stats
  * hash-compared, sketch outputs asserted within documented bounds via
  * TRUE flags, the q69/q107 pattern).
  */
object Round7Queries extends QuerySet {

  /** q115 params: prefix-1 blocking makes blocks big enough that at
    * sf0.01 exactly one (lang, prefix) block exceeds the cap (38 docs vs
    * cap 20) — so the gate exercises BOTH the pruning (result differs
    * from uncapped: 37 vs 46 pairs) and the surviving blocks' DP.
    */
  private val CapPrefix = 1
  private val CapCmpLen = 60
  private val CapMaxDist = 35
  private val BlockCap = 20

  /** q117: GK-sketch rank error is n/accuracy (= ~2 of ~20k group rows at
    * sf0.01), so the approx median/MAD must land within a tenth of the
    * group MAD (+1 cent for degenerate zero-spread groups) of the exact
    * values — orders of magnitude looser than the guarantee, tight enough
    * that a broken sketch merge fails the flag.
    */
  private val ApproxTolFrac = 0.1

  /** q118/q119 thresholds: at sf0.01 the corpus has 25 planted near-dup
    * pairs, all with Jaccard ≥ 0.5 and both-way containment ≥ 0.8 — so
    * slightly looser thresholds exercise the full candidate machinery
    * while keeping the verified output identical to the exact join.
    */
  private val PrefixJaccardT = 0.4
  private val ContainmentT = 0.7

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Capped blocked edit-distance: over-cap (lang, prefix) blocks are
    // pruned by aggregate + anti-join BEFORE the self-join — the oracle
    // reproduces the pruning, so the guard is part of the gated
    // semantics, not an unobserved knob.
    "q115_edit_distance_capped" -> ((s, dir) =>
      Dedup.editDistancePairs(t(s, dir, "documents"),
        CapPrefix, CapCmpLen, CapMaxDist, BlockCap)
        .orderBy("doc_a", "doc_b")),

    // Bucketed-join parity: lineitem and orders written bucketed on the
    // join key, joined shuffle-free off the layout (Exchange-free plan
    // asserted in WarehouseSuite), aggregated — the oracle is the PLAIN
    // join, so any row the bucketed path drops, duplicates, or mis-routes
    // across buckets fails the hash.
    "q116_bucketed_join" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select("l_orderkey", "l_extendedprice", "l_quantity")
      val ord = t(s, dir, "orders")
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
      val (lt, rt) = ("q116_li_bucketed", "q116_ord_bucketed")
      Warehouse.writeBucketed(li, lt, "l_orderkey", 8)
      Warehouse.writeBucketed(ord, rt, "l_orderkey", 8)
      try {
        val agg = Warehouse.bucketedJoin(s, lt, rt, "l_orderkey")
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"),
            sum(Stats.cents(col("l_extendedprice"))).as("price_cents"),
            round(sum("l_quantity"), 2).as("qty"))
          .orderBy("o_orderpriority")
        // materialize (5 rows) so the warehouse tables can be dropped now
        s.createDataFrame(
          java.util.Arrays.asList(agg.collect(): _*), agg.schema)
          .orderBy("o_orderpriority")
      } finally Seq(lt, rt).foreach(n => s.sql(s"DROP TABLE IF EXISTS $n"))
    }),

    // robustStats approx escape hatch: exact median/MAD hash-compared
    // (the q113 contract), the approx_percentile variant asserted within
    // the documented bound via flags the oracle states as TRUE.
    "q117_robust_stats_approx" -> ((s, dir) => {
      val base = t(s, dir, "lineitem").select(col("l_returnflag"),
        Stats.cents(col("l_extendedprice")).as("c"))
      val ex = Stats.robustStats(base, "l_returnflag", col("c"))
      val ap = Stats.robustStats(base, "l_returnflag", col("c"),
          exact = false)
        .select(col("l_returnflag"),
          col("med").as("med_a"), col("mad").as("mad_a"))
      val tol = col("mad") * ApproxTolFrac + lit(1.0)
      ex.join(ap, Seq("l_returnflag"))
        .select(col("l_returnflag"), col("n"), col("med"), col("mad"),
          (abs(col("med_a") - col("med")) <= tol).as("approx_med_ok"),
          (abs(col("mad_a") - col("mad")) <= tol).as("approx_mad_ok"))
        .orderBy("l_returnflag")
    }),

    // PPJoin-style prefix-filtered exact Jaccard — since round 13 the
    // candidate strategy is AUTO-SELECTED from a measured df probe
    // (Dedup.jaccardPairsAuto): flat-df corpus -> plain inverted index
    // (~1.5x fewer corpus passes), boilerplate df -> prefix filter. Both
    // branches are exact, so the oracle (the PLAIN exact Jaccard join)
    // gates the auto-selection's result-invisibility, whichever branch
    // the probe picks at the gate's SF.
    "q118_jaccard_prefix" -> ((s, dir) =>
      Dedup.jaccardPairsAuto(t(s, dir, "documents"), PrefixJaccardT)
        .orderBy("doc_a", "doc_b")),

    // Containment (overlap-coefficient) pairs: the asymmetric
    // quote-inside-a-longer-document signal Jaccard misses.
    "q119_containment" -> ((s, dir) =>
      Dedup.containmentPairs(t(s, dir, "documents"), ContainmentT)
        .orderBy("doc_a", "doc_b")),

    // Snapshot reconciliation: two overlapping order snapshots
    // full-outer-joined, rows classified added/removed/kept, per-status
    // totals plus deterministic arg-max/arg-min order keys by price.
    // The arg-extremes rank by the STRUCT (price_cents, k) — field-wise
    // lexicographic, so the unique k breaks every price tie at ANY scale
    // factor (the earlier arithmetic composite price*1e7+k was only
    // injective while k < 1e7, i.e. below sf≈2; a wide-enough multiplier
    // would overflow BIGINT).
    "q120_full_outer_reconcile" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val cur = o.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey").as("k"), col("o_totalprice").as("pa"))
      val inc = o.filter(col("o_orderkey") % 3 === 0)
        .select(col("o_orderkey").as("k"), col("o_totalprice").as("pb"))
      cur.join(inc, Seq("k"), "full_outer")
        .select(col("k"),
          when(col("pa").isNull, "added")
            .when(col("pb").isNull, "removed")
            .otherwise("kept").as("status"),
          Stats.cents(coalesce(col("pa"), col("pb"))).as("price_cents"))
        .groupBy("status")
        .agg(count(lit(1)).as("n"),
          sum(col("price_cents")).as("price_cents"),
          max(struct(col("price_cents").as("p"), col("k").as("k")))
            .getField("k").as("top_key"),
          min(struct(col("price_cents").as("p"), col("k").as("k")))
            .getField("k").as("bottom_key"))
        .orderBy("status")
    }),

    // Hive-partitioned write + pruned read: the layout must be
    // result-invisible — the oracle is the plain predicate on the source
    // table, so a row mis-routed to the wrong partition directory (or a
    // partition-value encoding bug) fails the hash. PartitionFilters
    // pruning is asserted on the plan in Round7Suite.
    "q121_partition_pruned" -> ((s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("q121_part")
      try {
        val li = t(s, dir, "lineitem")
          .select("l_orderkey", "l_returnflag", "l_quantity",
            "l_extendedprice")
        Warehouse.writePartitioned(li, s"$tmp/li", "l_returnflag")
        // plain read: a per-run temp dir would only grow the schema catalog
        val agg = s.read.parquet(s"$tmp/li")
          .filter(col("l_returnflag") === "R")
          .agg(count(lit(1)).as("n"),
            sum(Stats.cents(col("l_extendedprice"))).as("price_cents"),
            round(sum("l_quantity"), 2).as("qty"),
            countDistinct("l_orderkey").as("n_orders"))
        // materialize (1 row) so the temp layout can be deleted now
        s.createDataFrame(
          java.util.Arrays.asList(agg.collect(): _*), agg.schema)
      } finally graft.engine.Pipeline.deleteRecursively(tmp)
    }),

    // Small-file compaction roundtrip: a fragmented Hive-partitioned
    // corpus (16 files per partition) compacted in place must aggregate
    // identically to the source — any row lost or duplicated by the
    // temp+rename swap, or a partition value garbled through the
    // per-partition rewrite, fails the hash.
    "q122_compact_roundtrip" -> ((s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("q122_cmp")
      try {
        val li = t(s, dir, "lineitem")
          .select("l_orderkey", "l_returnflag", "l_quantity")
        Warehouse.writePartitioned(li.repartition(16), s"$tmp/li",
          "l_returnflag")
        Warehouse.compact(s, s"$tmp/li")
        // plain read: a per-run temp dir would only grow the schema catalog
        val agg = s.read.parquet(s"$tmp/li")
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n"),
            round(sum("l_quantity"), 2).as("qty"),
            countDistinct("l_orderkey").as("n_orders"))
          .orderBy("l_returnflag")
        s.createDataFrame(
          java.util.Arrays.asList(agg.collect(): _*), agg.schema)
          .orderBy("l_returnflag")
      } finally graft.engine.Pipeline.deleteRecursively(tmp)
    }),

    // Integer-exact PageRank over the customer↔supplier trade graph
    // (both directions, so the graph is cyclic and every node's rank
    // evolves): 3 fixed iterations in micro-units — bit-identical under
    // any partitioning, reproduced by the oracle's unrolled CTEs.
    "q123_pagerank" -> ((s, dir) => {
      val edges = TradeGraph.edges(t(s, dir, "orders"), t(s, dir, "lineitem"))
      Graph.pagerankInt(edges, iterations = 3)
        .select(TradeGraph.decode("node").as("node"), col("rank"))
        .orderBy("node")
    }),

    // Streaming SLIDING windows (1h every 15min — each event fans out to
    // 4 windows), run bounded; the oracle restates the fan-out as an
    // explicit 0..3 slide-offset cross join, so a missing or duplicated
    // window assignment fails the hash.
    "q124_streaming_sliding" -> ((s, dir) =>
      StreamingQueries.runEventsStream(s, dir, "q124_events") { raw =>
        val stream = raw
          .withColumn("ts", timestamp_micros(expr("ts div 1000")))
        val out = EventStream.runToMemory(
          EventStream.slidingCounts(stream),
          StreamingQueries.memName("q124_mem_"),
          statePartitions = Some(8))
        out.select(col("window_start"), col("event_type"), col("n"),
          round(col("value_sum"), 2).as("value_sum"))
          .orderBy("window_start", "event_type")
      }),

    // Snapshot distribution drift: per-bucket frequency deltas between
    // the odd- and even-orderkey halves of lineitem — exact counts plus
    // per-bucket L1/chi-square terms from one fixed IEEE formula (no
    // cross-bucket float sum anywhere, so every row hash-compares).
    "q125_snapshot_drift" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select("l_orderkey", "l_quantity")
      Drift.frequencyDrift(
        li.filter(col("l_orderkey") % 2 === 1),
        li.filter(col("l_orderkey") % 2 === 0),
        floor(col("l_quantity") / 5).cast("long"))
        .orderBy("bucket")
    }),

    // Exact GLOBAL median without a global buffer: the range-shuffle
    // global row number picks the two middle order statistics — the
    // shape that still works when the column has 10¹² values and no
    // single aggregation buffer (or partition) could hold them.
    "q126_global_median" -> ((s, dir) =>
      GlobalOrder.medianOfLong(
        t(s, dir, "lineitem")
          .select(Stats.cents(col("l_extendedprice")).as("c"),
            col("l_orderkey"), col("l_linenumber")),
        "c", Seq(col("l_orderkey"), col("l_linenumber")))),

    // Chunk-level duplication stats (RefinedWeb/CCNet line-dedup at
    // fixed 16-token granularity): per-document shared-chunk fraction —
    // finds templated/boilerplate documents no whole-document near-dup
    // catches.
    "q127_chunk_dedup" -> ((s, dir) =>
      Dedup.chunkDupStats(t(s, dir, "documents"), window = 16,
        maxSharedFrac = 0.5)
        .orderBy("doc_id")),

    // Corrupt-record ingest accounting: a JSONL corpus with 3 planted
    // malformed lines read PERMISSIVE — bad lines must land in the
    // corrupt column (never dropped, never parsed), good rows must
    // aggregate exactly as the clean source does.
    "q128_corrupt_records" -> ((s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("q128_jsonl")
      try {
        t(s, dir, "lineitem").filter(col("l_orderkey") % 100 === 0)
          .select("l_orderkey", "l_quantity")
          .coalesce(1).write.json(s"$tmp/corpus")
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$tmp/corpus/part-bad.json"),
          "{\"l_orderkey\": 1, \"l_quantity\": \n{broken\nnot json at all\n")
        val read = s.read
          .schema("l_orderkey BIGINT, l_quantity DOUBLE, _corrupt STRING")
          .option("columnNameOfCorruptRecord", "_corrupt")
          .json(s"$tmp/corpus")
        val agg = read.agg(
          count_if(col("_corrupt").isNull).as("n_good"),
          count_if(col("_corrupt").isNotNull).as("n_bad"),
          round(sum(when(col("_corrupt").isNull, col("l_quantity"))), 2)
            .as("qty"))
        s.createDataFrame(
          java.util.Arrays.asList(agg.collect(): _*), agg.schema)
      } finally graft.engine.Pipeline.deleteRecursively(tmp)
    }),

    // Per-cell representatives (coreset/diversity selection): for each
    // IVF cell, the vector closest to its centroid (deterministic
    // (dist², vec_id) tiebreak) plus the cell population — the pick-one-
    // per-region step of diversity-aware data selection. Oracle is
    // generated from the run's trained centroids (the q99 pattern).
    // Delegates to IvfIndex.cellRepresentatives — a combinable
    // min(struct) aggregate, NOT a Window over the (zipf-skewed) cell key.
    "q129_cell_representatives" -> ((s, dir) => {
      val cents = Round2Queries.ivfCentroids(s, dir)
      val model = graft.ext.IvfIndex
        .fromCentroids(s, t(s, dir, "embeddings"), cents)
      graft.ext.IvfIndex.cellRepresentatives(model)
    })
  )

  val oracleSql: Map[String, String] = Map(

    "q115_edit_distance_capped" ->
      s"""WITH d0 AS (SELECT doc_id, lang, substr(text, 1, $CapPrefix) AS blk,
                 substr(text, 1, $CapCmpLen) AS tc FROM documents),
          hot AS (SELECT lang, blk FROM d0
                  GROUP BY 1, 2 HAVING count(*) > $BlockCap),
          d AS (SELECT * FROM d0 ANTI JOIN hot USING (lang, blk))
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 CAST(levenshtein(a.tc, b.tc) AS BIGINT) AS dist
          FROM d a JOIN d b
            ON a.lang = b.lang AND a.blk = b.blk AND a.doc_id < b.doc_id
          WHERE levenshtein(a.tc, b.tc) <= $CapMaxDist
          ORDER BY doc_a, doc_b""",

    "q116_bucketed_join" ->
      s"""SELECT o_orderpriority, count(*) AS n,
                 CAST(sum(${centsSql("l_extendedprice")}) AS BIGINT)
                   AS price_cents,
                 round(sum(l_quantity), 2) AS qty
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          GROUP BY 1 ORDER BY o_orderpriority""",

    "q117_robust_stats_approx" ->
      s"""WITH x AS (SELECT l_returnflag,
                            ${centsSql("l_extendedprice")} AS c
                     FROM lineitem),
          m AS (SELECT l_returnflag, count(c) AS n, median(c) AS med
                FROM x GROUP BY 1)
          SELECT l_returnflag, n, med,
                 median(abs(CAST(x.c AS DOUBLE) - m.med)) AS mad,
                 TRUE AS approx_med_ok, TRUE AS approx_mad_ok
          FROM x JOIN m USING (l_returnflag)
          GROUP BY l_returnflag, n, med
          ORDER BY l_returnflag""",

    // the oracle is the PLAIN exact Jaccard join — prefix filtering must
    // be result-invisible
    "q118_jaccard_prefix" ->
      s"""WITH $shingleCte,
          sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
          inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                           count(*) AS i
                    FROM sh a JOIN sh b
                      ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                    GROUP BY 1, 2)
          SELECT doc_a, doc_b, i * 1.0 / (x.n + y.n - i) AS jaccard
          FROM inter JOIN sz x ON x.doc_id = doc_a
                     JOIN sz y ON y.doc_id = doc_b
          WHERE i * 1.0 / (x.n + y.n - i) >= $PrefixJaccardT
          ORDER BY doc_a, doc_b""",

    "q119_containment" ->
      s"""WITH $shingleCte,
          sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
          inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                           count(*) AS i
                    FROM sh a JOIN sh b
                      ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                    GROUP BY 1, 2)
          SELECT doc_a, doc_b,
                 i * 1.0 / x.n AS cont_a_in_b,
                 i * 1.0 / y.n AS cont_b_in_a
          FROM inter JOIN sz x ON x.doc_id = doc_a
                     JOIN sz y ON y.doc_id = doc_b
          WHERE greatest(i * 1.0 / x.n, i * 1.0 / y.n) >= $ContainmentT
          ORDER BY doc_a, doc_b""",

    "q120_full_outer_reconcile" ->
      s"""WITH cur AS (SELECT o_orderkey AS k, o_totalprice AS pa
                       FROM orders WHERE o_orderkey % 2 = 0),
          inc AS (SELECT o_orderkey AS k, o_totalprice AS pb
                  FROM orders WHERE o_orderkey % 3 = 0),
          f AS (SELECT coalesce(cur.k, inc.k) AS k,
                       CASE WHEN pa IS NULL THEN 'added'
                            WHEN pb IS NULL THEN 'removed'
                            ELSE 'kept' END AS status,
                       ${centsSql("coalesce(pa, pb)")} AS price_cents
                FROM cur FULL OUTER JOIN inc ON cur.k = inc.k)
          SELECT status, count(*) AS n,
                 CAST(sum(price_cents) AS BIGINT) AS price_cents,
                 max(struct_pack(p := price_cents, k := k))['k'] AS top_key,
                 min(struct_pack(p := price_cents, k := k))['k'] AS bottom_key
          FROM f GROUP BY 1 ORDER BY status""",

    "q121_partition_pruned" ->
      s"""SELECT count(*) AS n,
                 CAST(sum(${centsSql("l_extendedprice")}) AS BIGINT)
                   AS price_cents,
                 round(sum(l_quantity), 2) AS qty,
                 CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders
          FROM lineitem WHERE l_returnflag = 'R'""",

    "q122_compact_roundtrip" ->
      """SELECT l_returnflag, count(*) AS n,
                round(sum(l_quantity), 2) AS qty,
                CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders
         FROM lineitem GROUP BY 1 ORDER BY l_returnflag""",

    // 3 unrolled iterations of the same integer formula (// is DuckDB
    // floor division ≡ Spark `div` on the non-negative ranks here)
    "q123_pagerank" -> {
      def iter(prev: String, cur: String): String =
        s"""c$cur AS (SELECT e.dst AS node,
                      sum(($prev.rank // od.outdeg)) AS csum
               FROM e JOIN $prev ON e.src = $prev.node
                      JOIN od ON od.node = e.src
               GROUP BY 1),
           $cur AS (SELECT n.node,
                      CAST(150000 + (85 * coalesce(c$cur.csum, 0)) // 100
                        AS BIGINT) AS rank
               FROM nodes n LEFT JOIN c$cur ON n.node = c$cur.node)"""
      s"""WITH b AS (SELECT DISTINCT 'c:' || o_custkey AS c,
                            's:' || l_suppkey AS sup
                     FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
          e AS (SELECT c AS src, sup AS dst FROM b
                UNION ALL
                SELECT sup AS src, c AS dst FROM b),
          nodes AS (SELECT DISTINCT src AS node FROM e
                    UNION SELECT DISTINCT dst FROM e),
          od AS (SELECT src AS node, count(*) AS outdeg FROM e GROUP BY 1),
          r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank FROM nodes),
          ${iter("r0", "r1")},
          ${iter("r1", "r2")},
          ${iter("r2", "r3")}
          SELECT node, rank FROM r3 ORDER BY node"""
    },

    // each event's 4 sliding windows stated explicitly: starts on the
    // 15-min grid at offsets 0..3 slides back (900000000 us = 15 min)
    "q124_streaming_sliding" ->
      """SELECT make_timestamp(
                  (epoch_us(ts) // 900000000 - k) * 900000000)
                  AS window_start,
                event_type, count(*) AS n,
                round(sum(value), 2) AS value_sum
         FROM events CROSS JOIN
              (SELECT unnest(generate_series(0, 3)) AS k) g
         GROUP BY 1, 2 ORDER BY window_start, event_type""",

    "q125_snapshot_drift" ->
      """WITH cur AS (SELECT CAST(floor(l_quantity / 5) AS BIGINT)
                        AS bucket
                      FROM lineitem WHERE l_orderkey % 2 = 1),
          ref AS (SELECT CAST(floor(l_quantity / 5) AS BIGINT) AS bucket
                  FROM lineitem WHERE l_orderkey % 2 = 0),
          cc AS (SELECT bucket, count(*) AS n_cur FROM cur GROUP BY 1),
          rc AS (SELECT bucket, count(*) AS n_ref FROM ref GROUP BY 1),
          j AS (SELECT coalesce(cc.bucket, rc.bucket) AS bucket,
                       CAST(coalesce(n_cur, 0) AS BIGINT) AS n_cur,
                       CAST(coalesce(n_ref, 0) AS BIGINT) AS n_ref
                FROM cc FULL OUTER JOIN rc ON cc.bucket = rc.bucket),
          t AS (SELECT (SELECT count(*) FROM cur) AS g_cur,
                       (SELECT count(*) FROM ref) AS g_ref)
          SELECT bucket, n_cur, n_ref,
                 CAST(n_cur AS DOUBLE) / g_cur AS p_cur,
                 CAST(n_ref AS DOUBLE) / g_ref AS p_ref,
                 abs(CAST(n_cur AS DOUBLE) / g_cur
                     - CAST(n_ref AS DOUBLE) / g_ref) AS l1_term,
                 CASE WHEN n_ref > 0 THEN
                   (CAST(n_cur AS DOUBLE) / g_cur
                    - CAST(n_ref AS DOUBLE) / g_ref)
                   * (CAST(n_cur AS DOUBLE) / g_cur
                      - CAST(n_ref AS DOUBLE) / g_ref)
                   / (CAST(n_ref AS DOUBLE) / g_ref)
                 END AS chi2_term
          FROM j CROSS JOIN t ORDER BY bucket""",

    "q126_global_median" ->
      s"""SELECT count(*) AS n,
                 median(${centsSql("l_extendedprice")}) AS median
          FROM lineitem""",

    // same 16-token non-overlapping chunk rule as slidingChunks(16, 16)
    "q127_chunk_dedup" ->
      s"""WITH w AS (SELECT doc_id, $tokSql AS w FROM documents),
          s AS (SELECT doc_id, w,
                unnest(generate_series(1, len(w), 16)) AS i FROM w),
          ch AS (SELECT doc_id,
                 CAST('0x' || substr(md5(array_to_string(w[i:i+15], ' ')),
                   1, 15) AS BIGINT) AS chunk_h FROM s),
          df AS (SELECT chunk_h, count(DISTINCT doc_id) AS chunk_df
                 FROM ch GROUP BY 1)
          SELECT doc_id, count(*) AS n_chunks,
                 CAST(sum(CASE WHEN chunk_df > 1 THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_shared_chunks,
                 CAST(sum(CASE WHEN chunk_df > 1 THEN 1 ELSE 0 END)
                   AS DOUBLE) / count(*) AS shared_frac,
                 CAST(sum(CASE WHEN chunk_df > 1 THEN 1 ELSE 0 END)
                   AS DOUBLE) / count(*) < 0.5 AS keep
          FROM ch JOIN df USING (chunk_h)
          GROUP BY doc_id ORDER BY doc_id""",

    "q128_corrupt_records" ->
      """SELECT count(*) AS n_good, CAST(3 AS BIGINT) AS n_bad,
                round(sum(l_quantity), 2) AS qty
         FROM lineitem WHERE l_orderkey % 100 = 0"""
  )

  /** q129's oracle, generated from the run's trained centroids (the q99
    * pattern): same assignment CTE, then per-cell argmin distance with
    * the (dist², vec_id) tiebreak.
    */
  private def cellRepOracle(centroids: Seq[Seq[Double]]): String = {
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
        d AS (SELECT a.cell, a.vec_id,
                     (a.v_n2 - 2 * list_dot_product(a.v, cn.cv)
                      + list_dot_product(cn.cv, cn.cv)) AS dist2
              FROM assigned a JOIN cn ON a.cell = cn.cell),
        r AS (SELECT cell, vec_id, dist2,
                     row_number() OVER (PARTITION BY cell
                       ORDER BY dist2, vec_id) AS rnk FROM d),
        c AS (SELECT cell, count(*) AS n_vecs FROM d GROUP BY 1)
        SELECT CAST(r.cell AS BIGINT) AS cell, c.n_vecs,
               r.vec_id AS rep_vec_id, r.dist2
        FROM r JOIN c ON r.cell = c.cell
        WHERE r.rnk = 1 ORDER BY cell"""
  }

  override val dynamicOracleSql: Map[String, (SparkSession, String) => String] = Map(
    "q129_cell_representatives" -> ((s, dir) =>
      cellRepOracle(Round2Queries.ivfCentroids(s, dir))))
}
