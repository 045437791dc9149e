package graft.queries

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.{Readers, Warehouse}
import graft.ext.{Analytics, GlobalOrder, Stats, TextAnalysis, TimeSeries}
import OracleSql.tokSql
import Tables.t

/** Round-10 batch: retrieval/BI analyses composed from the scalable
  * primitives — capped inverted index, OHLC resampling, cohort
  * retention, Markov transitions, Pareto skyline, incremental aggregate
  * refresh, and a fixed-point covariance matrix. Floats in compared
  * columns follow the q110 discipline (exact integer aggregates, or
  * pure selection/one final IEEE formula).
  */
object Round10Queries extends QuerySet {

  /** q163 posting-list cap. */
  private val PostingsK = 10

  /** q164 resample bucket (1 hour in epoch micros). */
  private val OhlcBucketUs = 3600000000L

  /** q169 covariance: leading dims and the fixed-point grid. */
  private val CovDims = 8
  private val CovScale = 65536

  /** q170 universe-sample fraction (10% of the orderkey hash space). */
  private val UniverseFraction = 0.1

  /** q171 heavy hitters per segment. */
  private val HeavyHittersK = 5

  /** q173 throttle gap (5 s in epoch micros). */
  private val ThrottleGapUs = 5000000L

  /** q177 Mahalanobis: leading dims scored, outliers kept. */
  private val MahaDims = 4
  private val MahaTopN = 50

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Inverted index with capped postings: df via combinable count,
    // postings via the native bounded-state top-k aggregate (map-side
    // pruned to k before the shuffle) — never a collect_list or a
    // per-token window, so a stopword token costs O(k) state, not its
    // whole posting set in one task. Oracle = the window formulation.
    "q163_inverted_index" -> ((s, dir) =>
      TextAnalysis.invertedIndex(t(s, dir, "documents"), PostingsK)
        .orderBy("tok", "rnk")),

    // OHLC downsample of the events stream: open/close are min_by/max_by
    // argmin/argmax over a zero-padded (ts, event_id) string key —
    // combinable O(1)-state aggregates, vs the first_value/last_value
    // window that buffers and sorts each (type, hour) partition. The
    // doubles are SELECTED, never summed, so they are bit-portable.
    "q164_ohlc_resample" -> ((s, dir) => {
      val ev = Readers.eventsNanos(s, dir).select(
        col("event_type"), expr("ts div 1000").as("ts_us"),
        col("event_id"), col("value"))
      TimeSeries.ohlcResample(ev, Seq(col("event_type")), col("ts_us"),
          col("event_id"), col("value"), OhlcBucketUs)
        .orderBy("event_type", "bucket")
    }),

    // Cohort retention triangle over orders: cohort = first active
    // epoch-month per customer (combinable min), activity deduplicated
    // to (customer, month) BEFORE the join so the matrix is a plain
    // count — both shuffles are on the customer key (co-partitioned),
    // and no count(distinct) ever touches the fact table.
    "q165_cohort_retention" -> ((s, dir) => {
      val midx = (year(col("o_orderdate")) * 12 + month(col("o_orderdate"))
        - 1).cast("long")
      Analytics.cohortRetention(
          t(s, dir, "orders").select(col("o_custkey"), midx.as("midx")),
          "o_custkey", col("midx"))
        .orderBy("cohort", "periods_since")
    }),

    // Per-user event-type transition counts (the first-order Markov
    // chain of the event log). The predecessor comes from the
    // boundary-stitch per-key LAG — a hot user costs a range shuffle,
    // never a one-task window sort; the string alphabet is dictionary-
    // encoded through a broadcast dimension built with the scalable
    // global row number (no window anywhere).
    "q166_markov_transitions" -> ((s, dir) => {
      val ev = Readers.eventsNanos(s, dir).select(
        col("user_id"), expr("ts div 1000").as("ts_us"),
        col("event_id"), col("event_type"))
      val dim = GlobalOrder.withRowNumber(
        ev.select("event_type").distinct(), Seq(col("event_type")),
        out = "code")
      val enc = ev.join(broadcast(dim), "event_type")
        .select("user_id", "ts_us", "event_id", "code")
      Analytics.transitionCounts(enc, "user_id", "ts_us", "code",
          Seq(col("event_id")))
        .join(broadcast(dim.select(col("code").as("prev_code"),
          col("event_type").as("prev_type"))), "prev_code")
        .join(broadcast(dim), "code")
        .select(col("prev_type"), col("event_type"), col("n"))
        .orderBy("prev_type", "event_type")
    }),

    // Pareto frontier of parts (minimize price, maximize size): the
    // quadratic NOT-EXISTS dominance test collapsed to a prefix-maximum
    // in price order — one combinable per-price max, one range-shuffle
    // running max, one stitch lag, one co-partitioned join back. The
    // oracle is the window prefix-max formulation.
    "q167_skyline" -> ((s, dir) => {
      val p = t(s, dir, "part").select(col("p_partkey"),
        Stats.cents(col("p_retailprice")).as("price_cents"),
        col("p_size").cast("long").as("p_size"))
      Analytics.skyline2D(p, "price_cents", "p_size")
        .orderBy("price_cents", "p_partkey")
    }),

    // Incremental materialized-view refresh: the standing aggregate
    // (90% of lineitem) is folded with the delta batch's PARTIAL
    // aggregate — refresh cost is O(aggregate cardinality), the base
    // facts are never rescanned. The oracle recomputes from scratch, so
    // the gate proves refresh ≡ recompute.
    "q168_agg_refresh" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select(col("l_returnflag"),
        col("l_orderkey"), Stats.cents(col("l_quantity")).as("qc"))
      def aggOf(d: DataFrame): DataFrame =
        d.groupBy("l_returnflag").agg(count(lit(1)).as("n"),
          sum("qc").as("qty_cents_sum"))
      Warehouse.refreshAdditiveAgg(
          aggOf(li.filter(col("l_orderkey") % 10 =!= 0)),
          aggOf(li.filter(col("l_orderkey") % 10 === 0)),
          Seq("l_returnflag"), Seq("n", "qty_cents_sum"), Some("n"))
        .orderBy("l_returnflag")
    }),

    // Upper-triangle covariance matrix of the leading embedding dims on
    // the fixed-point grid: per-pair integer sums are exact under any
    // partitioning, one final IEEE formula — bit-identical to the
    // oracle's sequential evaluation, where a float covar_samp would
    // diverge in the low bits by partial-sum order.
    "q169_embed_covariance" -> ((s, dir) =>
      Stats.embeddingCovariance(t(s, dir, "embeddings"), "vec_id",
          "embedding", CovDims, CovScale)
        .orderBy("i", "j")),

    // Universe sampling: both join sides sampled by the SAME hash of the
    // JOIN key, so sampled-then-joined ≡ joined-then-sampled — the
    // correlated-sampling property that makes a 10% dev slice of a
    // 100 TB star schema referentially intact (independent per-table
    // samples would keep ~1% of join pairs and break FK closure). The
    // hash cut is evaluated at the scan (an expression filter — md5
    // cannot push into parquet row groups, but no SHUFFLE ever touches
    // an unsampled row, which is the cost that matters at 100 TB).
    "q170_universe_join_sample" -> ((s, dir) => {
      val o = graft.ext.Sampling.sampleByHash(
        t(s, dir, "orders"), col("o_orderkey"), UniverseFraction)
      val li = graft.ext.Sampling.sampleByHash(
        t(s, dir, "lineitem"), col("l_orderkey"), UniverseFraction)
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          sum(Stats.cents(col("l_extendedprice"))).as("rev_cents"))
        .orderBy("o_orderstatus")
    }),

    // Per-segment heavy hitters: top-5 users by event count within each
    // event type — two bounded-state passes (combinable (type, user)
    // count, then the native top-k aggregate over the counts), where the
    // window formulation would sort every type's full user list. The
    // oracle IS that window formulation.
    "q171_group_heavy_hitters" -> ((s, dir) => {
      val cnts = Readers.eventsNanos(s, dir)
        .groupBy("event_type", "user_id").agg(count(lit(1)).as("cnt"))
      graft.functions.TopKFunctions.topkPerGroup(cnts,
          Seq(col("event_type")), col("cnt"), col("user_id"),
          HeavyHittersK)
        .select(col("event_type"), col("rnk"), col("key").as("cnt"),
          col("id").as("user_id"))
        .orderBy("event_type", "rnk")
    }),

    // Burst throttling (event dedup within a 5 s gap): sessions from the
    // hot-key-safe gap sessionizer; kept events = session count, which —
    // because session ids are dense and contiguous per user in range
    // order — is the combinable max−min+1, never a count(distinct).
    "q173_event_throttle" -> ((s, dir) => {
      val ev = Readers.eventsNanos(s, dir).select(
        col("user_id"), expr("ts div 1000").as("tsu"), col("event_id"))
      GlobalOrder.withSessionId(ev, "user_id", "tsu", ThrottleGapUs,
          Seq(col("event_id")))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          (max("session_id") - min("session_id") + 1L).as("n_kept"))
        .orderBy("user_id")
    }),

    // Referential-integrity audit (orphan FKs / childless parents) as
    // key-only anti-joins — the per-build warehouse gate that never
    // moves a row wider than the key.
    "q174_fk_orphan_audit" -> ((s, dir) =>
      graft.engine.Audits.fkAudit(
          t(s, dir, "lineitem"), "l_orderkey",
          t(s, dir, "orders"), "o_orderkey")
        .orderBy("metric")),

    // Ratio-to-report (share within segment) with NO window: the
    // percent-of-segment denominator is a second aggregate over the
    // FIRST aggregate's tiny output, broadcast back — a ratio_to_report
    // window would shuffle and sort the fact rows for one number per
    // segment.
    "q175_share_of_segment" -> ((s, dir) => {
      val seg = t(s, dir, "orders")
        .groupBy("o_orderstatus", "o_orderpriority")
        .agg(sum(Stats.cents(col("o_totalprice"))).as("rev_cents"))
      val tot = seg.groupBy("o_orderstatus")
        .agg(sum("rev_cents").as("seg_cents"))
      seg.join(tot, "o_orderstatus")
        .select(col("o_orderstatus"), col("o_orderpriority"),
          col("rev_cents"),
          ((col("rev_cents") * 100).cast("double") / col("seg_cents"))
            .as("share_pct"))
        .orderBy("o_orderstatus", "o_orderpriority")
    }),

    // Winsorization: per-type clip at the exact [p05, p95] order
    // statistics from the hot-group-safe global-rank quantile (no
    // percentile buffer, no window sort), then one combinable pass for
    // the clipped aggregate and clip counts.
    "q176_winsorize" -> ((s, dir) => {
      val ev = Readers.eventsNanos(s, dir).select(
        col("event_type"), Stats.cents(col("value")).as("vc"),
        col("event_id"))
      val p05 = GlobalOrder.groupQuantileOfLong(ev, "event_type", "vc",
        pPct = 5, Seq(col("event_id")), out = "p05").drop("n")
      val p95 = GlobalOrder.groupQuantileOfLong(ev, "event_type", "vc",
        pPct = 95, Seq(col("event_id")), out = "p95").drop("n")
      ev.join(broadcast(p05), "event_type")
        .join(broadcast(p95), "event_type")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(greatest(least(col("vc"), col("p95")), col("p05")))
            .as("winsorized_cents"),
          sum(when(col("vc") < col("p05"), 1L).otherwise(0L))
            .as("n_clip_lo"),
          sum(when(col("vc") > col("p95"), 1L).otherwise(0L))
            .as("n_clip_hi"))
        .orderBy("event_type")
    }),

    // Mahalanobis outlier scoring: the exact fixed-point covariance
    // (q169's machinery) plus integer-sum means are collected once,
    // ridge-regularized and inverted ON THE DRIVER (d² doubles of global
    // state), then scoring is one constant-folded local projection with
    // a TakeOrderedAndProject top-N — no shuffle touches the corpus. The
    // oracle is RENDERED from the same learned model (dynamicOracleSql,
    // the q64 mechanism), so assignment and scores are hash-gated.
    "q177_mahalanobis_outliers" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val (mu, inv) = Stats.mahalanobisModel(e, "vec_id", "embedding",
        MahaDims)
      Stats.mahalanobisScore(e, "vec_id", "embedding", mu, inv)
        .orderBy(desc("d2"), asc("vec_id")).limit(MahaTopN)
    }),

    // Point-in-time SCD-2 snapshot: the state of every user's dimension
    // row AS OF the corpus midpoint — the consumer side of the q161
    // history build. The snapshot itself is a pure filter (no shuffle);
    // the midpoint is two combinable aggregates collected once and
    // reproduced by the oracle as a scalar subquery.
    "q181_scd2_snapshot" -> ((s, dir) => {
      val changes = Readers.eventsNanos(s, dir)
        .select(col("user_id"), expr("ts div 1000").as("ver_us"),
          col("event_type"))
      val Row(mn: Long, mx: Long) =
        changes.agg(min("ver_us"), max("ver_us")).head()
      val hist = Warehouse.scd2HistoryBig(changes, "user_id", "ver_us",
        Seq("event_type"))
      Warehouse.scd2Snapshot(hist, (mn + mx) / 2)
        .select(col("user_id"), col("event_type"), col("valid_from"))
        .orderBy("user_id")
    }),

    // Per-group MODE (most frequent value) via [[Analytics.groupMode]]:
    // two bounded-state passes — combinable (group, value) counts, then
    // the min(struct) argmin (q129's k=1 discipline) picking (highest
    // count, lowest user) with a total tiebreak. No per-group window, no
    // value-list buffering.
    "q180_group_mode" -> ((s, dir) =>
      Analytics.groupMode(Readers.eventsNanos(s, dir),
          Seq(col("event_type")), col("user_id"))
        .select(col("event_type"), col("mode").as("modal_user"),
          col("mode_n").as("cnt"), col("n_rows").as("n_events"))
        .orderBy("event_type")),

    // Streaming twin of q173: the burst throttle as arbitrary keyed
    // state (flatMapGroupsWithState, one timestamp per user), run over
    // the bounded events stream and gated against the SAME lag-window
    // oracle as the batch sessionizer — batch/stream parity for the
    // throttle semantics, not just "rows came out".
    "q179_streaming_throttle" -> ((s, dir) =>
      StreamingQueries.runEventsStream(s, dir, "q179_events") { raw =>
        import s.implicits._
        val pings = raw
          .select(col("user_id"), expr("ts div 1000").as("tsu"),
            col("event_id"),
            timestamp_micros(expr("ts div 1000")).as("ts"))
          .as[graft.streaming.EventStream.Ping]
        val out = graft.streaming.EventStream.runToMemory(
          graft.streaming.EventStream
            .throttledPings(pings, ThrottleGapUs).toDF(),
          StreamingQueries.memName("q179_mem_"),
          outputMode = org.apache.spark.sql.streaming.OutputMode.Append(),
          statePartitions = Some(8))
        out.groupBy("user_id").agg(count(lit(1)).as("n_kept"))
          .orderBy("user_id")
      }),

    // Exact time-weighted average per (user, day): each value holds
    // until the user's next event; the successor comes from the
    // boundary-stitch lag read BACKWARDS (a hot-key-safe lead), segments
    // clip to day boundaries locally, one combinable groupBy sums exact
    // value·μs and μs integers — twa is their single IEEE quotient.
    "q178_time_weighted_avg" -> ((s, dir) => {
      val ev = Readers.eventsNanos(s, dir).select(
        col("user_id"), expr("ts div 1000").as("tsu"),
        col("event_id"), Stats.cents(col("value")).as("vc"))
      TimeSeries.timeWeightedPerPeriod(ev, "user_id", "tsu", "event_id",
          "vc", 86400000000L)
        .orderBy("user_id", "period")
    }),

    // Semi-additive measure rollup (account-balance semantics): per
    // (user, day) the day's CLOSING value — max_by over the zero-padded
    // (ts, event_id) key, combinable O(1) state — then summed across
    // users per day on the exact cents grid. last_value windows would
    // sort each user-day; float sums would be partial-order-dependent.
    "q172_daily_close_totals" -> ((s, dir) => {
      val ev = Readers.eventsNanos(s, dir).select(
        col("user_id"), expr("ts div 1000").as("ts_us"),
        col("event_id"), Stats.cents(col("value")).as("vc"))
        .withColumn("day", expr("ts_us div 86400000000"))
      val ord = graft.functions.Portable.ordKey(col("ts_us"), col("event_id"))
      ev.groupBy("user_id", "day")
        .agg(max_by(col("vc"), ord).as("close_cents"))
        .groupBy("day")
        .agg(count(lit(1)).as("n_users"),
          sum("close_cents").as("total_close_cents"))
        .orderBy("day")
    })
  )

  val oracleSql: Map[String, String] = Map(

    "q163_inverted_index" ->
      s"""WITH pairs AS (SELECT DISTINCT doc_id, unnest($tokSql) AS tok
                         FROM documents),
               r AS (SELECT tok, doc_id,
                            row_number() OVER (PARTITION BY tok
                                               ORDER BY doc_id) AS rnk,
                            count(*) OVER (PARTITION BY tok) AS df
                     FROM pairs)
          SELECT tok, CAST(df AS BIGINT) AS df, CAST(rnk AS BIGINT) AS rnk,
                 doc_id
          FROM r WHERE rnk <= $PostingsK ORDER BY tok, rnk""",

    "q164_ohlc_resample" ->
      s"""WITH e AS (SELECT event_type, epoch_us(ts) AS ts_us, event_id,
                            value
                     FROM events),
               k AS (SELECT *,
                            ${graft.functions.Portable.ordKeySql("ts_us",
                              "event_id")} AS ord,
                            (ts_us - ts_us % $OhlcBucketUs)
                              // $OhlcBucketUs AS bucket
                     FROM e)
          SELECT event_type, CAST(bucket AS BIGINT) AS bucket,
                 arg_min(value, ord) AS open, max(value) AS high,
                 min(value) AS low, arg_max(value, ord) AS close,
                 CAST(count(*) AS BIGINT) AS n
          FROM k GROUP BY 1, 2 ORDER BY event_type, bucket""",

    "q165_cohort_retention" ->
      """WITH a AS (SELECT DISTINCT o_custkey AS e,
                           CAST(year(o_orderdate) * 12 +
                                month(o_orderdate) - 1 AS BIGINT) AS p
                    FROM orders),
              c AS (SELECT e, min(p) AS cohort FROM a GROUP BY e)
          SELECT c.cohort, a.p - c.cohort AS periods_since,
                 CAST(count(*) AS BIGINT) AS n_active
          FROM a JOIN c USING (e)
          GROUP BY 1, 2 ORDER BY cohort, periods_since""",

    "q166_markov_transitions" ->
      """WITH l AS (SELECT user_id, event_type,
                           lag(event_type) OVER (PARTITION BY user_id
                             ORDER BY epoch_us(ts), event_id) AS prev
                    FROM events)
          SELECT prev AS prev_type, event_type,
                 CAST(count(*) AS BIGINT) AS n
          FROM l WHERE prev IS NOT NULL
          GROUP BY 1, 2 ORDER BY prev_type, event_type""",

    "q167_skyline" ->
      """WITH p AS (SELECT p_partkey,
                           CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT)
                             AS price_cents,
                           CAST(p_size AS BIGINT) AS p_size
                    FROM part),
              g AS (SELECT price_cents, max(p_size) AS gmax
                    FROM p GROUP BY 1),
              m AS (SELECT price_cents, gmax,
                           max(gmax) OVER (ORDER BY price_cents
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND 1 PRECEDING) AS prevmax
                    FROM g)
          SELECT p.p_partkey, p.price_cents, p.p_size
          FROM p JOIN m USING (price_cents)
          WHERE p.p_size = m.gmax
            AND (m.prevmax IS NULL OR m.gmax > m.prevmax)
          ORDER BY price_cents, p_partkey""",

    "q168_agg_refresh" ->
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT))
                   AS BIGINT) AS qty_cents_sum
          FROM lineitem GROUP BY 1 ORDER BY l_returnflag""",

    "q169_embed_covariance" ->
      s"""WITH e AS (SELECT vec_id,
                            list_slice(CAST(embedding AS DOUBLE[]), 1,
                              $CovDims) AS v
                     FROM embeddings),
               x AS (SELECT vec_id,
                            unnest(range(1, len(v) + 1)) - 1 AS i,
                            CAST(floor(unnest(v) * $CovScale + 0.5)
                              AS BIGINT) AS xc
                     FROM e),
               pr AS (SELECT a.i AS i, b.i AS j, a.xc AS xc, b.xc AS yc
                      FROM x a JOIN x b
                        ON a.vec_id = b.vec_id AND b.i >= a.i),
               ag AS (SELECT i, j, CAST(count(*) AS BIGINT) AS n,
                             CAST(sum(xc) AS BIGINT) AS sx,
                             CAST(sum(yc) AS BIGINT) AS sy,
                             CAST(sum(xc * yc) AS BIGINT) AS sxy
                      FROM pr GROUP BY 1, 2)
          SELECT CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j, n,
                 CASE WHEN n >= 2 THEN
                   ((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) *
                     CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) /
                    (CAST(n AS DOUBLE) - 1.0)) /
                   ($CovScale.0 * $CovScale.0)
                 END AS cov
          FROM ag ORDER BY i, j""",

    "q170_universe_join_sample" -> {
      val cut = math.round(UniverseFraction * 10000)
      s"""WITH o AS (SELECT * FROM orders
                     WHERE CAST(('0x' || substr(md5(CAST(o_orderkey
                       AS VARCHAR)), 1, 15)) AS BIGINT) % 10000 < $cut),
               l AS (SELECT * FROM lineitem
                     WHERE CAST(('0x' || substr(md5(CAST(l_orderkey
                       AS VARCHAR)), 1, 15)) AS BIGINT) % 10000 < $cut)
          SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5)
                   AS BIGINT)) AS BIGINT) AS rev_cents
          FROM l JOIN o ON l_orderkey = o_orderkey
          GROUP BY 1 ORDER BY o_orderstatus"""
    },

    "q171_group_heavy_hitters" ->
      s"""WITH c AS (SELECT event_type, user_id, count(*) AS cnt
                     FROM events GROUP BY 1, 2),
               r AS (SELECT event_type, user_id, cnt,
                            row_number() OVER (PARTITION BY event_type
                              ORDER BY cnt DESC, user_id) AS rnk
                     FROM c)
          SELECT event_type, CAST(rnk AS BIGINT) AS rnk,
                 CAST(cnt AS BIGINT) AS cnt, user_id
          FROM r WHERE rnk <= $HeavyHittersK
          ORDER BY event_type, rnk""",

    "q173_event_throttle" ->
      s"""WITH e AS (SELECT user_id, epoch_us(ts) AS tsu, event_id
                     FROM events),
               l AS (SELECT user_id,
                            CASE WHEN prev IS NULL
                                   OR tsu - prev > $ThrottleGapUs
                                 THEN 1 ELSE 0 END AS brk
                     FROM (SELECT user_id, tsu,
                                  lag(tsu) OVER (PARTITION BY user_id
                                    ORDER BY tsu, event_id) AS prev
                           FROM e))
          SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
                 CAST(sum(brk) AS BIGINT) AS n_kept
          FROM l GROUP BY 1 ORDER BY user_id""",

    "q174_fk_orphan_audit" ->
      """SELECT 'childless_parents' AS metric,
                CAST(count(*) AS BIGINT) AS v
          FROM orders o
          WHERE NOT EXISTS (SELECT 1 FROM lineitem l
                            WHERE l.l_orderkey = o.o_orderkey)
          UNION ALL
          SELECT 'orphan_children' AS metric,
                 CAST(count(*) AS BIGINT) AS v
          FROM lineitem l
          WHERE NOT EXISTS (SELECT 1 FROM orders o
                            WHERE o.o_orderkey = l.l_orderkey)
          ORDER BY metric""",

    "q175_share_of_segment" ->
      """WITH seg AS (SELECT o_orderstatus, o_orderpriority,
                             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5)
                               AS BIGINT)) AS BIGINT) AS rev_cents
                      FROM orders GROUP BY 1, 2),
              tot AS (SELECT o_orderstatus,
                             CAST(sum(rev_cents) AS BIGINT) AS seg_cents
                      FROM seg GROUP BY 1)
          SELECT seg.o_orderstatus, seg.o_orderpriority, seg.rev_cents,
                 CAST(seg.rev_cents * 100 AS DOUBLE) / seg_cents
                   AS share_pct
          FROM seg JOIN tot USING (o_orderstatus)
          ORDER BY o_orderstatus, o_orderpriority""",

    "q176_winsorize" ->
      """WITH e AS (SELECT event_type,
                           CAST(floor(value * 100 + 0.5) AS BIGINT) AS vc,
                           event_id
                    FROM events),
              r AS (SELECT event_type, vc,
                           row_number() OVER (PARTITION BY event_type
                             ORDER BY vc, event_id) AS rn,
                           count(*) OVER (PARTITION BY event_type) AS n
                    FROM e),
              p05 AS (SELECT event_type, vc AS p05 FROM r
                      WHERE rn = ((n - 1) * 5) // 100 + 1),
              p95 AS (SELECT event_type, vc AS p95 FROM r
                      WHERE rn = ((n - 1) * 95) // 100 + 1)
          SELECT e.event_type, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(greatest(least(vc, p95), p05)) AS BIGINT)
                   AS winsorized_cents,
                 CAST(sum(CASE WHEN vc < p05 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_clip_lo,
                 CAST(sum(CASE WHEN vc > p95 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_clip_hi
          FROM e JOIN p05 USING (event_type) JOIN p95 USING (event_type)
          GROUP BY 1 ORDER BY event_type""",

    "q181_scd2_snapshot" ->
      """WITH c AS (SELECT user_id, epoch_us(ts) AS ver_us, event_type,
                           lag(event_type) OVER w AS prev,
                           lag(epoch_us(ts)) OVER w AS prev_ver
                    FROM events
                    WINDOW w AS (PARTITION BY user_id
                                 ORDER BY epoch_us(ts))),
              ch AS (SELECT user_id, ver_us, event_type FROM c
                     WHERE prev_ver IS NULL
                        OR prev IS DISTINCT FROM event_type),
              h AS (SELECT user_id, event_type, ver_us AS valid_from,
                           lead(ver_us) OVER (PARTITION BY user_id
                             ORDER BY ver_us) AS valid_to
                    FROM ch),
              a AS (SELECT (min(epoch_us(ts)) + max(epoch_us(ts))) // 2
                      AS at FROM events)
          SELECT user_id, event_type, valid_from
          FROM h, a
          WHERE valid_from <= at AND (valid_to IS NULL OR valid_to > at)
          ORDER BY user_id""",

    "q180_group_mode" ->
      """WITH c AS (SELECT event_type, user_id, count(*) AS cnt
                    FROM events GROUP BY 1, 2),
              r AS (SELECT event_type, user_id, cnt,
                           row_number() OVER (PARTITION BY event_type
                             ORDER BY cnt DESC, user_id) AS rn,
                           sum(cnt) OVER (PARTITION BY event_type) AS tot
                    FROM c)
          SELECT event_type, user_id AS modal_user,
                 CAST(cnt AS BIGINT) AS cnt, CAST(tot AS BIGINT) AS n_events
          FROM r WHERE rn = 1 ORDER BY event_type""",

    "q179_streaming_throttle" ->
      s"""WITH e AS (SELECT user_id, epoch_us(ts) AS tsu, event_id
                     FROM events),
               l AS (SELECT user_id,
                            CASE WHEN prev IS NULL
                                   OR tsu - prev > $ThrottleGapUs
                                 THEN 1 ELSE 0 END AS brk
                     FROM (SELECT user_id, tsu,
                                  lag(tsu) OVER (PARTITION BY user_id
                                    ORDER BY tsu, event_id) AS prev
                           FROM e))
          SELECT user_id, CAST(sum(brk) AS BIGINT) AS n_kept
          FROM l GROUP BY 1 ORDER BY user_id""",

    "q178_time_weighted_avg" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS tsu, event_id,
                           CAST(floor(value * 100 + 0.5) AS BIGINT) AS vc
                    FROM events),
              l AS (SELECT user_id, tsu, vc,
                           lead(tsu) OVER (PARTITION BY user_id
                             ORDER BY tsu, event_id) AS nxt
                    FROM e),
              s AS (SELECT * FROM l
                    WHERE nxt IS NOT NULL AND nxt > tsu),
              x AS (SELECT user_id, vc, tsu, nxt,
                           unnest(generate_series(tsu // 86400000000,
                             (nxt - 1) // 86400000000)) AS p
                    FROM s),
              o AS (SELECT user_id, CAST(p AS BIGINT) AS period,
                           least(nxt, (p + 1) * 86400000000) -
                             greatest(tsu, p * 86400000000) AS ov,
                           vc
                    FROM x),
              a AS (SELECT user_id, period,
                           CAST(sum(ov) AS BIGINT) AS dur_us,
                           CAST(sum(vc * ov) AS BIGINT) AS num
                    FROM o GROUP BY 1, 2)
          SELECT user_id, period, dur_us, num,
                 CAST(num AS DOUBLE) / dur_us AS twa
          FROM a ORDER BY user_id, period""",

    "q172_daily_close_totals" ->
      s"""WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id,
                           CAST(floor(value * 100 + 0.5) AS BIGINT) AS vc
                    FROM events),
              k AS (SELECT *,
                           ${graft.functions.Portable.ordKeySql("ts_us",
                             "event_id")} AS ord,
                           ts_us // 86400000000 AS day
                    FROM e),
              p AS (SELECT user_id, CAST(day AS BIGINT) AS day,
                           arg_max(vc, ord) AS close_cents
                    FROM k GROUP BY 1, 2)
          SELECT day, CAST(count(*) AS BIGINT) AS n_users,
                 CAST(sum(close_cents) AS BIGINT) AS total_close_cents
          FROM p GROUP BY 1 ORDER BY day"""
  )

  /** q177's oracle depends on the run-time-learned model (means +
    * inverted ridged covariance) — rendered per (session, sfDir) with
    * the exact constants the Spark side scored with (the q64 centroid
    * mechanism). Shortest-round-trip double literals re-parse to the
    * same IEEE values in DuckDB.
    */
  override val dynamicOracleSql: Map[String, (SparkSession, String) => String] = Map(
    "q177_mahalanobis_outliers" -> ((s, dir) => {
      val e = Readers.table(s, dir, "embeddings")
      val (mu, inv) = Stats.mahalanobisModel(e, "vec_id", "embedding",
        MahaDims)
      val d2 = Stats.mahalanobisSqlExpr("embedding", mu, inv)
      s"""SELECT vec_id, $d2 AS d2 FROM embeddings
          ORDER BY d2 DESC, vec_id LIMIT $MahaTopN"""
    }))
}
