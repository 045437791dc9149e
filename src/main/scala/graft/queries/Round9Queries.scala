package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.{Readers, Warehouse}
import graft.ext.{Dedup, DedupGroups, GlobalOrder, Graph, RangeJoin, Sampling, Stats, TextAnalysis}
import OracleSql.tokSql
import Tables.t

/** Round-9 batch: hot-key-safe formulations of per-key timeline
  * operators. Floats in compared columns follow the q110 discipline
  * (exact integer aggregates only).
  */
object Round9Queries extends QuerySet {

  /** events with the nanosecond timestamp read as long and converted
    * (the q38 recipe — Spark cannot scan TIMESTAMP(NANOS) directly).
    */
  private def events(s: SparkSession, dir: String): DataFrame =
    Readers.eventsNanos(s, dir)
      .withColumn("ts", timestamp_micros(expr("ts div 1000")))

  /** q147 session gap (30 min in epoch micros — q38's constant). */
  private val SessionGapUs = 30L * 60 * 1000000

  /** q148 bin width in days — near the typical interval length (transit
    * 1–14 days, promos 30), the [[RangeJoin]] contract.
    */
  private val OverlapBinDays = 16L

  /** q149 near-dup threshold — the q27/q65/q141 Jaccard surface. */
  private val LeakageJaccardT = 0.5

  /** q149 split recipe (q47's 80/10/10, assigned per COMPONENT). */
  private val LeakageSplits =
    Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Gap sessionization WITHOUT the per-user window: global session ids
    // via the GlobalOrder range shuffle (two jobs, one shuffle) — the
    // hot-key-safe twin of q38 (whose lag/sum-over-partitionBy(user)
    // buffers a hot user's whole timeline in one task). Session ids are
    // global in (user, ts, event) order, so the oracle's running sum
    // over that total order reproduces them exactly.
    "q147_sessionize_scalable" -> ((s, dir) => {
      val ev = events(s, dir).select(
        col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("tsu"),
        Stats.cents(col("value")).as("value_cents"))
      GlobalOrder.withSessionId(ev, "user_id", "tsu", SessionGapUs,
        Seq(col("event_id")))
        .groupBy("session_id", "user_id")
        .agg(count(lit(1)).as("n_events"),
          min("tsu").as("start_us"), max("tsu").as("end_us"),
          sum("value_cents").as("value_cents"))
        .orderBy("session_id")
    }),

    // Interval × interval overlap join via binning: rare-line transit
    // windows (q132's derived [ship_day, receipt_day)) against 30-day
    // promo windows, as pair rows — the binned equi-join Spark plans a
    // bare overlap predicate as a broadcast-nested-loop for.
    "q148_interval_overlap" -> ((s, dir) => {
      val tr = t(s, dir, "lineitem")
        .filter(col("l_quantity") >= 49)
        .select(col("l_orderkey"), col("l_linenumber"),
          expr("unix_micros(cast(l_shipdate as timestamp)) div 86400000000")
            .as("sd"))
        .withColumn("ed", col("sd") + expr("l_orderkey % 14") + lit(1L))
      val pr = t(s, dir, "orders")
        .filter(col("o_orderkey") % 997 === 0)
        .select(col("o_orderkey").as("promo_key"),
          expr("unix_micros(cast(o_orderdate as timestamp)) div 86400000000")
            .as("ps"))
        .withColumn("pe", col("ps") + lit(30L))
      RangeJoin.intervalOverlap(tr, pr, "sd", "ed", "ps", "pe",
        OverlapBinDays)
        .select("l_orderkey", "l_linenumber", "promo_key")
        .orderBy("l_orderkey", "l_linenumber", "promo_key")
    }),

    // Leakage-free dataset split: train/val/test assigned per NEAR-DUP
    // COMPONENT (q27 pairs -> connected components; singletons are their
    // own component), so near-duplicates can never straddle a split — the
    // contamination mode a per-document split (q47) cannot prevent.
    // Distinct-before-count for the component tally (3 hot split keys).
    "q149_leakage_free_split" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val labels = DedupGroups
        .connectedComponents(Dedup.jaccardPairs(docs, LeakageJaccardT))
        .withColumnRenamed("id", "doc_id")
      val comp = docs.select(col("doc_id"))
        .join(labels, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("component"), col("doc_id")).as("component"))
      val split = comp.withColumn("split",
        Sampling.splitAssign(col("component"), LeakageSplits))
      val nDocs = split.groupBy("split").agg(count(lit(1)).as("n_docs"))
      val nComp = split.select("split", "component").distinct()
        .groupBy("split").agg(count(lit(1)).as("n_components"))
      nDocs.join(nComp, "split").orderBy("split")
    }),

    // Distributed fill-forward: each event carries the same user's most
    // recent purchase value (null before the first purchase) — q39's
    // as-of signal, computed WITHOUT the per-user window so a hot user
    // cannot serialize into one task. Aggregated per user in exact
    // integer cents so every filled row contributes to the hash.
    "q150_fill_forward" -> ((s, dir) => {
      val ev = events(s, dir).select(
        col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("tsu"),
        when(col("event_type") === "purchase",
          Stats.cents(col("value"))).as("v"))
      GlobalOrder.withFillForward(ev, "user_id", "tsu", "v",
        Seq(col("event_id")))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          count(col("filled")).as("n_filled"),
          sum("filled").as("filled_cents"))
        .orderBy("user_id")
    }),

    // Exact per-group median under group skew: global ranks over
    // (group, value, tie) + a rank-equi-join for the middle order
    // statistics — no per-group percentile buffer, no per-group window
    // sort (l_returnflag is 3 hot groups, the adversary).
    "q151_group_median" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select(col("l_returnflag"),
        Stats.cents(col("l_extendedprice")).as("pc"),
        (col("l_orderkey") * 10 + col("l_linenumber")).as("uid"))
      GlobalOrder.groupMedianOfLong(li, "l_returnflag", "pc",
        Seq(col("uid")))
        .orderBy("l_returnflag")
    }),

    // Hot-key-safe as-of join (q54's semantics through the fill-forward
    // range shuffle instead of the per-key window): every purchase gets
    // the same user's latest click id at-or-before it.
    "q152_asof_scalable" -> ((s, dir) => {
      val ev = events(s, dir).withColumn("ts_us", unix_micros(col("ts")))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts_us")
      val clicks = ev.filter(col("event_type") === "click")
        .groupBy(col("user_id"), col("ts_us").as("click_us"))
        .agg(max("event_id").as("click_id"))
      graft.ext.AsofJoin.leftAsofBig(purchases, clicks, "user_id",
        "ts_us", "click_us", "click_id")
        .select("event_id", "user_id", "ts_us", "click_id")
        .orderBy("event_id")
    }),

    // Rolling 7-day purchase totals per user — the feature-engineering
    // window — as T(day) − T(day−7): per-key running total (boundary-
    // stitch scan) probed at day−7 by the hot-key-safe as-of join. No
    // per-user window anywhere; RANGE-frame oracle.
    "q153_rolling_window" -> ((s, dir) => {
      val daily = events(s, dir)
        .filter(col("event_type") === "purchase")
        .groupBy(col("user_id"),
          expr("unix_micros(ts) div 86400000000").as("day"))
        .agg(sum(Stats.cents(col("value"))).as("daily_cents"))
      // cum feeds both as-of sides UNCACHED — deliberately: the
      // downstream jobs re-read its shuffle files (a constant-factor
      // re-sort), while materializing the row set made storage compete
      // with the range sorters (measured on rolling_hot_key at 100M:
      // ratio 1.15 uncached vs 3.19 checkpointed — the GlobalOrder
      // lessons 1-2 cliff, re-confirmed for compositions).
      val cum = GlobalOrder.withRunningTotalPerKey(daily, "user_id",
        "day", "daily_cents", Seq.empty, out = "cum_cents")
      val probes = cum.select(col("user_id"),
        (col("day") - 7L).as("probe_day"),
        col("day"), col("daily_cents"), col("cum_cents"))
      val ref = cum.select(col("user_id"), col("day").as("ref_day"),
        col("cum_cents").as("cum_ref"))
      graft.ext.AsofJoin.leftAsofBig(probes, ref, "user_id",
        "probe_day", "ref_day", "cum_ref")
        .select(col("user_id"), col("day"), col("daily_cents"),
          (col("cum_cents") - coalesce(col("cum_ref"), lit(0L)))
            .as("rolling7_cents"))
        .orderBy("user_id", "day")
    }),

    // Rolling 7-day DISTINCT active users (WAU) per event type. A
    // rolling distinct looks like it needs the full window's id set as
    // state, but decomposes into bounded-state passes: a user counts at
    // day t iff some event day d ∈ [t−6, t], i.e. iff the union of that
    // user's coverage intervals [d, d+6] contains t. (1) merge each
    // (type, user)'s event days into disjoint intervals — an array fold
    // whose state is bounded by the CALENDAR (distinct days), never by
    // event volume; (2) explode intervals to ±1 boundary deltas and
    // sweep them with the per-key running total (the key is the event
    // type — few and therefore always hot, exactly what the
    // boundary-stitch scan tolerates); (3) read the coverage count at
    // each observed (type, day) with the hot-key-safe as-of join.
    // No per-key window, no distinct-set state. Join-based oracle.
    "q154_rolling_wau" -> ((s, dir) => {
      val W = 6L
      val ed = events(s, dir).select(col("event_type"), col("user_id"),
          expr("unix_micros(ts) div 86400000000").as("day"))
        .distinct()
      // dense long ids for the sweep key: event types are tiny by
      // contract (an enum), so the distinct set collects to the driver
      // (the sanctioned tiny-aggregate materialization — no global
      // window, deterministic via the sort).
      val types = ed.select("event_type").distinct()
        .collect().map(_.getString(0)).sorted
      val dim = broadcast(s.createDataFrame(
        types.zipWithIndex.map { case (t, i) => (t, i.toLong) }.toSeq)
        .toDF("event_type", "etype_id"))
      val edi = ed.join(dim, "event_type")
        .select(col("etype_id"), col("user_id"), col("day"))
      val runs = edi.groupBy("etype_id", "user_id")
        .agg(sort_array(collect_set(col("day"))).as("ds"))
      // run starts: first day, or a day more than W after its
      // predecessor; run ends: last day (+W = interval end). Kept
      // intervals never overlap within a user, so coverage counts each
      // user at most once per day.
      val starts = runs.select(col("etype_id"),
        explode(filter(col("ds"),
          (d, i) => i === 0 || d > get(col("ds"), i - 1) + W)).as("day"),
        lit(1L).as("delta"))
      val ends = runs.select(col("etype_id"),
        explode(transform(filter(col("ds"),
            (d, i) => i === size(col("ds")) - 1 ||
              get(col("ds"), i + 1) > d + W),
          d => d + W + 1)).as("day"),
        lit(-1L).as("delta"))
      val deltas = starts.union(ends)
        .groupBy("etype_id", "day").agg(sum("delta").as("delta"))
      val cover = GlobalOrder.withRunningTotalPerKey(deltas, "etype_id",
        "day", "delta", Seq.empty, out = "cover")
      val probes = edi.select("etype_id", "day").distinct()
      graft.ext.AsofJoin.leftAsofBig(probes,
          cover.select(col("etype_id"), col("day").as("ref_day"),
            col("cover")),
          "etype_id", "day", "ref_day", "cover")
        .join(dim, "etype_id")
        .select(col("event_type"), col("day"),
          coalesce(col("cover"), lit(0L)).as("wau7"))
        .orderBy("event_type", "day")
    }),

    // Inter-event gap per user (time since the user's previous event) —
    // the window-nav LAG that serializes a hot user's timeline into one
    // task — via the boundary-stitch per-key lag. (ts, event_id) breaks
    // exact-timestamp ties identically on both sides.
    "q155_event_gaps" -> ((s, dir) => {
      val ev = events(s, dir)
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"))
      GlobalOrder.withLagPerKey(ev, "user_id", "ts_us",
          "ts_us", Seq(col("event_id")), out = "prev_us")
        .select(col("event_id"), col("user_id"), col("ts_us"),
          (col("ts_us") - col("prev_us")).as("gap_us"))
        .orderBy("event_id")
    }),

    // Personalized PageRank over the q123 trade graph, seeded at every
    // 20th customer — the trusted-seed quality-propagation signal
    // (random-walk proximity to a vetted set). Same integer micro-unit
    // arithmetic as q123; the oracle unrolls the seeded recursion.
    "q156_seeded_pagerank" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val edges = TradeGraph.edges(o, t(s, dir, "lineitem"))
      val seeds = o.filter(col("o_custkey") % 20 === 0)
        .select(TradeGraph.customer(col("o_custkey")).as("node"))
      Graph.personalizedPagerankInt(edges, seeds, iterations = 3)
        .select(TradeGraph.decode("node").as("node"), col("rank"))
        .orderBy("node")
    }),

    // C4-style corpus-level boilerplate removal: drop every 3-token
    // segment shared by >= 2 documents, reassemble the survivors.
    "q157_segment_dedup" -> ((s, dir) =>
      TextAnalysis.dedupSegments(t(s, dir, "documents"),
          segTokens = 3, minDocs = 2)
        .orderBy("doc_id")),

    // Semi-supervised label propagation over the co-trade graph: every
    // 10th customer is "human-labeled" with its market segment; two
    // synchronous majority-vote rounds label suppliers, then the rest.
    "q158_label_propagation" -> ((s, dir) => {
      // the majority vote and its lexicographic label tiebreak never
      // order by node, so the long node ids are result-invisible
      val edges = TradeGraph.edges(t(s, dir, "orders"), t(s, dir, "lineitem"))
      val seeds = t(s, dir, "customer")
        .filter(col("c_custkey") % 10 === 0)
        .select(TradeGraph.customer(col("c_custkey")).as("node"),
          col("c_mktsegment").as("label"))
      Graph.labelPropagation(edges, seeds, rounds = 2)
        .withColumn("node", TradeGraph.decode("node"))
        .orderBy("node")
    }),

    // Exact per-type p95 of the event value (cents), hot-group-safe:
    // global ranks + one equi-join on the picked rank — no per-group
    // window, no percentile buffer.
    "q159_group_p95" -> ((s, dir) => {
      val ev = events(s, dir).select(col("event_type"),
        Stats.cents(col("value")).as("value_cents"),
        col("event_id"))
      GlobalOrder.groupQuantileOfLong(ev, "event_type", "value_cents",
          pPct = 95, Seq(col("event_id")), out = "p95_cents")
        .orderBy("event_type")
    }),

    // First 20 events per user, hot-user-safe: rank = boundary-stitch
    // running count, no per-group window (capPerGroup's caveat closed).
    "q160_cap_per_user" -> ((s, dir) => {
      val ev = events(s, dir).select(col("user_id"),
        unix_micros(col("ts")).as("tsu"), col("event_id"),
        col("event_type"))
      Sampling.capPerGroupBig(ev, "user_id", "tsu", n = 20,
          Seq(col("event_id")))
        .orderBy("user_id", "tsu", "event_id")
    }),

    // SCD-2 history via boundary-stitch ranks + uniform (key, rank)
    // self-joins — q108's semantics with no per-key window; the oracle
    // IS q108's window formulation.
    "q161_scd2_big" -> ((s, dir) => {
      val changes = Readers.eventsNanos(s, dir)
        .select(col("user_id"), expr("ts div 1000").as("ver_us"),
          col("event_type"))
      Warehouse.scd2HistoryBig(changes, "user_id", "ver_us",
          Seq("event_type"))
        .select(col("user_id"), col("event_type"), col("valid_from"),
          col("valid_to"), col("is_current"))
        .orderBy("user_id", "valid_from")
    }),

    // Top-25 corpus vocabulary + per-document OOV rate (the tokenizer-
    // coverage curation signal); vocab is broadcast, never shuffled.
    "q162_vocab_oov" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      TextAnalysis.oovStats(docs, TextAnalysis.vocabulary(docs, 25))
        .orderBy("doc_id")
    })
  )

  val oracleSql: Map[String, String] = Map(

    "q147_sessionize_scalable" ->
      s"""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tsu,
                 CAST(floor(value * 100 + 0.5) AS BIGINT) AS value_cents
               FROM events),
          g AS (SELECT user_id, event_id, tsu, value_cents,
                  CASE WHEN lag(tsu) OVER w IS NULL
                       OR tsu - lag(tsu) OVER w > $SessionGapUs
                       THEN 1 ELSE 0 END AS brk
                FROM e
                WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id)),
          s AS (SELECT user_id, tsu, value_cents,
                  CAST(sum(brk) OVER (ORDER BY user_id, tsu, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS session_id
                FROM g)
          SELECT session_id, user_id, count(*) AS n_events,
                 min(tsu) AS start_us, max(tsu) AS end_us,
                 CAST(sum(value_cents) AS BIGINT) AS value_cents
          FROM s GROUP BY 1, 2 ORDER BY session_id""",

    "q148_interval_overlap" ->
      """WITH tr AS (SELECT l_orderkey, l_linenumber,
                epoch_us(l_shipdate) // 86400000000 AS sd,
                epoch_us(l_shipdate) // 86400000000
                  + l_orderkey % 14 + 1 AS ed
              FROM lineitem WHERE l_quantity >= 49),
          pr AS (SELECT o_orderkey AS promo_key,
                epoch_us(o_orderdate) // 86400000000 AS ps,
                epoch_us(o_orderdate) // 86400000000 + 30 AS pe
              FROM orders WHERE o_orderkey % 997 = 0)
          SELECT l_orderkey, l_linenumber, promo_key
          FROM tr JOIN pr ON sd < pe AND ps < ed
          ORDER BY l_orderkey, l_linenumber, promo_key""",

    "q149_leakage_free_split" -> {
      val pairsSql = ExtensionQueries.oracleSql("q27_dedup_jaccard")
      s"""WITH RECURSIVE pr AS (SELECT doc_a, doc_b FROM ($pairsSql) t),
            e AS (SELECT doc_a AS a, doc_b AS b FROM pr
                  UNION SELECT doc_b, doc_a FROM pr),
            nodes AS (SELECT DISTINCT a AS id FROM e),
            reach(id, m) AS (
              SELECT id, id FROM nodes
              UNION
              SELECT e.a, reach.m FROM e JOIN reach ON e.b = reach.id),
            comp0 AS (SELECT id AS doc_id, min(m) AS component
                      FROM reach GROUP BY 1),
            comp AS (SELECT d.doc_id,
                            coalesce(c.component, d.doc_id) AS component
                     FROM documents d
                     LEFT JOIN comp0 c ON d.doc_id = c.doc_id),
            sp AS (SELECT component,
                     CASE WHEN CAST(('0x' ||
                         substr(md5(CAST(component AS VARCHAR)), 1, 15))
                         AS BIGINT) % 10000 < 8000 THEN 'train'
                       WHEN CAST(('0x' ||
                         substr(md5(CAST(component AS VARCHAR)), 1, 15))
                         AS BIGINT) % 10000 < 9000 THEN 'val'
                       ELSE 'test' END AS split
                   FROM comp)
          SELECT split, count(*) AS n_docs,
                 CAST(count(DISTINCT component) AS BIGINT) AS n_components
          FROM sp GROUP BY 1 ORDER BY split"""
    },

    "q150_fill_forward" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tsu,
                 CASE WHEN event_type = 'purchase'
                      THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
                 END AS v
               FROM events),
          f AS (SELECT user_id,
                  last_value(v IGNORE NULLS) OVER (
                    PARTITION BY user_id ORDER BY tsu, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS filled
                FROM e)
          SELECT user_id, count(*) AS n_events,
                 count(filled) AS n_filled,
                 CAST(sum(filled) AS BIGINT) AS filled_cents
          FROM f GROUP BY 1 ORDER BY user_id""",

    "q151_group_median" ->
      """WITH x AS (SELECT l_returnflag,
                CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS pc
              FROM lineitem)
          SELECT l_returnflag, count(*) AS n,
                 quantile_cont(pc, 0.5) AS median
          FROM x GROUP BY 1 ORDER BY l_returnflag""",

    "q152_asof_scalable" ->
      """WITH e AS (SELECT event_id, user_id, event_type,
                           epoch_us(ts) AS ts_us FROM events),
            p AS (SELECT event_id, user_id, ts_us
                  FROM e WHERE event_type = 'purchase'),
            c AS (SELECT user_id, ts_us AS click_us,
                         CAST(max(event_id) AS BIGINT) AS click_id
                  FROM e WHERE event_type = 'click' GROUP BY 1, 2)
         SELECT p.event_id, p.user_id, p.ts_us, c.click_id
         FROM p ASOF LEFT JOIN c
           ON p.user_id = c.user_id AND p.ts_us >= c.click_us
         ORDER BY p.event_id""",

    "q153_rolling_window" ->
      """WITH daily AS (
           SELECT user_id, epoch_us(ts) // 86400000000 AS day,
                  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS daily_cents
           FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
         SELECT user_id, day, daily_cents,
                CAST(sum(daily_cents) OVER (PARTITION BY user_id
                  ORDER BY day RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS rolling7_cents
         FROM daily ORDER BY user_id, day""",

    "q154_rolling_wau" ->
      """WITH ed AS (
           SELECT DISTINCT event_type, user_id,
                  epoch_us(ts) // 86400000000 AS day
           FROM events),
         d AS (SELECT DISTINCT event_type, day FROM ed)
         SELECT d.event_type, d.day,
                CAST(count(DISTINCT e.user_id) AS BIGINT) AS wau7
         FROM d JOIN ed e ON e.event_type = d.event_type
           AND e.day BETWEEN d.day - 6 AND d.day
         GROUP BY 1, 2 ORDER BY 1, 2""",

    "q155_event_gaps" ->
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us
                    FROM events)
         SELECT event_id, user_id, ts_us,
                ts_us - lag(ts_us) OVER (PARTITION BY user_id
                  ORDER BY ts_us, event_id) AS gap_us
         FROM e ORDER BY event_id""",

    "q156_seeded_pagerank" -> {
      def iter(prev: String, cur: String): String =
        s"""c$cur AS (SELECT e.dst AS node,
                      sum(($prev.rank // od.outdeg)) AS csum
               FROM e JOIN $prev ON e.src = $prev.node
                      JOIN od ON od.node = e.src
               GROUP BY 1),
           $cur AS (SELECT n.node,
                      CAST((CASE WHEN n.is_seed THEN 150000 ELSE 0 END)
                        + (85 * coalesce(c$cur.csum, 0)) // 100
                        AS BIGINT) AS rank
               FROM n2 n LEFT JOIN c$cur ON n.node = c$cur.node)"""
      s"""WITH b AS (SELECT DISTINCT 'c:' || o_custkey AS c,
                            's:' || l_suppkey AS sup
                     FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
          e AS (SELECT c AS src, sup AS dst FROM b
                UNION ALL
                SELECT sup AS src, c AS dst FROM b),
          nodes AS (SELECT DISTINCT src AS node FROM e
                    UNION SELECT DISTINCT dst FROM e),
          od AS (SELECT src AS node, count(*) AS outdeg FROM e GROUP BY 1),
          sd AS (SELECT DISTINCT 'c:' || o_custkey AS node FROM orders
                 WHERE o_custkey % 20 = 0),
          n2 AS (SELECT n.node, sd.node IS NOT NULL AS is_seed
                 FROM nodes n LEFT JOIN sd ON n.node = sd.node),
          r0 AS (SELECT node,
                   CAST(CASE WHEN is_seed THEN 1000000 ELSE 0 END
                     AS BIGINT) AS rank
                 FROM n2),
          ${iter("r0", "r1")},
          ${iter("r1", "r2")},
          ${iter("r2", "r3")}
          SELECT node, rank FROM r3 ORDER BY node"""
    },

    "q157_segment_dedup" ->
      raw"""WITH w AS (SELECT doc_id,
                   $tokSql AS w
                 FROM documents),
          b AS (SELECT doc_id, w, (len(w) - 1) // 3 + 1 AS n_segs FROM w),
          s AS (SELECT doc_id, i AS seg_id,
                       array_to_string(w[i*3+1 : i*3+3], ' ') AS seg
                FROM (SELECT doc_id, w,
                             unnest(generate_series(0,
                               CAST(n_segs - 1 AS BIGINT))) AS i
                      FROM b)),
          hot AS (SELECT h
                  FROM (SELECT DISTINCT md5(seg) AS h, doc_id FROM s)
                  GROUP BY h HAVING count(*) >= 2),
          kept AS (SELECT s.doc_id, s.seg_id, s.seg
                   FROM s LEFT JOIN hot ON md5(s.seg) = hot.h
                   WHERE hot.h IS NULL),
          r AS (SELECT doc_id, count(*) AS segs_kept,
                       string_agg(seg, ' ' ORDER BY seg_id) AS clean_text
                FROM kept GROUP BY doc_id)
          SELECT b.doc_id,
                 coalesce(r.clean_text, '') AS clean_text,
                 CAST(coalesce(r.segs_kept, 0) AS BIGINT) AS segs_kept,
                 CAST(b.n_segs - coalesce(r.segs_kept, 0) AS BIGINT)
                   AS segs_removed
          FROM b LEFT JOIN r ON b.doc_id = r.doc_id
          ORDER BY b.doc_id""",

    "q158_label_propagation" -> {
      def round(prev: String, cur: String): String =
        s"""v$cur AS (SELECT e.dst AS node, $prev.label AS label,
                      count(*) AS cnt
               FROM e JOIN $prev ON e.src = $prev.node
               WHERE $prev.label IS NOT NULL GROUP BY 1, 2),
           w$cur AS (SELECT node,
                      (min(struct_pack(a := -cnt, b := label))).b AS vote
               FROM v$cur GROUP BY 1),
           $cur AS (SELECT n2.node, coalesce(n2.slabel, w$cur.vote) AS label
               FROM n2 LEFT JOIN w$cur ON n2.node = w$cur.node)"""
      s"""WITH b AS (SELECT DISTINCT 'c:' || o_custkey AS c,
                            's:' || l_suppkey AS sup
                     FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
          e AS (SELECT c AS src, sup AS dst FROM b
                UNION ALL
                SELECT sup AS src, c AS dst FROM b),
          nodes AS (SELECT DISTINCT src AS node FROM e
                    UNION SELECT DISTINCT dst FROM e),
          sd AS (SELECT 'c:' || c_custkey AS node,
                        min(c_mktsegment) AS slabel
                 FROM customer WHERE c_custkey % 10 = 0 GROUP BY 1),
          n2 AS (SELECT n.node, sd.slabel
                 FROM nodes n LEFT JOIN sd ON n.node = sd.node),
          r0 AS (SELECT node, slabel AS label FROM n2),
          ${round("r0", "r1")},
          ${round("r1", "r2")}
          SELECT node, label FROM r2 ORDER BY node"""
    },

    "q159_group_p95" ->
      """WITH e AS (SELECT event_type,
                 CAST(floor(value * 100 + 0.5) AS BIGINT) AS value_cents,
                 event_id
               FROM events),
          r AS (SELECT event_type, value_cents,
                 row_number() OVER (PARTITION BY event_type
                   ORDER BY value_cents, event_id) AS rn,
                 count(*) OVER (PARTITION BY event_type) AS n
               FROM e)
          SELECT event_type, CAST(n AS BIGINT) AS n,
                 value_cents AS p95_cents
          FROM r WHERE rn = ((n - 1) * 95) // 100 + 1
          ORDER BY event_type""",

    "q160_cap_per_user" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS tsu, event_id,
                 event_type FROM events),
          r AS (SELECT *, row_number() OVER (PARTITION BY user_id
                 ORDER BY tsu, event_id) AS rn FROM e)
          SELECT user_id, tsu, event_id, event_type
          FROM r WHERE rn <= 20
          ORDER BY user_id, tsu, event_id""",

    "q161_scd2_big" ->
      """WITH c AS (SELECT user_id, epoch_us(ts) AS ver_us, event_type,
                           lag(event_type) OVER w AS prev,
                           lag(epoch_us(ts)) OVER w AS prev_ver
                    FROM events
                    WINDOW w AS (PARTITION BY user_id
                                 ORDER BY epoch_us(ts))),
          ch AS (SELECT user_id, ver_us, event_type FROM c
                 WHERE prev_ver IS NULL
                    OR prev IS DISTINCT FROM event_type)
          SELECT user_id, event_type, ver_us AS valid_from,
                 lead(ver_us) OVER (PARTITION BY user_id ORDER BY ver_us)
                   AS valid_to,
                 lead(ver_us) OVER (PARTITION BY user_id ORDER BY ver_us)
                   IS NULL AS is_current
          FROM ch ORDER BY user_id, valid_from""",

    "q162_vocab_oov" ->
      s"""WITH toks AS (SELECT doc_id, unnest($tokSql) AS tok
                        FROM documents),
          vocab AS (SELECT tok FROM (SELECT tok, count(*) AS cnt
                    FROM toks GROUP BY 1)
                    ORDER BY cnt DESC, tok LIMIT 25),
          j AS (SELECT t.doc_id, v.tok AS vtok
                FROM toks t LEFT JOIN vocab v ON t.tok = v.tok)
          SELECT doc_id, count(*) AS n_tokens,
                 CAST(sum(CASE WHEN vtok IS NULL THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_oov,
                 CAST(sum(CASE WHEN vtok IS NULL THEN 1 ELSE 0 END) * 100
                   AS DOUBLE) / count(*) AS oov_pct
          FROM j GROUP BY doc_id ORDER BY doc_id"""
  )
}
