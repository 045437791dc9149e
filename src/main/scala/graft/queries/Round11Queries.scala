package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.{Audits, Readers, Warehouse}
import graft.ext.{Analytics, AsofJoin, Checkpoints, GlobalOrder, Graph, IvfIndex, Stats, TextAnalysis}
import OracleSql.{centsSql, tokSql}
import Tables.{eventsUs, t}

/** Round-11 batch (q182–q201): experimentation / IR / lifecycle
  * analyses composed from the scalable primitives — audience overlap,
  * BFS reachability, reciprocal-rank fusion, time-windowed funnels,
  * multi-touch attribution, Welch A/B testing, incremental SCD-2
  * merge, a BPE merge census, market-basket lift, point-in-time
  * feature assembly, session-path mining, FD audits, label-confusion
  * via learned centroids (dynamic oracle), half-life decay scoring,
  * JL sign projection, and tombstone deletes with an auditor's proof.
  * Floats in compared columns follow the q110 discipline (exact
  * integer aggregates, or one fixed IEEE formula mirrored verbatim in
  * the oracle).
  */
object Round11Queries extends QuerySet {

  /** q183 BFS depth budget. */
  private val BfsMaxDepth = 3

  /** q184 RRF smoothing constant (the original paper's k). */
  private val RrfK = 60

  /** q185/q186 window: 1 hour in epoch micros. */
  private val HourUs = 3600000000L

  /** q188 append cutoff: 2024-01-25T00:00:00Z in epoch micros — the
    * standing/delta split point (every testdata events vintage spans
    * Jan 2024, so the delta is the realistic ~20% nightly tail).
    */
  private val Scd2CutoffUs = 1706140800000000L

  /** q190 basket cap and minimum pair support. */
  private val BasketCap = 10
  private val MinPairBaskets = 20

  /** q192 session gap (30 min, matching q38/q147) and path truncation. */
  private val SessionGapUs = 30L * 60 * 1000000
  private val PathLen = 5

  /** q194 fixed-point grid for centroid learning (q169's scale). */
  private val CentScale = 65536

  /** q195 decay reference instant (2024-02-01T00:00:00Z — just past the
    * corpus), half-life (3 days), and exponent clamp.
    */
  private val DecayRefUs = 1706745600000000L
  private val DecayHalfLifeUs = 259200000000L
  private val DecayMaxK = 15

  /** q196 projection dims. */
  private val RpDimIn = 8
  private val RpDimOut = 4

  /** q194 label centroids: per-label mean of the 8-dim embeddings,
    * learned ONCE per sfDir from exact fixed-point integer sums (so the
    * centroid doubles are identical across evaluations under any
    * partitioning), divided on the driver in one fixed order. Returns
    * the sorted label list and the centroid matrix in that order.
    */
  private val labelCentroidCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Seq[Long], Seq[Seq[Double]])]
  /** Cheap content fingerprint of the embeddings table's files (sorted
    * relative path + size + mtime): the cache key carries it so a
    * REGENERATED table (the driver rewrote testdata mid-session in
    * round 10) invalidates the cached model instead of silently scoring
    * new data against stale centroids. One directory listing per
    * evaluation — no data read.
    */
  private[graft] def embeddingsFingerprint(dir: String): String = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(dir).resolve("embeddings.parquet")
    if (!java.nio.file.Files.exists(root)) "absent"
    else {
      val walk = java.nio.file.Files.walk(root)
      try {
        val parts = walk.iterator().asScala
          .filter(java.nio.file.Files.isRegularFile(_))
          .map(p => s"${root.relativize(p)}:${java.nio.file.Files.size(p)}:" +
            s"${java.nio.file.Files.getLastModifiedTime(p).toMillis}")
          .toSeq.sorted
        java.security.MessageDigest.getInstance("MD5")
          .digest(parts.mkString("\n").getBytes("UTF-8"))
          .map(b => f"$b%02x").mkString
      } finally walk.close()
    }
  }
  private[graft] def labelCentroids(s: SparkSession,
                             dir: String): (Seq[Long], Seq[Seq[Double]]) =
    labelCentroidCache.computeIfAbsent(
      s"$dir|${embeddingsFingerprint(dir)}", _ => {
      val rows = Readers.table(s, dir, "embeddings")
        .select(col("label").cast("long").as("l"),
          posexplode(col("embedding")).as(Seq("i", "x")))
        .groupBy("l", "i")
        .agg(sum(floor(col("x").cast("double") * CentScale + 0.5)
          .cast("long")).as("sx"), count(lit(1)).as("n"))
        .collect()
      val byLabel = rows.groupBy(_.getLong(0)).toSeq.sortBy(_._1)
      val labels = byLabel.map(_._1)
      val cents = byLabel.map { case (_, rs) =>
        rs.sortBy(_.getInt(1)).toSeq.map(r =>
          (r.getLong(2).toDouble / CentScale) / r.getLong(3))
      }
      (labels, cents)
    })

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Exact audience-overlap matrix between event types: membership is
    // dedup'd to (type, user) FIRST, so the per-user self-join fans out
    // at most |types|² rows per user (bounded by the alphabet, never by
    // event volume) and every count is combinable — where the naive
    // count(distinct) over a fact-table self-join would shuffle the raw
    // log twice. Jaccard is one IEEE division over exact integers.
    "q182_audience_overlap" -> ((s, dir) =>
      Analytics.audienceOverlap(eventsUs(s, dir), "event_type", "user_id")
        .orderBy("grp_a", "grp_b")),

    // Minimum hop distance from a seed supplier set over the symmetrized
    // customer–supplier co-order graph (q123's edge set): frontier BFS
    // with O(V) state — each node expands exactly once, where the
    // oracle's recursive CTE re-derives (node, depth) pairs and dedups.
    // "Within k links of a trusted node" is the graph-trust curation
    // gate at corpus scale.
    "q183_bfs_hops" -> ((s, dir) => {
      // on long node ids the frontier's broadcast-bytes estimate uses the
      // fixed numeric key width
      val edges = TradeGraph.edges(t(s, dir, "orders"), t(s, dir, "lineitem"))
      val seeds = t(s, dir, "supplier")
        .filter(col("s_suppkey") % 10 === 0)
        .select(TradeGraph.supplier(col("s_suppkey")).as("node"))
      Graph.bfsHops(edges, seeds, BfsMaxDepth)
        .withColumn("node", TradeGraph.decode("node"))
        .orderBy("node")
    }),

    // Reciprocal-rank fusion of a length ranking and a lexical-diversity
    // ranking of the corpus — the calibration-free way to combine two
    // retrieval/quality signals. Both rankings are range-shuffle global
    // row numbers (no global window anywhere); the fusion is one
    // co-keyed join and a fixed-order two-term IEEE sum.
    "q184_rrf_fusion" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val byLen = GlobalOrder.withRowNumber(
        docs.select(col("doc_id"), col("n_chars")),
        Seq(col("n_chars").desc, col("doc_id")), out = "rn")
      val byDiv = GlobalOrder.withRowNumber(
        docs.select(col("doc_id"),
          size(array_distinct(graft.functions.Portable.wsTokens(col("text"))))
            .cast("long").as("nd")),
        Seq(col("nd").desc, col("doc_id")), out = "rn")
      Analytics.rrfFuse2(byLen.select("doc_id", "rn"),
          byDiv.select("doc_id", "rn"), "doc_id", "rn", RrfK)
        .orderBy(desc("rrf"), asc("doc_id")).limit(50)
    }),

    // Per-event time-windowed funnel (click → purchase within 1 h): the
    // strictly-after next-purchase comes from a FORWARD as-of join
    // (leftAsofBig on negated time — range shuffle, hot-user-safe),
    // never a per-key window or a |A|×|B| range-join fan-out; q42's
    // lifetime funnel answers only the weaker "ever, in order".
    "q185_funnel_within" -> ((s, dir) => {
      val ev = eventsUs(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select("user_id", "tsu", "event_id")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("user_id", "tsu")
      Analytics.nextEventWithin(clicks, purchases, "user_id", "tsu",
          HourUs, "conv_ts")
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_clicks"),
          count(col("conv_ts")).as("n_converted"),
          min(col("conv_ts") - col("tsu")).as("min_lag_us"))
        .orderBy("user_id")
    }),

    // Linear multi-touch attribution: each purchase's revenue split
    // equally (exact integer micro-units, identical truncation on both
    // engines) across the user's non-purchase touches in the prior
    // hour. Matching is the KEYED binned range join — a hot user's
    // candidates spread across time bins, never one task — and the
    // credit join is co-partitioned on the conversion id.
    "q186_linear_attribution" -> ((s, dir) => {
      val ev = eventsUs(s, dir)
      val touches = ev.filter(col("event_type") =!= "purchase")
        .select("user_id", "tsu", "event_type")
      val convs = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("cu"), col("tsu").as("cts"),
          col("event_id").as("conv_id"),
          Stats.cents(col("value"), 1000000).as("rev_micro"))
      Analytics.linearAttribution(touches, convs, "user_id", "tsu",
          "event_type", "cu", "cts", "conv_id", "rev_micro",
          lookbackUs = HourUs, binUs = HourUs)
        .orderBy("event_type")
    }),

    // Welch two-sample t per event type between hash cohorts (the A/B
    // readout): exact integer (n, Σx, Σx²) per cohort from ONE
    // combinable pass, one fixed IEEE formula for the statistic —
    // bit-identical on any engine, no per-group window, no join.
    "q187_welch_t" -> ((s, dir) =>
      Stats.welchT(eventsUs(s, dir), "event_type",
          col("user_id") % 2 === 0, Stats.cents(col("value")))
        .orderBy("event_type")),

    // Incremental SCD-2 merge: a standing history built from the first
    // ~24 days of the change stream absorbs the remaining days as an
    // APPEND delta batch (every delta version after the cutoff — the
    // scd2Merge contract) — cost O(delta + touched keys' history),
    // untouched keys pass through. The oracle rebuilds from the FULL
    // stream, so the gate proves merge ≡ rebuild (the q168 discipline,
    // for Type-2 dimensions).
    "q188_scd2_merge" -> ((s, dir) => Checkpoints.scoped { scope =>
      val changes = Readers.eventsNanos(s, dir)
        .select(col("user_id"), expr("ts div 1000").as("ver_us"),
          col("event_type"))
      // The standing history fans out inside scd2Merge — the untouched
      // anti-join, the touched-slice join, AND the eager span-contract
      // check each re-derive it, so the in-query build (two rank passes
      // + two joins over the pre-cutoff stream) ran 3x. One eager
      // localCheckpoint materializes it once (round 19, §2.4/§5) —
      // mirroring production, where the standing history IS a stored
      // table, not a per-query rebuild. A leaf of the returned plan.
      val standing = scope.checkpoint(Warehouse.scd2HistoryBig(
        changes.filter(col("ver_us") <= Scd2CutoffUs), "user_id", "ver_us",
        Seq("event_type")))
      Warehouse.scd2Merge(standing,
          changes.filter(col("ver_us") > Scd2CutoffUs), "user_id", "ver_us",
          Seq("event_type"))
        .select(col("user_id"), col("event_type"), col("valid_from"),
          col("valid_to"), col("is_current"))
        .orderBy("user_id", "valid_from")
    }),

    // One deterministic BPE merge iteration over the corpus: the most
    // frequent distinct-halves adjacent pair (total-order tiebreak) and
    // each document's merge count / post-merge length. One combinable
    // pair census + a broadcast 1-row argmin; the per-doc counting is a
    // pure projection — no shuffle touches the corpus after the census.
    "q189_bpe_merge" -> ((s, dir) =>
      TextAnalysis.bpeMergeStep(t(s, dir, "documents"))
        .select(col("doc_id"), col("n_tokens"), col("n_merges"),
          col("n_tokens_after"), col("pair"), col("pair_n"))
        .orderBy("doc_id")),

    // Market-basket lift over order → brand baskets: candidate pairs
    // from the capped within-basket self-join (over-wide baskets dropped
    // at the source — the quadratic fan-out is bounded by construction),
    // supports counted over the SAME kept-basket set, lift/confidence as
    // fixed IEEE formulas that cannot overflow (double·long, never an
    // integer product).
    "q190_basket_lift" -> ((s, dir) => {
      val items = t(s, dir, "lineitem").select("l_orderkey", "l_partkey")
        .join(t(s, dir, "part").select("p_partkey", "p_brand"),
          col("l_partkey") === col("p_partkey"))
        .select(col("l_orderkey"), col("p_brand"))
      Analytics.basketLift(items, "l_orderkey", "p_brand", BasketCap,
          MinPairBaskets)
        .orderBy("item_a", "item_b")
    }),

    // Point-in-time training-set assembly (the feature-store join): for
    // every purchase label, the user's last click value and click count
    // STRICTLY before the label instant — leakage-free by construction
    // (probed at label_ts − 1 µs through the inclusive as-of). Both
    // features ride the hot-key-safe leftAsofBig; the click count is a
    // running total materialized AT click times, so "count before t"
    // becomes one as-of probe instead of a per-label range scan.
    "q191_pit_features" -> ((s, dir) => {
      val ev = eventsUs(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("tsu"),
          Stats.cents(col("value")).as("vc"))
      val labels = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), (col("tsu") - 1L).as("pts"),
          col("event_id").as("conv_id"), col("tsu").as("label_ts"))
      val f1 = AsofJoin.leftAsofBig(labels,
        clicks.select("user_id", "tsu", "vc"),
        "user_id", "pts", "tsu", "vc")
      val counts = GlobalOrder.withRunningTotalPerKey(
        clicks.withColumn("one", lit(1L)), "user_id", "tsu", "one",
        Seq.empty, out = "cum")
      val f2 = AsofJoin.leftAsofBig(f1,
        counts.select("user_id", "tsu", "cum"),
        "user_id", "pts", "tsu", "cum")
      f2.select(col("conv_id"), col("user_id"), col("label_ts"),
          col("vc").as("last_click_vc"),
          coalesce(col("cum"), lit(0L)).as("n_clicks_before"))
        .orderBy("conv_id")
    }),

    // Truncated session-path mining: sessionize (hot-user-safe range
    // shuffle), keep each session's FIRST 5 events via the bounded-state
    // top-k aggregate (never a per-session sort), pivot the 5 ranks into
    // fixed columns and count path strings — the "what do sessions look
    // like" product analysis with O(k) state per session everywhere.
    // The event-type alphabet rides through the top-k as a dictionary
    // code (the aggregate carries longs), decoded by a broadcast join.
    "q192_session_paths" -> ((s, dir) => {
      val ev = eventsUs(s, dir)
      val dim = GlobalOrder.withRowNumber(
        ev.select("event_type").distinct(), Seq(col("event_type")),
        out = "code")
      val enc = ev.join(broadcast(dim), "event_type")
        .select(col("user_id"), col("tsu"), col("event_id"), col("code"))
      val sess = GlobalOrder.withSessionId(enc, "user_id", "tsu",
        SessionGapUs, Seq(col("event_id")))
      val top = graft.functions.TopKFunctions.topkPerGroup(sess,
        Seq(col("user_id"), col("session_id")), -col("tsu"), col("code"),
        PathLen)
      val named = top
        .join(broadcast(dim.select(col("code").as("id"),
          col("event_type"))), "id")
      val pivots = (1 to PathLen).map(i =>
        min(when(col("rnk") === i, col("event_type"))).as(s"p$i"))
      named.groupBy("user_id", "session_id")
        .agg(pivots.head, pivots.tail: _*)
        .select(concat_ws(">",
          (1 to PathLen).map(i => col(s"p$i")): _*).as("path"))
        .groupBy("path").agg(count(lit(1)).as("n_sessions"))
        .orderBy(desc("n_sessions"), asc("path"))
    }),

    // Functional-dependency audit across two tables: grain checks
    // ("does the order key determine the return flag / supplier?",
    // "does the event id determine the user? the user a single type?")
    // as one (lhs, rhs) distinct + combinable per-lhs count per
    // candidate — the schema-integrity gate that catches silent grain
    // breaks before a rollup corrupts.
    "q193_fd_audit" -> ((s, dir) =>
      Audits.fdViolations(t(s, dir, "lineitem"),
          Seq(("l_orderkey", "l_returnflag"), ("l_orderkey", "l_suppkey")))
        .unionByName(Audits.fdViolations(eventsUs(s, dir),
          Seq(("event_id", "user_id"), ("user_id", "event_type"))))
        .orderBy("fd")),

    // Embedding label-quality audit: per-label mean centroids (exact
    // fixed-point sums, driver-divided once), every vector assigned to
    // its nearest centroid by the q64 squared-Euclidean argmin (codegen
    // local projection, ties to lowest cell), and the (label, predicted)
    // confusion matrix — "how separable are my labels in embedding
    // space". No shuffle touches vectors after the centroid pass; the
    // oracle is RENDERED from the same learned centroids.
    "q194_label_confusion" -> ((s, dir) => {
      val e = Readers.table(s, dir, "embeddings")
      val (labels, cents) = labelCentroids(s, dir)
      val model = IvfIndex.fromCentroids(s, e, cents)
      import s.implicits._
      val lab = labels.zipWithIndex
        .map { case (l, i) => (i, l) }
        .toDF("cell", "pred_label")
      model.assigned.select("vec_id", "cell")
        .join(e.select(col("vec_id"),
          col("label").cast("long").as("true_label")), "vec_id")
        .join(broadcast(lab), "cell")
        .groupBy("true_label", "pred_label")
        .agg(count(lit(1)).as("n"))
        .orderBy("true_label", "pred_label")
    }),

    // Half-life–decayed engagement score per user: the order-dependent
    // float decay sum re-expressed as exact per-exponent cents buckets
    // (one combinable pass, O(maxK) state) folded in a fixed order —
    // bit-identical freshness weighting, no window, no join.
    "q195_decay_score" -> ((s, dir) =>
      Stats.halfLifeScore(eventsUs(s, dir), "user_id", "tsu",
          Stats.cents(col("value")), DecayRefUs, DecayHalfLifeUs,
          DecayMaxK)
        .orderBy("user_id")),

    // Johnson–Lindenstrauss sign projection 8 → 4 (training-free dim
    // reduction for clustering/LSH prep): the ±1 matrix is a
    // deterministic MD5 function of (seed, i, j), folded into the plan
    // as CONSTANTS — one local fixed-order projection, no shuffle, full
    // codegen; the oracle renders the identical sign literals.
    "q196_random_projection" -> ((s, dir) =>
      graft.ext.Quantize.randomProjection(
          Readers.table(s, dir, "embeddings").select("vec_id", "embedding"),
          col("embedding"), RpDimIn, RpDimOut)
        .drop("embedding")
        .orderBy("vec_id")),

    // Right-to-be-forgotten: delete every lineitem of the tombstoned
    // orders (one key-only anti join — the only delete shape that holds
    // at 100 TB) and emit the per-flag survivors PLUS the deletion
    // proof an auditor asks for: a semi-join count of remaining
    // tombstoned rows, which the gate pins at 0.
    "q197_tombstone_delete" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val tomb = t(s, dir, "orders")
        .filter(col("o_orderkey") % 13 === 0).select("o_orderkey")
      val cleaned = Warehouse.deleteKeys(li, tomb, "l_orderkey",
        "o_orderkey")
      val proof = cleaned
        .join(tomb, cleaned("l_orderkey") === tomb("o_orderkey"),
          "left_semi")
        .agg(count(lit(1)).as("n_leftover"))
      cleaned.groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_rows"),
          sum(Stats.cents(col("l_quantity"))).as("qty_cents"))
        .crossJoin(broadcast(proof))
        .orderBy("l_returnflag")
    }),

    // Simpson diversity of each user's event-type mix
    // (1 − Σcᵢ²/n² — the collision-probability diversity index): two
    // combinable passes and ONE final IEEE formula over exact integers,
    // where the entropy it stands in for would be an order-dependent
    // float-log sum no hash gate could hold. The corpus-mix/monoculture
    // signal for user cohorts and data-source balance.
    "q198_type_diversity" -> ((s, dir) =>
      eventsUs(s, dir)
        .groupBy("user_id", "event_type").agg(count(lit(1)).as("c"))
        .groupBy("user_id")
        .agg(sum("c").as("n"), sum(col("c") * col("c")).as("ssq"),
          count(lit(1)).as("n_types"))
        .select(col("user_id"), col("n"), col("n_types"),
          (lit(1.0) - col("ssq").cast("double") /
            (col("n").cast("double") * col("n").cast("double")))
            .as("simpson"))
        .orderBy("user_id")),

    // Score-calibration deciles (the model-monitoring readout): clicks
    // bucketed into value deciles by the hot-safe global-rank ntile,
    // conversion = purchase within 1 h of THAT click (q185's forward
    // as-of), per-decile conversion rate as one exact-int division —
    // "is the score monotone in outcome" without a single window.
    "q199_calibration_deciles" -> ((s, dir) => {
      val ev = eventsUs(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("tsu"), col("event_id"),
          Stats.cents(col("value")).as("vc"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("user_id", "tsu")
      val conv = Analytics.nextEventWithin(clicks, purchases, "user_id",
        "tsu", HourUs, "conv_ts")
      GlobalOrder.withNtile(conv, 10, Seq(col("vc"), col("event_id")),
          out = "decile")
        .groupBy("decile")
        .agg(count(lit(1)).as("n_clicks"),
          count(col("conv_ts")).as("n_converted"))
        .select(col("decile"), col("n_clicks"), col("n_converted"),
          (col("n_converted").cast("double") / col("n_clicks"))
            .as("conv_rate"))
        .orderBy("decile")
    }),

    // Streaming materialized-view maintenance: the events file is fed
    // THREE times, one micro-batch per file (maxFilesPerTrigger = 1);
    // each batch's PARTIAL aggregate folds into the standing aggregate
    // through Warehouse.refreshAdditiveAgg — the q168 refresh run as a
    // live stream, with per-batch state the size of the AGGREGATE
    // (|event types| rows), never the stream. The oracle recomputes the
    // tripled totals from scratch, so the gate proves
    // stream-of-refreshes ≡ batch recompute.
    "q200_streaming_mv_refresh" -> ((s, dir) =>
      StreamingQueries.runEventsStream(s, dir, "q200_events", copies = 3,
          options = Map("maxFilesPerTrigger" -> "1")) { raw =>
        Checkpoints.scoped { scope =>
          var standing: Option[DataFrame] = None
          val q = raw
            .select(col("event_type"),
              Stats.cents(col("value")).as("vc"))
            .writeStream
            .foreachBatch { (batch: DataFrame, _: Long) =>
              val partial = batch.groupBy("event_type")
                .agg(count(lit(1)).as("n"), sum("vc").as("vc_sum"))
              // the fold output is materialized per batch (the input
              // DataFrame is only valid inside this callback) and the
              // previous generation's blocks are released — state held
              // between batches is |event types| rows, nothing more
              val next = scope.checkpoint(standing
                .map(st => Warehouse.refreshAdditiveAgg(st, partial,
                  Seq("event_type"), Seq("n", "vc_sum"), Some("n")))
                .getOrElse(partial))
              standing.foreach(scope.release)
              standing = Some(next)
            }
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination()
          standing.get.orderBy("event_type")
        }
      }),

    // Competing-risk funnel: for every click, the FIRST subsequent
    // event among {purchase, error} within 1 h — which outcome wins the
    // race, not merely whether one happened (q185). One forward as-of
    // carries (ts, outcome) as a single long — `tsu·4 + code` is
    // order-isomorphic to tsu because (user, tsu) is unique and
    // code < 4, so the earliest event's code rides the same
    // hot-key-safe pass; the oracle's min() over the same encoding
    // picks the identical winner. Exact integer mean lag per outcome.
    "q201_competing_risk" -> ((s, dir) => {
      val ev = eventsUs(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("tsu"), col("event_id"))
      val outcomes = ev
        .filter(col("event_type").isin("purchase", "error"))
        .select(col("user_id"), (-col("tsu")).as("__negt"),
          (col("tsu") * 4L +
            when(col("event_type") === "purchase", 1L).otherwise(2L))
            .as("enc"))
      val m = AsofJoin.leftAsofBig(
          clicks.withColumn("__nega", -(col("tsu") + lit(1L))), outcomes,
          "user_id", "__nega", "__negt", "enc")
        .drop("__nega")
        .withColumn("mts", expr("enc div 4"))
        .withColumn("outcome",
          when(col("enc").isNull || col("mts") - col("tsu") > HourUs,
            lit("none"))
            .when(col("enc") % 4 === 1L, lit("purchase"))
            .otherwise(lit("error")))
      m.groupBy("outcome")
        .agg(count(lit(1)).as("n_clicks"),
          sum(when(col("outcome") =!= "none", col("mts") - col("tsu")))
            .as("lag_us_sum"))
        .orderBy("outcome")
    })
  )

  val oracleSql: Map[String, String] = Map(

    "q182_audience_overlap" ->
      """WITH m AS (SELECT DISTINCT event_type AS g, user_id AS e
                    FROM events),
          s AS (SELECT g, count(*) AS n FROM m GROUP BY 1),
          p AS (SELECT a.g AS grp_a, b.g AS grp_b, count(*) AS n_common
                FROM m a JOIN m b ON a.e = b.e AND a.g < b.g GROUP BY 1, 2)
          SELECT p.grp_a, p.grp_b, p.n_common, sa.n AS n_a, sb.n AS n_b,
                 CAST(p.n_common AS DOUBLE) / (sa.n + sb.n - p.n_common)
                   AS jaccard
          FROM p JOIN s sa ON sa.g = p.grp_a JOIN s sb ON sb.g = p.grp_b
          ORDER BY grp_a, grp_b""",

    "q183_bfs_hops" ->
      s"""WITH RECURSIVE b AS (SELECT DISTINCT 'c:' || o_custkey AS c,
                                      's:' || l_suppkey AS sup
                               FROM orders
                               JOIN lineitem ON o_orderkey = l_orderkey),
          e AS (SELECT c AS src, sup AS dst FROM b
                UNION ALL SELECT sup, c FROM b),
          seeds AS (SELECT 's:' || s_suppkey AS node FROM supplier
                    WHERE s_suppkey % 10 = 0),
          r(node, d) AS (SELECT node, 0 AS d FROM seeds
                         UNION
                         SELECT e.dst, r.d + 1 FROM r
                         JOIN e ON e.src = r.node
                         WHERE r.d < $BfsMaxDepth)
          SELECT node, CAST(min(d) AS BIGINT) AS hops FROM r
          GROUP BY 1 ORDER BY 1""",

    "q184_rrf_fusion" ->
      s"""WITH ta AS (SELECT doc_id, row_number() OVER
                        (ORDER BY n_chars DESC, doc_id) AS rank_a
                      FROM documents),
          d AS (SELECT doc_id,
                       CAST(len(list_distinct($tokSql)) AS BIGINT) AS nd
                FROM documents),
          tb AS (SELECT doc_id, row_number() OVER
                   (ORDER BY nd DESC, doc_id) AS rank_b
                 FROM d)
          SELECT ta.doc_id, rank_a, rank_b,
                 coalesce(CAST(1 AS DOUBLE) / ($RrfK + rank_a),
                          CAST(0 AS DOUBLE)) +
                 coalesce(CAST(1 AS DOUBLE) / ($RrfK + rank_b),
                          CAST(0 AS DOUBLE)) AS rrf
          FROM ta JOIN tb USING (doc_id)
          ORDER BY rrf DESC, doc_id LIMIT 50""",

    "q185_funnel_within" ->
      s"""WITH ev AS (SELECT user_id, epoch_us(ts) AS tsu, event_type
                      FROM events),
          a AS (SELECT user_id, tsu FROM ev WHERE event_type = 'click'),
          b AS (SELECT user_id, tsu FROM ev WHERE event_type = 'purchase'),
          m AS (SELECT a.user_id, a.tsu,
                       (SELECT min(b.tsu) FROM b
                        WHERE b.user_id = a.user_id AND b.tsu > a.tsu)
                         AS nxt
                FROM a),
          c AS (SELECT user_id, tsu,
                       CASE WHEN nxt - tsu <= $HourUs THEN nxt END
                         AS conv_ts
                FROM m)
          SELECT user_id, count(*) AS n_clicks,
                 count(conv_ts) AS n_converted,
                 min(conv_ts - tsu) AS min_lag_us
          FROM c GROUP BY 1 ORDER BY 1""",

    "q186_linear_attribution" ->
      s"""WITH ev AS (SELECT user_id, epoch_us(ts) AS tsu, event_id,
                             event_type, value
                      FROM events),
          t AS (SELECT user_id, tsu, event_type FROM ev
                WHERE event_type <> 'purchase'),
          c AS (SELECT user_id, tsu AS cts, event_id AS conv_id,
                       ${centsSql("value", 1000000)} AS rev_micro
                FROM ev WHERE event_type = 'purchase'),
          m AS (SELECT c.conv_id, c.rev_micro, t.event_type
                FROM c JOIN t ON t.user_id = c.user_id
                 AND t.tsu >= c.cts - $HourUs AND t.tsu < c.cts),
          n AS (SELECT conv_id, count(*) AS nt FROM m GROUP BY 1)
          SELECT m.event_type, count(*) AS n_touches,
                 CAST(sum(m.rev_micro // n.nt) AS BIGINT)
                   AS credited_micro
          FROM m JOIN n USING (conv_id)
          GROUP BY 1 ORDER BY 1""",

    "q187_welch_t" ->
      s"""WITH ev AS (SELECT event_type, user_id,
                             ${centsSql("value")} AS x
                      FROM events),
          agg AS (SELECT event_type,
                    count(CASE WHEN user_id % 2 = 0 THEN x END) AS n_a,
                    CAST(sum(CASE WHEN user_id % 2 = 0 THEN x END)
                      AS BIGINT) AS sx_a,
                    CAST(sum(CASE WHEN user_id % 2 = 0 THEN x * x END)
                      AS BIGINT) AS sxx_a,
                    count(CASE WHEN user_id % 2 <> 0 THEN x END) AS n_b,
                    CAST(sum(CASE WHEN user_id % 2 <> 0 THEN x END)
                      AS BIGINT) AS sx_b,
                    CAST(sum(CASE WHEN user_id % 2 <> 0 THEN x * x END)
                      AS BIGINT) AS sxx_b
                  FROM ev GROUP BY 1),
          f AS (SELECT *,
                  CAST(sx_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS ma,
                  CAST(sx_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS mb,
                  (CAST(sxx_a AS DOUBLE) - CAST(sx_a AS DOUBLE)
                     * CAST(sx_a AS DOUBLE) / CAST(n_a AS DOUBLE))
                    / (CAST(n_a AS DOUBLE) - 1.0) AS va,
                  (CAST(sxx_b AS DOUBLE) - CAST(sx_b AS DOUBLE)
                     * CAST(sx_b AS DOUBLE) / CAST(n_b AS DOUBLE))
                    / (CAST(n_b AS DOUBLE) - 1.0) AS vb
                FROM agg)
          SELECT event_type, n_a, n_b, sx_a, sx_b,
                 CASE WHEN n_a >= 1 THEN ma END AS mean_a,
                 CASE WHEN n_b >= 1 THEN mb END AS mean_b,
                 CASE WHEN n_a >= 2 AND n_b >= 2
                       AND va / CAST(n_a AS DOUBLE)
                         + vb / CAST(n_b AS DOUBLE) > 0.0
                      THEN (ma - mb)
                        / sqrt(va / CAST(n_a AS DOUBLE)
                             + vb / CAST(n_b AS DOUBLE)) END AS t
          FROM f ORDER BY event_type""",

    "q188_scd2_merge" ->
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

    "q189_bpe_merge" ->
      s"""WITH w AS (SELECT doc_id, $tokSql AS w FROM documents),
          pos AS (SELECT doc_id, w, unnest(generate_series(1, len(w) - 1))
                    AS i
                  FROM w),
          bg AS (SELECT doc_id, w[i] AS w1, w[i + 1] AS w2 FROM pos),
          cnt AS (SELECT w1 || ' ' || w2 AS pair, count(*) AS pair_n
                  FROM bg WHERE w1 <> w2 GROUP BY 1),
          top AS (SELECT pair, pair_n FROM cnt
                  ORDER BY pair_n DESC, pair LIMIT 1),
          mg AS (SELECT bg.doc_id, count(*) AS n_merges
                 FROM bg, top WHERE bg.w1 || ' ' || bg.w2 = top.pair
                 GROUP BY 1),
          nt AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens FROM w)
          SELECT nt.doc_id, nt.n_tokens,
                 coalesce(mg.n_merges, 0) AS n_merges,
                 nt.n_tokens - coalesce(mg.n_merges, 0) AS n_tokens_after,
                 top.pair, top.pair_n
          FROM nt CROSS JOIN top
          LEFT JOIN mg ON nt.doc_id = mg.doc_id
          ORDER BY nt.doc_id""",

    "q190_basket_lift" ->
      s"""WITH mm AS (SELECT DISTINCT l_orderkey AS b, p_brand AS i
                      FROM lineitem
                      JOIN part ON l_partkey = p_partkey),
          kb AS (SELECT b FROM mm GROUP BY b
                 HAVING count(*) <= $BasketCap),
          k AS (SELECT mm.b, mm.i FROM mm JOIN kb USING (b)),
          nb AS (SELECT count(*) AS n_baskets FROM kb),
          itn AS (SELECT i, count(*) AS c FROM k GROUP BY 1),
          p AS (SELECT a.i AS item_a, b2.i AS item_b, count(*) AS n_ab
                FROM k a JOIN k b2 ON a.b = b2.b AND a.i < b2.i
                GROUP BY 1, 2 HAVING count(*) >= $MinPairBaskets)
          SELECT p.item_a, p.item_b, p.n_ab, ia.c AS n_a, ib.c AS n_b,
                 nb.n_baskets,
                 CAST(p.n_ab AS DOUBLE) / ia.c AS confidence,
                 CAST(p.n_ab AS DOUBLE) * nb.n_baskets
                   / (CAST(ia.c AS DOUBLE) * CAST(ib.c AS DOUBLE)) AS lift
          FROM p JOIN itn ia ON ia.i = p.item_a
          JOIN itn ib ON ib.i = p.item_b
          CROSS JOIN nb ORDER BY item_a, item_b""",

    "q191_pit_features" ->
      s"""WITH ev AS (SELECT user_id, epoch_us(ts) AS tsu, event_id,
                             event_type, value
                      FROM events),
          c AS (SELECT user_id, tsu, ${centsSql("value")} AS vc FROM ev
                WHERE event_type = 'click'),
          p AS (SELECT user_id, tsu, event_id AS conv_id FROM ev
                WHERE event_type = 'purchase')
          SELECT p.conv_id, p.user_id, p.tsu AS label_ts,
                 (SELECT c.vc FROM c
                  WHERE c.user_id = p.user_id AND c.tsu < p.tsu
                  ORDER BY c.tsu DESC LIMIT 1) AS last_click_vc,
                 (SELECT count(*) FROM c
                  WHERE c.user_id = p.user_id AND c.tsu < p.tsu)
                   AS n_clicks_before
          FROM p ORDER BY conv_id""",

    "q192_session_paths" ->
      s"""WITH ev AS (SELECT user_id, epoch_us(ts) AS tsu, event_id,
                             event_type
                      FROM events),
          g AS (SELECT *, CASE WHEN tsu - lag(tsu) OVER
                       (PARTITION BY user_id ORDER BY tsu, event_id)
                     > $SessionGapUs THEN 1 ELSE 0 END AS new_s
                FROM ev),
          s AS (SELECT *, sum(coalesce(new_s, 0)) OVER
                       (PARTITION BY user_id ORDER BY tsu, event_id
                        ROWS UNBOUNDED PRECEDING) AS session_id
                FROM g),
          r AS (SELECT *, row_number() OVER
                       (PARTITION BY user_id, session_id
                        ORDER BY tsu, event_id) AS rn
                FROM s),
          pv AS (SELECT user_id, session_id,
                        ${(1 to PathLen).map(i =>
                          s"min(CASE WHEN rn = $i THEN event_type END) AS p$i")
                          .mkString(", ")}
                 FROM r WHERE rn <= $PathLen GROUP BY 1, 2),
          pa AS (SELECT concat_ws('>',
                   ${(1 to PathLen).map(i => s"p$i").mkString(", ")}) AS path
                 FROM pv)
          SELECT path, count(*) AS n_sessions FROM pa
          GROUP BY 1 ORDER BY n_sessions DESC, path""",

    "q193_fd_audit" -> {
      def fd(lhs: String, rhs: String, from: String): String =
        s"""SELECT '$lhs -> $rhs' AS fd,
                   count(*) AS n_lhs,
                   CAST(count_if(n > 1) AS BIGINT) AS n_violating_lhs,
                   max(n) AS max_rhs_variants
            FROM (SELECT l, count(*) AS n
                  FROM (SELECT DISTINCT $lhs AS l, $rhs AS r FROM $from)
                  GROUP BY 1)"""
      s"""WITH ev AS (SELECT event_id, user_id, event_type FROM events)
          ${fd("l_orderkey", "l_returnflag", "lineitem")}
          UNION ALL ${fd("l_orderkey", "l_suppkey", "lineitem")}
          UNION ALL ${fd("event_id", "user_id", "ev")}
          UNION ALL ${fd("user_id", "event_type", "ev")}
          ORDER BY fd"""
    },

    "q195_decay_score" -> {
      val kExpr =
        s"least(($DecayRefUs - tsu) // $DecayHalfLifeUs, $DecayMaxK)"
      val sums = (0 to DecayMaxK).map(i =>
        s"CAST(sum(CASE WHEN $kExpr = $i THEN vc END) AS BIGINT) AS s$i")
        .mkString(", ")
      val score = (0 to DecayMaxK).map(i =>
        s"CAST(coalesce(s$i, 0) AS DOUBLE) * '${math.pow(2.0, -i)}'::DOUBLE")
        .mkString(" + ")
      s"""WITH ev AS (SELECT user_id, epoch_us(ts) AS tsu,
                             ${centsSql("value")} AS vc
                      FROM events
                      WHERE epoch_us(ts) <= $DecayRefUs),
          b AS (SELECT user_id, count(*) AS n_events, $sums
                FROM ev GROUP BY 1)
          SELECT user_id, n_events, $score AS decayed_score
          FROM b ORDER BY user_id"""
    },

    "q196_random_projection" -> {
      val s = graft.ext.Quantize.signMatrix("rp", RpDimIn, RpDimOut)
      val scale = 1.0 / math.sqrt(RpDimOut.toDouble)
      val comps = (0 until RpDimOut).map { j =>
        val terms = (0 until RpDimIn).map { i =>
          val x = s"CAST(embedding[${i + 1}] AS DOUBLE)"
          if (s(i)(j) > 0) s"+ $x" else s"- $x"
        }.mkString(" ")
        // leading "+" dropped so the first term is the bare operand,
        // matching the Spark fold's expression tree
        s"(${terms.stripPrefix("+ ")}) * '$scale'::DOUBLE AS p$j"
      }.mkString(", ")
      s"""SELECT vec_id, $comps FROM embeddings ORDER BY vec_id"""
    },

    "q197_tombstone_delete" ->
      s"""WITH tomb AS (SELECT o_orderkey FROM orders
                        WHERE o_orderkey % 13 = 0),
          cleaned AS (SELECT * FROM lineitem
                      WHERE l_orderkey NOT IN (SELECT o_orderkey FROM tomb)),
          proof AS (SELECT count(*) AS n_leftover FROM cleaned
                    WHERE l_orderkey IN (SELECT o_orderkey FROM tomb))
          SELECT l_returnflag, count(*) AS n_rows,
                 CAST(sum(${centsSql("l_quantity")}) AS BIGINT) AS qty_cents,
                 proof.n_leftover
          FROM cleaned CROSS JOIN proof
          GROUP BY 1, proof.n_leftover ORDER BY l_returnflag""",

    "q198_type_diversity" ->
      """WITH c AS (SELECT user_id, event_type, count(*) AS c
                    FROM events GROUP BY 1, 2),
          a AS (SELECT user_id, CAST(sum(c) AS BIGINT) AS n,
                       CAST(sum(c * c) AS BIGINT) AS ssq,
                       count(*) AS n_types
                FROM c GROUP BY 1)
          SELECT user_id, n, n_types,
                 1.0 - CAST(ssq AS DOUBLE)
                   / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS simpson
          FROM a ORDER BY user_id""",

    "q199_calibration_deciles" ->
      s"""WITH ev AS (SELECT user_id, epoch_us(ts) AS tsu, event_id,
                             event_type, value
                      FROM events),
          a AS (SELECT user_id, tsu, event_id,
                       ${centsSql("value")} AS vc
                FROM ev WHERE event_type = 'click'),
          b AS (SELECT user_id, tsu FROM ev
                WHERE event_type = 'purchase'),
          m AS (SELECT a.*, (SELECT min(b.tsu) FROM b
                             WHERE b.user_id = a.user_id
                               AND b.tsu > a.tsu) AS nxt
                FROM a),
          c AS (SELECT *, CASE WHEN nxt - tsu <= $HourUs THEN nxt END
                            AS conv_ts,
                       ntile(10) OVER (ORDER BY vc, event_id) AS decile
                FROM m)
          SELECT decile, count(*) AS n_clicks,
                 count(conv_ts) AS n_converted,
                 CAST(count(conv_ts) AS DOUBLE) / count(*) AS conv_rate
          FROM c GROUP BY 1 ORDER BY decile""",

    "q200_streaming_mv_refresh" ->
      s"""SELECT event_type, 3 * count(*) AS n,
                 CAST(3 * sum(${centsSql("value")}) AS BIGINT) AS vc_sum
          FROM events GROUP BY 1 ORDER BY event_type""",

    "q201_competing_risk" ->
      s"""WITH ev AS (SELECT user_id, epoch_us(ts) AS tsu, event_type
                      FROM events),
          a AS (SELECT user_id, tsu FROM ev WHERE event_type = 'click'),
          b AS (SELECT user_id, tsu,
                       tsu * 4 + CASE WHEN event_type = 'purchase'
                                      THEN 1 ELSE 2 END AS enc
                FROM ev WHERE event_type IN ('purchase', 'error')),
          m AS (SELECT a.user_id, a.tsu,
                       (SELECT min(b.enc) FROM b
                        WHERE b.user_id = a.user_id AND b.tsu > a.tsu)
                         AS enc
                FROM a),
          c AS (SELECT tsu, enc, enc // 4 AS mts,
                       CASE WHEN enc IS NULL
                              OR enc // 4 - tsu > $HourUs THEN 'none'
                            WHEN enc % 4 = 1 THEN 'purchase'
                            ELSE 'error' END AS outcome
                FROM m)
          SELECT outcome, count(*) AS n_clicks,
                 CAST(sum(CASE WHEN outcome <> 'none' THEN mts - tsu END)
                   AS BIGINT) AS lag_us_sum
          FROM c GROUP BY 1 ORDER BY outcome"""
  )

  /** q194's oracle depends on the learned centroids — rendered per
    * (session, sfDir) at Verify time (the q64 mechanism). Assignment
    * arithmetic mirrors [[IvfIndex.fromCentroids]]: squared-Euclidean
    * `v·v − 2·v·c + c·c` with the centroid norm folded left-to-right
    * (list_dot_product's order), ties to the lowest cell, components
    * rendered as `'x'::DOUBLE` (string→double parses exactly; bare
    * decimal literals lose ulps through DECIMAL).
    */
  override val dynamicOracleSql: Map[String, (SparkSession, String) => String] = Map(
    "q194_label_confusion" -> ((s, dir) => {
      val (labels, cents) = labelCentroids(s, dir)
      val values = cents.zipWithIndex.map { case (c, i) =>
        c.map(x => s"'$x'::DOUBLE").mkString(s"($i, [", ", ", "])")
      }.mkString(", ")
      val labMap = labels.zipWithIndex
        .map { case (l, i) => s"($i, ${l}::BIGINT)" }.mkString(", ")
      s"""WITH centroids(cell, cv) AS (VALUES $values),
          cn AS (SELECT cell, cv, list_dot_product(cv, cv) AS cv_n2
                 FROM centroids),
          e AS (SELECT vec_id, CAST(label AS BIGINT) AS true_label,
                       CAST(embedding AS DOUBLE[]) AS v
                FROM embeddings),
          en AS (SELECT vec_id, true_label, v,
                        list_dot_product(v, v) AS v_n2 FROM e),
          assigned AS (
            SELECT vec_id, true_label, cell FROM (
              SELECT en.vec_id, en.true_label, cn.cell,
                     row_number() OVER (PARTITION BY en.vec_id
                       ORDER BY (en.v_n2
                           - 2 * list_dot_product(en.v, cn.cv)
                           + cn.cv_n2) ASC,
                         cn.cell ASC) AS arnk
              FROM en CROSS JOIN cn) t
            WHERE arnk = 1),
          lab(cell, pred_label) AS (VALUES $labMap)
          SELECT a.true_label, lab.pred_label, count(*) AS n
          FROM assigned a JOIN lab USING (cell)
          GROUP BY 1, 2 ORDER BY true_label, pred_label"""
    }))
}
