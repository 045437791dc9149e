package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.{Audits, Pipeline, Readers}
import graft.ext.{Checkpoints, Graph, Profile, Stats, TimeSeries}
import OracleSql.centsSql
import Tables.{eventsUs, t}

/** Round-12 operators: weighted shortest paths, interval-union coverage,
  * per-group OLS trend fits, Benford first-digit auditing, CUSUM
  * changepoint screening, and join-key skew profiling — each implemented
  * as a library operator (`ext`/`engine`) and gated here against a DuckDB
  * oracle on the driver's parquet tables.
  */
object Round12Queries extends QuerySet {

  /** q202 hop budget (q183's depth). */
  private val SsspMaxIter = 3

  /** q210 funnel hop window: 1 hour in epoch micros (q185's). */
  private val HourUs = 3600000000L

  /** q203 synthetic interval length: 1 minute + (event_id mod 10)
    * minutes — variable-length so the merge is a real interval union,
    * not the fixed-gap sessionize degenerate case.
    */
  private val IvBaseUs = 60000000L
  private val IvStepUs = 60000000L

  /** q204 time origin (2024-01-01T00:00:00Z epoch micros — the corpus
    * start) and bucket (1 hour): x = hours-since-origin keeps Σx²
    * inside the int64 budget where raw epoch micros would overflow.
    */
  private val LinFitOriginUs = 1704067200000000L
  private val HourUsL = 3600000000L

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Weighted single-source-set shortest paths over the
    // customer–supplier trade graph (q183's bipartite edges, each pair
    // carrying a deterministic 1..5 cost): cheapest route within 3
    // hops from the seed suppliers — frontier Bellman–Ford with a
    // combinable per-destination MIN, O(V) state, never O(paths).
    "q202_sssp" -> ((s, dir) => {
      // the per-destination MIN never orders by node, so the long node
      // ids are result-invisible
      val edges = TradeGraph.weightedEdges(t(s, dir, "orders"),
        t(s, dir, "lineitem"))
      val seeds = t(s, dir, "supplier")
        .filter(col("s_suppkey") % 10 === 0)
        .select(TradeGraph.supplier(col("s_suppkey")).as("node"))
      Graph.ssspHops(edges, seeds, SsspMaxIter)
        .withColumn("node", TradeGraph.decode("node"))
        .orderBy("node")
    }),

    // Per-user active-time: each event opens a variable-length
    // interval; overlaps merge via the exclusive running-max sweep
    // (two boundary-stitch passes — a hot user never sorts in one
    // task), and the union length + merged-segment count are exact
    // integers.
    "q203_interval_coverage" -> ((s, dir) => {
      val iv = eventsUs(s, dir).select(col("user_id"),
        col("tsu").as("s"),
        (col("tsu") + lit(IvBaseUs) +
          (col("event_id") % 10L) * lit(IvStepUs)).as("e"))
      TimeSeries.intervalCoverage(iv, "user_id", "s", "e")
        .orderBy("user_id")
    }),

    // Per-event-type value trend over the corpus month: OLS slope /
    // intercept / r² of value-cents against hours-since-origin, from
    // ONE combinable pass of exact integer sums and a fixed IEEE
    // closed form — the drift detector that needs no window and no
    // second scan.
    "q204_group_linfit" -> ((s, dir) =>
      Stats.groupLinFit(
          eventsUs(s, dir).select(col("event_type"),
            expr(s"(tsu - ${LinFitOriginUs}L) div ${HourUsL}L").as("x"),
            Stats.cents(col("value")).as("y")),
          "event_type", col("x"), col("y"))
        .orderBy("event_type")),

    // Benford first-digit audit of extended prices by return flag —
    // the fabricated-data screen: leading-digit shares vs Benford's
    // expectation, constants injected as identical literals on both
    // engines (no runtime log10 on either side).
    "q205_benford" -> ((s, dir) =>
      Audits.benfordAudit(t(s, dir, "lineitem"), "l_returnflag",
          Stats.cents(col("l_extendedprice")))
        .orderBy("l_returnflag", "digit")),

    // Per-user CUSUM peak: max deviation of the running value sum from
    // the user's uniform trend — the distribution-free changepoint
    // screen, integer-exact via |S_i·n − i·T| with ONE final division.
    "q206_cusum" -> ((s, dir) =>
      Stats.cusumPeak(
          eventsUs(s, dir).select(col("user_id"), col("tsu"),
            col("event_id"), Stats.cents(col("value")).as("vc")),
          "user_id", "tsu", "vc", Seq(col("event_id")))
        .orderBy("user_id")),

    // Join-key skew profile of the events user distribution: the audit
    // a 100 TB plan runs BEFORE shuffling on a key — hottest key, p99
    // count (rank-based, engine-exact), skew ratio. Reductions over
    // |keys| rows only.
    "q207_key_skew" -> ((s, dir) =>
      Profile.keySkew(eventsUs(s, dir), "user_id")),

    // Durable streaming MV maintenance ACROSS A RESTART: two separate
    // query lifetimes share one checkpoint; lifetime 1 folds the events
    // file into the disk-committed standing aggregate and STOPS (the
    // kill point), lifetime 2 restarts from the checkpoint, sees only
    // the newly arrived copy, and folds it — batchId-guarded
    // exactly-once on top of foreachBatch's at-least-once
    // (Warehouse.durableAdditiveMvFold). The oracle recomputes the
    // doubled totals from scratch, so the gate proves restart + resume
    // ≡ batch — the failure-path claim q200's single-lifetime fold
    // can't make.
    "q208_streaming_durable_mv" -> ((s, dir) => Checkpoints.scoped { scope =>
      import org.apache.spark.sql.streaming.Trigger
      Readers.enableNanosAsLong(s)
      val streamDir = java.nio.file.Files.createTempDirectory("q208_events")
      val mvDir = java.nio.file.Files.createTempDirectory("q208_mv")
      val ckDir = java.nio.file.Files.createTempDirectory("q208_ck")
      val target = java.nio.file.Paths.get(dir).toAbsolutePath
        .resolve("events.parquet")
      try {
        def lifetime(): Unit = {
          val raw = Readers.toNanosLong(
            s.readStream.schema(StreamingQueries.eventsSchema(s, dir))
              .parquet(streamDir.toString), "ts")
          val additive = raw.select(col("event_type"), lit(1L).as("n"),
            Stats.cents(col("value")).as("vc_sum"))
          val q = additive.writeStream
            .option("checkpointLocation", ckDir.toString)
            .foreachBatch(graft.engine.Warehouse.durableAdditiveMvFold(
              mvDir.toString, Seq("event_type"), Seq("n", "vc_sum"),
              Some("n")) _)
            .trigger(Trigger.AvailableNow())
            .start()
          q.awaitTermination()
        }
        StreamingQueries.linkTable(streamDir, target, 1)
        lifetime() // lifetime 1: folds copy1, stops — the restart point
        StreamingQueries.linkTable(streamDir, target, 2)
        lifetime() // lifetime 2: same checkpoint — only copy2 may fold
        // materialize off the mv directory before cleanup
        scope.checkpoint(graft.engine.Warehouse
          .readDurableMv(s, mvDir.toString).get.orderBy("event_type"))
      } finally Seq(streamDir, ckDir, mvDir).foreach(Pipeline.deleteRecursively)
    }),

    // One full Lloyd k-means iteration over the q64 model: assign every
    // embedding to its nearest trained centroid (the codegen'd local
    // argmin — no vector ever shuffles), recompute each cell's mean
    // from exact fixed-point integer sums (8 fixed per-dim aggregates,
    // no explode — combinable constant state per cell), and report each
    // cell's population and centroid SHIFT (the Lloyd convergence
    // signal). Every double comes from exact integer sums through one
    // fixed-order formula; the oracle is rendered from the same
    // centroids (the q64/q194 mechanism).
    "q209_kmeans_step" -> ((s, dir) => {
      import s.implicits._
      val cents = Round2Queries.ivfCentroids(s, dir)
      val dims = cents.head.size
      val model = graft.ext.IvfIndex.fromCentroids(s,
        t(s, dir, "embeddings"), cents)
      val aggs = count(lit(1)).as("n") +: (0 until dims).map(j =>
        sum(floor(element_at(col("v"), j + 1) * KmScale + 0.5)
          .cast("long")).as(s"sf$j"))
      val sums = model.assigned.groupBy(col("cell"))
        .agg(aggs.head, aggs.tail: _*)
      val old = cents.zipWithIndex
        .flatMap { case (c, i) => c.zipWithIndex.map { case (x, j) =>
          (i, j, x) } }
        .toDF("cell", "j", "o")
        .groupBy("cell")
        .pivot("j", 0 until dims)
        .agg(first(col("o")))
        .select(col("cell") +: (0 until dims).map(j =>
          col(j.toString).as(s"o$j")): _*)
      val shift = sqrt((0 until dims).map { j =>
        val m = (col(s"sf$j").cast("double") / lit(KmScale.toDouble)) /
          col("n").cast("double")
        val d = m - col(s"o$j")
        d * d
      }.reduce(_ + _))
      sums.join(broadcast(old), "cell")
        .select(col("cell").cast("long").as("cell"), col("n"),
          shift.as("shift"))
        .orderBy("cell")
    }),

    // Three-step windowed funnel (view → first click within 1 h → first
    // purchase within 1 h OF THE CLICK): two CHAINED forward as-ofs —
    // hop 2 probes from hop 1's answer, deduplicated to distinct
    // (user, click) pairs first (many views funnel into one click; the
    // dedup keeps the second range shuffle proportional to CLICKS, and
    // the join back is co-keyed). q185 answers one hop; q42 only
    // "ever, in order". Both hops are negated-time range shuffles —
    // hot-user-safe, no per-key window, no |A|×|B| fan-out.
    "q210_funnel3" -> ((s, dir) => {
      val ev = eventsUs(s, dir)
      def typed(t: String) = ev.filter(col("event_type") === t)
        .select("user_id", "tsu")
      val views = typed("view")
      val s1 = graft.ext.Analytics.nextEventWithin(views, typed("click"),
        "user_id", "tsu", HourUs, "click_ts")
      val a1 = s1.groupBy("user_id").agg(
        count(lit(1)).as("n_views"),
        count(col("click_ts")).as("n_clicked"))
      val probes = s1.filter(col("click_ts").isNotNull)
        .select(col("user_id"), col("click_ts").as("tsu")).distinct()
      val s2 = graft.ext.Analytics.nextEventWithin(probes,
          typed("purchase"), "user_id", "tsu", HourUs, "purch_ts")
        .select(col("user_id"), col("tsu").as("click_ts"),
          col("purch_ts"))
      val full = s1.filter(col("click_ts").isNotNull)
        .join(s2, Seq("user_id", "click_ts"))
      val a2 = full.groupBy("user_id").agg(
        count(col("purch_ts")).as("n_full"),
        min(when(col("purch_ts").isNotNull,
          col("purch_ts") - col("tsu"))).as("min_lag_us"))
      a1.join(a2, Seq("user_id"), "left")
        .select(col("user_id"), col("n_views"), col("n_clicked"),
          coalesce(col("n_full"), lit(0L)).as("n_full"),
          col("min_lag_us"))
        .orderBy("user_id")
    }),

    // Header/detail reconciliation: orders.o_totalprice against the sum
    // of its lineitems' extended charge — the summary-vs-fact
    // consistency audit every warehouse runs. Integer cents on both
    // sides (scaled per row BEFORE summing), one combinable child agg +
    // one co-keyed join, one-row report.
    "q211_reconcile" -> ((s, dir) =>
      Audits.reconcile(
        t(s, dir, "orders"), "o_orderkey",
        Stats.cents(col("o_totalprice")),
        t(s, dir, "lineitem"), "l_orderkey",
        Stats.cents(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
          * (lit(1.0) + col("l_tax"))))),

    // Multi-link entity resolution: documents link through EITHER a
    // shared normalized-text identity OR ≥0.5 shingle Jaccard, and
    // connected components over the UNION resolve transitive entities
    // (A≡B by normalization, B≡C by near-dup ⇒ one entity) — the
    // composition record-linkage systems run, where any single
    // candidate generator under-merges. The normalized-identity edges
    // are a per-group SPANNING STAR (min-doc root → member), linear in
    // group size where all-pairs would be quadratic on a viral
    // duplicate cluster; only digests shuffle, never text. Verified
    // against a recursive-CTE transitive closure over the same union.
    "q212_entity_resolution" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val nfp = docs.select(col("doc_id"),
        md5(graft.ext.TextAnalysis.normalizeText(col("text"))).as("fp"))
      val groupsA = nfp.groupBy("fp")
        .agg(min("doc_id").as("root"), count(lit(1)).as("n"))
        .filter(col("n") > 1L)
      val edgesA = nfp.join(groupsA, "fp")
        .filter(col("doc_id") =!= col("root"))
        .select(col("root").as("doc_a"), col("doc_id").as("doc_b"))
      val edgesB = graft.ext.Dedup.jaccardPairs(docs, 0.5)
        .select("doc_a", "doc_b")
      graft.ext.DedupGroups
        .connectedComponents(edgesA.unionByName(edgesB))
        .select(col("id").as("doc_id"), col("component"))
        .orderBy("doc_id")
    }),

    // Robust per-type outlier screen: median/MAD z-score over value
    // cents — a handful of corrupt 10⁹-cent rows cannot poison the
    // threshold the way they poison a mean/stddev z. Exact on both
    // engines: medians land on the .5 grid, doubled deviations are
    // exact integers, the MAD halves back, and both median passes are
    // global-rank picks (no per-group sort).
    "q213_robust_mad" -> ((s, dir) =>
      Stats.madOutliers(
          eventsUs(s, dir).select(col("event_type"), col("event_id"),
            Stats.cents(col("value")).as("vc")),
          "event_type", "vc", Seq(col("event_id")))
        .orderBy("event_type")),

    // Per-type Gini concentration of event value — "is the volume
    // spread or captured by a few rows": rank-formula Gini from exact
    // integer sums, per-group ranks via ONE global row-number pass
    // (ranks are unique, so a type holding half the corpus shuffles
    // evenly), one fixed IEEE formula at the end.
    "q214_gini" -> ((s, dir) =>
      Stats.groupGini(
          eventsUs(s, dir).select(col("event_type"), col("event_id"),
            Stats.cents(col("value")).as("vc")),
          "event_type", "vc", Seq(col("event_id")))
        .orderBy("event_type")),

    // Intra-class compactness audit of the embedding space: per label,
    // the squared distance of each vector to its OWN label's learned
    // centroid (q194's exact fixed-point model), summarized by the two
    // ORDER-INVARIANT reductions — max and count-beyond-τ — so the
    // report is bit-portable where a mean of 10⁴ doubles would depend
    // on accumulation order. The distance is a codegen'd local
    // expression (label-dispatched centroid literals folded into the
    // plan); no vector ever shuffles. The loose-cluster screen a
    // labeled-embedding corpus runs before training on it.
    "q215_cluster_compactness" -> ((s, dir) => {
      import graft.functions.VectorFunctions.dot
      val (labels, cents) = Round11Queries.labelCentroids(s, dir)
      val e = t(s, dir, "embeddings").select(
        col("label").cast("long").as("label"),
        col("embedding").cast("array<double>").as("v"))
      val vn2 = dot(col("v"), col("v"))
      val dist2 = labels.zip(cents).foldLeft(lit(null).cast("double")) {
        case (acc, (l, c)) =>
          val cLit = array(c.map(lit): _*)
          val cN2 = c.foldLeft(0.0)((s2, x) => s2 + x * x)
          when(col("label") === l,
            vn2 - lit(2.0) * dot(col("v"), cLit) + lit(cN2))
            .otherwise(acc)
      }
      e.select(col("label"), dist2.as("d2"))
        .groupBy("label")
        .agg(count(lit(1)).as("n"), max(col("d2")).as("max_dist2"),
          count_if(col("d2") > CompactTau).as("n_beyond"))
        .orderBy("label")
    }),

    // Incremental session-table maintenance: the standing session table
    // (events ≤ cutoff) folds in the post-cutoff delta WITHOUT
    // re-sessionizing untouched keys — each key's last standing session
    // may EXTEND when the delta arrives inside the gap (sessions have
    // no closing bracket until the gap elapses, so append-only session
    // tables are wrong by construction; this is scd2Merge's discipline
    // applied to sessions, contract enforced the same way). The oracle
    // re-sessionizes ALL events from scratch, so the gate proves
    // merge ≡ rebuild.
    "q216_session_merge" -> ((s, dir) => {
      val ev = eventsUs(s, dir).select(col("user_id"), col("tsu"),
        col("event_id"))
      val standing = graft.engine.Warehouse.sessionTable(
        ev.filter(col("tsu") <= MergeCutUs), "user_id", "tsu",
        SessionGapUs, Seq(col("event_id")))
      graft.engine.Warehouse.sessionMerge(standing,
          ev.filter(col("tsu") > MergeCutUs), "user_id", "tsu",
          SessionGapUs, Seq(col("event_id")))
        .orderBy("user_id", "start_tsu")
    }),

    // Hourly-volume autocorrelation at lags 1-3 h per event type: is
    // this hour's volume predicted by the previous hours'? The lagged
    // pairing is an equi-join on (type, hour−L) — co-partitioned,
    // uniform under any type skew, never a window — and rho comes from
    // six exact integer sums through one fixed IEEE formula.
    "q217_autocorr" -> ((s, dir) => {
      val series = eventsUs(s, dir)
        .select(col("event_type"),
          expr(s"tsu div ${HourUsQ}L").as("b"),
          Stats.cents(col("value")).as("vc"))
        .groupBy("event_type", "b").agg(sum("vc").as("x"))
      Stats.laggedPearson(series, "event_type", "b", "x", Seq(1, 2, 3))
        .orderBy("event_type", "lag")
    }),

    // Quantity-weighted median price per supplier: the smallest price
    // whose cumulative quantity reaches half the supplier's total — a
    // rank definition over ONE boundary-stitch weighted prefix sum, so
    // the answer is an actual data value, exact on both engines, and a
    // hot supplier never sorts in one task.
    "q218_weighted_median" -> ((s, dir) =>
      graft.ext.GlobalOrder.groupWeightedMedian(
          t(s, dir, "lineitem").select(col("l_suppkey"),
            Stats.cents(col("l_extendedprice")).as("pc"),
            col("l_quantity").cast("long").as("w"),
            col("l_orderkey"), col("l_linenumber")),
          "l_suppkey", "pc", "w",
          Seq(col("l_orderkey"), col("l_linenumber")))
        .orderBy("l_suppkey")),

    // Streaming silence detection: an alert row for every >2 h gap
    // between a user's consecutive events, emitted when the closing
    // event arrives — heartbeat-loss monitoring as bounded keyed state
    // (one timestamp per user, event-time TTL'd like the q179
    // throttle), hash-equal to the batch lag-window twin.
    "q219_streaming_gaps" -> ((s, dir) =>
      StreamingQueries.runEventsStream(s, dir, "q219_events") { raw =>
        import s.implicits._
        val pings = raw
          .select(col("user_id"), expr("ts div 1000").as("tsu"),
            col("event_id"),
            timestamp_micros(expr("ts div 1000")).as("ts"))
          .as[graft.streaming.EventStream.Ping]
        val out = graft.streaming.EventStream.runToMemory(
          graft.streaming.EventStream.gapAlerts(pings, GapAlertUs).toDF(),
          StreamingQueries.memName("q219_mem_"),
          outputMode = org.apache.spark.sql.streaming.OutputMode.Append(),
          statePartitions = Some(8))
        out.orderBy("user_id", "tsu")
      }),

    // Per-type percent-rank normalization of event value to [0, 1] —
    // the feature-scaling pass a training pipeline runs; ranks from one
    // global row-number pass with explicit tie-break, so a type holding
    // half the corpus shuffles by unique rank and the result is
    // deterministic where SQL percent_rank()'s shared-tie ranks are
    // engine-shaped.
    "q220_percent_rank" -> ((s, dir) =>
      graft.ext.GlobalOrder.withGroupPercentRank(
          eventsUs(s, dir).select(col("event_id"), col("event_type"),
            Stats.cents(col("value")).as("vc")),
          "event_type", "vc", Seq(col("event_id")))
        .orderBy("event_id")),

    // Chi-square independence cells for event type × hour-of-day: per
    // cell observed, expected-under-independence, and (o−e)²/e — the
    // "is traffic shape type-dependent" audit, emitted per cell
    // because each cell is one fixed IEEE formula over exact counts
    // while a grand total would sum doubles in nondeterministic order.
    "q221_chisq" -> ((s, dir) =>
      Stats.chisqCells(
          eventsUs(s, dir).select(col("event_type"),
            expr(s"(tsu div ${HourUsQ}L) % 24").as("hod")),
          "event_type", "hod")
        .orderBy("event_type", "hod")),

    // Nearest-in-time join: each purchase matched to the user's CLOSEST
    // click within ±30 min in either direction (tie → the earlier) —
    // one backward + one forward as-of (both hot-key-safe range
    // shuffles) and a local pick; no candidate fan-out, no window.
    "q222_nearest_join" -> ((s, dir) => {
      val ev = eventsUs(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("user_id", "tsu")
      val clicks = ev.filter(col("event_type") === "click")
        .select("user_id", "tsu")
      graft.ext.Analytics.nearestEventWithin(purchases, clicks,
          "user_id", "tsu", NearTolUs, "nearest_ts", "dist_us")
        .orderBy("user_id", "tsu")
    }),

    // Cohen's kappa between the true labels and the centroid-predicted
    // labels (q194's model): chance-corrected agreement — the one-number
    // answer to "is this labeling better than marginals would guess",
    // computed entirely from the confusion matrix's exact integer sums
    // (diag, row·col marginal products) through one fixed IEEE formula.
    "q224_cohens_kappa" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val (labels, cents) = Round11Queries.labelCentroids(s, dir)
      val model = graft.ext.IvfIndex.fromCentroids(s, e, cents)
      import s.implicits._
      val lab = labels.zipWithIndex.map { case (l, i) => (i, l) }
        .toDF("cell", "pred_label")
      val conf = model.assigned.select("vec_id", "cell")
        .join(e.select(col("vec_id"),
          col("label").cast("long").as("true_label")), "vec_id")
        .join(broadcast(lab), "cell")
        .groupBy("true_label", "pred_label")
        .agg(count(lit(1)).as("n"))
      val tot = conf.agg(sum(col("n")).as("n_total"))
      val diag = conf.filter(col("true_label") === col("pred_label"))
        .agg(coalesce(sum(col("n")), lit(0L)).as("n_diag"))
      val rows = conf.groupBy("true_label").agg(sum(col("n")).as("rk"))
      val cols = conf.groupBy("pred_label").agg(sum(col("n")).as("ck"))
      val rc = rows.join(cols, col("true_label") === col("pred_label"))
        .agg(coalesce(sum(col("rk") * col("ck")), lit(0L)).as("src"))
      tot.crossJoin(broadcast(diag)).crossJoin(broadcast(rc))
        .select(col("n_total"),
          (col("n_diag").cast("double") / col("n_total").cast("double"))
            .as("po"),
          (col("src").cast("double") /
            (col("n_total").cast("double") * col("n_total").cast("double")))
            .as("pe"))
        .withColumn("kappa",
          when(lit(1.0) - col("pe") =!= 0.0,
            (col("po") - col("pe")) / (lit(1.0) - col("pe"))))
    }),

    // Distribution drift between the month's halves per event type:
    // total-variation distance over 10 fixed value bins — the log-free
    // shift screen (PSI's ln would tie the gate to two libms), bins
    // pivoted to conditional-sum columns and folded in FIXED order so
    // the double sum is bit-portable.
    "q225_tvd_drift" -> ((s, dir) =>
      Stats.tvdDrift(
          eventsUs(s, dir)
            .select(col("event_type"), col("tsu"),
              Stats.cents(col("value")).as("__vc"))
            .select(col("event_type"), col("tsu"),
              least(expr(s"__vc div ${TvdBinCents}L"),
                lit(TvdBins - 1L)).as("bin")),
          "event_type", "bin", col("tsu") < TvdMidUs, TvdBins)
        .orderBy("event_type")),

    // Weighted PageRank over the trade graph: rank flows proportionally
    // to the q202 edge costs instead of uniformly — the volume-aware
    // importance measure; integer micro-units end to end, oracle
    // unrolls the same three iterations as CTEs.
    "q226_weighted_pagerank" -> ((s, dir) => {
      val edges = TradeGraph.weightedEdges(t(s, dir, "orders"),
        t(s, dir, "lineitem"))
      Graph.pagerankWeightedInt(edges, iterations = 3)
        .select(TradeGraph.decode("node").as("node"), col("rank"))
        .orderBy("node")
    }),

    // Deterministic Poisson bootstrap: 16 hash-derived resample means
    // of event value per type — the uncertainty band with NO RNG (each
    // row's multiplicity comes from a portable md5 of (event_id, b)
    // against driver-injected Poisson CDF thresholds), so the oracle
    // replays the identical resamples.
    "q227_poisson_bootstrap" -> ((s, dir) => {
      val ev = eventsUs(s, dir).select(col("event_type"), col("event_id"),
        Stats.cents(col("value")).as("vc"))
      // guide §2.5 (unsplittable input): the sf events table is one
      // parquet file with a single row group, so the scan is ONE task
      // and the 16-resample md5 weighting — this query's dominant cost —
      // ran single-core. Spread it across the session's cores when (and
      // only when) the scan's split count is below the session's
      // partitioning; at production split counts the branch is a no-op
      // and no exchange is added. Result-invisible: weights are pure
      // per-row hashes and the resample aggregate is combinable, so the
      // round-robin placement cannot change any sum. Probed warm:
      // 3.6 s -> 0.8 s; the same spread measured NEGATIVE warm on the
      // lighter-kernel dedup scans (jaccard/simhash/minhash), so it is
      // applied only here.
      val p = s.sessionState.conf.numShufflePartitions
      val spread =
        if (ev.queryExecution.toRdd.getNumPartitions < p) ev.repartition(p)
        else ev
      Stats.poissonBootstrapMeans(spread,
          "event_type", col("event_id"), col("vc"), BootResamples)
        .orderBy("event_type", "b")
    }),

    // Ordered within-session pairs: for every session, event-type pairs
    // (A, B) where A's FIRST occurrence precedes B's — sequence mining
    // one notch past adjacent transitions (q166 Markov), bounded by the
    // type alphabet (≤ |types|² candidates per session, never event
    // volume): per-(session, type) first-seen from one combinable agg,
    // a within-session self-join of ≤ |types| rows, one count.
    "q228_ordered_pairs" -> ((s, dir) => {
      val ev = eventsUs(s, dir).select(col("user_id"), col("tsu"),
        col("event_id"), col("event_type"))
      val sess = graft.ext.GlobalOrder.withSessionId(ev, "user_id", "tsu",
        SessionGapUs, Seq(col("event_id")))
      val firstSeen = sess.groupBy(col("session_id"), col("event_type"))
        .agg(min(col("tsu")).as("mt"))
      val a = firstSeen.select(col("session_id"),
        col("event_type").as("type_a"), col("mt").as("ta"))
      val b = firstSeen.select(col("session_id"),
        col("event_type").as("type_b"), col("mt").as("tb"))
      a.join(b, Seq("session_id"))
        .filter(col("ta") < col("tb"))
        .groupBy("type_a", "type_b")
        .agg(count(lit(1)).as("n_sessions"))
        .orderBy("type_a", "type_b")
    }),

    // Entry-type conversion: sessions grouped by their FIRST event's
    // type (deterministic argmin over the portable (ts, id) order key)
    // and the fraction that go on to purchase — "which entry point
    // converts". One sessionize pass + two combinable aggs; the rate is
    // a single IEEE division of exact counts.
    "q229_entry_conversion" -> ((s, dir) => {
      val ev = eventsUs(s, dir).select(col("user_id"), col("tsu"),
        col("event_id"), col("event_type"))
      val sess = graft.ext.GlobalOrder.withSessionId(ev, "user_id", "tsu",
        SessionGapUs, Seq(col("event_id")))
      val perSession = sess.groupBy("session_id").agg(
        min_by(col("event_type"),
          graft.functions.Portable.ordKey(col("tsu"), col("event_id")))
          .as("entry_type"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("converted"))
      perSession.groupBy("entry_type")
        .agg(count(lit(1)).as("n_sessions"),
          sum(col("converted")).as("n_converted"))
        .select(col("entry_type"), col("n_sessions"), col("n_converted"),
          (col("n_converted").cast("double") /
            col("n_sessions").cast("double")).as("conv_rate"))
        .orderBy("entry_type")
    }),

    // Join-size preflight: the EXACT output cardinality of the events
    // self-join on user_id, predicted from per-key counts alone
    // (Σ n_a·n_b, plus the hottest key's contribution) — the
    // "will this join explode" audit that at 100 TB decides between
    // running, salting, or vetoing the plan; costs two count aggs and
    // a |keys|-row join, never the join itself.
    "q230_join_size_audit" -> ((s, dir) => {
      val ev = eventsUs(s, dir).select("user_id")
      Profile.joinSizeAudit(ev, "user_id", ev, "user_id")
    }),

    // Order-invariant per-flag content fingerprint of lineitem
    // (n_rows + summed portable row hash over key/line/price-cents):
    // snapshot change detection that compares as two integers per
    // partition instead of a row diff — identical under any
    // partitioning because addition commutes, identical across engines
    // because the row hash is the portable md5.
    "q231_table_fingerprint" -> ((s, dir) =>
      graft.engine.Warehouse.tableFingerprint(
          t(s, dir, "lineitem").select(col("l_returnflag"),
            col("l_orderkey"),
            col("l_linenumber").cast("long").as("ln"),
            Stats.cents(col("l_extendedprice")).as("pc")),
          "l_returnflag", Seq("l_orderkey", "ln", "pc"))
        .orderBy("l_returnflag")),

    // EXACT-count stratified split: per language, precisely ⌈80%⌉/
    // remainder train/test counts (hash-cut splits are only
    // approximately proportional) — ranks within each stratum over a
    // portable hash order (deterministic yet unbiased), the integer
    // comparison rank·10 < n·8 drawing the line, and an order-invariant
    // id-sum proving MEMBERSHIP equality, not just counts. One global
    // row-number pass; a stratum holding half the corpus shuffles by
    // unique rank.
    "q232_exact_split" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("lang"))
      val keyed = docs.withColumn("__h",
        graft.functions.Portable.hash30(col("doc_id").cast("string")))
      val rn = graft.ext.GlobalOrder.withRowNumber(keyed,
        Seq(col("lang"), col("__h"), col("doc_id")), "__rn")
      val bounds = rn.groupBy("lang")
        .agg(min(col("__rn")).as("__lo"), count(lit(1)).as("__n"))
      rn.join(broadcast(bounds), Seq("lang"))
        .withColumn("split",
          when((col("__rn") - col("__lo")) * 10L < col("__n") * 8L,
            "train").otherwise("test"))
        .groupBy("lang", "split")
        .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("id_sum"))
        .orderBy("lang", "split")
    }),

    // Temperature-balanced corpus mixture (α = 0.5): per-source
    // sampling weights ∝ √n — the standard low-resource-upweighting
    // mix, kept engine-exact by INTEGER square roots (⌊√n⌋ — sqrt is
    // correctly rounded IEEE, so the floor is identical everywhere;
    // fractional powers would need libm pow). Weights and the
    // integer-div token allocation are exact; the share is one IEEE
    // division.
    "q233_temperature_mix" -> ((s, dir) => {
      val per = t(s, dir, "documents").groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("n_chars"))
        .withColumn("w", floor(sqrt(col("n_docs").cast("double")))
          .cast("long"))
      val tot = per.agg(sum(col("w")).as("__wt"))
      per.crossJoin(broadcast(tot))
        .select(col("source"), col("n_docs"), col("n_chars"), col("w"),
          (col("w").cast("double") / col("__wt").cast("double"))
            .as("share"),
          expr(s"(${MixBudget}L * w) div __wt").as("alloc_docs"))
        .orderBy("source")
    }),

    // Hourly-volume anomaly flags: per event type, the hours whose
    // event count sits beyond 3 MAD of the type's own hourly median —
    // q213's robust model applied to the derived series, with the flag
    // COMPARISON kept entirely in integers (doubled deviations vs
    // 3·doubled-MAD), so no epsilon anywhere. The ops alerting query a
    // monitoring pipeline runs hourly.
    "q234_hourly_anomalies" -> ((s, dir) => {
      val series = eventsUs(s, dir)
        .select(col("event_type"), expr(s"tsu div ${HourUsQ}L").as("b"))
        .groupBy("event_type", "b").agg(count(lit(1)).as("x"))
      val model = Stats.madOutliers(series, "event_type", "x",
          Seq(col("b")))
        .select(col("event_type"), col("median"), col("mad"))
      series.join(broadcast(model), Seq("event_type"))
        .filter(abs(col("x") * 2L - (col("median") * 2.0).cast("long"))
          * 2L >
          lit(3L) * (col("mad") * 4.0).cast("long"))
        .select(col("event_type"), col("b"), col("x"), col("median"),
          col("mad"))
        .orderBy("event_type", "b")
    }),

    // Ratio-to-parent rollup: each nation's revenue share WITHIN its
    // region — the hierarchical contribution report, window-free (the
    // parent totals are a second combinable aggregate broadcast back),
    // exact integer cents until the one share division.
    "q235_ratio_to_parent" -> ((s, dir) => {
      val rev = t(s, dir, "customer")
        .join(t(s, dir, "orders"),
          col("c_custkey") === col("o_custkey"))
        .join(t(s, dir, "nation"),
          col("c_nationkey") === col("n_nationkey"))
        .join(t(s, dir, "region"),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(sum(Stats.cents(col("o_totalprice"))).as("nation_cents"))
      val regionTot = rev.groupBy("r_name")
        .agg(sum(col("nation_cents")).as("region_cents"))
      rev.join(broadcast(regionTot), Seq("r_name"))
        .select(col("r_name"), col("n_name"), col("nation_cents"),
          col("region_cents"),
          (col("nation_cents").cast("double") /
            col("region_cents").cast("double")).as("share"))
        .orderBy("r_name", "n_name")
    }),

    // Conversion-latency median per user: the EXACT median
    // click→purchase lag among 1-hour conversions — q185 answers "how
    // many converted", this answers "how long it typically takes",
    // composing the forward as-of (hot-user-safe range shuffle) into
    // the global-rank group median (no per-user sort, result on the
    // engine-portable .5 grid).
    "q236_conversion_latency" -> ((s, dir) => {
      val ev = eventsUs(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select("user_id", "tsu")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("user_id", "tsu")
      val conv = graft.ext.Analytics.nextEventWithin(clicks, purchases,
          "user_id", "tsu", HourUs, "conv_ts")
        .filter(col("conv_ts").isNotNull)
        .select(col("user_id"), (col("conv_ts") - col("tsu")).as("lag_us"),
          col("tsu"))
      graft.ext.GlobalOrder.groupMedianOfLong(conv, "user_id", "lag_us",
          Seq(col("tsu")))
        .orderBy("user_id")
    }),

    // Typical cadence per user: the exact median inter-event gap —
    // boundary-stitch lag (hot-user-safe) into the global-rank group
    // median; the "how often does this entity act" feature behind
    // bot-vs-human and engagement-tier segmentation.
    "q237_user_cadence" -> ((s, dir) => {
      val ev = eventsUs(s, dir).select("user_id", "tsu", "event_id")
      val gaps = graft.ext.GlobalOrder.withLagPerKey(ev, "user_id", "tsu",
          "tsu", Seq(col("event_id")), out = "prev_tsu")
        .filter(col("prev_tsu").isNotNull)
        .select(col("user_id"), (col("tsu") - col("prev_tsu")).as("gap_us"),
          col("tsu"))
      graft.ext.GlobalOrder.groupMedianOfLong(gaps, "user_id", "gap_us",
          Seq(col("tsu")))
        .orderBy("user_id")
    }),

    // Streaming dimension enrichment: the unbounded event stream joined
    // to a STATIC broadcast dimension (nation) and aggregated per
    // enriched attribute — the stream-static join pattern (no state on
    // the dimension side; the stream side aggregates as usual), result
    // hash-equal to the batch join.
    "q223_streaming_enrich" -> ((s, dir) =>
      StreamingQueries.runEventsStream(s, dir, "q223_events") { raw =>
        val nation = Readers.table(s, dir, "nation")
          .select(col("n_nationkey"), col("n_name"))
        val enriched = raw.select(col("user_id"))
          .withColumn("nk", pmod(col("user_id"), lit(25L)))
          .join(broadcast(nation), col("nk") === col("n_nationkey"))
        val out = graft.streaming.EventStream.runToMemory(
          enriched.groupBy("n_name").agg(count(lit(1)).as("n_events")),
          StreamingQueries.memName("q223_mem_"),
          statePartitions = Some(8))
        out.orderBy("n_name")
      })
  )

  /** q222 nearest-join tolerance: 30 minutes in epoch micros. */
  private val NearTolUs = 1800000000L

  /** q225 cohort split (2024-01-16T00:00:00Z — mid-month) and value-cents
    * bin width (10 bins over the observed 1..49002 cents range).
    */
  private val TvdMidUs = 1705363200000000L
  private val TvdBinCents = 5000L
  private val TvdBins = 10

  /** q227 resample count. */
  private val BootResamples = 16

  /** q233 sampling budget (documents to draw across sources). */
  private val MixBudget = 100000L

  /** q219 silence threshold: 2 hours in epoch micros. */
  private val GapAlertUs = 7200000000L

  /** q217 hour bucket. */
  private val HourUsQ = 3600000000L

  /** q216 session gap (30 min, the q38/q173 gap) and standing/delta
    * cutoff (2024-01-25T00:00:00Z — the q188 nightly-tail split).
    */
  private val SessionGapUs = 30L * 60 * 1000000
  private val MergeCutUs = 1706140800000000L

  /** q215 looseness threshold: the corpus' intra-label squared
    * distances cluster tightly around 1.0 (median ≈ 0.98), so τ = 1.0
    * splits every label's population non-trivially.
    */
  private val CompactTau = 1.0

  /** q209 fixed-point grid (q194's CentScale). */
  private val KmScale = 65536

  /** q209's oracle depends on the q64 trained centroids — rendered per
    * (session, sfDir) at Verify time. Assignment mirrors
    * [[graft.ext.IvfIndex.fromCentroids]] (squared-Euclidean argmin,
    * ties to lowest cell, centroid norms folded left-to-right); the
    * new-mean and shift arithmetic mirrors the Spark side's
    * fixed-order formula term by term.
    */
  override val dynamicOracleSql: Map[String, (SparkSession, String) => String] = Map(
    "q224_cohens_kappa" -> ((s, dir) => {
      val (labels, cents) = Round11Queries.labelCentroids(s, dir)
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
          lab(cell, pred_label) AS (VALUES $labMap),
          conf AS (SELECT a.true_label, lab.pred_label, count(*) AS n
                   FROM assigned a JOIN lab USING (cell) GROUP BY 1, 2),
          tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_total FROM conf),
          dg AS (SELECT CAST(coalesce(sum(CASE WHEN true_label =
                        pred_label THEN n END), 0) AS BIGINT) AS n_diag
                 FROM conf),
          r AS (SELECT true_label AS l, CAST(sum(n) AS BIGINT) AS rk
                FROM conf GROUP BY 1),
          c AS (SELECT pred_label AS l, CAST(sum(n) AS BIGINT) AS ck
                FROM conf GROUP BY 1),
          rc AS (SELECT CAST(coalesce(sum(rk * ck), 0) AS BIGINT) AS src
                 FROM r JOIN c USING (l)),
          f AS (SELECT n_total,
                       CAST(n_diag AS DOUBLE) / CAST(n_total AS DOUBLE)
                         AS po,
                       CAST(src AS DOUBLE)
                         / (CAST(n_total AS DOUBLE)
                            * CAST(n_total AS DOUBLE)) AS pe
                FROM tot, dg, rc)
          SELECT n_total, po, pe,
                 CASE WHEN 1 - pe <> 0
                      THEN (po - pe) / (1 - pe) END AS kappa
          FROM f"""
    }),
    "q215_cluster_compactness" -> ((s, dir) => {
      val (labels, cents) = Round11Queries.labelCentroids(s, dir)
      val values = labels.zip(cents).map { case (l, c) =>
        val cn2 = c.foldLeft(0.0)((s2, x) => s2 + x * x)
        c.map(x => s"'$x'::DOUBLE")
          .mkString(s"($l, [", ", ", s"], '$cn2'::DOUBLE)")
      }.mkString(", ")
      s"""WITH cents(l, cv, cn2) AS (VALUES $values),
          e AS (SELECT CAST(label AS BIGINT) AS label,
                       CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
          d AS (SELECT label,
                       list_dot_product(v, v)
                         - 2 * list_dot_product(v, cv) + cn2 AS d2
                FROM e JOIN cents ON cents.l = e.label)
          SELECT label, count(*) AS n, max(d2) AS max_dist2,
                 CAST(count(CASE WHEN d2 > $CompactTau THEN 1 END)
                      AS BIGINT) AS n_beyond
          FROM d GROUP BY 1 ORDER BY label"""
    }),
    "q209_kmeans_step" -> ((s, dir) => {
      val cents = Round2Queries.ivfCentroids(s, dir)
      val dims = cents.head.size
      val values = cents.zipWithIndex.map { case (c, i) =>
        c.map(x => s"'$x'::DOUBLE").mkString(s"($i, [", ", ", "])")
      }.mkString(", ")
      val sfCols = (0 until dims).map(j =>
        s"CAST(sum(CAST(floor(v[${j + 1}] * $KmScale + 0.5) AS BIGINT)) " +
          s"AS BIGINT) AS sf$j").mkString(",\n                       ")
      val shiftTerms = (0 until dims).map { j =>
        val m = s"((CAST(sf$j AS DOUBLE) / $KmScale) / CAST(n AS DOUBLE))"
        s"($m - cv[${j + 1}]) * ($m - cv[${j + 1}])"
      }.mkString(" + ")
      s"""WITH centroids(cell, cv) AS (VALUES $values),
          cn AS (SELECT cell, cv, list_dot_product(cv, cv) AS cv_n2
                 FROM centroids),
          e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                FROM embeddings),
          en AS (SELECT vec_id, v, list_dot_product(v, v) AS v_n2 FROM e),
          assigned AS (
            SELECT vec_id, v, cell FROM (
              SELECT en.vec_id, en.v, cn.cell,
                     row_number() OVER (PARTITION BY en.vec_id
                       ORDER BY (en.v_n2
                           - 2 * list_dot_product(en.v, cn.cv)
                           + cn.cv_n2) ASC,
                         cn.cell ASC) AS arnk
              FROM en CROSS JOIN cn) t
            WHERE arnk = 1),
          agg AS (SELECT cell, count(*) AS n,
                       $sfCols
                  FROM assigned GROUP BY 1)
          SELECT CAST(agg.cell AS BIGINT) AS cell, CAST(n AS BIGINT) AS n,
                 sqrt($shiftTerms) AS shift
          FROM agg JOIN centroids ON centroids.cell = agg.cell
          ORDER BY cell"""
    }))

  val oracleSql: Map[String, String] = Map(

    "q202_sssp" ->
      s"""WITH RECURSIVE b AS (SELECT DISTINCT o_custkey AS ck,
                                      l_suppkey AS sk
                               FROM orders
                               JOIN lineitem ON o_orderkey = l_orderkey),
          bw AS (SELECT 'c:' || ck AS c, 's:' || sk AS sup,
                        1 + (ck + sk) % 5 AS w
                 FROM b),
          e AS (SELECT c AS src, sup AS dst, w FROM bw
                UNION ALL SELECT sup, c, w FROM bw),
          seeds AS (SELECT 's:' || s_suppkey AS node FROM supplier
                    WHERE s_suppkey % 10 = 0),
          r(node, d, h) AS (SELECT node, CAST(0 AS BIGINT), 0 FROM seeds
                            UNION
                            SELECT e.dst, r.d + e.w, r.h + 1 FROM r
                            JOIN e ON e.src = r.node
                            WHERE r.h < $SsspMaxIter)
          SELECT node, CAST(min(d) AS BIGINT) AS dist FROM r
          GROUP BY 1 ORDER BY 1""",

    "q203_interval_coverage" ->
      s"""WITH iv AS (SELECT user_id, epoch_us(ts) AS s,
                             epoch_us(ts) + $IvBaseUs
                               + (event_id % 10) * $IvStepUs AS e
                      FROM events),
          m AS (SELECT user_id, s, e,
                       max(e) OVER (PARTITION BY user_id ORDER BY s, e
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND 1 PRECEDING) AS pmax
                FROM iv),
          g AS (SELECT user_id, s, e,
                       CASE WHEN pmax IS NULL OR s > pmax
                            THEN 1 ELSE 0 END AS ns
                FROM m),
          gg AS (SELECT user_id, s, e,
                        sum(ns) OVER (PARTITION BY user_id ORDER BY s, e
                          ROWS UNBOUNDED PRECEDING) AS gid
                 FROM g),
          seg AS (SELECT user_id, gid, min(s) AS ms, max(e) AS me
                  FROM gg GROUP BY 1, 2)
          SELECT user_id, CAST(sum(me - ms) AS BIGINT) AS covered,
                 count(*) AS n_segments
          FROM seg GROUP BY 1 ORDER BY user_id""",

    "q204_group_linfit" ->
      s"""WITH src AS (SELECT event_type,
                  (epoch_us(ts) - $LinFitOriginUs) // $HourUsL AS x,
                  ${centsSql("value")} AS y
               FROM events),
          a AS (SELECT event_type,
                       count(CASE WHEN y IS NOT NULL THEN 1 END) AS n,
                       CAST(sum(CASE WHEN y IS NOT NULL THEN x END)
                            AS BIGINT) AS sx,
                       CAST(sum(y) AS BIGINT) AS sy,
                       CAST(sum(x * y) AS BIGINT) AS sxy,
                       CAST(sum(CASE WHEN y IS NOT NULL THEN x * x END)
                            AS BIGINT) AS sxx,
                       CAST(sum(y * y) AS BIGINT) AS syy
                FROM src GROUP BY 1),
          f AS (SELECT event_type, n,
                       CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS cov,
                       CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS varx,
                       CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                         - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS vary,
                       CAST(sx AS DOUBLE) AS dsx, CAST(sy AS DOUBLE) AS dsy,
                       CAST(n AS DOUBLE) AS dn
                FROM a)
          SELECT event_type, n,
                 CASE WHEN n >= 2 AND varx <> 0
                      THEN cov / varx END AS slope,
                 CASE WHEN n >= 2 AND varx <> 0
                      THEN (dsy - (cov / varx) * dsx) / dn END AS intercept,
                 CASE WHEN n >= 2 AND varx <> 0 AND vary <> 0
                      THEN (cov * cov) / (varx * vary) END AS r2
          FROM f ORDER BY event_type""",

    "q205_benford" -> {
      val pCase = Audits.benfordP.zipWithIndex
        .map { case (p, i) => s"WHEN ${i + 1} THEN '$p'::DOUBLE" }
        .mkString("CASE digit ", " ", " END")
      s"""WITH v AS (SELECT l_returnflag,
                            ${centsSql("l_extendedprice")} AS vc
                     FROM lineitem),
          pos AS (SELECT l_returnflag, vc FROM v WHERE vc > 0),
          c AS (SELECT l_returnflag,
                       CAST(substr(CAST(vc AS VARCHAR), 1, 1) AS BIGINT)
                         AS digit,
                       count(*) AS n
                FROM pos GROUP BY 1, 2),
          t AS (SELECT l_returnflag, CAST(sum(n) AS BIGINT) AS n_total
                FROM c GROUP BY 1),
          j AS (SELECT c.l_returnflag, digit, n_total,
                       CAST(n AS BIGINT) AS n,
                       CAST(n AS DOUBLE) / CAST(n_total AS DOUBLE)
                         AS share,
                       $pCase AS benford_p
                FROM c JOIN t USING (l_returnflag))
          SELECT l_returnflag, digit, n_total, n, share, benford_p,
                 share - benford_p AS excess
          FROM j ORDER BY l_returnflag, digit"""
    },

    "q206_cusum" ->
      s"""WITH e AS (SELECT user_id, epoch_us(ts) AS tsu, event_id,
                            ${centsSql("value")} AS vc
                     FROM events),
          w AS (SELECT user_id,
                       sum(vc) OVER (PARTITION BY user_id
                         ORDER BY tsu, event_id
                         ROWS UNBOUNDED PRECEDING) AS s,
                       row_number() OVER (PARTITION BY user_id
                         ORDER BY tsu, event_id) AS i,
                       sum(vc) OVER (PARTITION BY user_id) AS tt,
                       count(*) OVER (PARTITION BY user_id) AS n
                FROM e)
          SELECT user_id, CAST(max(n) AS BIGINT) AS n,
                 CAST(max(abs(s * n - i * tt)) AS DOUBLE)
                   / CAST(max(n) AS DOUBLE) AS cusum_peak
          FROM w GROUP BY 1 ORDER BY user_id""",

    "q207_key_skew" ->
      """WITH c AS (SELECT user_id AS k, count(*) AS n FROM events
                    GROUP BY 1),
          t AS (SELECT CAST(sum(n) AS BIGINT) AS n_rows,
                       count(*) AS n_keys,
                       CAST(max(n) AS BIGINT) AS max_n
                FROM c),
          r AS (SELECT n, row_number() OVER (ORDER BY n, k) AS rn FROM c),
          p AS (SELECT CAST(r.n AS BIGINT) AS p99_n FROM r, t
                WHERE rn = CAST(ceil(n_keys * 0.99) AS BIGINT)),
          h AS (SELECT CAST(k AS VARCHAR) AS top_key FROM c
                ORDER BY n DESC, k LIMIT 1)
          SELECT n_rows, n_keys, max_n, p99_n,
                 CAST(n_rows AS DOUBLE) / CAST(n_keys AS DOUBLE) AS mean_n,
                 CAST(max_n AS DOUBLE)
                   / (CAST(n_rows AS DOUBLE) / CAST(n_keys AS DOUBLE))
                   AS skew_ratio,
                 top_key
          FROM t, p, h""",

    "q208_streaming_durable_mv" ->
      s"""WITH e AS (SELECT event_type, ${centsSql("value")} AS vc
                     FROM events)
          SELECT event_type, CAST(2 * count(*) AS BIGINT) AS n,
                 CAST(2 * sum(vc) AS BIGINT) AS vc_sum
          FROM e GROUP BY 1 ORDER BY event_type""",

    "q210_funnel3" ->
      s"""WITH ev AS (SELECT user_id, epoch_us(ts) AS tsu, event_type
                      FROM events),
          v AS (SELECT user_id, tsu FROM ev WHERE event_type = 'view'),
          c AS (SELECT user_id, tsu FROM ev WHERE event_type = 'click'),
          p AS (SELECT user_id, tsu FROM ev WHERE event_type = 'purchase'),
          h1 AS (SELECT v.user_id, v.tsu,
                        (SELECT min(c.tsu) FROM c
                         WHERE c.user_id = v.user_id AND c.tsu > v.tsu)
                          AS nc
                 FROM v),
          s1 AS (SELECT user_id, tsu,
                        CASE WHEN nc - tsu <= $HourUs THEN nc END
                          AS click_ts
                 FROM h1),
          a1 AS (SELECT user_id, count(*) AS n_views,
                        count(click_ts) AS n_clicked
                 FROM s1 GROUP BY 1),
          h2 AS (SELECT s1.user_id, s1.tsu, s1.click_ts,
                        (SELECT min(p.tsu) FROM p
                         WHERE p.user_id = s1.user_id
                           AND p.tsu > s1.click_ts) AS np
                 FROM s1 WHERE click_ts IS NOT NULL),
          s2 AS (SELECT user_id, tsu, click_ts,
                        CASE WHEN np - click_ts <= $HourUs THEN np END
                          AS purch_ts
                 FROM h2),
          a2 AS (SELECT user_id, count(purch_ts) AS n_full,
                        min(CASE WHEN purch_ts IS NOT NULL
                                 THEN purch_ts - tsu END) AS min_lag_us
                 FROM s2 GROUP BY 1)
          SELECT a1.user_id, a1.n_views, a1.n_clicked,
                 CAST(coalesce(a2.n_full, 0) AS BIGINT) AS n_full,
                 a2.min_lag_us
          FROM a1 LEFT JOIN a2 USING (user_id)
          ORDER BY user_id""",

    "q211_reconcile" ->
      s"""WITH p AS (SELECT o_orderkey AS k,
                            ${centsSql("o_totalprice")} AS pv
                     FROM orders),
          ch AS (SELECT l_orderkey AS k,
                        CAST(sum(${centsSql(
                          "(l_extendedprice * (1 - l_discount))" +
                            " * (1 + l_tax)")}) AS BIGINT) AS cv
                 FROM lineitem GROUP BY 1),
          j AS (SELECT pv, cv, abs(pv - cv) AS diff
                FROM p LEFT JOIN ch USING (k))
          SELECT count(*) AS n_parents,
                 CAST(count(CASE WHEN cv IS NULL THEN 1 END) AS BIGINT)
                   AS n_missing_child,
                 CAST(count(CASE WHEN diff <= 0 THEN 1 END) AS BIGINT)
                   AS n_matched,
                 CAST(count(CASE WHEN diff > 0 THEN 1 END) AS BIGINT)
                   AS n_mismatched,
                 CAST(max(diff) AS BIGINT) AS max_abs_diff_cents
          FROM j""",

    "q212_entity_resolution" -> {
      val jaccardSql = ExtensionQueries.oracleSql("q27_dedup_jaccard")
      s"""WITH RECURSIVE nf AS (SELECT doc_id,
                 md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ',
                   'g'))) AS fp
               FROM documents),
          ga AS (SELECT fp, min(doc_id) AS root, count(*) AS n
                 FROM nf GROUP BY 1),
          ea AS (SELECT g.root AS doc_a, nf.doc_id AS doc_b
                 FROM nf JOIN ga g USING (fp)
                 WHERE g.n > 1 AND nf.doc_id <> g.root),
          jp AS (SELECT doc_a, doc_b FROM ($jaccardSql) t),
          pr AS (SELECT doc_a, doc_b FROM ea
                 UNION SELECT doc_a, doc_b FROM jp),
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

    "q213_robust_mad" ->
      s"""WITH e AS (SELECT event_type, event_id,
                            ${centsSql("value")} AS vc
                     FROM events),
          m1 AS (SELECT event_type, count(*) AS n, median(vc) AS med
                 FROM e GROUP BY 1),
          d AS (SELECT e.event_type,
                       abs(2 * vc - CAST(2 * med AS BIGINT)) AS dev2
                FROM e JOIN m1 USING (event_type)),
          m2 AS (SELECT event_type, median(dev2) AS m2
                 FROM d GROUP BY 1),
          o AS (SELECT d.event_type,
                       count(CASE WHEN CAST(dev2 AS DOUBLE) > 3 * m2
                             THEN 1 END) AS n_outliers
                FROM d JOIN m2 USING (event_type) GROUP BY 1)
          SELECT m1.event_type, n, med AS median, m2 / 2 AS mad,
                 CAST(n_outliers AS BIGINT) AS n_outliers
          FROM m1 JOIN m2 USING (event_type) JOIN o USING (event_type)
          ORDER BY event_type""",

    "q214_gini" ->
      s"""WITH e AS (SELECT event_type, event_id,
                            ${centsSql("value")} AS vc
                     FROM events),
          r AS (SELECT event_type, vc,
                       row_number() OVER (PARTITION BY event_type
                         ORDER BY vc, event_id) AS i
                FROM e),
          a AS (SELECT event_type, count(*) AS n,
                       CAST(sum(vc) AS BIGINT) AS sx,
                       CAST(sum(i * vc) AS BIGINT) AS six
                FROM r GROUP BY 1)
          SELECT event_type, n,
                 CASE WHEN sx > 0 THEN
                   (2 * CAST(six AS DOUBLE)
                     - CAST(n + 1 AS DOUBLE) * CAST(sx AS DOUBLE))
                   / (CAST(n AS DOUBLE) * CAST(sx AS DOUBLE)) END AS gini
          FROM a ORDER BY event_type""",

    "q216_session_merge" ->
      s"""WITH e AS (SELECT user_id, epoch_us(ts) AS tsu, event_id
                     FROM events),
          g AS (SELECT user_id, tsu,
                       CASE WHEN lag(tsu) OVER w IS NULL
                                 OR tsu - lag(tsu) OVER w
                                    > ${30L * 60 * 1000000}
                            THEN 1 ELSE 0 END AS ns
                FROM e
                WINDOW w AS (PARTITION BY user_id
                             ORDER BY tsu, event_id)),
          s AS (SELECT user_id, tsu,
                       sum(ns) OVER (PARTITION BY user_id
                         ORDER BY tsu ROWS UNBOUNDED PRECEDING) AS sid
                FROM g)
          SELECT user_id, CAST(min(tsu) AS BIGINT) AS start_tsu,
                 CAST(max(tsu) AS BIGINT) AS end_tsu,
                 count(*) AS n_events
          FROM s GROUP BY user_id, sid
          ORDER BY user_id, start_tsu""",

    "q217_autocorr" ->
      s"""WITH e AS (SELECT event_type, epoch_us(ts) // 3600000000 AS b,
                            ${centsSql("value")} AS vc
                     FROM events),
          sr AS (SELECT event_type, b, CAST(sum(vc) AS BIGINT) AS x
                 FROM e GROUP BY 1, 2),
          p AS (SELECT a.event_type, l.lag, a.x AS xa, c.x AS xb
                FROM sr a
                CROSS JOIN (VALUES (1), (2), (3)) l(lag)
                JOIN sr c ON c.event_type = a.event_type
                         AND a.b = c.b + l.lag),
          ag AS (SELECT event_type, lag, count(*) AS n_pairs,
                        CAST(sum(xa) AS BIGINT) AS sx,
                        CAST(sum(xb) AS BIGINT) AS sy,
                        CAST(sum(xa * xb) AS BIGINT) AS sxy,
                        CAST(sum(xa * xa) AS BIGINT) AS sxx,
                        CAST(sum(xb * xb) AS BIGINT) AS syy
                 FROM p GROUP BY 1, 2),
          f AS (SELECT event_type, lag, n_pairs,
                       CAST(n_pairs AS DOUBLE) * CAST(sxy AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS cov,
                       CAST(n_pairs AS DOUBLE) * CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS vx,
                       CAST(n_pairs AS DOUBLE) * CAST(syy AS DOUBLE)
                         - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS vy
                FROM ag)
          SELECT event_type, CAST(lag AS BIGINT) AS lag, n_pairs,
                 CASE WHEN n_pairs >= 2 AND vx <> 0 AND vy <> 0
                      THEN cov / sqrt(vx * vy) END AS rho
          FROM f ORDER BY event_type, lag""",

    "q218_weighted_median" ->
      s"""WITH li AS (SELECT l_suppkey,
                             ${centsSql("l_extendedprice")} AS pc,
                             CAST(l_quantity AS BIGINT) AS w,
                             l_orderkey, l_linenumber
                      FROM lineitem),
          c AS (SELECT l_suppkey, pc, w,
                       sum(w) OVER (PARTITION BY l_suppkey
                         ORDER BY pc, l_orderkey, l_linenumber
                         ROWS UNBOUNDED PRECEDING) AS cw
                FROM li),
          t AS (SELECT l_suppkey, count(*) AS n,
                       CAST(sum(w) AS BIGINT) AS w_total
                FROM li GROUP BY 1)
          SELECT c.l_suppkey, n, w_total,
                 CAST(min(pc) AS BIGINT) AS w_median
          FROM c JOIN t USING (l_suppkey)
          WHERE cw * 2 >= w_total
          GROUP BY c.l_suppkey, n, w_total
          ORDER BY l_suppkey""",

    "q219_streaming_gaps" ->
      s"""WITH e AS (SELECT user_id, epoch_us(ts) AS tsu, event_id
                     FROM events),
          l AS (SELECT user_id, tsu,
                       lag(tsu) OVER (PARTITION BY user_id
                         ORDER BY tsu, event_id) AS prev_tsu
                FROM e)
          SELECT user_id, prev_tsu, tsu, tsu - prev_tsu AS gap_us
          FROM l WHERE tsu - prev_tsu > 7200000000
          ORDER BY user_id, tsu""",

    "q220_percent_rank" ->
      s"""WITH e AS (SELECT event_id, event_type,
                            ${centsSql("value")} AS vc
                     FROM events),
          r AS (SELECT event_id, event_type, vc,
                       row_number() OVER (PARTITION BY event_type
                         ORDER BY vc, event_id) AS rn,
                       count(*) OVER (PARTITION BY event_type) AS n
                FROM e)
          SELECT event_id, event_type, vc,
                 CASE WHEN n > 1
                      THEN CAST(rn - 1 AS DOUBLE) / CAST(n - 1 AS DOUBLE)
                      ELSE CAST(0 AS DOUBLE) END AS pct
          FROM r ORDER BY event_id""",

    "q221_chisq" ->
      s"""WITH e AS (SELECT event_type,
                            (epoch_us(ts) // 3600000000) % 24 AS hod
                     FROM events),
          c AS (SELECT event_type, hod, count(*) AS o
                FROM e GROUP BY 1, 2),
          rt AS (SELECT event_type, CAST(sum(o) AS BIGINT) AS rt
                 FROM c GROUP BY 1),
          ct AS (SELECT hod, CAST(sum(o) AS BIGINT) AS ct
                 FROM c GROUP BY 1),
          t AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM c),
          j AS (SELECT c.event_type, c.hod, o,
                       (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE))
                         / CAST(n AS DOUBLE) AS expected
                FROM c JOIN rt USING (event_type) JOIN ct USING (hod)
                CROSS JOIN t)
          SELECT event_type, hod, o, expected,
                 (CAST(o AS DOUBLE) - expected)
                   * (CAST(o AS DOUBLE) - expected) / expected AS contrib
          FROM j ORDER BY event_type, hod""",

    "q222_nearest_join" ->
      s"""WITH ev AS (SELECT user_id, epoch_us(ts) AS tsu, event_type
                      FROM events),
          p AS (SELECT user_id, tsu FROM ev
                WHERE event_type = 'purchase'),
          c AS (SELECT user_id, tsu FROM ev WHERE event_type = 'click'),
          m AS (SELECT p.user_id, p.tsu,
                       (SELECT max(c.tsu) FROM c
                        WHERE c.user_id = p.user_id AND c.tsu <= p.tsu
                          AND c.tsu >= p.tsu - $NearTolUs) AS bv,
                       (SELECT min(c.tsu) FROM c
                        WHERE c.user_id = p.user_id AND c.tsu > p.tsu
                          AND c.tsu <= p.tsu + $NearTolUs) AS fv
                FROM p),
          n AS (SELECT user_id, tsu,
                       CASE WHEN bv IS NULL AND fv IS NULL THEN NULL
                            WHEN fv IS NULL THEN bv
                            WHEN bv IS NULL THEN fv
                            WHEN tsu - bv <= fv - tsu THEN bv
                            ELSE fv END AS nearest_ts
                FROM m)
          SELECT user_id, tsu, nearest_ts,
                 CASE WHEN nearest_ts IS NOT NULL
                      THEN abs(nearest_ts - tsu) END AS dist_us
          FROM n ORDER BY user_id, tsu""",

    "q223_streaming_enrich" ->
      """SELECT n_name, count(*) AS n_events
         FROM events JOIN nation ON n_nationkey = user_id % 25
         GROUP BY 1 ORDER BY n_name""",

    "q225_tvd_drift" -> {
      val aCols = (0 until TvdBins).map(b =>
        s"count(CASE WHEN h AND bin = $b THEN 1 END) AS a$b")
      val bCols = (0 until TvdBins).map(b =>
        s"count(CASE WHEN NOT h AND bin = $b THEN 1 END) AS b$b")
      val naChain = (0 until TvdBins).map(b => s"a$b").mkString(" + ")
      val nbChain = (0 until TvdBins).map(b => s"b$b").mkString(" + ")
      val termChain = (0 until TvdBins).map(b =>
        s"abs(CAST(a$b AS DOUBLE) / CAST(n_a AS DOUBLE) " +
          s"- CAST(b$b AS DOUBLE) / CAST(n_b AS DOUBLE))")
        .mkString(" + ")
      s"""WITH e AS (SELECT event_type,
                            epoch_us(ts) < $TvdMidUs AS h,
                            least(${centsSql("value")} // $TvdBinCents,
                              ${TvdBins - 1}) AS bin
                     FROM events),
          p AS (SELECT event_type,
                       ${(aCols ++ bCols).mkString(",\n                       ")}
                FROM e GROUP BY 1),
          w AS (SELECT *, CAST($naChain AS BIGINT) AS n_a,
                       CAST($nbChain AS BIGINT) AS n_b
                FROM p)
          SELECT event_type, n_a, n_b,
                 CASE WHEN n_a > 0 AND n_b > 0
                      THEN 0.5 * ($termChain) END AS tvd
          FROM w ORDER BY event_type"""
    },

    "q228_ordered_pairs" ->
      s"""WITH e AS (SELECT user_id, epoch_us(ts) AS tsu, event_id,
                            event_type
                     FROM events),
          g AS (SELECT user_id, tsu, event_type,
                       CASE WHEN lag(tsu) OVER w IS NULL
                                 OR tsu - lag(tsu) OVER w > $SessionGapUs
                            THEN 1 ELSE 0 END AS ns
                FROM e
                WINDOW w AS (PARTITION BY user_id
                             ORDER BY tsu, event_id)),
          s AS (SELECT user_id, tsu, event_type,
                       sum(ns) OVER (PARTITION BY user_id
                         ORDER BY tsu ROWS UNBOUNDED PRECEDING) AS sid
                FROM g),
          fs AS (SELECT user_id, sid, event_type, min(tsu) AS mt
                 FROM s GROUP BY 1, 2, 3),
          p AS (SELECT a.event_type AS type_a, b.event_type AS type_b
                FROM fs a JOIN fs b ON a.user_id = b.user_id
                  AND a.sid = b.sid AND a.mt < b.mt)
          SELECT type_a, type_b, count(*) AS n_sessions
          FROM p GROUP BY 1, 2 ORDER BY type_a, type_b""",

    "q229_entry_conversion" ->
      s"""WITH e AS (SELECT user_id, epoch_us(ts) AS tsu, event_id,
                            event_type
                     FROM events),
          g AS (SELECT user_id, tsu, event_id, event_type,
                       CASE WHEN lag(tsu) OVER w IS NULL
                                 OR tsu - lag(tsu) OVER w > $SessionGapUs
                            THEN 1 ELSE 0 END AS ns
                FROM e
                WINDOW w AS (PARTITION BY user_id
                             ORDER BY tsu, event_id)),
          s AS (SELECT user_id, tsu, event_id, event_type,
                       sum(ns) OVER (PARTITION BY user_id
                         ORDER BY tsu ROWS UNBOUNDED PRECEDING) AS sid
                FROM g),
          ps AS (SELECT user_id, sid,
                        arg_min(event_type,
                          ${graft.functions.Portable
                            .ordKeySql("tsu", "event_id")}) AS entry_type,
                        max(CASE WHEN event_type = 'purchase'
                            THEN 1 ELSE 0 END) AS converted
                 FROM s GROUP BY 1, 2),
          a AS (SELECT entry_type, count(*) AS n_sessions,
                       CAST(sum(converted) AS BIGINT) AS n_converted
                FROM ps GROUP BY 1)
          SELECT entry_type, n_sessions, n_converted,
                 CAST(n_converted AS DOUBLE) / CAST(n_sessions AS DOUBLE)
                   AS conv_rate
          FROM a ORDER BY entry_type""",

    "q230_join_size_audit" ->
      """WITH c AS (SELECT user_id AS k, count(*) AS n FROM events
                    GROUP BY 1),
          j AS (SELECT a.k, a.n * b.n AS prod
                FROM c a JOIN c b ON a.k = b.k),
          t AS (SELECT count(*) AS n_matching_keys,
                       CAST(sum(prod) AS BIGINT) AS est_rows,
                       CAST(max(prod) AS BIGINT) AS max_key_rows
                FROM j),
          h AS (SELECT CAST(k AS VARCHAR) AS top_key FROM j
                ORDER BY prod DESC, k LIMIT 1)
          SELECT n_matching_keys, est_rows, max_key_rows, top_key
          FROM t, h""",

    "q231_table_fingerprint" -> {
      def f(e: String) = s"coalesce(CAST($e AS VARCHAR), chr(2))"
      val rowKey = Seq(f("l_orderkey"), f("ln"), f("pc"))
        .mkString(" || chr(1) || ")
      s"""WITH li AS (SELECT l_returnflag, l_orderkey,
                             CAST(l_linenumber AS BIGINT) AS ln,
                             ${centsSql("l_extendedprice")} AS pc
                      FROM lineitem),
          h AS (SELECT l_returnflag,
                       (CAST(('0x' || substr(md5($rowKey), 1, 15))
                          AS BIGINT) & 1073741823) AS rh
                FROM li)
          SELECT l_returnflag, count(*) AS n_rows,
                 CAST(sum(rh) AS BIGINT) AS fp_sum
          FROM h GROUP BY 1 ORDER BY l_returnflag"""
    },

    "q232_exact_split" ->
      """WITH d AS (SELECT doc_id, lang,
                           (CAST(('0x' || substr(md5(
                              CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
                             & 1073741823) AS h
                    FROM documents),
          r AS (SELECT doc_id, lang,
                       row_number() OVER (PARTITION BY lang
                         ORDER BY h, doc_id) AS rn,
                       count(*) OVER (PARTITION BY lang) AS n
                FROM d)
          SELECT lang,
                 CASE WHEN (rn - 1) * 10 < n * 8
                      THEN 'train' ELSE 'test' END AS split,
                 count(*) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS id_sum
          FROM r GROUP BY 1, 2 ORDER BY lang, split""",

    "q233_temperature_mix" ->
      s"""WITH per AS (SELECT source, count(*) AS n_docs,
                              CAST(sum(n_chars) AS BIGINT) AS n_chars
                       FROM documents GROUP BY 1),
          w AS (SELECT source, n_docs, n_chars,
                       CAST(floor(sqrt(CAST(n_docs AS DOUBLE)))
                            AS BIGINT) AS w
                FROM per),
          t AS (SELECT CAST(sum(w) AS BIGINT) AS wt FROM w)
          SELECT source, n_docs, n_chars, w,
                 CAST(w AS DOUBLE) / CAST(wt AS DOUBLE) AS share,
                 CAST(($MixBudget * w) // wt AS BIGINT) AS alloc_docs
          FROM w, t ORDER BY source""",

    "q234_hourly_anomalies" ->
      s"""WITH sr AS (SELECT event_type,
                             epoch_us(ts) // 3600000000 AS b,
                             count(*) AS x
                      FROM events GROUP BY 1, 2),
          m1 AS (SELECT event_type, median(x) AS med FROM sr GROUP BY 1),
          d AS (SELECT sr.event_type,
                       abs(2 * x - CAST(2 * med AS BIGINT)) AS dev2, b
                FROM sr JOIN m1 USING (event_type)),
          m2 AS (SELECT event_type, median(dev2) AS m2 FROM d GROUP BY 1)
          SELECT sr.event_type, b, CAST(x AS BIGINT) AS x,
                 med AS median, m2 / 2 AS mad
          FROM sr JOIN m1 USING (event_type) JOIN m2 USING (event_type)
          WHERE abs(2 * x - CAST(2 * med AS BIGINT)) * 2
                > 3 * CAST(2 * m2 AS BIGINT)
          ORDER BY event_type, b""",

    "q235_ratio_to_parent" ->
      s"""WITH rev AS (SELECT r_name, n_name,
                              CAST(sum(${centsSql("o_totalprice")})
                                   AS BIGINT) AS nation_cents
                       FROM customer
                       JOIN orders ON c_custkey = o_custkey
                       JOIN nation ON c_nationkey = n_nationkey
                       JOIN region ON n_regionkey = r_regionkey
                       GROUP BY 1, 2),
          rt AS (SELECT r_name, CAST(sum(nation_cents) AS BIGINT)
                          AS region_cents
                 FROM rev GROUP BY 1)
          SELECT rev.r_name, n_name, nation_cents, region_cents,
                 CAST(nation_cents AS DOUBLE)
                   / CAST(region_cents AS DOUBLE) AS share
          FROM rev JOIN rt USING (r_name)
          ORDER BY r_name, n_name""",

    "q236_conversion_latency" ->
      s"""WITH ev AS (SELECT user_id, epoch_us(ts) AS tsu, event_type
                      FROM events),
          a AS (SELECT user_id, tsu FROM ev WHERE event_type = 'click'),
          b AS (SELECT user_id, tsu FROM ev
                WHERE event_type = 'purchase'),
          m AS (SELECT a.user_id, a.tsu,
                       (SELECT min(b.tsu) FROM b
                        WHERE b.user_id = a.user_id AND b.tsu > a.tsu)
                         AS nxt
                FROM a),
          c AS (SELECT user_id, nxt - tsu AS lag_us FROM m
                WHERE nxt IS NOT NULL AND nxt - tsu <= $HourUs)
          SELECT user_id, count(*) AS n, median(lag_us) AS median
          FROM c GROUP BY 1 ORDER BY user_id""",

    "q237_user_cadence" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS tsu, event_id
                    FROM events),
          l AS (SELECT user_id, tsu,
                       lag(tsu) OVER (PARTITION BY user_id
                         ORDER BY tsu, event_id) AS prev_tsu
                FROM e),
          g AS (SELECT user_id, tsu - prev_tsu AS gap_us FROM l
                WHERE prev_tsu IS NOT NULL)
          SELECT user_id, count(*) AS n, median(gap_us) AS median
          FROM g GROUP BY 1 ORDER BY user_id""",

    "q226_weighted_pagerank" -> {
      def iter(prev: String, cur: String): String =
        s"""c$cur AS (SELECT e.dst AS node,
                      sum((($prev.rank * e.w) // ow.sw)) AS csum
               FROM e JOIN $prev ON e.src = $prev.node
                      JOIN ow ON ow.node = e.src
               GROUP BY 1),
           $cur AS (SELECT n.node,
                      CAST(150000 + (85 * coalesce(c$cur.csum, 0)) // 100
                        AS BIGINT) AS rank
               FROM nodes n LEFT JOIN c$cur ON n.node = c$cur.node)"""
      s"""WITH b AS (SELECT DISTINCT o_custkey AS ck, l_suppkey AS sk
                     FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
          bw AS (SELECT 'c:' || ck AS c, 's:' || sk AS sup,
                        1 + (ck + sk) % 5 AS w
                 FROM b),
          e AS (SELECT c AS src, sup AS dst, w FROM bw
                UNION ALL
                SELECT sup AS src, c AS dst, w FROM bw),
          nodes AS (SELECT DISTINCT src AS node FROM e
                    UNION SELECT DISTINCT dst FROM e),
          ow AS (SELECT src AS node, CAST(sum(w) AS BIGINT) AS sw
                 FROM e GROUP BY 1),
          r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank FROM nodes),
          ${iter("r0", "r1")},
          ${iter("r1", "r2")},
          ${iter("r2", "r3")}
          SELECT node, rank FROM r3 ORDER BY node"""
    },

    "q227_poisson_bootstrap" -> {
      val wCase = Stats.PoissonCdf.zipWithIndex
        .map { case (t, k) => s"WHEN u < '$t'::DOUBLE THEN $k" }
        .mkString("CASE ", " ", " ELSE 5 END")
      s"""WITH e AS (SELECT event_type, event_id,
                            ${centsSql("value")} AS vc
                     FROM events),
          fan AS (SELECT event_type, event_id, vc, g.b
                  FROM e CROSS JOIN
                    (SELECT unnest(generate_series(0,
                       ${BootResamples - 1})) AS b) g),
          h AS (SELECT event_type, vc, b,
                       CAST((CAST(('0x' || substr(md5(
                           CAST(event_id AS VARCHAR) || ':'
                             || CAST(b AS VARCHAR)), 1, 15)) AS BIGINT)
                         & 1073741823) AS DOUBLE) / 1073741824 AS u
                FROM fan),
          w AS (SELECT event_type, vc, b, $wCase AS wt FROM h),
          a AS (SELECT event_type, CAST(b AS BIGINT) AS b,
                       CAST(sum(wt) AS BIGINT) AS n_eff,
                       CAST(sum(wt * vc) AS BIGINT) AS swx
                FROM w GROUP BY 1, 2)
          SELECT event_type, b, n_eff,
                 CASE WHEN n_eff > 0
                      THEN CAST(swx AS DOUBLE) / CAST(n_eff AS DOUBLE)
                      END AS mean
          FROM a ORDER BY event_type, b"""
    }
  )
}
