package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.Readers
import graft.ext.{Checkpoints, Dedup, GlobalOrder, Similarity, Stats, TimeSeries}
import OracleSql.centsSql
import Tables.{eventsUs, t}

/** Round-12 continuation batch: ranking-quality (ROC AUC), monotonic
  * association (Spearman), concentration (Pareto top-share), and
  * habit/retention (longest activity streak) operators — each a library
  * operator (`ext`) gated here against a DuckDB oracle on the driver's
  * parquet tables. All follow the repo's exact-integer discipline: the
  * distributed aggregates are int64-exact under any partitioning and
  * the few derived doubles are one fixed IEEE formula on both engines.
  */
object Round12bQueries extends QuerySet {

  /** q238 cohort modulus (the q223 user-sharding convention). */
  private val AucCohorts = 8L

  /** q241 day bucket: 1 day in epoch micros. */
  private val DayUs = 86400000000L

  /** q239 event-type key map (alphabetical, shared with the oracle —
    * the boundary-stitch primitives key on int64, so the 5 known
    * types get a fixed literal code and the output maps it back).
    */
  private val TypeCodes =
    Seq("click" -> 0L, "error" -> 1L, "purchase" -> 2L,
      "signup" -> 3L, "view" -> 4L)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ROC AUC of the value score as a purchase-vs-click separator, per
    // user cohort: the Mann–Whitney rank statistic computed from exact
    // integer tie-block counts — one compaction, one boundary-stitch
    // running total over distinct scores, one combinable fold.
    "q238_roc_auc" -> ((s, dir) => {
      val ev = eventsUs(s, dir)
        .filter(col("event_type").isin("click", "purchase"))
        .select(pmod(col("user_id"), lit(AucCohorts)).as("cohort"),
          (col("event_type") === "purchase").as("__pos"),
          Stats.cents(col("value")).as("__score"))
      Stats.rocAuc(ev, "cohort", col("__pos"), col("__score"))
        .orderBy("cohort")
    }),

    // Spearman rank correlation of value against time per event type:
    // the outlier-robust monotonic-drift screen (q204 fits a line,
    // q217 needs regular buckets — this ranks). Midranks handle ties;
    // every rank sum is integer-exact.
    "q239_spearman" -> ((s, dir) => {
      val typeKey = TypeCodes.tail.foldLeft(
        when(col("event_type") === TypeCodes.head._1,
          lit(TypeCodes.head._2))) { case (acc, (n, c)) =>
        acc.when(col("event_type") === n, lit(c))
      }
      val keyName = TypeCodes.tail.foldLeft(
        when(col("tk") === TypeCodes.head._2,
          lit(TypeCodes.head._1))) { case (acc, (n, c)) =>
        acc.when(col("tk") === c, lit(n))
      }
      val ev = eventsUs(s, dir).select(typeKey.as("tk"),
        col("tsu"), Stats.cents(col("value")).as("vc"))
      Stats.spearmanRho(ev, "tk", col("tsu"), col("vc"))
        .select(keyName.as("event_type"), col("n"), col("rho"))
        .orderBy("event_type")
    }),

    // Pareto concentration of order revenue per nation: the smallest
    // top-k of customers covering >= 80% of the nation's revenue —
    // integer threshold test on two boundary-stitched running totals
    // over per-customer aggregates, shares divided once.
    "q240_pareto_revenue" -> ((s, dir) => {
      val rev = t(s, dir, "customer")
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"))
        .groupBy(col("c_nationkey").cast("long").as("nk"),
          col("c_custkey"))
        .agg(sum(Stats.cents(col("o_totalprice"))).as("cents"))
      Stats.paretoTopShare(rev, "nk", "cents", Seq(col("c_custkey")))
        .join(broadcast(t(s, dir, "nation")
          .select(col("n_nationkey"), col("n_name"))),
          col("nk") === col("n_nationkey"))
        .select(col("n_name"), col("n_entities").as("n_customers"),
          col("total_value").as("total_cents"), col("n_top"),
          col("top_value").as("top_cents"), col("top_share"))
        .orderBy("n_name")
    }),

    // Longest consecutive-day activity streak per user: distinct
    // epoch-days -> gaps-and-islands via two boundary-stitch passes
    // (lag marks breaks, running total numbers runs) -> combinable
    // per-run and per-user folds.
    "q241_active_streaks" -> ((s, dir) => {
      val d = eventsUs(s, dir).select(col("user_id"),
        expr(s"tsu div ${DayUs}L").as("day"))
      TimeSeries.longestRun(d, "user_id", "day")
        .select(col("user_id"), col("n_idx").as("n_days"),
          col("n_runs"), col("longest"), col("longest_start"))
        .orderBy("user_id")
    }),

    // Year-over-year revenue bridge: every customer classified as
    // new / churned / expansion / contraction / stable between the two
    // periods from ONE conditional-aggregation pass (no self-join, no
    // second scan), then one combinable class rollup — the waterfall
    // decomposition behind "where did the delta come from".
    "q242_revenue_bridge" -> ((s, dir) => {
      val per = t(s, dir, "orders")
        .filter(year(col("o_orderdate")).isin(BridgeY1, BridgeY2))
        .groupBy(col("o_custkey"))
        .agg(
          sum(when(year(col("o_orderdate")) === BridgeY1,
            Stats.cents(col("o_totalprice"))).otherwise(0L)).as("y1"),
          sum(when(year(col("o_orderdate")) === BridgeY2,
            Stats.cents(col("o_totalprice"))).otherwise(0L)).as("y2"))
      val cls = when(col("y1") === 0L, "new")
        .when(col("y2") === 0L, "churned")
        .when(col("y2") > col("y1"), "expansion")
        .when(col("y2") < col("y1"), "contraction")
        .otherwise("stable")
      per.select(cls.as("bridge_class"), col("y1"), col("y2"))
        .groupBy("bridge_class")
        .agg(count(lit(1)).as("n_customers"), sum(col("y1")).as("y1_cents"),
          sum(col("y2")).as("y2_cents"),
          sum(col("y2") - col("y1")).as("delta_cents"))
        .orderBy("bridge_class")
    }),

    // kNN label-disagreement screen over the embeddings: each vector's
    // 5 exact nearest neighbors (the q30 brute scorer — the exactness
    // gate; the 100 TB path swaps in knnLsh/IVF buckets) vote on its
    // label, and a vector most of whose neighbors disagree is a
    // mislabel suspect — the embedding-space data-quality audit.
    "q243_knn_label_disagree" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val lab = e.select(col("vec_id"), col("label").cast("long"))
      val knn = Similarity.knnBrute(e, e, KnnK)
      val per = knn
        .join(broadcast(lab.toDF("query_id", "qlab")), Seq("query_id"))
        .join(broadcast(lab.toDF("neighbor_id", "nlab")),
          Seq("neighbor_id"))
        .groupBy(col("query_id"), col("qlab"))
        .agg(count_if(col("nlab") =!= col("qlab")).as("n_diff"))
      per.groupBy(col("qlab").as("label"))
        .agg(count(lit(1)).as("n_vecs"),
          count_if(col("n_diff") * 2L >= KnnK.toLong).as("n_suspect"),
          sum(col("n_diff")).as("n_disagree"))
        .orderBy("label")
    }),

    // Sorted-neighborhood entity resolution over the documents: rank by
    // normalized key prefix, pair each doc with its next 3 neighbors in
    // sort order (linear candidate budget — no quadratic block risk),
    // then a banded-DP thresholded edit distance on the compare prefix.
    "q244_sorted_neighborhood" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val pairs = Dedup.sortedNeighborhoodPairs(d, "doc_id",
        substring(lower(col("text")), 1, SnmKeyLen),
        substring(lower(col("text")), 1, SnmCmpLen), SnmWindow)
      pairs.select(col("doc_a"), col("doc_b"),
          levenshtein(col("cmp_a"), col("cmp_b"), SnmMaxDist)
            .cast("long").as("dist"))
        .filter(col("dist") >= 0L)
        .orderBy("doc_a", "doc_b")
    }),

    // Systematic every-Kth sample in global (ts, event_id) order — the
    // survey-sampling design whose implicit stratification-by-time a
    // hash sample (q47/q48) cannot give: one boundary-stitched global
    // row number, a modulus filter, one combinable per-type fold.
    "q245_systematic_sample" -> ((s, dir) => {
      val ev = eventsUs(s, dir).select(col("event_type"), col("tsu"),
        col("event_id"), Stats.cents(col("value")).as("vc"))
      GlobalOrder.withRowNumber(ev,
          Seq(col("tsu"), col("event_id")), out = "rn")
        .filter(pmod(col("rn"), lit(SysK)) === 0L)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_sampled"), sum(col("vc")).as("cents_sum"),
          min(col("rn")).as("first_rn"), max(col("rn")).as("last_rn"))
        .orderBy("event_type")
    }),

    // Kendall τ-b of daily volume against time per event type — the
    // small-n exact trend test (≤ 31 daily points per group, so the
    // |group|² pair join is bounded by construction; spearmanRho is the
    // unbounded-n path). Integer C/D/T counts, one final formula.
    "q246_kendall_tau" -> ((s, dir) => {
      val daily = eventsUs(s, dir)
        .groupBy(col("event_type"),
          expr(s"tsu div ${DayUs}L").as("day"))
        .agg(sum(Stats.cents(col("value"))).as("vc"))
      Stats.kendallTau(daily, "event_type", "day", "vc")
        .orderBy("event_type")
    }),

    // Supplier co-occurrence similarity over the trade graph, fan-out
    // capped BEFORE the self-join: each customer keeps only its top-8
    // suppliers (the bounded-combiner TopKLongPairs aggregate — O(k)
    // state per customer, no window), so pair cardinality is ≤ 28 per
    // customer by construction — the cap-then-pair discipline a 100 TB
    // co-occurrence join needs. Jaccard over the capped edge set.
    "q247_cooccurrence_sim" -> ((s, dir) => {
      val edges = t(s, dir, "orders")
        .join(t(s, dir, "lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_custkey").as("ck"),
          col("l_suppkey").cast("long").as("sk"))
        .agg(count(lit(1)).as("n_trades"))
      val capped = graft.functions.TopKFunctions.topkPerGroup(
          edges, Seq(col("ck")), col("n_trades"), col("sk"), CoocCap)
        .select(col("ck"), col("id").as("sk"))
      val deg = capped.groupBy("sk").agg(count(lit(1)).as("deg"))
      val pairs = capped.toDF("ck", "sa")
        .join(capped.toDF("ck", "sb"), Seq("ck"))
        .filter(col("sa") < col("sb"))
        .groupBy("sa", "sb").agg(count(lit(1)).as("common"))
      pairs
        .join(deg.toDF("sa", "deg_a"), Seq("sa"))
        .join(deg.toDF("sb", "deg_b"), Seq("sb"))
        .select(col("sa").as("supp_a"), col("sb").as("supp_b"),
          col("common"), col("deg_a"), col("deg_b"),
          (col("common").cast("double") /
            (col("deg_a") + col("deg_b") - col("common")).cast("double"))
            .as("jaccard"))
        .orderBy(desc("common"), col("supp_a"), col("supp_b"))
        .limit(CoocTopPairs)
    }),

    // Mutual nearest neighbors over the embeddings: pairs where each
    // vector is the other's exact top-1 — the high-precision match set
    // embedding alignment and conservative near-dup merging start from.
    // One brute top-1 pass (the q30 scorer) + one self-join on the
    // reciprocity condition.
    "q248_mutual_nn" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val top1 = Similarity.knnBrute(e, e, 1)
        .select(col("query_id"), col("neighbor_id"), col("score"))
      val lab = e.select(col("vec_id"), col("label").cast("long"))
      top1.toDF("qa", "na", "score")
        .join(top1.toDF("qb", "nb", "sb"),
          col("na") === col("qb") && col("nb") === col("qa"))
        .filter(col("qa") < col("qb"))
        .join(broadcast(lab.toDF("qa", "lab_a")), Seq("qa"))
        .join(broadcast(lab.toDF("qb", "lab_b")), Seq("qb"))
        .select(col("qa").as("vec_a"), col("qb").as("vec_b"),
          col("score"), col("lab_a"), col("lab_b"),
          (col("lab_a") === col("lab_b")).as("same_label"))
        .orderBy("vec_a")
    }),

    // Degree distribution of the trade graph in power-of-two buckets:
    // per role (customer / supplier), how many nodes have degree in
    // [2^b, 2^(b+1)) — the skew fingerprint read before choosing a
    // join strategy. Bucket = length(bin(deg)) - 1: exact integer
    // log2 on both engines, no floating log anywhere.
    "q249_degree_histogram" -> ((s, dir) => {
      val pairs = t(s, dir, "orders")
        .join(t(s, dir, "lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("ck"),
          col("l_suppkey").cast("long").as("sk"))
        .distinct()
      val degC = pairs.groupBy("ck").agg(count(lit(1)).as("deg"))
        .select(lit("cust").as("role"), col("deg"))
      val degS = pairs.groupBy("sk").agg(count(lit(1)).as("deg"))
        .select(lit("supp").as("role"), col("deg"))
      degC.unionByName(degS)
        .select(col("role"),
          (length(bin(col("deg"))) - 1).cast("long").as("bucket"))
        .groupBy("role", "bucket")
        .agg(count(lit(1)).as("n_nodes"))
        .orderBy("role", "bucket")
    }),

    // Rank-biased overlap (p = 1/2) between the 1997 and 1998 customer
    // revenue rankings, emitted PER DEPTH: a_d = |top-d ∩ top-d|,
    // overlap fraction, and the RBO term (a_d/d)·2⁻ᵈ — every weight an
    // exact power of two injected as the same literal on both engines,
    // every row independent (no cross-row double summation to order).
    "q250_rank_overlap" -> ((s, dir) => {
      val per = t(s, dir, "orders")
        .filter(year(col("o_orderdate")).isin(BridgeY1, BridgeY2))
        .groupBy(col("o_custkey"))
        .agg(
          sum(when(year(col("o_orderdate")) === BridgeY1,
            Stats.cents(col("o_totalprice"))).otherwise(0L)).as("y1"),
          sum(when(year(col("o_orderdate")) === BridgeY2,
            Stats.cents(col("o_totalprice"))).otherwise(0L)).as("y2"))
      def rankOf(vc: String, out: String): DataFrame =
        GlobalOrder.withRowNumber(
          per.filter(col(vc) > 0L).select(col("o_custkey"), col(vc)),
          Seq(-col(vc), col("o_custkey")), out = out)
          .select(col("o_custkey"), col(out))
      val m = rankOf("y1", "r1").join(rankOf("y2", "r2"), "o_custkey")
        .select(greatest(col("r1"), col("r2")).as("m"))
        .filter(col("m") <= RboDepth.toLong)
      val spine = s.range(1, RboDepth + 1).select(col("id").as("d"))
      val weights = (1 to RboDepth)
        .map(d => (d.toLong, math.pow(2.0, -d))).toSeq
      val wDf = s.createDataFrame(weights).toDF("d", "w")
      spine.join(m, col("m") <= col("d"), "left")
        .groupBy("d").agg(count(col("m")).as("a_d"))
        .join(broadcast(wDf), Seq("d"))
        .select(col("d"), col("a_d"),
          (col("a_d").cast("double") / col("d").cast("double"))
            .as("overlap"),
          (col("a_d").cast("double") / col("d").cast("double") *
            col("w")).as("term"))
        .orderBy("d")
    }),

    // SCD-2 snapshot diff: the q181 history read AS OF two points
    // (quarter and three-quarter span), full-outer joined per key and
    // classified added / changed / unchanged — "what moved between
    // yesterday and today" as two pure filters + one key join, never
    // a rescan of the change stream.
    "q251_snapshot_diff" -> ((s, dir) => {
      import org.apache.spark.sql.Row
      val changes = Readers.eventsNanos(s, dir)
        .select(col("user_id"), expr("ts div 1000").as("ver_us"),
          col("event_type"))
      val Row(mn: Long, mx: Long) =
        changes.agg(min("ver_us"), max("ver_us")).head()
      val hist = graft.engine.Warehouse.scd2HistoryBig(changes,
        "user_id", "ver_us", Seq("event_type"))
      val t1 = mn + (mx - mn) / 4
      val t2 = mn + 3 * ((mx - mn) / 4)
      val s1 = graft.engine.Warehouse.scd2Snapshot(hist, t1)
        .select(col("user_id"), col("event_type").as("et1"))
      val s2 = graft.engine.Warehouse.scd2Snapshot(hist, t2)
        .select(col("user_id"), col("event_type").as("et2"))
      s1.join(s2, Seq("user_id"), "full_outer")
        .select(when(col("et1").isNull, "added")
          .when(col("et2").isNull, "removed")
          .when(col("et1") =!= col("et2"), "changed")
          .otherwise("unchanged").as("diff_class"))
        .groupBy("diff_class")
        .agg(count(lit(1)).as("n_users"))
        .orderBy("diff_class")
    }),

    // Sample-ratio-mismatch audit: users deterministically split into
    // two arms by the portable md5 hash (no RNG), per-event-type arm
    // counts, and the binomial z — THE pre-read of every A/B analysis
    // (a skewed split invalidates the experiment before any effect
    // size is computed). One combinable pass.
    "q253_srm_audit" -> ((s, dir) => {
      val arm = pmod(graft.functions.Portable.hash60(
        concat(lit("arm:"), col("user_id").cast("string"))), lit(2L))
      val agg = eventsUs(s, dir).select(col("event_type"), arm.as("arm"))
        .groupBy("event_type")
        .agg(count_if(col("arm") === 0L).as("n_a"),
          count_if(col("arm") === 1L).as("n_b"))
      agg.select(col("event_type"), col("n_a"), col("n_b"),
        ((col("n_a") - col("n_b")).cast("double") /
          sqrt((col("n_a") + col("n_b")).cast("double"))).as("z"),
        (abs((col("n_a") - col("n_b")).cast("double") /
          sqrt((col("n_a") + col("n_b")).cast("double"))) > 3.0)
          .as("srm_flag"))
        .orderBy("event_type")
    }),

    // Customer-revenue decile table (the Lorenz curve in 10 rows):
    // boundary-stitched global ntile, one combinable per-decile fold,
    // then cumulative shares via a 10×10 spine join — exact integer
    // cents everywhere, shares divided once per row.
    "q254_decile_table" -> ((s, dir) => {
      val rev = t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(sum(Stats.cents(col("o_totalprice"))).as("cents"))
      val nt = GlobalOrder.withNtile(rev, 10,
        Seq(col("cents"), col("o_custkey")), out = "decile")
      val d = nt.groupBy("decile")
        .agg(count(lit(1)).as("n_customers"), sum(col("cents")).as("cents"))
      // pin the 10x10 spine join's build side: both sides are 10-row
      // aggregates, so AQE's BNLJ build pick races run to run (bench
      // fp flip); broadcasting the bare spine is costless and fixed
      val cum = d.select(col("decile").as("db"), col("cents").as("cb"))
        .join(broadcast(d.select(col("decile"))),
          col("db") <= col("decile"))
        .groupBy("decile").agg(sum(col("cb")).as("cum_cents"))
      val tot = d.agg(sum(col("cents")).as("total"))
      d.join(cum, "decile").crossJoin(broadcast(tot))
        .select(col("decile"), col("n_customers"), col("cents"),
          col("cum_cents"),
          (col("cents").cast("double") / col("total").cast("double"))
            .as("share"),
          (col("cum_cents").cast("double") / col("total").cast("double"))
            .as("cum_share"))
        .orderBy("decile")
    }),

    // Rapid-repeat (double-fire) audit: same user, same event type,
    // within 5 s of the previous occurrence — the instrumentation-bug
    // screen dedup pipelines run before trusting event counts. The
    // (user, type) composite collapses to ONE int64 key
    // (user·8 + typecode) for the boundary-stitch lag.
    "q255_rapid_repeat" -> ((s, dir) => {
      val typeKey = TypeCodes.tail.foldLeft(
        when(col("event_type") === TypeCodes.head._1,
          lit(TypeCodes.head._2))) { case (acc, (n, c)) =>
        acc.when(col("event_type") === n, lit(c))
      }
      val ev = eventsUs(s, dir).select(col("event_type"), col("user_id"),
        col("tsu"), col("event_id"),
        (col("user_id") * 8L + typeKey).as("k"))
      val lagged = GlobalOrder.withLagPerKey(ev, "k", "tsu", "tsu",
        Seq(col("event_id")), out = "prev")
      val rapid = col("prev").isNotNull &&
        col("tsu") - col("prev") <= RapidUs
      lagged.groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          count_if(rapid).as("n_rapid"),
          countDistinct(when(rapid, col("user_id"))).as("n_users_rapid"))
        .orderBy("event_type")
    }),

    // Activation funnel: signup → first purchase AFTER it — how many
    // signed-up users ever convert and the exact median activation
    // latency. Two conditional mins in one combinable pass; the median
    // is the global-rank medianOfLong (no sort on one task).
    "q256_signup_to_purchase" -> ((s, dir) => {
      val f = eventsUs(s, dir).groupBy(col("user_id"))
        .agg(min(when(col("event_type") === "signup", col("tsu")))
          .as("su"),
          min(when(col("event_type") === "purchase", col("tsu")))
            .as("pu"))
      val converted = col("su").isNotNull && col("pu").isNotNull &&
        col("pu") > col("su")
      val conv = f.filter(converted)
        .select(col("user_id"), (col("pu") - col("su")).as("lat"))
      val counts = f.agg(count_if(col("su").isNotNull).as("n_signed"),
        count_if(converted).as("n_converted"))
      val med = GlobalOrder.medianOfLong(conv, "lat", Seq(col("user_id")))
      counts.crossJoin(
        med.select(col("median").as("median_latency_us")))
    }),

    // Day-of-week volume profile per event type: observed share vs the
    // uniform 1/7 as an index (n·7/total) — the calendar-seasonality
    // feature behind staffing/forecast baselines. Integer day math
    // ((epoch_day + 4) mod 7 — 1970-01-01 was a Thursday), one
    // combinable pass + a broadcast totals join.
    "q257_dow_profile" -> ((s, dir) => {
      val per = eventsUs(s, dir)
        .groupBy(col("event_type"),
          expr(s"(tsu div $DayUs + 4) % 7").as("dow"))
        .agg(count(lit(1)).as("n"))
      val tot = per.groupBy("event_type").agg(sum(col("n")).as("total"))
      per.join(broadcast(tot), Seq("event_type"))
        .select(col("event_type"), col("dow"), col("n"),
          ((col("n") * 7L).cast("double") / col("total").cast("double"))
            .as("share_index"))
        .orderBy("event_type", "dow")
    }),

    // Top-k WITH TIES (the SQL FETCH ... WITH TIES semantics q03's
    // row_number top-k cannot express): all customers whose coarse
    // revenue ties the k-th ranked value are kept — cutoff value found
    // by one global row number, then a broadcast filter; no rank join.
    "q258_topk_with_ties" -> ((s, dir) => {
      val rev = t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(sum(Stats.cents(col("o_totalprice"))).as("c"))
        .select(col("o_custkey"), expr("c div 100000").as("rev_k"))
      val rn = GlobalOrder.withRowNumber(rev,
        Seq(-col("rev_k"), col("o_custkey")), out = "rn")
      val cut = rn.filter(col("rn") === TiesK)
        .select(col("rev_k").as("cut"))
      rev.crossJoin(broadcast(cut))
        .filter(col("rev_k") >= col("cut"))
        .select(col("o_custkey"), col("rev_k"))
        .orderBy(desc("rev_k"), col("o_custkey"))
    }),

    // Local clustering coefficient per supplier over the co-purchase
    // projection (q247's capped co-occurrence pairs with support >= 2
    // as edges): degree-oriented wedge closing credits each triangle
    // to its three corners — "how clique-like is this node's
    // neighborhood", the community-structure feature global triangle
    // counts (q143) cannot give.
    "q259_local_clustering" -> ((s, dir) => {
      val edges = t(s, dir, "orders")
        .join(t(s, dir, "lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_custkey").as("ck"),
          col("l_suppkey").cast("long").as("sk"))
        .agg(count(lit(1)).as("n_trades"))
      val capped = graft.functions.TopKFunctions.topkPerGroup(
          edges, Seq(col("ck")), col("n_trades"), col("sk"), CoocCap)
        .select(col("ck"), col("id").as("sk"))
      val pairs = capped.toDF("ck", "sa")
        .join(capped.toDF("ck", "sb"), Seq("ck"))
        .filter(col("sa") < col("sb"))
        .groupBy("sa", "sb").agg(count(lit(1)).as("common"))
        .filter(col("common") >= CoocMinCommon)
        .select(col("sa").as("src"), col("sb").as("dst"))
      graft.ext.Graph.localClustering(pairs)
        .orderBy("node")
    }),

    // Degree assortativity of the trade graph: Pearson correlation of
    // (customer degree, supplier degree) across distinct edges — do
    // high-fan-out customers trade with high-fan-out suppliers? One
    // distinct pass, two combinable degree counts joined back, one
    // exact six-sum fold and the fixed IEEE formula.
    "q260_degree_assortativity" -> ((s, dir) => {
      val e = t(s, dir, "orders")
        .join(t(s, dir, "lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("ck"),
          col("l_suppkey").cast("long").as("sk"))
        .distinct()
      val dc = e.groupBy("ck").agg(count(lit(1)).as("dc"))
      val ds = e.groupBy("sk").agg(count(lit(1)).as("ds"))
      val agg = e.join(dc, "ck").join(ds, "sk").agg(
        count(lit(1)).as("n_edges"),
        sum(col("dc")).as("sx"), sum(col("ds")).as("sy"),
        sum(col("dc") * col("dc")).as("sxx"),
        sum(col("ds") * col("ds")).as("syy"),
        sum(col("dc") * col("ds")).as("sxy"))
      def d(c: String) = col(c).cast("double")
      val cov = d("n_edges") * d("sxy") - d("sx") * d("sy")
      val vx = d("n_edges") * d("sxx") - d("sx") * d("sx")
      val vy = d("n_edges") * d("syy") - d("sy") * d("sy")
      agg.select(col("n_edges"),
        when(col("n_edges") >= 2L && vx =!= 0.0 && vy =!= 0.0,
          cov / sqrt(vx * vy)).as("assortativity"))
    }),

    // Late-shipment rate per supplier with a Wilson score interval
    // (z = 2): the small-n-honest rate ranking — a supplier with 1/2
    // late must not outrank one with 40/100, which the raw rate does
    // and the Wilson lower bound does not. One combinable (n, k) pass.
    "q261_late_rate_wilson" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .join(t(s, dir, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_suppkey").cast("long").as("suppkey"),
          (datediff(col("l_shipdate"), col("o_orderdate")) >
            LateDays).as("late"))
      Stats.wilsonRate(li, "suppkey", col("late"))
        .orderBy("suppkey")
    }),

    // Boilerplate n-gram screen: the 3-gram shingles shared by the
    // most documents (distinct doc frequency over the q27 shingle set,
    // deterministic top-20) — the repeated-header/footer detector that
    // runs BEFORE near-dup pairing, since boilerplate is what turns
    // pair generation quadratic.
    "q262_boilerplate_ngrams" -> ((s, dir) =>
      Dedup.shingles(t(s, dir, "documents"), 3)
        .groupBy("shingle").agg(count(lit(1)).as("df"))
        .orderBy(desc("df"), col("shingle"))
        .limit(BoilerTopK)),

    // Longest silence per user: the maximum inter-event gap and when
    // it ended — the dormancy/outage signal q237's typical-cadence
    // median hides. Boundary-stitch lag + a combinable struct-max
    // (ties → the latest occurrence).
    "q263_longest_silence" -> ((s, dir) => {
      val ev = eventsUs(s, dir).select("user_id", "tsu", "event_id")
      val gaps = GlobalOrder.withLagPerKey(ev, "user_id", "tsu", "tsu",
          Seq(col("event_id")), out = "prev")
        .filter(col("prev").isNotNull)
        .select(col("user_id"), (col("tsu") - col("prev")).as("gap"),
          col("tsu"))
      gaps.groupBy("user_id")
        .agg(count(lit(1)).as("n_gaps"),
          max(struct(col("gap"), col("tsu"))).as("m"))
        .select(col("user_id"), col("n_gaps"),
          col("m.gap").as("max_gap_us"), col("m.tsu").as("gap_end_tsu"))
        .orderBy("user_id")
    }),

    // SCD-2 daily census: the q181 history unrolled over a day spine —
    // active-user count per current state for EVERY day of the corpus
    // span. The spine (~31 rows) broadcasts against the history's
    // validity intervals (one containment join), so the census costs
    // one pass over |history| × matching-days, never a re-scan of the
    // change stream per day.
    "q264_daily_census" -> ((s, dir) => {
      import org.apache.spark.sql.Row
      val changes = Readers.eventsNanos(s, dir)
        .select(col("user_id"), expr("ts div 1000").as("ver_us"),
          col("event_type"))
      val Row(mn: Long, mx: Long) =
        changes.agg(min("ver_us"), max("ver_us")).head()
      val hist = graft.engine.Warehouse.scd2HistoryBig(changes,
        "user_id", "ver_us", Seq("event_type"))
      val dLo = (mn + DayUs - 1) / DayUs
      val dHi = mx / DayUs
      val spine = s.range(dLo, dHi + 1).select(col("id").as("day"),
        (col("id") * DayUs).as("at"))
      hist.join(broadcast(spine),
          col("valid_from") <= col("at") &&
            (col("valid_to").isNull || col("valid_to") > col("at")))
        .groupBy(col("day"), col("event_type"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy("day", "event_type")
    }),

    // Embedding centroid drift between the two vec_id parity halves,
    // per label: fixed-point per-dimension sums (the q209 grid) for
    // each half in ONE combinable pass, then the per-label Euclidean
    // distance between half-means — the embedding-stability audit
    // ("did the representation move between loads") with no learned
    // parameters, so the oracle is static SQL.
    "q265_centroid_drift" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").select(
        col("label").cast("long").as("label"),
        pmod(col("vec_id"), lit(2L)).as("half"),
        col("embedding").cast("array<double>").as("v"))
      val dims = 0 until EmbDims
      val fp = dims.map(j =>
        floor(element_at(col("v"), j + 1) * KmScale + lit(0.5))
          .cast("long").as(s"f$j"))
      val base = e.select(col("label") +: col("half") +: fp: _*)
      val aggs = dims.flatMap(j => Seq(
        sum(when(col("half") === 0L, col(s"f$j"))).as(s"sa$j"),
        sum(when(col("half") === 1L, col(s"f$j"))).as(s"sb$j")))
      val counted = base.groupBy("label")
        .agg(count_if(col("half") === 0L).as("n_a"),
          (count_if(col("half") === 1L).as("n_b") +: aggs): _*)
      def mean(sc: String, n: String) =
        (col(sc).cast("double") / KmScale) / col(n).cast("double")
      val d2 = dims.map { j =>
        val d = mean(s"sa$j", "n_a") - mean(s"sb$j", "n_b")
        d * d
      }.reduce(_ + _)
      counted.select(col("label"), col("n_a"), col("n_b"),
        when(col("n_a") > 0L && col("n_b") > 0L, sqrt(d2)).as("shift"))
        .orderBy("label")
    }),

    // RFM segmentation: per-user recency / frequency / monetary
    // quintiles (5 = most recent / frequent / valuable) over one
    // combinable per-user pass and three boundary-stitched global
    // ntiles, rolled up to segment counts — the classic customer-base
    // partition every lifecycle campaign starts from.
    "q266_rfm_segments" -> ((s, dir) => {
      val per = eventsUs(s, dir).groupBy(col("user_id"))
        .agg(max(col("tsu")).as("last_tsu"),
          count(lit(1)).as("freq"),
          sum(Stats.cents(col("value"))).as("mon"))
      val a = GlobalOrder.withNtile(per, 5,
        Seq(col("last_tsu"), col("user_id")), out = "r_q")
      val b = GlobalOrder.withNtile(a, 5,
        Seq(col("freq"), col("user_id")), out = "f_q")
      val c = GlobalOrder.withNtile(b, 5,
        Seq(col("mon"), col("user_id")), out = "m_q")
      c.groupBy("r_q", "f_q", "m_q")
        .agg(count(lit(1)).as("n_users"), sum(col("mon")).as("mon_cents"))
        .orderBy("r_q", "f_q", "m_q")
    }),

    // HITS hubs & authorities on the customer→supplier trade graph —
    // the bipartite ranking PageRank's single score cannot express
    // (who aggregates demand vs who supplies it). Two mutual-
    // reinforcement rounds in integer micro-units, each sum-normalized
    // by ONE exact integer division (score·10⁶ div total) so every
    // intermediate is int64-exact and engine-identical.
    "q267_hits" -> ((s, dir) => Checkpoints.scoped { scope =>
      // The distinct edge set feeds THREE consumers (a1 census, h1 join,
      // a2 join); left lazy, each re-derives orders⋈lineitem+distinct
      // (or races for exchange reuse). One eager localCheckpoint
      // materializes it once — §2.4/§5 (don't recompute what you can
      // hold; the pair set is O(customers×suppliers)-bounded, far below
      // corpus scale). A leaf of the returned plan.
      val e = scope.checkpoint(t(s, dir, "orders")
        .join(t(s, dir, "lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("ck"),
          col("l_suppkey").cast("long").as("sk"))
        .distinct())
      def normalized(df: DataFrame, key: String, v: String,
                     out: String): DataFrame = {
        val tot = df.agg(sum(col(v)).as("__t"))
        df.crossJoin(broadcast(tot))
          .selectExpr(key, s"($v * ${HitsNorm}L) div __t AS $out")
      }
      val a1 = e.groupBy("sk")
        .agg((count(lit(1)) * HitsNorm).as("a1"))
      val a1n = normalized(a1, "sk", "a1", "a1n")
      val h1 = e.join(a1n, "sk").groupBy("ck")
        .agg(sum(col("a1n")).as("h1"))
      val h1n = normalized(h1, "ck", "h1", "h1n")
      val a2 = e.join(h1n, "ck").groupBy("sk")
        .agg(sum(col("h1n")).as("a2"))
      val a2n = normalized(a2, "sk", "a2", "a2n")
      h1n.select(lit("hub").as("role"), col("ck").as("node"),
          col("h1n").as("score"))
        .unionByName(a2n.select(lit("auth").as("role"),
          col("sk").as("node"), col("a2n").as("score")))
        .orderBy("role", "node")
    }),

    // Two-sample KS test of purchase values, first half-month vs
    // second: the binning-free distribution-shift statistic — the
    // exact integer max |r₁n₂ − r₂n₁| over the merged support (one
    // compaction + ONE fused two-measure stitch), where q225's TVD
    // needed a bin-width choice.
    "q268_ks_test" -> ((s, dir) => {
      val ev = eventsUs(s, dir)
        .filter(col("event_type") === "purchase")
        .select(Stats.cents(col("value")).as("vc"),
          (col("tsu") >= TvdMidUs2).as("late"))
      Stats.ksTest(ev, col("vc"), col("late"))
    }),

    // Difference-in-differences: the q253 hash arms crossed with the
    // half-month periods — (Ā₂−Ā₁) − (B̄₂−B̄₁) over purchase values,
    // eight exact integer sums in ONE combinable pass and a single
    // fixed IEEE formula; the causal-baseline estimator an A/B readout
    // reaches for when assignment wasn't randomized per event.
    "q269_did" -> ((s, dir) => {
      val arm = pmod(graft.functions.Portable.hash60(
        concat(lit("arm:"), col("user_id").cast("string"))), lit(2L))
      val ev = eventsUs(s, dir)
        .filter(col("event_type") === "purchase")
        .select(arm.as("arm"), (col("tsu") >= TvdMidUs2).as("late"),
          Stats.cents(col("value")).as("vc"))
      def cell(a: Int, l: Boolean, out: String) = Seq(
        count_if(col("arm") === a.toLong && col("late") === l)
          .as(s"n_$out"),
        sum(when(col("arm") === a.toLong && col("late") === l,
          col("vc")).otherwise(0L)).as(s"s_$out"))
      val cells = cell(0, l = false, "a1") ++ cell(0, l = true, "a2") ++
        cell(1, l = false, "b1") ++ cell(1, l = true, "b2")
      val folded = ev.agg(cells.head, cells.tail: _*)
      def m(c: String) =
        col(s"s_$c").cast("double") / col(s"n_$c").cast("double")
      folded.select(col("n_a1"), col("n_a2"), col("n_b1"), col("n_b2"),
        m("a1").as("mean_a1"), m("a2").as("mean_a2"),
        m("b1").as("mean_b1"), m("b2").as("mean_b2"),
        ((m("a2") - m("a1")) - (m("b2") - m("b1"))).as("did"))
    }),

    // Theil–Sen robust trend per event type: the MEDIAN of all pairwise
    // daily-total slopes (integer micro-cents/day — Spark `div` and
    // DuckDB `//` both truncate toward zero, so the scaled slopes are
    // engine-identical even when negative) — the slope estimate one
    // outlier day cannot drag, where q204's OLS follows it. Pairs are
    // bounded (≤31 days per group); the median rides the global-rank
    // recipe.
    "q270_theil_sen" -> ((s, dir) => {
      val daily = eventsUs(s, dir)
        .groupBy(col("event_type"), expr(s"tsu div ${DayUs}L").as("day"))
        .agg(sum(Stats.cents(col("value"))).as("y"))
      val a = daily.select(col("event_type"), col("day").as("di"),
        col("y").as("yi"))
      val b = daily.select(col("event_type"), col("day").as("dj"),
        col("y").as("yj"))
      val pairs = a.join(b, Seq("event_type"))
        .filter(col("dj") > col("di"))
        .select(col("event_type"), col("di"), col("dj"),
          expr("((yj - yi) * 1000000L) div (dj - di)").as("slope"))
      GlobalOrder.groupMedianOfLong(pairs, "event_type", "slope",
          Seq(col("di"), col("dj")))
        .orderBy("event_type")
    }),

    // Odds ratio of the 2×2 (hash arm × ever-purchased) user table:
    // OR = ad/bc from four exact integer cells — the association
    // effect-size read alongside q253's SRM and q269's DiD. One
    // per-user pass, one combinable 4-cell fold.
    "q271_odds_ratio" -> ((s, dir) => {
      val arm = pmod(graft.functions.Portable.hash60(
        concat(lit("arm:"), col("user_id").cast("string"))), lit(2L))
      val per = eventsUs(s, dir).groupBy(col("user_id"))
        .agg(count_if(col("event_type") === "purchase").as("np"))
        .select(arm.as("arm"), (col("np") > 0L).as("conv"))
      val cells = per.agg(
        count_if(col("arm") === 0L && col("conv")).as("a"),
        count_if(col("arm") === 0L && !col("conv")).as("b"),
        count_if(col("arm") === 1L && col("conv")).as("c"),
        count_if(col("arm") === 1L && !col("conv")).as("d"))
      cells.select(col("a"), col("b"), col("c"), col("d"),
        when(col("b") =!= 0L && col("c") =!= 0L,
          (col("a") * col("d")).cast("double") /
            (col("b") * col("c")).cast("double")).as("odds_ratio"))
    }),

    // Per-user signed running balance (purchases/signups credit,
    // clicks/views/errors debit): closing balance, worst drawdown, and
    // the first overdraft instant — the semi-additive balance audit via
    // ONE boundary-stitched running total and a combinable fold.
    "q252_net_balance" -> ((s, dir) => {
      val signed = eventsUs(s, dir).select(col("user_id"), col("tsu"),
        col("event_id"),
        when(col("event_type").isin("purchase", "signup"),
          Stats.cents(col("value")))
          .otherwise(-Stats.cents(col("value"))).as("sv"))
      GlobalOrder.withRunningTotalPerKey(signed, "user_id", "tsu",
          "sv", Seq(col("event_id")), out = "bal")
        .groupBy("user_id")
        .agg(sum(col("sv")).as("final_cents"),
          min(col("bal")).as("min_cents"),
          count_if(col("bal") < 0L).as("n_overdrawn"),
          min(when(col("bal") < 0L, col("tsu"))).as("first_neg_tsu"))
        .orderBy("user_id")
    })
  )

  /** q247 per-customer supplier cap and reported pair count. */
  private val CoocCap = 8
  private val CoocTopPairs = 20

  /** q250 RBO depth (weights 2⁻ᵈ stay well above double underflow). */
  private val RboDepth = 50

  /** q255 rapid-repeat threshold: 5 s in epoch micros. */
  private val RapidUs = 5000000L

  /** q258 WITH-TIES rank cut. */
  private val TiesK = 25L

  /** q259 co-purchase edge support threshold. */
  private val CoocMinCommon = 2L

  /** q261 late threshold: days from order to ship. */
  private val LateDays = 90

  /** q262 boilerplate shingle report size. */
  private val BoilerTopK = 20

  /** q265 embedding dimensionality and fixed-point grid (q209's). */
  private val EmbDims = 8
  private val KmScale = 65536

  /** q267 HITS micro-unit scale (the q226 integer-rank convention). */
  private val HitsNorm = 1000000L

  /** q268/q269 period split (q225's mid-month cut). */
  private val TvdMidUs2 = 1705363200000000L

  /** q242 bridge years (the orders table spans 1995..2001). */
  private val BridgeY1 = 1997
  private val BridgeY2 = 1998

  /** q243 neighbor count. */
  private val KnnK = 5

  /** q244 sorted-neighborhood parameters: sort-key / compare prefix
    * lengths, neighbor window, and the banded-DP distance cap.
    */
  private val SnmKeyLen = 20
  private val SnmCmpLen = 60
  private val SnmWindow = 3
  private val SnmMaxDist = 30

  /** q245 systematic sampling stride. */
  private val SysK = 7L

  val oracleSql: Map[String, String] = Map(

    "q238_roc_auc" ->
      s"""WITH e AS (SELECT user_id % $AucCohorts AS cohort,
                            event_type = 'purchase' AS pos,
                            ${centsSql("value")} AS score
                     FROM events
                     WHERE event_type IN ('click', 'purchase')),
          s AS (SELECT cohort, score,
                       CAST(count(CASE WHEN pos THEN 1 END) AS BIGINT)
                         AS cp,
                       CAST(count(CASE WHEN NOT pos THEN 1 END) AS BIGINT)
                         AS cn
                FROM e GROUP BY 1, 2),
          w AS (SELECT cohort, cp, cn,
                       CAST(coalesce(sum(cn) OVER (PARTITION BY cohort
                         ORDER BY score
                         ROWS BETWEEN UNBOUNDED PRECEDING
                           AND 1 PRECEDING), 0) AS BIGINT) AS cnb
                FROM s),
          a AS (SELECT cohort, CAST(sum(cp) AS BIGINT) AS n_pos,
                       CAST(sum(cn) AS BIGINT) AS n_neg,
                       CAST(sum(cp * (2 * cnb + cn)) AS BIGINT) AS u2
                FROM w GROUP BY 1)
          SELECT cohort, n_pos, n_neg,
                 CASE WHEN n_pos > 0 AND n_neg > 0
                      THEN CAST(u2 AS DOUBLE)
                           / (2.0 * CAST(n_pos AS DOUBLE)
                              * CAST(n_neg AS DOUBLE)) END AS auc
          FROM a ORDER BY cohort""",

    "q239_spearman" ->
      s"""WITH e AS (SELECT event_type, epoch_us(ts) AS x,
                            ${centsSql("value")} AS y
                     FROM events),
          rx AS (SELECT event_type, x,
                        CAST(2 * cum - c + 1 AS BIGINT) AS rx2
                 FROM (SELECT event_type, x, count(*) AS c,
                              sum(count(*)) OVER (PARTITION BY event_type
                                ORDER BY x) AS cum
                       FROM e GROUP BY 1, 2) t),
          ry AS (SELECT event_type, y,
                        CAST(2 * cum - c + 1 AS BIGINT) AS ry2
                 FROM (SELECT event_type, y, count(*) AS c,
                              sum(count(*)) OVER (PARTITION BY event_type
                                ORDER BY y) AS cum
                       FROM e GROUP BY 1, 2) t),
          j AS (SELECT e.event_type, rx2, ry2
                FROM e JOIN rx USING (event_type, x)
                       JOIN ry USING (event_type, y)),
          a AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                       CAST(sum(rx2) AS BIGINT) AS sx,
                       CAST(sum(ry2) AS BIGINT) AS sy,
                       CAST(sum(rx2 * rx2) AS BIGINT) AS sxx,
                       CAST(sum(ry2 * ry2) AS BIGINT) AS syy,
                       CAST(sum(rx2 * ry2) AS BIGINT) AS sxy
                FROM j GROUP BY 1)
          SELECT event_type, n,
                 CASE WHEN n >= 2
                       AND CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) <> 0
                       AND CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) <> 0
                      THEN (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                           / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                                   - CAST(sx AS DOUBLE)
                                     * CAST(sx AS DOUBLE))
                                  * (CAST(n AS DOUBLE)
                                     * CAST(syy AS DOUBLE)
                                     - CAST(sy AS DOUBLE)
                                       * CAST(sy AS DOUBLE)))
                      END AS rho
          FROM a ORDER BY event_type""",

    "q240_pareto_revenue" ->
      s"""WITH r AS (SELECT c_nationkey AS nk, c_custkey AS ck,
                            CAST(sum(${centsSql("o_totalprice")})
                              AS BIGINT) AS cents
                     FROM customer
                     JOIN orders ON c_custkey = o_custkey
                     GROUP BY 1, 2),
          w AS (SELECT nk, ck, cents,
                       CAST(sum(cents) OVER (PARTITION BY nk
                         ORDER BY cents DESC, ck) AS BIGINT) AS cum,
                       CAST(row_number() OVER (PARTITION BY nk
                         ORDER BY cents DESC, ck) AS BIGINT) AS rnk
                FROM r),
          t AS (SELECT nk, CAST(count(*) AS BIGINT) AS n_customers,
                       CAST(sum(cents) AS BIGINT) AS total_cents
                FROM r GROUP BY 1),
          h AS (SELECT nk, rnk AS n_top, cum AS top_cents FROM (
                  SELECT w.nk, w.rnk, w.cum,
                         row_number() OVER (PARTITION BY w.nk
                           ORDER BY w.rnk) AS q
                  FROM w JOIN t USING (nk)
                  WHERE w.cum * 5 >= t.total_cents * 4) z
                WHERE q = 1)
          SELECT n_name, n_customers, total_cents, n_top, top_cents,
                 CAST(top_cents AS DOUBLE) / CAST(total_cents AS DOUBLE)
                   AS top_share
          FROM t JOIN h USING (nk)
          JOIN nation ON n_nationkey = nk
          ORDER BY n_name""",

    "q241_active_streaks" ->
      s"""WITH d AS (SELECT DISTINCT user_id,
                            epoch_us(ts) // $DayUs AS day
                     FROM events),
          g AS (SELECT user_id, day,
                       day - row_number() OVER (PARTITION BY user_id
                         ORDER BY day) AS grp
                FROM d),
          runs AS (SELECT user_id, grp, CAST(count(*) AS BIGINT) AS len,
                          CAST(min(day) AS BIGINT) AS run_start
                   FROM g GROUP BY 1, 2),
          agg AS (SELECT user_id, CAST(sum(len) AS BIGINT) AS n_days,
                         CAST(count(*) AS BIGINT) AS n_runs,
                         CAST(max(len) AS BIGINT) AS longest
                  FROM runs GROUP BY 1),
          pick AS (SELECT user_id, run_start AS longest_start FROM (
                     SELECT user_id, run_start,
                            row_number() OVER (PARTITION BY user_id
                              ORDER BY len DESC, run_start) AS q
                     FROM runs) z
                   WHERE q = 1)
          SELECT agg.user_id, n_days, n_runs, longest, longest_start
          FROM agg JOIN pick USING (user_id)
          ORDER BY user_id""",

    "q242_revenue_bridge" ->
      s"""WITH c AS (SELECT o_custkey,
                            CAST(sum(CASE WHEN year(o_orderdate) = $BridgeY1
                              THEN ${centsSql("o_totalprice")}
                              ELSE 0 END) AS BIGINT) AS y1,
                            CAST(sum(CASE WHEN year(o_orderdate) = $BridgeY2
                              THEN ${centsSql("o_totalprice")}
                              ELSE 0 END) AS BIGINT) AS y2
                     FROM orders
                     WHERE year(o_orderdate) IN ($BridgeY1, $BridgeY2)
                     GROUP BY 1),
          k AS (SELECT CASE WHEN y1 = 0 THEN 'new'
                            WHEN y2 = 0 THEN 'churned'
                            WHEN y2 > y1 THEN 'expansion'
                            WHEN y2 < y1 THEN 'contraction'
                            ELSE 'stable' END AS bridge_class, y1, y2
                FROM c)
          SELECT bridge_class, CAST(count(*) AS BIGINT) AS n_customers,
                 CAST(sum(y1) AS BIGINT) AS y1_cents,
                 CAST(sum(y2) AS BIGINT) AS y2_cents,
                 CAST(sum(y2 - y1) AS BIGINT) AS delta_cents
          FROM k GROUP BY 1 ORDER BY bridge_class""",

    "q243_knn_label_disagree" ->
      s"""WITH e AS (SELECT vec_id, CAST(label AS BIGINT) AS lab,
                            CAST(embedding AS DOUBLE[]) AS v
                     FROM embeddings),
          scored AS (SELECT q.vec_id AS query_id, q.lab AS qlab,
                            c.lab AS nlab, c.vec_id AS neighbor_id,
                            round(${knnCosSql("q.v", "c.v")}, 6) AS score
                     FROM e q, e c WHERE c.vec_id <> q.vec_id),
          r AS (SELECT query_id, qlab, nlab,
                       row_number() OVER (PARTITION BY query_id
                         ORDER BY score DESC, neighbor_id) AS rnk
                FROM scored),
          per AS (SELECT query_id, qlab,
                         CAST(count(CASE WHEN nlab <> qlab THEN 1 END)
                           AS BIGINT) AS n_diff
                  FROM r WHERE rnk <= $KnnK GROUP BY 1, 2)
          SELECT qlab AS label, CAST(count(*) AS BIGINT) AS n_vecs,
                 CAST(count(CASE WHEN n_diff * 2 >= $KnnK THEN 1 END)
                   AS BIGINT) AS n_suspect,
                 CAST(sum(n_diff) AS BIGINT) AS n_disagree
          FROM per GROUP BY 1 ORDER BY label""",

    "q244_sorted_neighborhood" ->
      s"""WITH d AS (SELECT doc_id,
                            substr(lower(text), 1, $SnmKeyLen) AS k,
                            substr(lower(text), 1, $SnmCmpLen) AS c
                     FROM documents),
          rn AS (SELECT doc_id, c,
                        row_number() OVER (ORDER BY k, doc_id) AS rn
                 FROM d),
          p AS (SELECT a.doc_id AS ia, b.doc_id AS ib, a.c AS ca,
                       b.c AS cb
                FROM rn a JOIN rn b
                  ON b.rn > a.rn AND b.rn <= a.rn + $SnmWindow),
          m AS (SELECT CASE WHEN ia < ib THEN ia ELSE ib END AS doc_a,
                       CASE WHEN ia < ib THEN ib ELSE ia END AS doc_b,
                       CAST(levenshtein(ca, cb) AS BIGINT) AS dist
                FROM p WHERE levenshtein(ca, cb) <= $SnmMaxDist)
          SELECT doc_a, doc_b, dist FROM m ORDER BY doc_a, doc_b""",

    "q245_systematic_sample" ->
      s"""WITH e AS (SELECT event_type, epoch_us(ts) AS tsu, event_id,
                            ${centsSql("value")} AS vc
                     FROM events),
          rn AS (SELECT event_type, vc,
                        row_number() OVER (ORDER BY tsu, event_id) AS rn
                 FROM e)
          SELECT event_type, CAST(count(*) AS BIGINT) AS n_sampled,
                 CAST(sum(vc) AS BIGINT) AS cents_sum,
                 CAST(min(rn) AS BIGINT) AS first_rn,
                 CAST(max(rn) AS BIGINT) AS last_rn
          FROM rn WHERE rn % $SysK = 0
          GROUP BY 1 ORDER BY event_type""",

    "q246_kendall_tau" ->
      s"""WITH daily AS (SELECT event_type,
                               epoch_us(ts) // $DayUs AS day,
                               CAST(sum(${centsSql("value")}) AS BIGINT)
                                 AS vc
                        FROM events GROUP BY 1, 2),
          pairs AS (SELECT a.event_type,
                           CASE WHEN b.vc > a.vc THEN 1 ELSE 0 END AS cc,
                           CASE WHEN b.vc < a.vc THEN 1 ELSE 0 END AS dd,
                           CASE WHEN b.vc = a.vc THEN 1 ELSE 0 END AS tt
                    FROM daily a JOIN daily b
                      ON a.event_type = b.event_type AND b.day > a.day),
          agg AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_pairs,
                         CAST(sum(cc) AS BIGINT) AS c,
                         CAST(sum(dd) AS BIGINT) AS d,
                         CAST(sum(tt) AS BIGINT) AS t
                  FROM pairs GROUP BY 1)
          SELECT event_type, n_pairs, c, d, t,
                 CASE WHEN n_pairs > 0 AND c + d > 0
                      THEN CAST(c - d AS DOUBLE)
                           / sqrt(CAST(n_pairs AS DOUBLE)
                                  * CAST(c + d AS DOUBLE)) END AS tau
          FROM agg ORDER BY event_type""",

    "q247_cooccurrence_sim" ->
      s"""WITH e AS (SELECT o_custkey AS ck, CAST(l_suppkey AS BIGINT)
                       AS sk, count(*) AS n
                     FROM orders
                     JOIN lineitem ON o_orderkey = l_orderkey
                     GROUP BY 1, 2),
          capped AS (SELECT ck, sk FROM (
                       SELECT ck, sk, row_number() OVER (PARTITION BY ck
                         ORDER BY n DESC, sk) AS rn
                       FROM e) t
                     WHERE rn <= $CoocCap),
          deg AS (SELECT sk, CAST(count(*) AS BIGINT) AS dg
                  FROM capped GROUP BY 1),
          pairs AS (SELECT a.sk AS sa, b.sk AS sb,
                           CAST(count(*) AS BIGINT) AS common
                    FROM capped a JOIN capped b
                      ON a.ck = b.ck AND a.sk < b.sk
                    GROUP BY 1, 2)
          SELECT sa AS supp_a, sb AS supp_b, common,
                 da.dg AS deg_a, db.dg AS deg_b,
                 CAST(common AS DOUBLE)
                   / CAST(da.dg + db.dg - common AS DOUBLE) AS jaccard
          FROM pairs JOIN deg da ON da.sk = sa
                     JOIN deg db ON db.sk = sb
          ORDER BY common DESC, supp_a, supp_b
          LIMIT $CoocTopPairs""",

    "q248_mutual_nn" ->
      s"""WITH e AS (SELECT vec_id, CAST(label AS BIGINT) AS lab,
                            CAST(embedding AS DOUBLE[]) AS v
                     FROM embeddings),
          scored AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                            round(${knnCosSql("q.v", "c.v")}, 6) AS score
                     FROM e q, e c WHERE c.vec_id <> q.vec_id),
          r AS (SELECT query_id, neighbor_id, score,
                       row_number() OVER (PARTITION BY query_id
                         ORDER BY score DESC, neighbor_id) AS rnk
                FROM scored),
          t1 AS (SELECT query_id, neighbor_id, score FROM r
                 WHERE rnk = 1),
          m AS (SELECT a.query_id AS vec_a, b.query_id AS vec_b, a.score
                FROM t1 a JOIN t1 b
                  ON a.neighbor_id = b.query_id
                 AND b.neighbor_id = a.query_id
                WHERE a.query_id < b.query_id)
          SELECT vec_a, vec_b, score, la.lab AS lab_a, lb.lab AS lab_b,
                 la.lab = lb.lab AS same_label
          FROM m JOIN e la ON la.vec_id = vec_a
                 JOIN e lb ON lb.vec_id = vec_b
          ORDER BY vec_a""",

    "q249_degree_histogram" ->
      """WITH p AS (SELECT DISTINCT o_custkey AS ck,
                           CAST(l_suppkey AS BIGINT) AS sk
                    FROM orders
                    JOIN lineitem ON o_orderkey = l_orderkey),
          dc AS (SELECT 'cust' AS role, CAST(count(*) AS BIGINT) AS deg
                 FROM p GROUP BY ck),
          ds AS (SELECT 'supp' AS role, CAST(count(*) AS BIGINT) AS deg
                 FROM p GROUP BY sk),
          u AS (SELECT * FROM dc UNION ALL SELECT * FROM ds)
          SELECT role, CAST(length(bin(deg)) - 1 AS BIGINT) AS bucket,
                 CAST(count(*) AS BIGINT) AS n_nodes
          FROM u GROUP BY 1, 2 ORDER BY role, bucket""",

    "q250_rank_overlap" -> {
      val spineVals = (1 to RboDepth).map { d =>
        s"($d, '${math.pow(2.0, -d)}'::DOUBLE)"
      }.mkString(", ")
      s"""WITH per AS (SELECT o_custkey,
                              CAST(sum(CASE WHEN year(o_orderdate)
                                  = $BridgeY1
                                THEN ${centsSql("o_totalprice")}
                                ELSE 0 END) AS BIGINT) AS y1,
                              CAST(sum(CASE WHEN year(o_orderdate)
                                  = $BridgeY2
                                THEN ${centsSql("o_totalprice")}
                                ELSE 0 END) AS BIGINT) AS y2
                       FROM orders
                       WHERE year(o_orderdate) IN ($BridgeY1, $BridgeY2)
                       GROUP BY 1),
          ra AS (SELECT o_custkey, row_number() OVER (ORDER BY y1 DESC,
                   o_custkey) AS r1
                 FROM per WHERE y1 > 0),
          rb AS (SELECT o_custkey, row_number() OVER (ORDER BY y2 DESC,
                   o_custkey) AS r2
                 FROM per WHERE y2 > 0),
          m AS (SELECT m FROM (
                  SELECT CASE WHEN r1 > r2 THEN r1 ELSE r2 END AS m
                  FROM ra JOIN rb USING (o_custkey)) t
                WHERE m <= $RboDepth),
          spine(d, w) AS (VALUES $spineVals),
          a AS (SELECT d, w, CAST(count(m.m) AS BIGINT) AS a_d
                FROM spine LEFT JOIN m ON m.m <= spine.d
                GROUP BY 1, 2)
          SELECT CAST(d AS BIGINT) AS d, a_d,
                 CAST(a_d AS DOUBLE) / CAST(d AS DOUBLE) AS overlap,
                 CAST(a_d AS DOUBLE) / CAST(d AS DOUBLE) * w AS term
          FROM a ORDER BY d"""
    },

    "q251_snapshot_diff" ->
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
          a AS (SELECT min(epoch_us(ts)) AS mn, max(epoch_us(ts)) AS mx
                FROM events),
          tt AS (SELECT mn + (mx - mn) // 4 AS t1,
                        mn + 3 * ((mx - mn) // 4) AS t2 FROM a),
          s1 AS (SELECT user_id, event_type AS et1 FROM h, tt
                 WHERE valid_from <= t1
                   AND (valid_to IS NULL OR valid_to > t1)),
          s2 AS (SELECT user_id, event_type AS et2 FROM h, tt
                 WHERE valid_from <= t2
                   AND (valid_to IS NULL OR valid_to > t2)),
          d AS (SELECT CASE WHEN et1 IS NULL THEN 'added'
                            WHEN et2 IS NULL THEN 'removed'
                            WHEN et1 <> et2 THEN 'changed'
                            ELSE 'unchanged' END AS diff_class
                FROM s1 FULL OUTER JOIN s2 USING (user_id))
          SELECT diff_class, CAST(count(*) AS BIGINT) AS n_users
          FROM d GROUP BY 1 ORDER BY diff_class""",

    "q252_net_balance" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS tsu, event_id,
                           CASE WHEN event_type IN ('purchase', 'signup')
                                THEN CAST(floor(value * 100 + 0.5)
                                  AS BIGINT)
                                ELSE -CAST(floor(value * 100 + 0.5)
                                  AS BIGINT) END AS sv
                    FROM events),
          w AS (SELECT user_id, tsu, sv,
                       CAST(sum(sv) OVER (PARTITION BY user_id
                         ORDER BY tsu, event_id) AS BIGINT) AS bal
                FROM e)
          SELECT user_id, CAST(sum(sv) AS BIGINT) AS final_cents,
                 CAST(min(bal) AS BIGINT) AS min_cents,
                 CAST(count(CASE WHEN bal < 0 THEN 1 END) AS BIGINT)
                   AS n_overdrawn,
                 CAST(min(CASE WHEN bal < 0 THEN tsu END) AS BIGINT)
                   AS first_neg_tsu
          FROM w GROUP BY 1 ORDER BY user_id""",

    "q253_srm_audit" ->
      """WITH e AS (SELECT event_type,
                           CAST(('0x' || substr(md5('arm:'
                             || CAST(user_id AS VARCHAR)), 1, 15))
                             AS BIGINT) % 2 AS arm
                    FROM events),
          a AS (SELECT event_type,
                       CAST(count(CASE WHEN arm = 0 THEN 1 END)
                         AS BIGINT) AS n_a,
                       CAST(count(CASE WHEN arm = 1 THEN 1 END)
                         AS BIGINT) AS n_b
                FROM e GROUP BY 1)
          SELECT event_type, n_a, n_b,
                 CAST(n_a - n_b AS DOUBLE)
                   / sqrt(CAST(n_a + n_b AS DOUBLE)) AS z,
                 abs(CAST(n_a - n_b AS DOUBLE)
                   / sqrt(CAST(n_a + n_b AS DOUBLE))) > 3.0 AS srm_flag
          FROM a ORDER BY event_type""",

    "q254_decile_table" ->
      s"""WITH r AS (SELECT o_custkey AS ck,
                            CAST(sum(${centsSql("o_totalprice")})
                              AS BIGINT) AS cents
                     FROM orders GROUP BY 1),
          nt AS (SELECT ck, cents,
                        CAST(ntile(10) OVER (ORDER BY cents, ck)
                          AS BIGINT) AS decile
                 FROM r),
          d AS (SELECT decile, CAST(count(*) AS BIGINT) AS n_customers,
                       CAST(sum(cents) AS BIGINT) AS cents
                FROM nt GROUP BY 1),
          c AS (SELECT a.decile, CAST(sum(b.cents) AS BIGINT)
                  AS cum_cents
                FROM d a JOIN d b ON b.decile <= a.decile GROUP BY 1),
          t AS (SELECT CAST(sum(cents) AS BIGINT) AS total FROM d)
          SELECT d.decile, n_customers, cents, cum_cents,
                 CAST(cents AS DOUBLE) / CAST(total AS DOUBLE) AS share,
                 CAST(cum_cents AS DOUBLE) / CAST(total AS DOUBLE)
                   AS cum_share
          FROM d JOIN c ON c.decile = d.decile, t
          ORDER BY d.decile""",

    "q255_rapid_repeat" ->
      s"""WITH e AS (SELECT event_type, user_id, epoch_us(ts) AS tsu,
                            event_id
                     FROM events),
          l AS (SELECT event_type, user_id, tsu,
                       lag(tsu) OVER (PARTITION BY user_id, event_type
                         ORDER BY tsu, event_id) AS prev
                FROM e)
          SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
                 CAST(count(CASE WHEN prev IS NOT NULL
                       AND tsu - prev <= $RapidUs THEN 1 END)
                   AS BIGINT) AS n_rapid,
                 CAST(count(DISTINCT CASE WHEN prev IS NOT NULL
                       AND tsu - prev <= $RapidUs THEN user_id END)
                   AS BIGINT) AS n_users_rapid
          FROM l GROUP BY 1 ORDER BY event_type""",

    "q256_signup_to_purchase" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS tsu, event_type
                    FROM events),
          f AS (SELECT user_id,
                       min(CASE WHEN event_type = 'signup'
                             THEN tsu END) AS su,
                       min(CASE WHEN event_type = 'purchase'
                             THEN tsu END) AS pu
                FROM e GROUP BY 1),
          conv AS (SELECT pu - su AS lat FROM f
                   WHERE su IS NOT NULL AND pu IS NOT NULL AND pu > su),
          c AS (SELECT CAST(count(CASE WHEN su IS NOT NULL THEN 1 END)
                         AS BIGINT) AS n_signed,
                       CAST(count(CASE WHEN su IS NOT NULL
                             AND pu IS NOT NULL AND pu > su THEN 1 END)
                         AS BIGINT) AS n_converted
                FROM f),
          m AS (SELECT median(lat) AS median_latency_us FROM conv)
          SELECT n_signed, n_converted, median_latency_us FROM c, m""",

    "q257_dow_profile" ->
      s"""WITH e AS (SELECT event_type,
                            ((epoch_us(ts) // $DayUs) + 4) % 7 AS dow
                     FROM events),
          per AS (SELECT event_type, CAST(dow AS BIGINT) AS dow,
                         CAST(count(*) AS BIGINT) AS n
                  FROM e GROUP BY 1, 2),
          tot AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS total
                  FROM per GROUP BY 1)
          SELECT per.event_type, dow, n,
                 CAST(n * 7 AS DOUBLE) / CAST(total AS DOUBLE)
                   AS share_index
          FROM per JOIN tot ON per.event_type = tot.event_type
          ORDER BY per.event_type, dow""",

    "q258_topk_with_ties" ->
      s"""WITH r AS (SELECT o_custkey,
                            CAST(sum(${centsSql("o_totalprice")})
                              AS BIGINT) // 100000 AS rev_k
                     FROM orders GROUP BY 1)
          SELECT o_custkey, CAST(rev_k AS BIGINT) AS rev_k FROM r
          QUALIFY rank() OVER (ORDER BY rev_k DESC) <= $TiesK
          ORDER BY rev_k DESC, o_custkey""",

    "q259_local_clustering" ->
      s"""WITH tr AS (SELECT o_custkey AS ck, CAST(l_suppkey AS BIGINT)
                        AS sk, count(*) AS n
                      FROM orders
                      JOIN lineitem ON o_orderkey = l_orderkey
                      GROUP BY 1, 2),
          capped AS (SELECT ck, sk FROM (
                       SELECT ck, sk, row_number() OVER (PARTITION BY ck
                         ORDER BY n DESC, sk) AS rn
                       FROM tr) t
                     WHERE rn <= $CoocCap),
          e AS (SELECT a.sk AS a, b.sk AS b
                FROM capped a JOIN capped b
                  ON a.ck = b.ck AND a.sk < b.sk
                GROUP BY 1, 2
                HAVING count(*) >= $CoocMinCommon),
          deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
                    SELECT a AS node FROM e
                    UNION ALL SELECT b FROM e) u
                  GROUP BY 1),
          tri3 AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
                   FROM e e1 JOIN e e2 ON e2.a = e1.b
                   JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
          tric AS (SELECT node, CAST(count(*) AS BIGINT) AS tri FROM (
                     SELECT x AS node FROM tri3
                     UNION ALL SELECT y FROM tri3
                     UNION ALL SELECT z FROM tri3) u
                   GROUP BY 1)
          SELECT deg.node, deg,
                 CAST(coalesce(tri, 0) AS BIGINT) AS tri,
                 CASE WHEN deg >= 2
                      THEN CAST(coalesce(tri, 0) * 2 AS DOUBLE)
                           / CAST(deg * (deg - 1) AS DOUBLE) END AS coef
          FROM deg LEFT JOIN tric ON tric.node = deg.node
          ORDER BY deg.node""",

    "q260_degree_assortativity" ->
      """WITH e AS (SELECT DISTINCT o_custkey AS ck,
                           CAST(l_suppkey AS BIGINT) AS sk
                    FROM orders
                    JOIN lineitem ON o_orderkey = l_orderkey),
          dc AS (SELECT ck, CAST(count(*) AS BIGINT) AS dc
                 FROM e GROUP BY 1),
          ds AS (SELECT sk, CAST(count(*) AS BIGINT) AS ds
                 FROM e GROUP BY 1),
          a AS (SELECT CAST(count(*) AS BIGINT) AS n_edges,
                       CAST(sum(dc) AS BIGINT) AS sx,
                       CAST(sum(ds) AS BIGINT) AS sy,
                       CAST(sum(dc * dc) AS BIGINT) AS sxx,
                       CAST(sum(ds * ds) AS BIGINT) AS syy,
                       CAST(sum(dc * ds) AS BIGINT) AS sxy
                FROM e JOIN dc USING (ck) JOIN ds USING (sk))
          SELECT n_edges,
                 CASE WHEN n_edges >= 2
                       AND CAST(n_edges AS DOUBLE) * CAST(sxx AS DOUBLE)
                           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) <> 0
                       AND CAST(n_edges AS DOUBLE) * CAST(syy AS DOUBLE)
                           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) <> 0
                      THEN (CAST(n_edges AS DOUBLE) * CAST(sxy AS DOUBLE)
                            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                           / sqrt((CAST(n_edges AS DOUBLE)
                                   * CAST(sxx AS DOUBLE)
                                   - CAST(sx AS DOUBLE)
                                     * CAST(sx AS DOUBLE))
                                  * (CAST(n_edges AS DOUBLE)
                                     * CAST(syy AS DOUBLE)
                                     - CAST(sy AS DOUBLE)
                                       * CAST(sy AS DOUBLE)))
                      END AS assortativity
          FROM a""",

    "q261_late_rate_wilson" -> {
      val n = "CAST(n AS DOUBLE)"
      val p = s"(CAST(k AS DOUBLE) / $n)"
      val half = s"2.0 * sqrt(($p * (1.0 - $p) + 1.0 / $n) / $n)"
      val denom = s"(1.0 + 4.0 / $n)"
      s"""WITH li AS (SELECT CAST(l_suppkey AS BIGINT) AS suppkey,
                             date_diff('day', o_orderdate, l_shipdate)
                               > $LateDays AS late
                      FROM lineitem
                      JOIN orders ON l_orderkey = o_orderkey),
          a AS (SELECT suppkey, CAST(count(*) AS BIGINT) AS n,
                       CAST(count(CASE WHEN late THEN 1 END) AS BIGINT)
                         AS k
                FROM li GROUP BY 1)
          SELECT suppkey, n, k, $p AS rate,
                 ($p + 2.0 / $n - $half) / $denom AS wilson_lo,
                 ($p + 2.0 / $n + $half) / $denom AS wilson_hi
          FROM a ORDER BY suppkey"""
    },

    "q262_boilerplate_ngrams" ->
      s"""WITH ${ExtensionQueries.shingleCte}
          SELECT shingle, CAST(count(*) AS BIGINT) AS df
          FROM sh GROUP BY 1
          ORDER BY df DESC, shingle
          LIMIT $BoilerTopK""",

    "q263_longest_silence" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS tsu, event_id
                    FROM events),
          l AS (SELECT user_id, tsu,
                       lag(tsu) OVER (PARTITION BY user_id
                         ORDER BY tsu, event_id) AS prev
                FROM e),
          g AS (SELECT user_id, tsu - prev AS gap, tsu FROM l
                WHERE prev IS NOT NULL),
          agg AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_gaps
                  FROM g GROUP BY 1),
          pick AS (SELECT user_id, gap AS max_gap_us,
                          tsu AS gap_end_tsu FROM (
                     SELECT user_id, gap, tsu,
                            row_number() OVER (PARTITION BY user_id
                              ORDER BY gap DESC, tsu DESC) AS q
                     FROM g) z
                   WHERE q = 1)
          SELECT agg.user_id, n_gaps, max_gap_us, gap_end_tsu
          FROM agg JOIN pick ON pick.user_id = agg.user_id
          ORDER BY agg.user_id""",

    "q264_daily_census" ->
      s"""WITH c AS (SELECT user_id, epoch_us(ts) AS ver_us, event_type,
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
          bounds AS (SELECT min(epoch_us(ts)) AS mn,
                            max(epoch_us(ts)) AS mx FROM events),
          spine AS (SELECT unnest(generate_series(
                      (mn + $DayUs - 1) // $DayUs, mx // $DayUs)) AS day
                    FROM bounds),
          sp AS (SELECT CAST(day AS BIGINT) AS day,
                        day * $DayUs AS at FROM spine)
          SELECT day, event_type, CAST(count(*) AS BIGINT) AS n_users
          FROM h JOIN sp ON valid_from <= at
            AND (valid_to IS NULL OR valid_to > at)
          GROUP BY 1, 2 ORDER BY day, event_type""",

    "q265_centroid_drift" -> {
      val dims = 0 until EmbDims
      val sums = dims.flatMap { j =>
        def half(h: Int, out: String) =
          s"""CAST(sum(CASE WHEN half = $h THEN
               CAST(floor(v[${j + 1}] * $KmScale + 0.5) AS BIGINT)
               END) AS BIGINT) AS $out"""
        Seq(half(0, s"sa$j"), half(1, s"sb$j"))
      }.mkString(",\n                       ")
      val terms = dims.map { j =>
        val ma = s"((CAST(sa$j AS DOUBLE) / $KmScale) " +
          s"/ CAST(n_a AS DOUBLE))"
        val mb = s"((CAST(sb$j AS DOUBLE) / $KmScale) " +
          s"/ CAST(n_b AS DOUBLE))"
        s"($ma - $mb) * ($ma - $mb)"
      }.mkString(" + ")
      s"""WITH e AS (SELECT CAST(label AS BIGINT) AS label,
                            vec_id % 2 AS half,
                            CAST(embedding AS DOUBLE[]) AS v
                     FROM embeddings),
          a AS (SELECT label,
                       CAST(count(CASE WHEN half = 0 THEN 1 END)
                         AS BIGINT) AS n_a,
                       CAST(count(CASE WHEN half = 1 THEN 1 END)
                         AS BIGINT) AS n_b,
                       $sums
                FROM e GROUP BY 1)
          SELECT label, n_a, n_b,
                 CASE WHEN n_a > 0 AND n_b > 0
                      THEN sqrt($terms) END AS shift
          FROM a ORDER BY label"""
    },

    "q266_rfm_segments" ->
      s"""WITH per AS (SELECT user_id, max(epoch_us(ts)) AS last_tsu,
                              CAST(count(*) AS BIGINT) AS freq,
                              CAST(sum(${centsSql("value")}) AS BIGINT)
                                AS mon
                       FROM events GROUP BY 1),
          q AS (SELECT user_id, mon,
                       CAST(ntile(5) OVER (ORDER BY last_tsu, user_id)
                         AS BIGINT) AS r_q,
                       CAST(ntile(5) OVER (ORDER BY freq, user_id)
                         AS BIGINT) AS f_q,
                       CAST(ntile(5) OVER (ORDER BY mon, user_id)
                         AS BIGINT) AS m_q
                FROM per)
          SELECT r_q, f_q, m_q, CAST(count(*) AS BIGINT) AS n_users,
                 CAST(sum(mon) AS BIGINT) AS mon_cents
          FROM q GROUP BY 1, 2, 3 ORDER BY r_q, f_q, m_q""",

    "q267_hits" ->
      s"""WITH e AS (SELECT DISTINCT o_custkey AS ck,
                            CAST(l_suppkey AS BIGINT) AS sk
                     FROM orders
                     JOIN lineitem ON o_orderkey = l_orderkey),
          a1 AS (SELECT sk, CAST(count(*) AS BIGINT) * $HitsNorm AS a1
                 FROM e GROUP BY 1),
          t1 AS (SELECT CAST(sum(a1) AS BIGINT) AS t FROM a1),
          a1n AS (SELECT sk, (a1 * $HitsNorm) // t AS a1n FROM a1, t1),
          h1 AS (SELECT ck, CAST(sum(a1n) AS BIGINT) AS h1
                 FROM e JOIN a1n USING (sk) GROUP BY 1),
          t2 AS (SELECT CAST(sum(h1) AS BIGINT) AS t FROM h1),
          h1n AS (SELECT ck, (h1 * $HitsNorm) // t AS h1n FROM h1, t2),
          a2 AS (SELECT sk, CAST(sum(h1n) AS BIGINT) AS a2
                 FROM e JOIN h1n USING (ck) GROUP BY 1),
          t3 AS (SELECT CAST(sum(a2) AS BIGINT) AS t FROM a2),
          a2n AS (SELECT sk, (a2 * $HitsNorm) // t AS a2n FROM a2, t3)
          SELECT role, node, score FROM (
            SELECT 'hub' AS role, ck AS node, h1n AS score FROM h1n
            UNION ALL
            SELECT 'auth' AS role, sk AS node, a2n AS score FROM a2n) u
          ORDER BY role, node""",

    "q268_ks_test" ->
      s"""WITH e AS (SELECT ${centsSql("value")} AS v,
                            epoch_us(ts) >= $TvdMidUs2 AS late
                     FROM events WHERE event_type = 'purchase'),
          s AS (SELECT v,
                       CAST(count(CASE WHEN NOT late THEN 1 END)
                         AS BIGINT) AS c1,
                       CAST(count(CASE WHEN late THEN 1 END)
                         AS BIGINT) AS c2
                FROM e GROUP BY 1),
          w AS (SELECT v, c1, c2,
                       CAST(sum(c1) OVER (ORDER BY v) AS BIGINT) AS r1,
                       CAST(sum(c2) OVER (ORDER BY v) AS BIGINT) AS r2
                FROM s),
          t AS (SELECT CAST(sum(c1) AS BIGINT) AS n1,
                       CAST(sum(c2) AS BIGINT) AS n2 FROM s)
          SELECT n1, n2,
                 CAST(max(abs(r1 * n2 - r2 * n1)) AS BIGINT) AS ks_num,
                 CASE WHEN n1 > 0 AND n2 > 0
                      THEN CAST(max(abs(r1 * n2 - r2 * n1)) AS DOUBLE)
                           / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))
                      END AS ks
          FROM w, t GROUP BY n1, n2""",

    "q269_did" -> {
      def m(c: String) = s"(CAST(s_$c AS DOUBLE) / CAST(n_$c AS DOUBLE))"
      def cell(arm: Int, late: String, out: String) =
        s"""CAST(count(CASE WHEN arm = $arm AND late = $late
              THEN 1 END) AS BIGINT) AS n_$out,
            CAST(sum(CASE WHEN arm = $arm AND late = $late
              THEN vc ELSE 0 END) AS BIGINT) AS s_$out"""
      s"""WITH e AS (SELECT CAST(('0x' || substr(md5('arm:'
                       || CAST(user_id AS VARCHAR)), 1, 15))
                       AS BIGINT) % 2 AS arm,
                            epoch_us(ts) >= $TvdMidUs2 AS late,
                            ${centsSql("value")} AS vc
                     FROM events WHERE event_type = 'purchase'),
          a AS (SELECT ${cell(0, "false", "a1")},
                       ${cell(0, "true", "a2")},
                       ${cell(1, "false", "b1")},
                       ${cell(1, "true", "b2")}
                FROM e)
          SELECT n_a1, n_a2, n_b1, n_b2,
                 ${m("a1")} AS mean_a1, ${m("a2")} AS mean_a2,
                 ${m("b1")} AS mean_b1, ${m("b2")} AS mean_b2,
                 ((${m("a2")} - ${m("a1")}) - (${m("b2")} - ${m("b1")}))
                   AS did
          FROM a"""
    },

    "q270_theil_sen" ->
      s"""WITH daily AS (SELECT event_type,
                                epoch_us(ts) // $DayUs AS day,
                                CAST(sum(${centsSql("value")}) AS BIGINT)
                                  AS y
                         FROM events GROUP BY 1, 2),
          p AS (SELECT a.event_type,
                       ((b.y - a.y) * 1000000) // (b.day - a.day)
                         AS slope
                FROM daily a JOIN daily b
                  ON a.event_type = b.event_type AND b.day > a.day)
          SELECT event_type, count(*) AS n, median(slope) AS median
          FROM p GROUP BY 1 ORDER BY event_type""",

    "q271_odds_ratio" ->
      """WITH per AS (SELECT CAST(('0x' || substr(md5('arm:'
                       || CAST(user_id AS VARCHAR)), 1, 15))
                       AS BIGINT) % 2 AS arm,
                            count(CASE WHEN event_type = 'purchase'
                              THEN 1 END) > 0 AS conv
                     FROM events GROUP BY user_id),
          c AS (SELECT
                  CAST(count(CASE WHEN arm = 0 AND conv THEN 1 END)
                    AS BIGINT) AS a,
                  CAST(count(CASE WHEN arm = 0 AND NOT conv THEN 1 END)
                    AS BIGINT) AS b,
                  CAST(count(CASE WHEN arm = 1 AND conv THEN 1 END)
                    AS BIGINT) AS c,
                  CAST(count(CASE WHEN arm = 1 AND NOT conv THEN 1 END)
                    AS BIGINT) AS d
                FROM per)
          SELECT a, b, c, d,
                 CASE WHEN b <> 0 AND c <> 0
                      THEN CAST(a * d AS DOUBLE)
                           / CAST(b * c AS DOUBLE) END AS odds_ratio
          FROM c"""
  )

  /** DuckDB twin of [[graft.ext.Similarity.knnBrute]]'s cosine (the q30
    * oracle form — norms via list_sum/list_transform).
    */
  private def knnCosSql(a: String, b: String): String =
    s"list_dot_product($a, $b) / sqrt(list_sum(list_transform($a, " +
      s"x -> x*x)) * list_sum(list_transform($b, x -> x*x)))"
}
