package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.Readers
import graft.ext.{Stats, Survival, TextAnalysis, TimeSeries}
import OracleSql.centsSql
import Tables.eventsUs

/** Round-12 third batch: right-censored survival (Kaplan–Meier risk
  * table), forecasting floor (seasonal-naive backtest), randomness and
  * robust-changepoint screens (Wald–Wolfowitz runs, Pettitt), lead–lag
  * discovery (cross-correlation), and a corpus readability census —
  * each a library operator (`ext`) gated against a DuckDB oracle on the
  * driver's parquet tables, all following the exact-integer discipline
  * (int64 aggregates under any partitioning; derived doubles are one
  * fixed IEEE formula on both engines).
  */
object Round12cQueries extends QuerySet {

  private val DayUs = 86400000000L

  /** Alphabetical event-type code map (the q239 convention — the
    * boundary-stitch primitives key on int64).
    */
  private val TypeCodes =
    Seq("click" -> 0L, "error" -> 1L, "purchase" -> 2L,
      "signup" -> 3L, "view" -> 4L)

  private def typeKeyCol: org.apache.spark.sql.Column =
    TypeCodes.tail.foldLeft(
      when(col("event_type") === TypeCodes.head._1,
        lit(TypeCodes.head._2))) { case (acc, (n, c)) =>
      acc.when(col("event_type") === n, lit(c))
    }

  private def typeNameCol(tk: String): org.apache.spark.sql.Column =
    TypeCodes.tail.foldLeft(
      when(col(tk) === TypeCodes.head._2,
        lit(TypeCodes.head._1))) { case (acc, (n, c)) =>
      acc.when(col(tk) === c, lit(n))
    }

  /** Per-type daily cents totals — the shared series builder for the
    * runs/Pettitt/backtest screens (one combinable rollup).
    */
  private def dailyByType(s: SparkSession, dir: String): DataFrame =
    eventsUs(s, dir)
      .groupBy(col("event_type"), expr(s"tsu div ${DayUs}L").as("day"))
      .agg(sum(Stats.cents(col("value"))).as("y"))

  private val DailySql =
    s"""SELECT event_type, epoch_us(ts) // $DayUs AS day,
               CAST(sum(${centsSql("value")}) AS BIGINT) AS y
        FROM events GROUP BY 1, 2"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Kaplan–Meier risk table for signup → purchase conversion with
    // right censoring at the user's last observed event: per duration
    // day — subjects at risk, conversions, censorings, and the discrete
    // hazard d/n_risk. The unbiased conversion-latency read (q236's
    // median conditions on having converted; this keeps the unconverted
    // in the denominator until their observation ends).
    "q272_survival_km" -> ((s, dir) => {
      val ev = eventsUs(s, dir)
      val per = ev.groupBy(col("user_id")).agg(
        min(when(col("event_type") === "signup", col("tsu")))
          .as("startus"),
        max(col("tsu")).as("lastus"))
        .filter(col("startus").isNotNull)
      val firstP = ev.filter(col("event_type") === "purchase")
        .join(per.select(col("user_id"), col("startus")), Seq("user_id"))
        .filter(col("tsu") >= col("startus"))
        .groupBy(col("user_id")).agg(min(col("tsu")).as("pts"))
      val subj = per.join(firstP, Seq("user_id"), "left")
        .select(
          expr(s"(coalesce(pts, lastus) - startus) div ${DayUs}L")
            .as("dur"),
          col("pts").isNotNull.as("ev"))
      Survival.kmRiskTable(subj, "dur", col("ev")).orderBy("t")
    }),

    // Seasonal-naive forecast backtest per event type: score
    // ŷ(day) = y(day − 7) against the actual daily totals — the
    // zero-parameter floor any forecaster must beat, and the drift
    // alarm when a series stops being weekly-seasonal. Error sums in
    // exact cents; MAE/bias are one division each.
    "q273_seasonal_naive" -> ((s, dir) =>
      TimeSeries.seasonalNaiveBacktest(dailyByType(s, dir),
          "event_type", "day", "y", period = 7L)
        .orderBy("event_type")),

    // Wald–Wolfowitz runs test on the daily totals: does each type's
    // above/below-median sequence clump into regimes or alternate?
    // Median-exact (doubled-grid compare), runs counted by one lag
    // stitch, z one fixed formula.
    "q274_runs_test" -> ((s, dir) => {
      val daily = dailyByType(s, dir)
        .select(typeKeyCol.as("tk"), col("day"), col("y"))
      Stats.runsTest(daily, "tk", "day", "y", Seq.empty)
        .select(typeNameCol("tk").as("event_type"), col("n1"),
          col("n2"), col("runs"), col("z"))
        .orderBy("event_type")
    }),

    // Pettitt rank changepoint on the daily totals: the
    // outlier-immune single-changepoint screen (q206's CUSUM follows
    // values — one junk spike drags it; Pettitt follows midranks).
    // K and the changepoint day are exact integers.
    "q275_pettitt" -> ((s, dir) => {
      val daily = dailyByType(s, dir)
        .select(typeKeyCol.as("tk"), col("day"), col("y"))
      Stats.pettittChangepoint(daily, "tk", "day", "y", Seq.empty)
        .select(typeNameCol("tk").as("event_type"), col("n"), col("k"),
          col("cp"))
        .orderBy("event_type")
    }),

    // Corpus readability census per language: Flesch reading-ease from
    // exact word/sentence/syllable-proxy counts — corpus-level score
    // from summed integers (never a sum of per-doc doubles) plus the
    // per-doc easy/medium/hard band counts.
    "q276_readability" -> ((s, dir) =>
      TextAnalysis.readabilityCensus(
          Readers.table(s, dir, "documents"), col("lang"), col("text"))
        .withColumnRenamed("g", "lang")
        .orderBy("lang")),

    // Lead–lag cross-correlation between daily purchase and click
    // totals at lags −3..+3 days: r(lag) of (click(d), purchase(d+lag))
    // — does purchase volume trail click volume, and by how much?
    "q277_cross_corr" -> ((s, dir) => {
      val daily = eventsUs(s, dir)
        .filter(col("event_type").isin("purchase", "click"))
        .groupBy(expr(s"tsu div ${DayUs}L").as("day"))
        .agg(
          sum(when(col("event_type") === "click",
            Stats.cents(col("value"))).otherwise(0L)).as("x"),
          sum(when(col("event_type") === "purchase",
            Stats.cents(col("value"))).otherwise(0L)).as("y"))
      Stats.crossCorr(daily, "day", "x", "y", Seq(-3, -2, -1, 0, 1, 2, 3))
        .orderBy("lag")
    }),

    // One-way ANOVA of daily totals across day-of-week groups: how much
    // of each type's daily variance is weekly seasonality (eta², F)?
    // SSB/SST via the Σ S_g²/n_g identity over the FIXED 7-bin alphabet
    // — 14 conditional integer sums in ONE combinable pass, the seven
    // per-bin double terms folded left-to-right (the tvdDrift
    // discipline), so the statistic is bit-portable where a naive
    // groupBy-variance would sum doubles in partition order.
    "q278_dow_anova" -> ((s, dir) => {
      val daily = dailyByType(s, dir)
        .withColumn("dow", expr("day % 7"))
      val sums = (0 until 7).flatMap { d =>
        Seq(count_if(col("dow") === d.toLong).as(s"__n$d"),
          sum(when(col("dow") === d.toLong, col("y")).otherwise(0L))
            .as(s"__s$d"))
      } :+ sum(col("y") * col("y")).as("__syy")
      val piv = daily.groupBy(col("event_type"))
        .agg(sums.head, sums.tail: _*)
      val nAll = (0 until 7).map(d => col(s"__n$d")).reduce(_ + _)
      val stAll = (0 until 7).map(d => col(s"__s$d")).reduce(_ + _)
      val kAll = (0 until 7).map(d =>
        when(col(s"__n$d") > 0L, 1L).otherwise(0L)).reduce(_ + _)
      val withTot = piv.withColumn("n_days", nAll)
        .withColumn("__st", stAll).withColumn("__k", kAll)
      def dd(c: String) = col(c).cast("double")
      val t = (0 until 7).map { d =>
        when(col(s"__n$d") > 0L,
          dd(s"__s$d") * dd(s"__s$d") / dd(s"__n$d")).otherwise(0.0)
      }.reduce(_ + _)
      val grand = dd("__st") * dd("__st") / dd("n_days")
      val w2 = withTot.withColumn("__ssb", t - grand)
        .withColumn("__sst", dd("__syy") - grand)
      w2.select(col("event_type"), col("n_days"),
          when(col("__sst") =!= 0.0, col("__ssb") / col("__sst"))
            .as("eta2"),
          when(col("__k") > 1L && col("n_days") > col("__k") &&
            col("__sst") - col("__ssb") =!= 0.0,
            (col("__ssb") / (dd("__k") - lit(1.0))) /
              ((col("__sst") - col("__ssb")) /
                (dd("n_days") - dd("__k")))).as("f"))
        .orderBy("event_type")
    }),

    // Cohort LTV curve: cumulative purchase revenue per signup-week
    // cohort by age week, divided by the cohort's user count — the
    // revenue companion of q165's retention triangle. Weekly cents are
    // exact; the cumulative ride is one boundary-stitch running total
    // per cohort; LTV is one division.
    "q279_ltv_curve" -> ((s, dir) => {
      val ev = eventsUs(s, dir)
        .withColumn("day", expr(s"tsu div ${DayUs}L"))
      val per = ev.groupBy(col("user_id"))
        .agg(min(when(col("event_type") === "signup", col("day")))
          .as("cday"))
        .filter(col("cday").isNotNull)
      val sizes = per.groupBy(expr("cday div 7").as("cohort"))
        .agg(count(lit(1)).as("n_users"))
      val weekly = ev.filter(col("event_type") === "purchase")
        .join(per, Seq("user_id"))
        .filter(col("day") >= col("cday"))
        .groupBy(expr("cday div 7").as("cohort"),
          expr("(day - cday) div 7").as("age_week"))
        .agg(sum(Stats.cents(col("value"))).as("wk_cents"))
      graft.ext.GlobalOrder.withRunningTotalPerKey(weekly, "cohort",
          "age_week", "wk_cents", Seq.empty, out = "cum_cents")
        .join(broadcast(sizes), Seq("cohort"))
        .select(col("cohort"), col("age_week"), col("n_users"),
          col("cum_cents"),
          (col("cum_cents").cast("double") /
            col("n_users").cast("double")).as("ltv"))
        .orderBy("cohort", "age_week")
    }),

    // Blocking-quality audit for the dedup/ER pipelines: per language,
    // how well does the (n_chars div 50) blocking key cut the pairwise
    // comparison space? Candidate pairs Σ b(b−1)/2 vs the unblocked
    // n(n−1)/2, largest block, reduction ratio — the go/no-go check
    // before any O(pairs) matcher (q212's spanning-star ER, q244's
    // sorted neighborhood) is allowed near 100 TB.
    "q280_blocking_quality" -> ((s, dir) => {
      val blocks = Readers.table(s, dir, "documents")
        .groupBy(col("lang"), expr("n_chars div 50").as("bucket"))
        .agg(count(lit(1)).as("b"))
      blocks.groupBy(col("lang"))
        .agg(sum(col("b")).as("n_docs"),
          count(lit(1)).as("n_blocks"),
          sum(expr("(b * (b - 1)) div 2")).as("cand_pairs"),
          max(col("b")).as("largest_block"))
        .withColumn("__total", expr("(n_docs * (n_docs - 1)) div 2"))
        .select(col("lang"), col("n_docs"), col("n_blocks"),
          col("cand_pairs"), col("largest_block"),
          when(col("__total") > 0L,
            lit(1.0) - col("cand_pairs").cast("double") /
              col("__total").cast("double")).as("reduction_ratio"))
        .orderBy("lang")
    }),

    // Language-ID confusion census: the q24 stopword classifier scored
    // against the ground-truth lang column — per (actual, predicted)
    // counts, the model-audit gate for the heuristic (zh has no
    // stopword list, so it must land in 'und').
    "q281_langid_confusion" -> ((s, dir) => {
      val docs = Readers.table(s, dir, "documents")
      docs.select(col("doc_id"), col("lang"))
        .join(TextAnalysis.langId(docs)
          .select(col("doc_id"), col("lang_pred")), Seq("doc_id"))
        .groupBy(col("lang"), col("lang_pred"))
        .agg(count(lit(1)).as("n"))
        .orderBy("lang", "lang_pred")
    }),

    // Silhouette-style separation audit of the labeled embedding space:
    // per label — points whose OWN-centroid distance beats the nearest
    // OTHER centroid (n_well), and the min/max margin b² − a². The
    // between-class companion of q215's within-class compactness; every
    // reduction (count, min, max) is order-invariant, so the report is
    // bit-portable without integerizing the distances. Distances are
    // local codegen'd expressions over plan-constant centroids — no
    // vector shuffles, no |points|×|centroids| join.
    "q282_silhouette" -> ((s, dir) => {
      import graft.functions.VectorFunctions.dot
      val (labels, cents) = Round11Queries.labelCentroids(s, dir)
      val e = Readers.table(s, dir, "embeddings").select(
        col("label").cast("long").as("label"),
        col("embedding").cast("array<double>").as("v"))
      val vn2 = dot(col("v"), col("v"))
      val d2s = labels.zip(cents).map { case (l, c) =>
        val cLit = array(c.map(lit): _*)
        val cN2 = c.foldLeft(0.0)((s2, x) => s2 + x * x)
        l -> (vn2 - lit(2.0) * dot(col("v"), cLit) + lit(cN2))
      }
      val a2 = d2s.foldLeft(lit(null).cast("double")) {
        case (acc, (l, d2)) => when(col("label") === l, d2).otherwise(acc)
      }
      val b2 = least(d2s.map { case (l, d2) =>
        when(col("label") =!= l, d2) }: _*)
      e.select(col("label"), a2.as("__a2"), b2.as("__b2"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n"),
          count_if(col("__b2") > col("__a2")).as("n_well"),
          min(col("__b2") - col("__a2")).as("min_margin"),
          max(col("__b2") - col("__a2")).as("max_margin"))
        .orderBy("label")
    }),

    // Mood's median test cells: is each event type's daily-total
    // distribution centered where the pooled median is? Above/below
    // the GLOBAL exact median (doubled-grid compare, ties dropped),
    // then the chi-square contribution per (type, side) cell — the
    // distribution-free location test built from two existing exact
    // primitives (medianOfLong + chisqCells).
    "q283_mood_median" -> ((s, dir) => {
      val daily = dailyByType(s, dir)
      val med = graft.ext.GlobalOrder.medianOfLong(daily, "y",
        Seq(col("event_type"), col("day")))
      val signed = daily.crossJoin(broadcast(med.select(
          (col("median") * 2.0).cast("long").as("__m2"))))
        .withColumn("side",
          when(col("y") * 2L > col("__m2"), "above")
            .when(col("y") * 2L < col("__m2"), "below"))
        .filter(col("side").isNotNull)
      Stats.chisqCells(signed, "event_type", "side")
        .orderBy("event_type", "side")
    }),

    // Kruskal–Wallis H across the 5 event types' daily totals: the
    // k-sample rank ANOVA (q187's Welch t is 2-sample and
    // normality-leaning; q278's ANOVA follows values — this follows
    // midranks). Pooled doubled midranks exact, tie term Σ(t³−t)
    // exact, per-type terms folded in fixed order, H and the
    // tie-corrected H′ one fixed formula each.
    "q284_kruskal_wallis" -> ((s, dir) =>
      Stats.kruskalWallis(
          dailyByType(s, dir).select(typeKeyCol.as("tk"), col("y")),
          "tk", "y", k = 5)),

    // Streaming seasonal-naive forecast monitor: alert when a closing
    // day's total deviates >50% from the same type's total 7 days
    // earlier — bounded 9-day ledger state per type, alerts on the
    // closing event so the bounded run hash-equals the batch twin.
    "q285_streaming_forecast" -> ((s, dir) =>
      StreamingQueries.runEventsStream(s, dir, "q285_events") { raw =>
        import s.implicits._
        val typed = raw.select(col("event_type"),
            expr("ts div 1000").as("tsu"), col("event_id"),
            Stats.cents(col("value")).as("cents"),
            timestamp_micros(expr("ts div 1000")).as("ts"))
          .as[graft.streaming.EventStream.TypedCents]
        val out = graft.streaming.EventStream.runToMemory(
          graft.streaming.EventStream.forecastAlerts(typed).toDF(),
          StreamingQueries.memName("q285_mem_"),
          outputMode = org.apache.spark.sql.streaming.OutputMode
            .Append(),
          statePartitions = Some(8))
        out.orderBy("event_type", "day")
      }),

    // Weekly growth accounting: every active (user, week) classified
    // as new / retained / resurrected, churn derived as
    // active(w−1) − retained(w) — the canonical DAU-decomposition
    // read. One distinct pass, one per-user lag stitch, one
    // combinable fold; every count exact.
    "q286_growth_accounting" -> ((s, dir) => {
      val wk = eventsUs(s, dir)
        .select(col("user_id"),
          expr(s"(tsu div ${DayUs}L) div 7").as("wk"))
        .distinct()
      val first = wk.groupBy(col("user_id")).agg(min(col("wk")).as("fw"))
      val lag = graft.ext.GlobalOrder.withLagPerKey(wk, "user_id",
        "wk", "wk", Seq.empty, out = "prev")
      val cls = lag.join(first, Seq("user_id"))
        .groupBy(col("wk"))
        .agg(count(lit(1)).as("n_active"),
          count_if(col("wk") === col("fw")).as("n_new"),
          count_if(col("prev") === col("wk") - 1L).as("n_retained"),
          count_if(col("prev").isNotNull &&
            col("prev") < col("wk") - 1L).as("n_resurrected"))
      cls.join(cls.select((col("wk") + 1L).as("wk"),
          col("n_active").as("__pa")), Seq("wk"), "left")
        .select(col("wk"), col("n_active"), col("n_new"),
          col("n_retained"), col("n_resurrected"),
          (coalesce(col("__pa"), lit(0L)) - col("n_retained"))
            .as("n_churned"))
        .orderBy("wk")
    }),

    // k-anonymity / l-diversity audit of the documents table under the
    // (lang, n_chars-bucket) quasi-identifier with `source` as the
    // sensitive attribute: the privacy census a dataset runs before
    // release — achieved k (min group size), rows in groups below
    // k = 5, and groups whose sensitive attribute has fewer than 2
    // distinct values (homogeneity attack). Two combinable levels:
    // per-QI-group (size, distinct-sensitive), then one fold.
    "q287_k_anonymity" -> ((s, dir) => {
      val groups = Readers.table(s, dir, "documents")
        .groupBy(col("lang"), expr("n_chars div 100").as("bucket"))
        .agg(count(lit(1)).as("sz"),
          count_distinct(col("source")).as("ls"))
      groups.agg(
        count(lit(1)).as("n_groups"),
        sum(col("sz")).as("n_rows"),
        min(col("sz")).as("achieved_k"),
        min(col("ls")).as("achieved_l"),
        sum(when(col("sz") < 5L, col("sz")).otherwise(0L))
          .as("rows_below_k5"),
        count_if(col("ls") < 2L).as("groups_low_diversity"))
    }),

    // Corpus-geometry audit: histogram of pairwise squared L2
    // distances over a DETERMINISTIC hash sample of the embedding
    // space — collapsed embeddings pile into the low buckets, healthy
    // spreads don't. The sample modulus is the scale knob (pairs are
    // (N/mod)²/2, chosen at the scan so no all-pairs join ever forms);
    // bucket = floor(d2 / width) capped at 24, floor/IEEE identical on
    // both engines.
    "q288_embed_dist_histogram" -> ((s, dir) => {
      import graft.functions.VectorFunctions.dot
      val e = Readers.table(s, dir, "embeddings")
        .filter(pmod(col("vec_id"), lit(4L)) === 0L)
        .select(col("vec_id"), col("embedding").cast("array<double>")
          .as("v"))
      val a = e.select(col("vec_id").as("ida"), col("v").as("va"))
      val b = e.select(col("vec_id").as("idb"), col("v").as("vb"))
      val pairs = a.crossJoin(b).filter(col("ida") < col("idb"))
      val d2 = dot(col("va"), col("va")) -
        lit(2.0) * dot(col("va"), col("vb")) +
        dot(col("vb"), col("vb"))
      pairs.select(least(floor(d2 / lit(0.5)).cast("long"), lit(24L))
          .as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("n_pairs"))
        .orderBy("bucket")
    }),

    // Burstiness index per event type: B = (σ − μ)/(σ + μ) over the
    // pooled per-user inter-event gaps (minutes) — B → −1 periodic,
    // ~0 Poisson, → 1 bursty. The dispersion read q237's cadence
    // median can't give. One lag stitch on the composite (user, type)
    // key + one combinable three-sum fold; σ and B are one fixed
    // formula over exact integer sums.
    "q289_burstiness" -> ((s, dir) => {
      val ev = eventsUs(s, dir).select(
        (col("user_id") * 8L + typeKeyCol).as("utk"),
        col("tsu"), col("event_id"))
      val lag = graft.ext.GlobalOrder.withLagPerKey(ev, "utk", "tsu",
        "tsu", Seq(col("event_id")), out = "prev")
      val gaps = lag.filter(col("prev").isNotNull)
        .select(pmod(col("utk"), lit(8L)).as("tk"),
          expr("(tsu - prev) div 60000000").as("g"))
      val agg = gaps.groupBy(col("tk")).agg(
        count(lit(1)).as("n_gaps"),
        sum(col("g")).as("__sx"),
        sum(col("g") * col("g")).as("__sxx"))
      def d(c: String) = col(c).cast("double")
      val mean = d("__sx") / d("n_gaps")
      val variance = (d("n_gaps") * d("__sxx") - d("__sx") * d("__sx")) /
        (d("n_gaps") * (d("n_gaps") - lit(1.0)))
      val sd = sqrt(variance)
      agg.select(typeNameCol("tk").as("event_type"), col("n_gaps"),
          when(col("n_gaps") >= 2L && variance >= 0.0 &&
            sd + mean =!= 0.0, (sd - mean) / (sd + mean)).as("b"))
        .orderBy("event_type")
    }),

    // Principal-direction projection census: power-iterate the EXACT
    // fixed-point covariance on the driver (deterministic model, the
    // q177 mahalanobis discipline), then histogram every vector's
    // score along the top eigenvector — the collapsed-embedding /
    // dominant-axis audit. The projection is one codegen'd dot against
    // plan constants; no vector shuffles.
    "q290_pca_projection" -> ((s, dir) => {
      import graft.functions.VectorFunctions.dot
      val e = Readers.table(s, dir, "embeddings")
      val (means, vec, eig) = Stats.pcaPowerModel(e, "vec_id",
        "embedding", dims = 8)
      val mv = means.zip(vec).map { case (m, v) => m * v }.sum
      val vLit = array(vec.map(lit): _*)
      val score = dot(slice(col("embedding").cast("array<double>"),
        1, 8), vLit) - lit(mv)
      e.select(least(greatest(floor(score / lit(0.25)).cast("long"),
          lit(-24L)), lit(24L)).as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("n"))
        .withColumn("eigval", lit(eig))
        .orderBy("bucket")
    }),

    // Conformal-style forecast error intervals: the p50/p90 of the
    // seasonal-naive |error| per event type — the calibration band a
    // monitor (q285) should alert OUTSIDE of, from exact order
    // statistics (global-rank picks, hot-group-safe), not a t-interval.
    "q291_forecast_interval" -> ((s, dir) => {
      val daily = dailyByType(s, dir)
      val f = daily.select(col("event_type"),
        (col("day") + 7L).as("day"), col("y").as("__f"))
      val errs = daily.join(f, Seq("event_type", "day"))
        .select(col("event_type"), col("day"),
          abs(col("y") - col("__f")).as("ae"))
      val p50 = graft.ext.GlobalOrder.groupQuantileOfLong(errs,
        "event_type", "ae", 50, Seq(col("day")), out = "p50_abs_err")
      val p90 = graft.ext.GlobalOrder.groupQuantileOfLong(errs,
        "event_type", "ae", 90, Seq(col("day")), out = "p90_abs_err")
      p50.join(p90.drop("n"), Seq("event_type"))
        .select(col("event_type"), col("n"), col("p50_abs_err"),
          col("p90_abs_err"))
        .orderBy("event_type")
    }),

    // Daily KS drift monitor: each day's purchase-value distribution
    // against the FIRST day — K exact two-sample KS distances from ONE
    // fused running-counts stitch over the value support (q268 is one
    // pair; this is the production K-vs-baseline monitor without K
    // passes). The first day comes from one scalar pre-pass (a driver
    // constant, the sanctioned model mechanism; the oracle derives the
    // same minimum in SQL).
    "q292_ks_drift" -> ((s, dir) => {
      val e0 = eventsUs(s, dir)
        .filter(col("event_type") === "purchase")
        .select(expr(s"tsu div ${DayUs}L").as("day"),
          Stats.cents(col("value")).as("v"))
      val minDay = e0.agg(min(col("day"))).first().getLong(0)
      val e = e0.select(least(col("day") - minDay, lit(31L)).as("m"),
        col("v"))
      Stats.ksDriftBins(e, "m", "v", k = 32, baselineBin = 0)
        .withColumnRenamed("bin", "day_idx")
        .orderBy("day_idx")
    }),

    // Duplicate-cluster size census: how much of the corpus sits in
    // near-duplicate clusters of each size — the dedup QA read on top
    // of q65's connected components (size 1 = documents untouched by
    // any candidate pair, counted against the corpus total). Cluster
    // sizes come out of one per-component count; the census is a
    // second combinable fold over |components| rows.
    "q293_dedup_cluster_census" -> ((s, dir) => {
      import graft.ext.{Dedup, DedupGroups}
      val docs = Readers.table(s, dir, "documents")
      val comp = DedupGroups.connectedComponents(
        Dedup.jaccardPairs(docs, 0.5))
      val sizes = comp.groupBy(col("component"))
        .agg(count(lit(1)).as("sz"))
      val census = sizes.groupBy(col("sz").as("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"),
          sum(col("sz")).as("n_docs"))
      val totals = docs.agg(count(lit(1)).as("__total"))
        .crossJoin(broadcast(
          sizes.agg(coalesce(sum(col("sz")), lit(0L)).as("__in"))))
      val singletons = totals.select(lit(1L).as("cluster_size"),
        (col("__total") - col("__in")).as("n_clusters"),
        (col("__total") - col("__in")).as("n_docs"))
      census.unionByName(singletons)
        .filter(col("n_clusters") > 0L)
        .orderBy("cluster_size")
    }),

    // Effective sample size of value-weighted purchases per type:
    // ESS = (Σw)²/Σw² — the importance-sampling diagnostic for q82's
    // weighted sampling (ESS ≪ n means a few heavy rows dominate any
    // weighted estimate). Two exact integer sums, two divisions.
    "q294_ess" -> ((s, dir) => {
      val agg = eventsUs(s, dir)
        .filter(col("event_type") === "purchase")
        .select(pmod(col("user_id"), lit(8L)).as("cohort"),
          Stats.cents(col("value")).as("w"))
        .groupBy(col("cohort"))
        .agg(count(lit(1)).as("n"), sum(col("w")).as("__sw"),
          sum(col("w") * col("w")).as("__sww"))
      def d(c: String) = col(c).cast("double")
      agg.select(col("cohort"), col("n"),
          when(col("__sww") > 0L,
            d("__sw") * d("__sw") / d("__sww")).as("ess"),
          when(col("__sww") > 0L,
            d("__sw") * d("__sw") / d("__sww") / d("n")).as("ess_ratio"))
        .orderBy("cohort")
    })
  )

  val oracleSql: Map[String, String] = Map(

    "q272_survival_km" ->
      s"""WITH per AS (SELECT user_id,
                              min(CASE WHEN event_type = 'signup'
                                THEN epoch_us(ts) END) AS startus,
                              max(epoch_us(ts)) AS lastus
                       FROM events GROUP BY 1),
          ok AS (SELECT * FROM per WHERE startus IS NOT NULL),
          p AS (SELECT e.user_id, min(epoch_us(e.ts)) AS pts
                FROM events e JOIN ok ON e.user_id = ok.user_id
                WHERE e.event_type = 'purchase'
                  AND epoch_us(e.ts) >= ok.startus
                GROUP BY 1),
          subj AS (SELECT (coalesce(pts, lastus) - startus)
                            // $DayUs AS dur,
                          pts IS NOT NULL AS ev
                   FROM ok LEFT JOIN p USING (user_id)),
          tab AS (SELECT dur AS t,
                         CAST(count(CASE WHEN ev THEN 1 END)
                           AS BIGINT) AS d,
                         CAST(count(CASE WHEN NOT ev THEN 1 END)
                           AS BIGINT) AS c
                  FROM subj GROUP BY 1),
          r AS (SELECT t, d, c,
                       CAST(sum(d + c) OVER (ORDER BY t)
                         AS BIGINT) AS run
                FROM tab),
          tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM subj)
          SELECT t, n - run + d + c AS n_risk, d, c,
                 CASE WHEN n - run + d + c > 0
                      THEN CAST(d AS DOUBLE)
                           / CAST(n - run + d + c AS DOUBLE)
                      END AS hazard
          FROM r, tot ORDER BY t""",

    "q273_seasonal_naive" ->
      s"""WITH daily AS ($DailySql),
          j AS (SELECT a.event_type, a.y - b.y AS e
                FROM daily a JOIN daily b
                  ON a.event_type = b.event_type
                 AND a.day = b.day + 7)
          SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(abs(e)) AS BIGINT) AS sum_abs_err,
                 CAST(sum(abs(e)) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                   AS mae,
                 CAST(sum(e) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                   AS bias
          FROM j GROUP BY 1 ORDER BY event_type""",

    "q274_runs_test" ->
      s"""WITH daily AS ($DailySql),
          med AS (SELECT event_type, median(y) AS m
                  FROM daily GROUP BY 1),
          sg AS (SELECT d.event_type, d.day,
                        CASE WHEN 2 * y > CAST(2 * m AS BIGINT) THEN 1
                             WHEN 2 * y < CAST(2 * m AS BIGINT) THEN 0
                             END AS s
                 FROM daily d JOIN med USING (event_type)),
          lg AS (SELECT event_type, s,
                        lag(s) OVER (PARTITION BY event_type
                          ORDER BY day) AS p
                 FROM sg WHERE s IS NOT NULL),
          a AS (SELECT event_type,
                       CAST(count(CASE WHEN s = 1 THEN 1 END)
                         AS BIGINT) AS n1,
                       CAST(count(CASE WHEN s = 0 THEN 1 END)
                         AS BIGINT) AS n2,
                       CAST(count(CASE WHEN p IS NULL OR p <> s THEN 1
                         END) AS BIGINT) AS runs
                FROM lg GROUP BY 1)
          SELECT event_type, n1, n2, runs,
                 CASE WHEN n1 > 0 AND n2 > 0 AND n1 + n2 >= 2
                       AND (2.0 * CAST(n1 AS DOUBLE)
                              * CAST(n2 AS DOUBLE))
                           * ((2.0 * CAST(n1 AS DOUBLE)
                                 * CAST(n2 AS DOUBLE))
                              - (CAST(n1 AS DOUBLE)
                                 + CAST(n2 AS DOUBLE)))
                           / (((CAST(n1 AS DOUBLE)
                                 + CAST(n2 AS DOUBLE))
                               * (CAST(n1 AS DOUBLE)
                                  + CAST(n2 AS DOUBLE)))
                              * ((CAST(n1 AS DOUBLE)
                                   + CAST(n2 AS DOUBLE)) - 1.0)) > 0
                      THEN (CAST(runs AS DOUBLE)
                            - ((2.0 * CAST(n1 AS DOUBLE)
                                  * CAST(n2 AS DOUBLE))
                               / (CAST(n1 AS DOUBLE)
                                  + CAST(n2 AS DOUBLE)) + 1.0))
                           / sqrt((2.0 * CAST(n1 AS DOUBLE)
                                     * CAST(n2 AS DOUBLE))
                                  * ((2.0 * CAST(n1 AS DOUBLE)
                                        * CAST(n2 AS DOUBLE))
                                     - (CAST(n1 AS DOUBLE)
                                        + CAST(n2 AS DOUBLE)))
                                  / (((CAST(n1 AS DOUBLE)
                                        + CAST(n2 AS DOUBLE))
                                      * (CAST(n1 AS DOUBLE)
                                         + CAST(n2 AS DOUBLE)))
                                     * ((CAST(n1 AS DOUBLE)
                                          + CAST(n2 AS DOUBLE))
                                        - 1.0)))
                      END AS z
          FROM a ORDER BY event_type""",

    "q275_pettitt" ->
      s"""WITH daily AS ($DailySql),
          r AS (SELECT event_type, y,
                       CAST(2 * cum - c + 1 AS BIGINT) AS r2
                FROM (SELECT event_type, y, count(*) AS c,
                             sum(count(*)) OVER (PARTITION BY event_type
                               ORDER BY y) AS cum
                      FROM daily GROUP BY 1, 2) t),
          j AS (SELECT d.event_type, d.day, r2
                FROM daily d JOIN r USING (event_type, y)),
          run AS (SELECT event_type, day,
                         CAST(sum(r2) OVER (PARTITION BY event_type
                           ORDER BY day) AS BIGINT) AS s2,
                         CAST(row_number() OVER (PARTITION BY event_type
                           ORDER BY day) AS BIGINT) AS i,
                         CAST(count(*) OVER (PARTITION BY event_type)
                           AS BIGINT) AS n
                  FROM j),
          u AS (SELECT event_type, n, day,
                       abs(s2 - i * (n + 1)) AS u
                FROM run),
          k AS (SELECT event_type, CAST(max(n) AS BIGINT) AS n,
                       CAST(max(u) AS BIGINT) AS k
                FROM u GROUP BY 1)
          SELECT u.event_type AS event_type, k.n, k.k,
                 CAST(min(u.day) AS BIGINT) AS cp
          FROM u JOIN k ON u.event_type = k.event_type AND u.u = k.k
          GROUP BY 1, 2, 3 ORDER BY 1""",

    "q276_readability" ->
      """WITH d AS (SELECT lang,
                CAST(len(regexp_extract_all(text, '[A-Za-z]+'))
                  AS BIGINT) AS w,
                CAST(greatest(len(regexp_extract_all(text, '[.!?]+')),
                  1) AS BIGINT) AS s,
                CAST(len(regexp_extract_all(text, '[aeiouyAEIOUY]+'))
                  AS BIGINT) AS y
              FROM documents),
          sc AS (SELECT lang, w, s, y,
                        CASE WHEN w > 0
                             THEN 206.835
                                  - 1.015 * (CAST(w AS DOUBLE)
                                             / CAST(s AS DOUBLE))
                                  - 84.6 * (CAST(y AS DOUBLE)
                                            / CAST(w AS DOUBLE))
                             END AS score
                 FROM d),
          a AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
                       CAST(sum(w) AS BIGINT) AS words,
                       CAST(sum(s) AS BIGINT) AS sentences,
                       CAST(sum(y) AS BIGINT) AS syllables,
                       CAST(count(CASE WHEN score IS NULL THEN 1 END)
                         AS BIGINT) AS n_nonlatin,
                       CAST(count(CASE WHEN score >= 60.0 THEN 1 END)
                         AS BIGINT) AS n_easy,
                       CAST(count(CASE WHEN score >= 30.0
                         AND score < 60.0 THEN 1 END) AS BIGINT)
                         AS n_medium,
                       CAST(count(CASE WHEN score < 30.0 THEN 1 END)
                         AS BIGINT) AS n_hard
                FROM sc GROUP BY 1)
          SELECT lang, n_docs, words, sentences, syllables, n_nonlatin,
                 n_easy, n_medium, n_hard,
                 CASE WHEN words > 0
                      THEN 206.835
                           - 1.015 * (CAST(words AS DOUBLE)
                                      / CAST(sentences AS DOUBLE))
                           - 84.6 * (CAST(syllables AS DOUBLE)
                                     / CAST(words AS DOUBLE))
                      END AS corpus_score
          FROM a ORDER BY lang""",

    "q277_cross_corr" ->
      s"""WITH daily AS (SELECT epoch_us(ts) // $DayUs AS day,
                                CAST(sum(CASE WHEN event_type = 'click'
                                  THEN ${centsSql("value")} ELSE 0 END)
                                  AS BIGINT) AS x,
                                CAST(sum(CASE WHEN event_type
                                    = 'purchase'
                                  THEN ${centsSql("value")} ELSE 0 END)
                                  AS BIGINT) AS y
                         FROM events
                         WHERE event_type IN ('purchase', 'click')
                         GROUP BY 1),
          lags AS (SELECT * FROM (VALUES (-3), (-2), (-1), (0), (1),
            (2), (3)) t(lag)),
          p AS (SELECT CAST(lag AS BIGINT) AS lag, a.x AS x, b.y AS y
                FROM daily a JOIN lags ON TRUE
                     JOIN daily b ON b.day = a.day + lag),
          a AS (SELECT lag, CAST(count(*) AS BIGINT) AS n_pairs,
                       CAST(sum(x) AS BIGINT) AS sx,
                       CAST(sum(y) AS BIGINT) AS sy,
                       CAST(sum(x * x) AS BIGINT) AS sxx,
                       CAST(sum(y * y) AS BIGINT) AS syy,
                       CAST(sum(x * y) AS BIGINT) AS sxy
                FROM p GROUP BY 1)
          SELECT lag, n_pairs,
                 CASE WHEN n_pairs >= 2
                       AND CAST(n_pairs AS DOUBLE) * CAST(sxx AS DOUBLE)
                           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
                           <> 0
                       AND CAST(n_pairs AS DOUBLE) * CAST(syy AS DOUBLE)
                           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)
                           <> 0
                      THEN (CAST(n_pairs AS DOUBLE)
                              * CAST(sxy AS DOUBLE)
                            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                           / sqrt((CAST(n_pairs AS DOUBLE)
                                     * CAST(sxx AS DOUBLE)
                                   - CAST(sx AS DOUBLE)
                                     * CAST(sx AS DOUBLE))
                                  * (CAST(n_pairs AS DOUBLE)
                                       * CAST(syy AS DOUBLE)
                                     - CAST(sy AS DOUBLE)
                                       * CAST(sy AS DOUBLE)))
                      END AS r
          FROM a ORDER BY lag""",

    "q278_dow_anova" -> {
      val nCols = (0 until 7).map(d =>
        s"CAST(count(CASE WHEN dow = $d THEN 1 END) AS BIGINT) AS n$d")
      val sCols = (0 until 7).map(d =>
        s"CAST(sum(CASE WHEN dow = $d THEN y ELSE 0 END) AS BIGINT) AS s$d")
      val nSum = (0 until 7).map(d => s"n$d").mkString(" + ")
      val sSum = (0 until 7).map(d => s"s$d").mkString(" + ")
      val kSum = (0 until 7).map(d =>
        s"(CASE WHEN n$d > 0 THEN 1 ELSE 0 END)").mkString(" + ")
      val tSum = (0 until 7).map(d =>
        s"""(CASE WHEN n$d > 0
                  THEN CAST(s$d AS DOUBLE) * CAST(s$d AS DOUBLE)
                       / CAST(n$d AS DOUBLE)
                  ELSE 0.0 END)""").mkString(" + ")
      s"""WITH daily AS ($DailySql),
          d2 AS (SELECT event_type, day % 7 AS dow, y FROM daily),
          piv AS (SELECT event_type,
                         ${(nCols ++ sCols).mkString(",\n                         ")},
                         CAST(sum(y * y) AS BIGINT) AS syy
                  FROM d2 GROUP BY 1),
          t1 AS (SELECT *, $nSum AS n_days, $sSum AS st, $kSum AS k
                 FROM piv),
          t2 AS (SELECT *, $tSum AS t,
                        CAST(st AS DOUBLE) * CAST(st AS DOUBLE)
                          / CAST(n_days AS DOUBLE) AS grand
                 FROM t1),
          t3 AS (SELECT *, t - grand AS ssb,
                        CAST(syy AS DOUBLE) - grand AS sst
                 FROM t2)
          SELECT event_type, n_days,
                 CASE WHEN sst <> 0 THEN ssb / sst END AS eta2,
                 CASE WHEN k > 1 AND n_days > k AND sst - ssb <> 0
                      THEN (ssb / (CAST(k AS DOUBLE) - 1.0))
                           / ((sst - ssb)
                              / (CAST(n_days AS DOUBLE)
                                 - CAST(k AS DOUBLE)))
                      END AS f
          FROM t3 ORDER BY event_type"""
    },

    "q279_ltv_curve" ->
      s"""WITH ev AS (SELECT user_id, event_type,
                             epoch_us(ts) // $DayUs AS day, value
                      FROM events),
          per AS (SELECT user_id,
                         min(CASE WHEN event_type = 'signup'
                           THEN day END) AS cday
                  FROM ev GROUP BY 1),
          ok AS (SELECT * FROM per WHERE cday IS NOT NULL),
          sizes AS (SELECT cday // 7 AS cohort,
                           CAST(count(*) AS BIGINT) AS n_users
                    FROM ok GROUP BY 1),
          weekly AS (SELECT cday // 7 AS cohort,
                            (day - cday) // 7 AS age_week,
                            CAST(sum(${centsSql("value")}) AS BIGINT)
                              AS wk_cents
                     FROM ev JOIN ok USING (user_id)
                     WHERE event_type = 'purchase' AND day >= cday
                     GROUP BY 1, 2),
          run AS (SELECT cohort, age_week,
                         CAST(sum(wk_cents) OVER (PARTITION BY cohort
                           ORDER BY age_week) AS BIGINT) AS cum_cents
                  FROM weekly)
          SELECT cohort, age_week, n_users, cum_cents,
                 CAST(cum_cents AS DOUBLE) / CAST(n_users AS DOUBLE)
                   AS ltv
          FROM run JOIN sizes USING (cohort)
          ORDER BY cohort, age_week""",

    "q280_blocking_quality" ->
      """WITH b AS (SELECT lang, n_chars // 50 AS bucket,
                           CAST(count(*) AS BIGINT) AS b
                    FROM documents GROUP BY 1, 2),
          a AS (SELECT lang, CAST(sum(b) AS BIGINT) AS n_docs,
                       CAST(count(*) AS BIGINT) AS n_blocks,
                       CAST(sum((b * (b - 1)) // 2) AS BIGINT)
                         AS cand_pairs,
                       CAST(max(b) AS BIGINT) AS largest_block
                FROM b GROUP BY 1),
          t AS (SELECT *, (n_docs * (n_docs - 1)) // 2 AS total
                FROM a)
          SELECT lang, n_docs, n_blocks, cand_pairs, largest_block,
                 CASE WHEN total > 0
                      THEN 1.0 - CAST(cand_pairs AS DOUBLE)
                           / CAST(total AS DOUBLE)
                      END AS reduction_ratio
          FROM t ORDER BY lang""",

    "q281_langid_confusion" ->
      s"""WITH c AS (SELECT doc_id, lang, ${ExtensionQueries.langCols}
                     FROM documents),
          p AS (SELECT lang,
                       CASE WHEN c_en + c_es + c_fr + c_de = 0
                              THEN 'und'
                            WHEN c_en >= c_es AND c_en >= c_fr
                              AND c_en >= c_de THEN 'en'
                            WHEN c_es >= c_fr AND c_es >= c_de
                              THEN 'es'
                            WHEN c_fr >= c_de THEN 'fr'
                            ELSE 'de' END AS lang_pred
                FROM c)
          SELECT lang, lang_pred, CAST(count(*) AS BIGINT) AS n
          FROM p GROUP BY 1, 2 ORDER BY 1, 2""",

    "q283_mood_median" ->
      s"""WITH daily AS ($DailySql),
          m AS (SELECT median(y) AS med FROM daily),
          sg AS (SELECT event_type,
                        CASE WHEN 2 * y > CAST(2 * med AS BIGINT)
                               THEN 'above'
                             WHEN 2 * y < CAST(2 * med AS BIGINT)
                               THEN 'below' END AS side
                 FROM daily, m),
          c AS (SELECT event_type, side, count(*) AS o
                FROM sg WHERE side IS NOT NULL GROUP BY 1, 2),
          rt AS (SELECT event_type, CAST(sum(o) AS BIGINT) AS rt
                 FROM c GROUP BY 1),
          ct AS (SELECT side, CAST(sum(o) AS BIGINT) AS ct
                 FROM c GROUP BY 1),
          t AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM c),
          j AS (SELECT c.event_type, c.side, o,
                       (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE))
                         / CAST(n AS DOUBLE) AS expected
                FROM c JOIN rt USING (event_type) JOIN ct USING (side)
                CROSS JOIN t)
          SELECT event_type, side, o, expected,
                 (CAST(o AS DOUBLE) - expected)
                   * (CAST(o AS DOUBLE) - expected) / expected
                   AS contrib
          FROM j ORDER BY event_type, side""",

    "q284_kruskal_wallis" -> {
      val bin = TypeCodes.map { case (n, c) =>
        s"WHEN '$n' THEN $c" }.mkString("CASE event_type ", " ", " END")
      val nCols = (0 until 5).map(g =>
        s"CAST(count(CASE WHEN tk = $g THEN 1 END) AS BIGINT) AS n$g")
      val rCols = (0 until 5).map(g =>
        s"CAST(sum(CASE WHEN tk = $g THEN r2 ELSE 0 END) AS BIGINT) AS r$g")
      val nSum = (0 until 5).map(g => s"n$g").mkString(" + ")
      val sSum = (0 until 5).map(g =>
        s"""(CASE WHEN n$g > 0
                  THEN CAST(r$g AS DOUBLE) * CAST(r$g AS DOUBLE)
                       / (4.0 * CAST(n$g AS DOUBLE))
                  ELSE 0.0 END)""").mkString(" + ")
      s"""WITH daily AS ($DailySql),
          b AS (SELECT $bin AS tk, y FROM daily),
          c AS (SELECT y, count(*) AS c FROM b GROUP BY 1),
          r AS (SELECT y, CAST(2 * cum - c + 1 AS BIGINT) AS r2
                FROM (SELECT y, c, sum(c) OVER (ORDER BY y) AS cum
                      FROM c) t),
          tt AS (SELECT CAST(sum(c * c * c - c) AS BIGINT) AS t_ties
                 FROM c),
          j AS (SELECT tk, r2 FROM b JOIN r USING (y)),
          piv AS (SELECT
                    ${(nCols ++ rCols).mkString(",\n                    ")}
                  FROM j),
          t1 AS (SELECT *, $nSum AS n FROM piv CROSS JOIN tt),
          t2 AS (SELECT *, $sSum AS s FROM t1),
          t3 AS (SELECT n, t_ties,
                        CASE WHEN n >= 2
                             THEN 12.0 / (CAST(n AS DOUBLE)
                                    * (CAST(n AS DOUBLE) + 1.0)) * s
                                  - 3.0 * (CAST(n AS DOUBLE) + 1.0)
                             END AS h,
                        1.0 - CAST(t_ties AS DOUBLE)
                          / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                             * CAST(n AS DOUBLE) - CAST(n AS DOUBLE))
                          AS corr
                 FROM t2)
          SELECT n, t_ties, h,
                 CASE WHEN h IS NOT NULL AND corr > 0
                      THEN h / corr END AS h_corrected
          FROM t3"""
    },

    "q285_streaming_forecast" ->
      s"""WITH daily AS ($DailySql),
          mx AS (SELECT event_type, CAST(max(day) AS BIGINT) AS mx
                 FROM daily GROUP BY 1),
          j AS (SELECT a.event_type, a.day, a.y, b.y AS prev
                FROM daily a
                JOIN daily b ON a.event_type = b.event_type
                  AND a.day = b.day + 7
                JOIN mx ON mx.event_type = a.event_type
                  AND a.day < mx.mx)
          SELECT event_type, day, y AS total_cents, prev AS prev_cents
          FROM j WHERE abs(y - prev) * 2 > prev
          ORDER BY event_type, day""",

    "q286_growth_accounting" ->
      s"""WITH ev AS (SELECT user_id,
                             (epoch_us(ts) // $DayUs) // 7 AS wk
                      FROM events GROUP BY 1, 2),
          f AS (SELECT user_id, min(wk) AS fw FROM ev GROUP BY 1),
          l AS (SELECT user_id, wk,
                       lag(wk) OVER (PARTITION BY user_id
                         ORDER BY wk) AS prev
                FROM ev),
          c AS (SELECT wk, CAST(count(*) AS BIGINT) AS n_active,
                       CAST(count(CASE WHEN wk = fw THEN 1 END)
                         AS BIGINT) AS n_new,
                       CAST(count(CASE WHEN prev = wk - 1 THEN 1 END)
                         AS BIGINT) AS n_retained,
                       CAST(count(CASE WHEN prev IS NOT NULL
                         AND prev < wk - 1 THEN 1 END) AS BIGINT)
                         AS n_resurrected
                FROM l JOIN f USING (user_id) GROUP BY 1)
          SELECT c.wk AS wk, c.n_active, c.n_new, c.n_retained,
                 c.n_resurrected,
                 coalesce(p.n_active, 0) - c.n_retained AS n_churned
          FROM c LEFT JOIN c p ON c.wk = p.wk + 1
          ORDER BY 1""",

    "q287_k_anonymity" ->
      """WITH g AS (SELECT lang, n_chars // 100 AS bucket,
                           CAST(count(*) AS BIGINT) AS sz,
                           CAST(count(DISTINCT source) AS BIGINT) AS ls
                    FROM documents GROUP BY 1, 2)
          SELECT CAST(count(*) AS BIGINT) AS n_groups,
                 CAST(sum(sz) AS BIGINT) AS n_rows,
                 CAST(min(sz) AS BIGINT) AS achieved_k,
                 CAST(min(ls) AS BIGINT) AS achieved_l,
                 CAST(sum(CASE WHEN sz < 5 THEN sz ELSE 0 END)
                   AS BIGINT) AS rows_below_k5,
                 CAST(count(CASE WHEN ls < 2 THEN 1 END) AS BIGINT)
                   AS groups_low_diversity
          FROM g""",

    "q288_embed_dist_histogram" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                    FROM embeddings WHERE vec_id % 4 = 0),
          p AS (SELECT list_dot_product(a.v, a.v)
                       - 2 * list_dot_product(a.v, b.v)
                       + list_dot_product(b.v, b.v) AS d2
                FROM e a JOIN e b ON a.vec_id < b.vec_id),
          h AS (SELECT least(CAST(floor(d2 / 0.5) AS BIGINT), 24)
                  AS bucket FROM p)
          SELECT bucket, CAST(count(*) AS BIGINT) AS n_pairs
          FROM h GROUP BY 1 ORDER BY bucket""",

    "q289_burstiness" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS tsu,
                           event_id
                    FROM events),
          l AS (SELECT event_type, tsu,
                       lag(tsu) OVER (PARTITION BY user_id, event_type
                         ORDER BY tsu, event_id) AS prev
                FROM e),
          g AS (SELECT event_type, (tsu - prev) // 60000000 AS gp
                FROM l WHERE prev IS NOT NULL),
          a AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_gaps,
                       CAST(sum(gp) AS BIGINT) AS sx,
                       CAST(sum(gp * gp) AS BIGINT) AS sxx
                FROM g GROUP BY 1)
          SELECT event_type, n_gaps,
                 CASE WHEN n_gaps >= 2
                       AND (CAST(n_gaps AS DOUBLE)
                              * CAST(sxx AS DOUBLE)
                            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                           / (CAST(n_gaps AS DOUBLE)
                              * (CAST(n_gaps AS DOUBLE) - 1.0)) >= 0
                       AND sqrt((CAST(n_gaps AS DOUBLE)
                                   * CAST(sxx AS DOUBLE)
                                 - CAST(sx AS DOUBLE)
                                   * CAST(sx AS DOUBLE))
                                / (CAST(n_gaps AS DOUBLE)
                                   * (CAST(n_gaps AS DOUBLE) - 1.0)))
                           + CAST(sx AS DOUBLE)
                             / CAST(n_gaps AS DOUBLE) <> 0
                      THEN (sqrt((CAST(n_gaps AS DOUBLE)
                                    * CAST(sxx AS DOUBLE)
                                  - CAST(sx AS DOUBLE)
                                    * CAST(sx AS DOUBLE))
                                 / (CAST(n_gaps AS DOUBLE)
                                    * (CAST(n_gaps AS DOUBLE) - 1.0)))
                            - CAST(sx AS DOUBLE)
                              / CAST(n_gaps AS DOUBLE))
                           / (sqrt((CAST(n_gaps AS DOUBLE)
                                      * CAST(sxx AS DOUBLE)
                                    - CAST(sx AS DOUBLE)
                                      * CAST(sx AS DOUBLE))
                                   / (CAST(n_gaps AS DOUBLE)
                                      * (CAST(n_gaps AS DOUBLE)
                                         - 1.0)))
                              + CAST(sx AS DOUBLE)
                                / CAST(n_gaps AS DOUBLE))
                      END AS b
          FROM a ORDER BY event_type""",

    "q291_forecast_interval" ->
      s"""WITH daily AS ($DailySql),
          e AS (SELECT a.event_type, a.day, abs(a.y - b.y) AS ae
                FROM daily a JOIN daily b
                  ON a.event_type = b.event_type
                 AND a.day = b.day + 7),
          r AS (SELECT event_type, ae,
                       row_number() OVER (PARTITION BY event_type
                         ORDER BY ae, day) AS rn,
                       count(*) OVER (PARTITION BY event_type) AS n
                FROM e)
          SELECT event_type, CAST(max(n) AS BIGINT) AS n,
                 CAST(max(CASE WHEN rn = ((n - 1) * 50) // 100 + 1
                   THEN ae END) AS BIGINT) AS p50_abs_err,
                 CAST(max(CASE WHEN rn = ((n - 1) * 90) // 100 + 1
                   THEN ae END) AS BIGINT) AS p90_abs_err
          FROM r GROUP BY 1 ORDER BY event_type""",

    "q292_ks_drift" ->
      s"""WITH e0 AS (SELECT epoch_us(ts) // $DayUs AS day,
                             ${centsSql("value")} AS v
                      FROM events WHERE event_type = 'purchase'),
          md AS (SELECT min(day) AS md FROM e0),
          e AS (SELECT least(day - md, 31) AS m, v FROM e0, md),
          vals AS (SELECT DISTINCT v FROM e),
          mon AS (SELECT m, CAST(count(*) AS BIGINT) AS n
                  FROM e GROUP BY 1),
          c AS (SELECT m, v, CAST(count(*) AS BIGINT) AS c
                FROM e GROUP BY 1, 2),
          grid AS (SELECT mon.m, vals.v FROM mon CROSS JOIN vals),
          g2 AS (SELECT grid.m, grid.v, coalesce(c.c, 0) AS c
                 FROM grid LEFT JOIN c ON c.m = grid.m
                   AND c.v = grid.v),
          r AS (SELECT m, v,
                       CAST(sum(c) OVER (PARTITION BY m ORDER BY v)
                         AS BIGINT) AS r
                FROM g2),
          b AS (SELECT v, r AS rb FROM r WHERE m = 0),
          nb AS (SELECT n AS n0 FROM mon WHERE m = 0),
          g AS (SELECT r.m, mon.n,
                       CAST(max(abs(b.rb * mon.n - r.r * nb.n0))
                         AS BIGINT) AS ks_num,
                       max(nb.n0) AS n0
                FROM r JOIN b USING (v)
                JOIN mon ON mon.m = r.m CROSS JOIN nb
                WHERE r.m <> 0 GROUP BY 1, 2)
          SELECT CAST(m AS BIGINT) AS day_idx, n, ks_num,
                 CASE WHEN n > 0 AND n0 > 0
                      THEN CAST(ks_num AS DOUBLE)
                           / (CAST(n AS DOUBLE) * CAST(n0 AS DOUBLE))
                      END AS ks
          FROM g ORDER BY day_idx""",

    "q293_dedup_cluster_census" -> {
      val compSql = Round2Queries.oracleSql("q65_dedup_groups")
      s"""WITH comp AS (SELECT doc_id, component FROM ($compSql) t),
          sizes AS (SELECT component, CAST(count(*) AS BIGINT) AS sz
                    FROM comp GROUP BY 1),
          census AS (SELECT sz AS cluster_size,
                            CAST(count(*) AS BIGINT) AS n_clusters,
                            CAST(sum(sz) AS BIGINT) AS n_docs
                     FROM sizes GROUP BY 1),
          tot AS (SELECT CAST(count(*) AS BIGINT) AS total
                  FROM documents),
          inc AS (SELECT CAST(coalesce(sum(sz), 0) AS BIGINT) AS inn
                  FROM sizes),
          singles AS (SELECT CAST(1 AS BIGINT) AS cluster_size,
                             total - inn AS n_clusters,
                             total - inn AS n_docs
                      FROM tot, inc)
          SELECT * FROM (SELECT * FROM census
                         UNION ALL SELECT * FROM singles) u
          WHERE n_clusters > 0 ORDER BY cluster_size"""
    },

    "q294_ess" ->
      s"""WITH w AS (SELECT user_id % 8 AS cohort,
                            ${centsSql("value")} AS w
                     FROM events WHERE event_type = 'purchase'),
          a AS (SELECT cohort, CAST(count(*) AS BIGINT) AS n,
                       CAST(sum(w) AS BIGINT) AS sw,
                       CAST(sum(w * w) AS BIGINT) AS sww
                FROM w GROUP BY 1)
          SELECT CAST(cohort AS BIGINT) AS cohort, n,
                 CASE WHEN sww > 0
                      THEN CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE)
                           / CAST(sww AS DOUBLE) END AS ess,
                 CASE WHEN sww > 0
                      THEN CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE)
                           / CAST(sww AS DOUBLE) / CAST(n AS DOUBLE)
                      END AS ess_ratio
          FROM a ORDER BY cohort"""
  )

  /** q282's oracle depends on the run-time-learned label centroids —
    * rendered per (session, sfDir) like q215/q224 (the q64 mechanism).
    */
  override val dynamicOracleSql: Map[String, (SparkSession, String) => String] =
    Map(
      "q290_pca_projection" -> ((s, dir) => {
        val (means, vec, eig) = Stats.pcaPowerModel(
          Readers.table(s, dir, "embeddings"), "vec_id", "embedding",
          dims = 8)
        val mv = means.zip(vec).map { case (m, v) => m * v }.sum
        val vSql = vec.map(x => s"'$x'::DOUBLE")
          .mkString("[", ", ", "]")
        s"""SELECT least(greatest(CAST(floor(
                     (list_dot_product(CAST(embedding AS DOUBLE[])[1:8],
                        $vSql) - '$mv'::DOUBLE) / 0.25) AS BIGINT),
                     -24), 24) AS bucket,
                   CAST(count(*) AS BIGINT) AS n,
                   '$eig'::DOUBLE AS eigval
            FROM embeddings GROUP BY 1 ORDER BY bucket"""
      }),
      "q282_silhouette" -> ((s, dir) => {
        val (labels, cents) = Round11Queries.labelCentroids(s, dir)
        val values = labels.zip(cents).map { case (l, c) =>
          val cn2 = c.foldLeft(0.0)((s2, x) => s2 + x * x)
          c.map(x => s"'$x'::DOUBLE")
            .mkString(s"($l, [", ", ", s"], '$cn2'::DOUBLE)")
        }.mkString(", ")
        s"""WITH cents(l, cv, cn2) AS (VALUES $values),
            e AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
                         CAST(embedding AS DOUBLE[]) AS v
                  FROM embeddings),
            en AS (SELECT vec_id, label, v,
                          list_dot_product(v, v) AS vn2 FROM e),
            a AS (SELECT vec_id, label,
                         vn2 - 2 * list_dot_product(v, cv) + cn2 AS a2
                  FROM en JOIN cents ON cents.l = en.label),
            b AS (SELECT vec_id,
                         min(vn2 - 2 * list_dot_product(v, cv) + cn2)
                           AS b2
                  FROM en JOIN cents ON cents.l <> en.label
                  GROUP BY 1),
            j AS (SELECT a.label, a2, b2 FROM a JOIN b USING (vec_id))
            SELECT label, CAST(count(*) AS BIGINT) AS n,
                   CAST(count(CASE WHEN b2 > a2 THEN 1 END) AS BIGINT)
                     AS n_well,
                   min(b2 - a2) AS min_margin,
                   max(b2 - a2) AS max_margin
            FROM j GROUP BY 1 ORDER BY label"""
      }))
}
