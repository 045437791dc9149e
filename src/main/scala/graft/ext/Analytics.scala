package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Cross-cutting OLAP analyses built from the scalable primitives:
  * cohort retention, Pareto-frontier (skyline) extraction, and per-key
  * transition counting. Each is a composition of combinable aggregates,
  * co-partitioned joins, and the [[GlobalOrder]] boundary-stitch family —
  * no per-key or global windows anywhere, so every operator keeps its
  * complexity class under key skew and at 100 TB.
  */
object Analytics {

  /** Cohort retention matrix: for activity rows (entity, periodIdx),
    * cohort each entity by its FIRST active period and count distinct
    * entities active at each (cohort, periods-since) offset — the classic
    * "month-0 acquisition, month-k retention" triangle, generalized to
    * any integer period index (epoch-months, epoch-weeks…).
    *
    * Scale design: first-period is a combinable `min` groupBy on the
    * entity key; the activity side is deduplicated to (entity, period)
    * BEFORE the join (so the matrix count is a plain `count(*)`, never a
    * shuffling `count(distinct)`); both the dedup and the cohort lookup
    * shuffle on the SAME entity key, so the join is co-partitioned. The
    * output is at most |periods|² rows — driver-safe at any scale.
    *
    * `periodIdx` must be a non-null integer expression (e.g.
    * `year*12 + month−1`); timezone-free integer indices keep the
    * cohorting identical on every engine.
    */
  def cohortRetention(df: DataFrame, entityCol: String,
                      periodIdx: Column): DataFrame = {
    val act = df.select(col(entityCol).as("__e"),
      periodIdx.cast("long").as("__p")).distinct()
    val cohorts = act.groupBy("__e").agg(min("__p").as("cohort"))
    act.join(cohorts, "__e")
      .groupBy(col("cohort"), (col("__p") - col("cohort")).as("periods_since"))
      .agg(count(lit(1)).as("n_active"))
  }

  /** 2-D skyline (Pareto frontier): the rows not dominated under
    * (minimize `costCol`, maximize `gainCol`) — row b is dominated iff
    * some row a has (cost < b.cost AND gain ≥ b.gain) OR
    * (cost ≤ b.cost AND gain > b.gain). The classic quadratic
    * formulation ("NOT EXISTS dominating row") is a self-join that dies
    * at scale; in 2-D the frontier is exactly the rows whose gain
    * strictly exceeds every strictly-cheaper row's gain AND equals their
    * own cost group's maximum — a prefix-maximum in cost order.
    *
    * Scale design: collapse to one row per distinct cost (combinable
    * `max`), run [[GlobalOrder.withRunningMax]] over cost order (range
    * shuffle, no global window), take the EXCLUSIVE prefix max via
    * [[GlobalOrder.withLagPerKey]] under a constant key (the stitch lag
    * is hot-key-safe, so one global key is fine), and join the per-cost
    * verdict back to the rows — co-partitioned on cost. Every pass moves
    * one row per distinct cost, not per input row.
    *
    * Both columns must be non-null LongType (fixed-point encode doubles
    * with [[Stats.cents]]). Ties: rows equal on BOTH dims are mutually
    * non-dominating and all kept.
    */
  def skyline2D(df: DataFrame, costCol: String, gainCol: String): DataFrame = {
    GlobalOrder.requireFresh(df,
      "__cost", "__gmax", "__gincl", "__gprev", "__one")
    for (c <- Seq(costCol, gainCol))
      require(df.schema(c).dataType ==
        org.apache.spark.sql.types.LongType,
        s"skyline2D needs LongType dims; $c is ${df.schema(c).dataType}")
    val g = df.groupBy(col(costCol).as("__cost"))
      .agg(max(col(gainCol)).as("__gmax"))
    val incl = GlobalOrder.withRunningMax(
      g, Seq(col("__cost")), "__gmax", out = "__gincl")
    val excl = GlobalOrder.withLagPerKey(
      incl.withColumn("__one", lit(0L)), "__one", "__cost", "__gincl",
      Seq.empty, out = "__gprev")
    val verdict = excl
      .filter(col("__gprev").isNull || col("__gmax") > col("__gprev"))
      .select(col("__cost"), col("__gmax"))
    df.join(verdict,
      df(costCol) === verdict("__cost") && df(gainCol) === verdict("__gmax"))
      .drop("__cost", "__gmax")
  }

  /** Per-key first-order transition counts (the Markov chain of an event
    * log): for rows (key, ts, code), count each (previous code → code)
    * pair within the key's timeline, ordered by (ts, tieCols). Each key's
    * first row has no predecessor and contributes nothing.
    *
    * Scale design: the predecessor comes from
    * [[GlobalOrder.withLagPerKey]] — the boundary-stitch per-key LAG, so
    * a hot key (one bot account with half the log) costs a range
    * shuffle, never a single-task window sort — and the count is one
    * map-side-combined groupBy over at most |codes|² groups.
    *
    * `keyCol`/`tsCol`/`codeCol` must be non-null LongType (dictionary-
    * encode string codes first; the alphabet is small by definition for
    * a transition analysis).
    */
  def transitionCounts(df: DataFrame, keyCol: String, tsCol: String,
                       codeCol: String, tieCols: Seq[Column]): DataFrame =
    GlobalOrder.withLagPerKey(df, keyCol, tsCol, codeCol, tieCols,
        out = "__prev")
      .filter(col("__prev").isNotNull)
      .groupBy(col("__prev").as("prev_code"), col(codeCol).as("code"))
      .agg(count(lit(1)).as("n"))

  /** Per-group MODE (most frequent value) in two bounded-state passes:
    * a combinable (group, value) count, then the `min(struct)` argmin
    * (the k=1 top-k discipline) selecting (highest count, lowest value)
    * — a TOTAL tiebreak, so the result is deterministic on every engine.
    * No per-group window, no value-list buffering: a group with a
    * billion distinct values costs two hash aggregations, never a sort.
    *
    * Emits the group columns plus `mode` (the winning value), `mode_n`
    * (its count) and `n_rows` (the group's total row count). `valueCol`
    * must be non-null and orderable; the negated-count trick requires
    * the count to fit a signed long (always true — it IS a count).
    */
  def groupMode(df: DataFrame, groupCols: Seq[Column],
                valueCol: Column): DataFrame = {
    GlobalOrder.requireFresh(df, "__v", "__cnt", "__m")
    val counts = df.groupBy((groupCols :+ valueCol.as("__v")): _*)
      .agg(count(lit(1)).as("__cnt"))
    counts.groupBy(groupCols: _*)
      .agg(min(struct((-col("__cnt")).as("nc"), col("__v").as("v")))
          .as("__m"),
        sum("__cnt").as("n_rows"))
      .withColumn("mode", col("__m.v"))
      .withColumn("mode_n", -col("__m.nc"))
      .drop("__m")
  }

  /** Pairwise audience overlap: for membership rows (group, entity),
    * every group pair's exact common-entity count plus each group's
    * distinct size and the Jaccard similarity — the "how much do these
    * segments/event-types/channels share users" matrix.
    *
    * Scale design: membership is deduplicated to (group, entity) FIRST,
    * so the per-entity self-join fans out at most |groups|² rows per
    * entity (an entity in every group is bounded by the group-count
    * squared, never by its event volume) and the pair count is a plain
    * combinable `count(*)`. Group sizes are a |groups|-row aggregate
    * broadcast onto the |groups|²-row result. Output is driver-safe at
    * any corpus size; Jaccard is the single IEEE division
    * `n_common / (n_a + n_b − n_common)` over exact integers.
    */
  def audienceOverlap(df: DataFrame, groupCol: String,
                      entityCol: String): DataFrame = {
    GlobalOrder.requireFresh(df, "__g", "__e", "__n")
    val m = df.select(col(groupCol).as("__g"), col(entityCol).as("__e"))
      .distinct()
    val sizes = m.groupBy("__g").agg(count(lit(1)).as("__n"))
    m.select(col("__e"), col("__g").as("grp_a"))
      .join(m.select(col("__e"), col("__g").as("grp_b")), "__e")
      .filter(col("grp_a") < col("grp_b"))
      .groupBy("grp_a", "grp_b").agg(count(lit(1)).as("n_common"))
      .join(broadcast(sizes.select(col("__g").as("grp_a"),
        col("__n").as("n_a"))), "grp_a")
      .join(broadcast(sizes.select(col("__g").as("grp_b"),
        col("__n").as("n_b"))), "grp_b")
      .select(col("grp_a"), col("grp_b"), col("n_common"), col("n_a"),
        col("n_b"),
        (col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common"))).as("jaccard"))
  }

  /** Time-windowed funnel step: for every row of `a`, the timestamp of
    * the EARLIEST `b` row with the same key strictly after it and within
    * `windowUs` (null otherwise) — the per-event "did B follow A within
    * the window" primitive behind conversion funnels, where the lifetime
    * min-timestamp funnel ([[graft.queries.CorpusQueries]] q42) answers
    * only the weaker "ever, in order" question.
    *
    * Scale design: a forward as-of join, run as [[AsofJoin.leftAsofBig]]
    * on NEGATED time (greatest −b.ts ≤ −(a.ts+1) ⇔ smallest
    * b.ts ≥ a.ts+1 ⇔ strictly after, at integer-microsecond
    * resolution) — the union-interleave fill-forward, so a hot key costs
    * a range shuffle, never a per-key window sort, and no per-pair
    * candidate blowup ever materializes (a range join would fan out
    * |A|×|B| per key before pruning). `b` is deduplicated to
    * (key, ts) first (the as-of uniqueness contract; only the earliest
    * match is wanted, so duplicates carry no information).
    *
    * `keyCol`/`tsCol` must be non-null LongType on both inputs; `out`
    * must be fresh on `a`.
    */
  def nextEventWithin(a: DataFrame, b: DataFrame, keyCol: String,
                      tsCol: String, windowUs: Long,
                      out: String): DataFrame = {
    require(windowUs > 0, s"windowUs must be positive, got $windowUs")
    GlobalOrder.requireFresh(a, out, "__nega")
    val bd = b.select(col(keyCol), col(tsCol)).distinct()
      .select(col(keyCol), (-col(tsCol)).as("__negt"), col(tsCol).as(out))
    AsofJoin.leftAsofBig(
        a.withColumn("__nega", -(col(tsCol) + lit(1L))), bd,
        keyCol, "__nega", "__negt", out)
      .drop("__nega")
      .withColumn(out, when(col(out) - col(tsCol) <= windowUs, col(out)))
  }

  /** NEAREST-in-time join: for each left row, the single right timestamp
    * closest in EITHER direction within ±`tolUs` (ties — equidistant
    * before/after — go to the earlier, and an exact-equal timestamp is
    * distance 0 on the backward side). The sensor-fusion / log-alignment
    * primitive ("match each reading to the closest calibration sample"),
    * strictly stronger than a one-directional as-of.
    *
    * Composition, not a new engine: ONE backward as-of
    * ([[AsofJoin.leftAsofBig]] — greatest right ≤ t) and ONE forward
    * as-of ([[nextEventWithin]] — smallest right > t, the negated-time
    * trick) each ride the hot-key-safe range shuffle, then one local
    * projection picks the closer candidate. No |A|×|B| fan-out, no
    * per-key window, and the tolerance clips AFTER the as-ofs, so each
    * pass stays a pure fill-forward.
    *
    * Appends `out` (nearest right ts, null if none within tolerance)
    * and `outDist` (its distance in micros). Key/ts LongType non-null;
    * `out`/`outDist`/internals must be fresh on `a`.
    */
  def nearestEventWithin(a: DataFrame, b: DataFrame, keyCol: String,
                         tsCol: String, tolUs: Long, out: String,
                         outDist: String): DataFrame = {
    require(tolUs > 0, s"tolUs must be positive, got $tolUs")
    GlobalOrder.requireFresh(a, out, outDist, "__graft_bv", "__graft_fv")
    val bd = b.select(col(keyCol), col(tsCol)).distinct()
      .select(col(keyCol), col(tsCol).as("__graft_bt"),
        col(tsCol).as("__graft_bv"))
    val withBack = AsofJoin.leftAsofBig(a, bd, keyCol, tsCol,
        "__graft_bt", "__graft_bv")
      .withColumn("__graft_bv",
        when(col(tsCol) - col("__graft_bv") <= tolUs, col("__graft_bv")))
    val withBoth = nextEventWithin(withBack, b, keyCol, tsCol, tolUs,
      "__graft_fv")
    val bv = col("__graft_bv")
    val fv = col("__graft_fv")
    val nearest = when(bv.isNull && fv.isNull, lit(null).cast("long"))
      .when(fv.isNull, bv)
      .when(bv.isNull, fv)
      .when(col(tsCol) - bv <= fv - col(tsCol), bv)
      .otherwise(fv)
    withBoth
      .withColumn(out, nearest)
      .withColumn(outDist,
        when(col(out).isNotNull, abs(col(out) - col(tsCol))))
      .drop("__graft_bv", "__graft_fv")
  }

  /** Linear multi-touch attribution: every conversion's revenue is split
    * equally across the key's touch events inside the lookback window
    * `[conv.ts − lookbackUs, conv.ts)`, and credit is summed per
    * channel. The per-touch credit is the exact integer division
    * `revenue_micro div n_touches` — identical on every engine, no
    * order-dependent float split (the ≤ n_touches−1 micro-unit
    * remainder per conversion is dropped, documented, and identical in
    * the oracle). Conversions with no in-window touch receive no
    * attribution row.
    *
    * Scale design: touch↔conversion matching is
    * [[RangeJoin.pointInIntervalKeyed]] — binned candidates meet on
    * (key, bin), so a hot key fans out per bin, not per row pair; the
    * per-conversion touch count is a combinable groupBy on the
    * conversion id, and the credit join is co-partitioned on that same
    * id. Output is one row per channel.
    *
    * `touches` needs (key, ts, channel); `conversions` needs
    * (key, ts, convId, revenueMicro) with `convId` unique. Column name
    * sets must be disjoint (the range join's contract); ts columns are
    * LongType micros.
    */
  def linearAttribution(touches: DataFrame, conversions: DataFrame,
                        keyCol: String, touchTs: String, channelCol: String,
                        convKeyCol: String, convTs: String, convIdCol: String,
                        revenueMicroCol: String, lookbackUs: Long,
                        binUs: Long): DataFrame = {
    require(lookbackUs > 0, s"lookback must be positive, got $lookbackUs")
    val iv = conversions.select(col(convKeyCol), col(convIdCol),
      col(revenueMicroCol),
      (col(convTs) - lookbackUs).as("__ivs"), col(convTs).as("__ive"))
    val matched = RangeJoin.pointInIntervalKeyed(
        touches.select(col(keyCol), col(touchTs), col(channelCol)), iv,
        keyCol, convKeyCol, touchTs, "__ivs", "__ive", binUs)
      .select(col(convIdCol), col(revenueMicroCol), col(channelCol))
    val perConv = matched.groupBy(convIdCol)
      .agg(count(lit(1)).as("__nt"))
    matched.join(perConv, convIdCol :: Nil)
      .select(col(channelCol),
        expr(s"$revenueMicroCol div __nt").as("__credit"))
      .groupBy(channelCol)
      .agg(count(lit(1)).as("n_touches"),
        sum("__credit").as("credited_micro"))
  }

  /** Reciprocal-rank fusion of two rankings: for id lists ranked 1..n by
    * two different signals, `rrf = 1/(k + rank_a) + 1/(k + rank_b)`
    * (k = 60 in the original RRF paper) — the standard way to combine a
    * lexical and a semantic retrieval ranking without score calibration.
    * An id missing from one ranking contributes 0 from that side. Each
    * term is a single IEEE division and the sum has a fixed written
    * order, so the score is bit-identical on any engine.
    *
    * Scale: one full-outer equi-join on the id — rankings built with
    * [[GlobalOrder.withRowNumber]] range-shuffle instead of a global
    * window, so the whole fusion is window-free end to end.
    */
  def rrfFuse2(a: DataFrame, b: DataFrame, idCol: String, rankCol: String,
               k: Int = 60): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    GlobalOrder.requireFresh(a.select(idCol), "__ra", "__rb")
    a.select(col(idCol), col(rankCol).as("__ra"))
      .join(b.select(col(idCol), col(rankCol).as("__rb")),
        Seq(idCol), "full_outer")
      .select(col(idCol), col("__ra").as("rank_a"), col("__rb").as("rank_b"),
        (coalesce(lit(1.0) / (lit(k.toLong) + col("__ra")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(k.toLong) + col("__rb")), lit(0.0)))
          .as("rrf"))
  }

  /** Market-basket pair metrics: for membership rows (basket, item),
    * every co-occurring item pair's basket support plus each item's
    * basket count, pair confidence and lift — the association-rule
    * starter kit (`lift = n_ab·N / (n_a·n_b)`, written as
    * double·long / double·double so no integer product can overflow).
    *
    * Scale design: membership is deduplicated and baskets wider than
    * `maxPerBasket` are DROPPED before the within-basket self-join
    * ([[Graph.cooccurrenceEdges]]' cap discipline, built on one shared
    * kept-membership subtree so the dedup exchange is computed once and
    * reused) — the quadratic fan-out is capped at the source (a crawler
    * session touching everything is a degenerate basket, not signal).
    * Item supports and the basket total are counted over the SAME
    * kept-basket set, so every ratio is internally consistent. All
    * aggregates are combinable counts; the two support joins are
    * item-keyed equi-joins left to AQE.
    */
  def basketLift(df: DataFrame, basketCol: String, itemCol: String,
                 maxPerBasket: Int, minPairBaskets: Long): DataFrame = {
    require(maxPerBasket >= 2, s"maxPerBasket must be >= 2, got $maxPerBasket")
    GlobalOrder.requireFresh(df, "__g", "__i", "__n")
    Checkpoints.scoped { scope =>
      // the distinct basket-item table fans out to every downstream
      // consumer (basket census, kept set -> both self-join sides, item
      // census), and its upstream is the caller's join — one eager
      // checkpoint materializes it once, a leaf of the returned plan,
      // instead of betting each consumer on the exchange-reuse race
      // (round 19, §2.4/§5).
      val m = scope.checkpoint(
        df.select(col(basketCol).as("__g"), col(itemCol).as("__i")).distinct())
      val keptBaskets = m.groupBy("__g").agg(count(lit(1)).as("__n"))
        .filter(col("__n") <= maxPerBasket)
        .select("__g")
      val kept = m.join(keptBaskets, Seq("__g"))
      val nBaskets = keptBaskets.agg(count(lit(1)).as("n_baskets"))
      val itemN = kept.groupBy("__i").agg(count(lit(1)).as("__c"))
      // Apriori prune (result-invariant): a pair's support is bounded by
      // its rarer item's support, so items under `minPairBaskets` cannot
      // appear in any reported pair — dropping them BEFORE the self-join
      // keeps the pair-group cardinality proportional to the frequent
      // catalog, not the long tail (which at web scale is most of it).
      val frequent = itemN.filter(col("__c") >= minPairBaskets).select("__i")
      val keptF = kept.join(frequent, Seq("__i"), "left_semi")
      val pairs = keptF.select(col("__g"), col("__i").as("item_a"))
        .join(keptF.select(col("__g"), col("__i").as("item_b")), "__g")
        .filter(col("item_a") < col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(count(lit(1)).as("n_ab"))
        .filter(col("n_ab") >= minPairBaskets)
      pairs
        .join(itemN.select(col("__i").as("item_a"), col("__c").as("n_a")),
          "item_a")
        .join(itemN.select(col("__i").as("item_b"), col("__c").as("n_b")),
          "item_b")
        .crossJoin(broadcast(nBaskets))
        .select(col("item_a"), col("item_b"), col("n_ab"), col("n_a"),
          col("n_b"), col("n_baskets"),
          (col("n_ab").cast("double") / col("n_a")).as("confidence"),
          (col("n_ab").cast("double") * col("n_baskets") /
            (col("n_a").cast("double") * col("n_b").cast("double")))
            .as("lift"))
    }
  }

  /** Reciprocal rank fusion over any number of ranked lists: each list
    * contributes `1/(kConst + rank)` per id and the fused score is the
    * sum — the standard zero-tuning way to combine heterogeneous
    * retrievers (BM25 + dense ANN + recency) whose raw scores are not
    * comparable. Ids absent from a list simply contribute nothing
    * (standard RRF).
    *
    * Determinism discipline: each contribution is the INTEGER
    * pico-ratio `10¹² div (kConst + rank)`, so the fused sum is exact
    * under any partitioning and list order — a double `1/(k+r)` sum
    * over 3+ lists would depend on add order. One union + one
    * combinable groupBy; ranks come in as columns (build them with
    * [[GlobalOrder.withRowNumber]] — no window). The final score is a
    * single IEEE division by 10¹².
    */
  def rrfFuse(ranked: Seq[DataFrame], idCol: String, rankCol: String,
              kConst: Int = 60): DataFrame = {
    require(ranked.nonEmpty, "rrfFuse needs at least one ranked list")
    require(kConst >= 0, s"kConst must be >= 0, got $kConst")
    ranked.map(df => df.select(col(idCol),
        expr(s"1000000000000L div ($kConst + $rankCol)").as("__pico")))
      .reduce(_ unionAll _)
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_lists"), sum(col("__pico")).as("rrf_pico"))
      .withColumn("rrf", col("rrf_pico").cast("double") / 1e12)
  }

  /** Per-key consecutive-triple counts over a total order — the order-3
    * extension of [[transitionCounts]] and the sequential-pattern-mining
    * primitive ("which 3-step behavioral motifs dominate"). Two chained
    * [[GlobalOrder.withLagPerKey]] stitches append lag-1 and lag-2 (the
    * lag of the lag column), then one combinable count per (c1, c2, c3)
    * code triple. Hot-key-safe by construction: no per-key window, a
    * user with 10⁸ events costs two range-partitioned scans, never a
    * single-task sort. Codes must be LongType (hash names first; join
    * them back on the tiny code dimension).
    */
  def sequenceTrigrams(df: DataFrame, keyCol: String, tsCol: String,
                       codeCol: String, tieCols: Seq[Column]): DataFrame = {
    val l1 = GlobalOrder.withLagPerKey(df, keyCol, tsCol, codeCol,
      tieCols, out = "__p1")
    val l2 = GlobalOrder.withLagPerKey(l1, keyCol, tsCol, "__p1",
      tieCols, out = "__p2")
    l2.filter(col("__p1").isNotNull && col("__p2").isNotNull)
      .groupBy(col("__p2").as("c1"), col("__p1").as("c2"),
        col(codeCol).as("c3"))
      .agg(count(lit(1)).as("n"))
  }

  /** Exact rational arithmetic for the driver-side stationary solve:
    * gcd-reduced BigInt fractions, so Gaussian elimination is exact and
    * the result is the unique mathematical answer — no float iteration
    * residual to leak into a hash-compared gate.
    */
  private final case class Rat(num: BigInt, den: BigInt) {
    def +(o: Rat): Rat = Rat.make(num * o.den + o.num * den, den * o.den)
    def -(o: Rat): Rat = Rat.make(num * o.den - o.num * den, den * o.den)
    def *(o: Rat): Rat = Rat.make(num * o.num, den * o.den)
    def /(o: Rat): Rat = Rat.make(num * o.den, den * o.num)
    def isZero: Boolean = num == 0
  }
  private object Rat {
    val zero: Rat = Rat(0, 1)
    val one: Rat = Rat(1, 1)
    def make(n: BigInt, d: BigInt): Rat = {
      require(d != 0, "rational division by zero")
      val s = if (d < 0) -1 else 1
      val g = n.gcd(d)
      if (g == 0) Rat(0, 1) else Rat(s * n / g, s * d / g)
    }
  }

  /** Exact Gaussian elimination over the augmented k×(k+1) rational
    * system, first-nonzero pivoting (deterministic); returns the
    * solution vector, throws `msg` on a singular system.
    */
  private def gaussSolve(a: Array[Array[Rat]], msg: String): Array[Rat] = {
    val k = a.length
    for (col0 <- 0 until k) {
      val piv = (col0 until k).find(r => !a(r)(col0).isZero)
        .getOrElse(throw new IllegalArgumentException(msg))
      val tmp = a(col0); a(col0) = a(piv); a(piv) = tmp
      val d = a(col0)(col0)
      for (c <- col0 to k) a(col0)(c) = a(col0)(c) / d
      for (r <- 0 until k if r != col0 && !a(r)(col0).isZero) {
        val f = a(r)(col0)
        for (c <- col0 to k) a(r)(c) = a(r)(c) - (f * a(col0)(c))
      }
    }
    Array.tabulate(k)(i => a(i)(k))
  }

  /** Stationary distribution of the empirical per-key transition chain:
    * row-normalize [[transitionCounts]] into the Markov matrix P and
    * solve πP = π, Σπ = 1 EXACTLY (driver-side Gaussian elimination
    * over BigInt rationals on the k×k count matrix — k = code
    * cardinality, the same O(k²) driver model read as the covariance /
    * PCA operators). The long-run behavioral mix the chain converges
    * to — what a session simulator or traffic model needs from the
    * event log.
    *
    * Exactness: counts are integers, the solve is rational, and π is
    * emitted on the micro grid (⌊π·10⁶⌋ via exact BigInt division), so
    * the result is bit-portable with NO iteration residual (a float
    * power-iteration would leave engine-visible drift). Requires an
    * irreducible chain over ≤ `maxStates` codes: a state with no
    * outgoing transitions or a singular system fails loud rather than
    * returning a garbage distribution.
    *
    * Returns (code, out_n, pi_micro, pi): out_n the SQL-verifiable
    * outgoing-transition count, π the exact stationary mass.
    */
  def markovStationary(df: DataFrame, keyCol: String, tsCol: String,
                       codeCol: String, tieCols: Seq[Column],
                       maxStates: Int = 64): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val counts = transitionCounts(df, keyCol, tsCol, codeCol, tieCols)
      .as[(Long, Long, Long)].collect()
    val states = counts.flatMap(t => Seq(t._1, t._2)).distinct.sorted
    val k = states.length
    require(k >= 1, "markovStationary: no transitions in input")
    require(k <= maxStates,
      s"markovStationary: $k states exceeds maxStates=$maxStates — the " +
        "driver-side solve is O(k^3); raise the cap only deliberately")
    val idx = states.zipWithIndex.toMap
    val cnt = Array.ofDim[Long](k, k)
    counts.foreach { case (a, b, n) => cnt(idx(a))(idx(b)) = n }
    val outN = Array.tabulate(k)(i => cnt(i).sum)
    states.zipWithIndex.foreach { case (s, i) =>
      require(outN(i) > 0,
        s"markovStationary: state $s has no outgoing transitions " +
          "(reducible chain) — the stationary distribution is undefined")
    }
    // rows of A: (P^T - I)π = 0 balance rows, with the last row
    // replaced by Σπ = 1 (coefficients AND the RHS are all 1)
    val a = Array.tabulate(k, k + 1) { (r, c) =>
      if (r == k - 1) Rat.one
      else if (c == k) Rat.zero
      else {
        val p = Rat.make(cnt(c)(r), outN(c)) // P^T
        if (r == c) p - Rat.one else p
      }
    }
    val pi = gaussSolve(a, "markovStationary: singular system " +
      "(reducible chain)")
    val rows = states.zipWithIndex.map { case (s, i) =>
      val micro = (pi(i).num * 1000000 / pi(i).den).toLong
      (s, outN(i), micro, micro.toDouble / 1e6)
    }
    spark.createDataset(rows.toSeq)
      .toDF("code", "out_n", "pi_micro", "pi")
  }

  /** Bradley–Terry strength scores from pairwise win counts — the
    * preference-learning primitive behind RLHF reward shaping, ranker
    * evaluation, and "which variant do users actually prefer" reads:
    * find strengths p_i with P(i beats j) = p_i/(p_i+p_j) maximizing
    * the likelihood of the observed wins, via the standard MM fixed
    * point p_i ← W_i / Σ_j n_ij/(p_i+p_j), iterated a fixed `iters`
    * times from the uniform start and normalized to Σp = 1 — a
    * deterministic driver computation (same floating ops in the same
    * order every run) over the O(k²) collected win matrix, the model-
    * read discipline. Items with zero wins converge toward 0; items
    * never compared to anything are rejected loud.
    *
    * `pairWins` must expose (aCol, bCol, winsCol): wins of a over b
    * (provide both directions or leave the reverse implicit at 0).
    * Returns (code, wins, losses, bt_micro, bt_score), wins/losses
    * being the SQL-verifiable margins; scores land on the micro grid.
    */
  def bradleyTerry(pairWins: DataFrame, aCol: String, bCol: String,
                   winsCol: String, iters: Int = 100,
                   maxItems: Int = 256): DataFrame = {
    val spark = pairWins.sparkSession
    import spark.implicits._
    val w = pairWins.select(col(aCol).cast("long"), col(bCol).cast("long"),
        col(winsCol).cast("long"))
      .as[(Long, Long, Long)].collect()
      .groupBy(t => (t._1, t._2)).map { case (k, v) => k -> v.map(_._3).sum }
    val items = w.keys.flatMap(k => Seq(k._1, k._2)).toSeq.distinct.sorted
    val k = items.length
    require(k >= 2, "bradleyTerry needs at least two compared items")
    require(k <= maxItems,
      s"bradleyTerry: $k items exceed maxItems=$maxItems")
    val idx = items.zipWithIndex.toMap
    val wins = Array.ofDim[Long](k, k)
    w.foreach { case ((a, b), n) => wins(idx(a))(idx(b)) += n }
    val totW = Array.tabulate(k)(i => wins(i).sum)
    val totL = Array.tabulate(k)(j => (0 until k).map(i => wins(i)(j)).sum)
    val p = Array.fill(k)(1.0 / k)
    for (_ <- 1 to iters) {
      val next = Array.tabulate(k) { i =>
        var denom = 0.0
        for (j <- 0 until k if j != i) {
          val nij = wins(i)(j) + wins(j)(i)
          if (nij > 0) denom += nij / (p(i) + p(j))
        }
        if (denom > 0) totW(i) / denom else 0.0
      }
      val s = next.sum
      require(s > 0, "bradleyTerry: degenerate win matrix (no wins)")
      for (i <- 0 until k) p(i) = next(i) / s
    }
    val rows = items.zipWithIndex.map { case (c, i) =>
      val micro = math.floor(p(i) * 1e6 + 0.5).toLong
      (c, totW(i), totL(i), micro, micro.toDouble / 1e6)
    }
    spark.createDataset(rows)
      .toDF("code", "wins", "losses", "bt_micro", "bt_score")
  }

  /** Markov removal-effect attribution (the first-principles alternative
    * to last-touch / linear credit): model each key's journey as a chain
    * START → touches → {CONV, NULL}, truncated at the FIRST conversion;
    * a channel's credit is how much the chain's conversion probability
    * drops when every transition into that channel is re-routed to NULL
    * — the standard removal-effect construction, solved EXACTLY per
    * channel with driver-side rational elimination (k+1 systems of size
    * ≤ k+1 on integer counts — no float iteration, no residual).
    *
    * Journey semantics: events at-or-before the key's first `convCode`
    * event participate; the conv event itself becomes the absorbing CONV
    * state, non-converting journeys end last-touch → NULL, and START
    * edges go to each key's first event. Every edge count is
    * SQL-verifiable (lag stitch + min/max-by over the [[ordKey]] order);
    * only the solved probabilities need rendering into a dynamic
    * oracle. Returns one row per non-conv channel:
    * (code, out_n, conv_micro ⌊P·10⁶⌋ of the FULL chain — identical on
    * every row — removal_micro, removal_effect). Fails loud when no
    * journey converts (attribution undefined).
    *
    * Scale: truncation is one min-aggregate + broadcast-joinable filter;
    * pair edges ride [[GlobalOrder.withLagPerKey]] (hot keys safe); the
    * count matrix is O(k²) driver state, the pcaPowerModel model-read
    * discipline.
    */
  def markovRemovalEffect(df: DataFrame, keyCol: String, tsCol: String,
                          codeCol: String, tieCol: Column, convCode: Long,
                          maxStates: Int = 64): DataFrame = {
    import graft.functions.Portable.ordKey
    val spark = df.sparkSession
    import spark.implicits._
    val Start = -1L; val Conv = -2L; val Null = -3L
    val ev = df.select(col(keyCol), col(tsCol), tieCol.as("__tie"),
      col(codeCol).as("__code"),
      ordKey(col(tsCol), tieCol).as("__ok"))
    val fc = ev.filter(col("__code") === convCode)
      .groupBy(keyCol).agg(min(col("__ok")).as("__fc"))
    // key-keyed equi-join (NOT broadcast: fc is one row per converting
    // key — corpus-sized at scale; AQE picks the strategy)
    val trunc = ev.join(fc, Seq(keyCol), "left")
      .filter(col("__fc").isNull || col("__ok") <= col("__fc"))
    val mapped = (c: Column) => when(c === convCode, Conv).otherwise(c)
    val pairEdges = GlobalOrder.withLagPerKey(
        trunc.select(col(keyCol), col(tsCol), col("__tie"), col("__code"),
          col("__fc")),
        keyCol, tsCol, "__code", Seq(col("__tie")), out = "__prev")
      .filter(col("__prev").isNotNull)
      .select(col("__prev").as("src"), mapped(col("__code")).as("dst"))
    val startEdges = trunc.groupBy(keyCol)
      .agg(min_by(col("__code"), col("__ok")).as("__first"))
      .select(lit(Start).as("src"), mapped(col("__first")).as("dst"))
    val nullEdges = trunc.filter(col("__fc").isNull)
      .groupBy(keyCol)
      .agg(max_by(col("__code"), col("__ok")).as("__last"))
      .select(col("__last").as("src"), lit(Null).as("dst"))
    val counts = pairEdges.unionAll(startEdges).unionAll(nullEdges)
      .groupBy("src", "dst").agg(count(lit(1)).as("n"))
      .as[(Long, Long, Long)].collect()
    val channels = counts.map(_._1).filter(_ != Start).distinct.sorted
    require(channels.length + 1 <= maxStates,
      s"markovRemovalEffect: ${channels.length + 1} transient states " +
        s"exceed maxStates=$maxStates")
    val cnt = counts.map(t => (t._1, t._2) -> t._3).toMap
      .withDefaultValue(0L)
    def solveConv(transient: Seq[Long]): Rat = {
      val idx = transient.zipWithIndex.toMap
      val k = transient.length
      val outPer = transient.map(s =>
        counts.filter(_._1 == s).map(_._3).sum)
      val a = Array.tabulate(k, k + 1) { (r, c) =>
        val s = transient(r)
        if (c == k) Rat.make(cnt((s, Conv)), 1)
        else {
          val t = transient(c)
          val q = Rat.make(cnt((s, t)), 1)
          if (r == c) Rat.make(outPer(r), 1) - q else Rat.zero - q
        }
      }
      gaussSolve(a, "markovRemovalEffect: singular absorbing system")(
        idx(Start))
    }
    val full = solveConv(Start +: channels)
    require(!full.isZero,
      "markovRemovalEffect: no journey converts — attribution undefined")
    val convMicro = (full.num * 1000000 / full.den).toLong
    val rows = channels.map { c =>
      val without = solveConv(Start +: channels.filterNot(_ == c))
      val re = Rat.one - (without / full)
      val reMicro = (re.num * 1000000 / re.den).toLong
      val outN = counts.filter(_._1 == c).map(_._3).sum
      (c, outN, convMicro, reMicro, reMicro.toDouble / 1e6)
    }
    spark.createDataset(rows.toSeq)
      .toDF("code", "out_n", "conv_micro", "removal_micro",
        "removal_effect")
  }
}
