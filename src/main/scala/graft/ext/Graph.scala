package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Iterative graph propagation beyond [[DedupGroups]]' label propagation:
  * a fixed-iteration PageRank over an edge list, in exact integer
  * arithmetic.
  *
  * Floating-point PageRank is order-dependent (per-node contribution sums
  * fold doubles in partition order), which breaks both the engine's
  * hash-compared oracle gate and reproducible curation runs. Ranks here
  * are micro-units (longs, 1.0 = 1e6): contributions are
  * `rank div outdeg`, damping is `(pct · Σcontrib) div 100` — every
  * operation is exact 64-bit integer arithmetic, so the result is
  * bit-identical under any partitioning and on any engine. The truncation
  * bias of the integer divisions is ≤ 1 micro-unit per edge per
  * iteration — far below any ranking decision.
  *
  * Scale design (the [[DedupGroups.connectedComponents]] discipline):
  * each iteration is one equi-join of the edge list against the current
  * rank table plus one partial-aggregated groupBy on dst — shuffle volume
  * is O(edges) per iteration, AQE handles hub skew, and `localCheckpoint`
  * caps the growing lineage. Iterations are FIXED (the caller picks the
  * budget), so cost is iterations × (join + agg) with no convergence
  * scan; dangling-node mass is dropped, not redistributed — the standard
  * simplification when ranks are used as relative ordering signals.
  */
object Graph {

  val Scale = 1000000L

  /** The rank and label loops' edge table, persisted in `scope` and
    * hash-partitioned by src into P partitions, P being the session's
    * shuffle-partition setting, so the layout is scale-adaptive (the
    * bench session sets it to the core count; a cluster job sets it to
    * its own sizing) rather than a constant tuned for either.
    *
    * Round-19 (guide §2.4 "remove shuffles outright"): every iterative
    * loop here re-reads its edge table once per iteration, and the old
    * shape paid a full O(E) exchange (plus, under sort-merge, an O(E)
    * sort) of that table EVERY iteration to satisfy the rank/label join.
    * The invariants are now hash-partitioned by the loop's join key ONCE
    * at persist time (`repartition(P, key)` — preserved through the
    * cache by InMemoryTableScan), and the per-iteration joins are pinned
    * SHUFFLE_HASH with the O(V) state side as the build: the edge table
    * streams through each iteration with no exchange and no sort, and
    * the only O(E)-bytes exchange left per iteration is the contribution
    * aggregate itself (map-side partial agg shrinks it first). The state
    * side cannot keep its partitioning across iterations —
    * `localCheckpoint` in this Spark version records
    * UnknownPartitioning under AQE (measured round 19) — so it pays one
    * O(V) exchange per iteration, which is the small side by
    * construction. Build-side memory per task is O(V/P), the same
    * contract as the outdeg table; P follows
    * `spark.sql.shuffle.partitions` so it scales with the session.
    */
  private def loopEdges(scope: Checkpoints.Scope,
                        edges: DataFrame): DataFrame =
    scope.cache(edges.repartition(
      edges.sparkSession.sessionState.conf.numShufflePartitions, col("src")))

  /** Every node of a [[loopEdges]] table, once. Plain distinct:
    * partial-agg shrinks the union BEFORE its node exchange (§2.3), and
    * the cached aggregate already carries hash(node, P) —
    * canChangeCachedPlanOutputPartitioning=false pins cached-plan
    * partitioning — so the per-iteration state join needs no exchange on
    * this side.
    */
  private def loopNodes(e: DataFrame): DataFrame =
    e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct()

  /** Fixed-iteration integer PageRank. `edges` needs (src, dst) columns
    * (parallel edges should be pre-deduplicated if unwanted); returns
    * (node, rank) for every node appearing as src or dst, rank in
    * micro-units starting from 1.0 per node.
    *
    * RETENTION: the returned DataFrame is backed by the final iteration's
    * checkpoint — one rank table (O(nodes) rows) pinned per call until
    * the caller frees it ([[Checkpoints]]).
    */
  def pagerankInt(edges: DataFrame, iterations: Int,
                  dampingPct: Int = 85): DataFrame =
    pagerankLoop(edges, iterations, dampingPct, count(lit(1)),
      "rank div outw", seeds = None)

  /** Fixed-iteration integer PERSONALIZED PageRank: teleport mass flows
    * only to `seeds` (a one-column DataFrame of node ids), so ranks
    * measure proximity/influence relative to the seed set — the
    * trusted-seed quality-propagation signal of corpus curation (score
    * documents by random-walk closeness to a vetted seed set, e.g. over
    * a near-dup or citation graph). Identical loop shape, arithmetic,
    * and scale discipline as [[pagerankInt]]: seeds start at [[Scale]]
    * micro-units (non-seeds at 0) and receive the
    * `Scale*(100-dampingPct)/100` teleport each iteration; the result
    * is the |seeds|-scaled personalization vector (a relative signal —
    * callers wanting the probability-normalized PPR divide by |seeds|).
    * Exact 64-bit integer ops throughout: bit-identical under any
    * partitioning and engine. With every node seeded it is
    * [[pagerankInt]].
    *
    * RETENTION: as [[pagerankInt]].
    */
  def personalizedPagerankInt(edges: DataFrame, seeds: DataFrame,
                              iterations: Int,
                              dampingPct: Int = 85): DataFrame =
    pagerankLoop(edges, iterations, dampingPct, count(lit(1)),
      "rank div outw", Some(seeds))

  /** WEIGHTED fixed-iteration integer PageRank: each node's rank flows
    * to its out-neighbors PROPORTIONALLY TO EDGE WEIGHT —
    * `(rank · w) div Σw(src)` per edge instead of [[pagerankInt]]'s
    * uniform `rank div outdeg` — the importance measure for graphs
    * whose links carry volume (trade value, click counts, citation
    * counts). Same integer micro-unit discipline: every division is
    * integral, so ranks are bit-identical under any partitioning and
    * the oracle unrolls the same iterations as CTEs. Same loop and
    * retention as [[pagerankInt]]. Overflow budget: rank · w must fit
    * int64 — ranks are ~10⁶–10⁷ micro-units, so weights up to ~10¹⁰ are
    * safe.
    *
    * `edges` needs (src, dst, w) with positive LongType weights.
    */
  def pagerankWeightedInt(edges: DataFrame, iterations: Int,
                          dampingPct: Int = 85): DataFrame =
    pagerankLoop(edges.select("src", "dst", "w"), iterations, dampingPct,
      sum(col("w")), "(rank * w) div outw", seeds = None)

  /** The one PageRank loop behind the three public variants. Each
    * iteration sends every node's rank along its out-edges — `share`
    * per edge, over the columns `rank`, `outw` (the `outWeight`
    * aggregate of the source's out-edges) and the edge's own columns —
    * sums the shares per destination, damps them, and adds the
    * teleport rank. Without `seeds` every node starts at [[Scale]] and
    * receives the `Scale*(100-dampingPct)/100` teleport; with `seeds`
    * only seeds do, and every other node starts and teleports at 0.
    * The teleport rank is read from the node table (its seed flag), so
    * the rotated rank state is (node, rank) alone.
    */
  private def pagerankLoop(edges: DataFrame, iterations: Int,
                           dampingPct: Int, outWeight: Column,
                           share: String,
                           seeds: Option[DataFrame]): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    require(dampingPct >= 0 && dampingPct <= 100,
      s"dampingPct must be in [0, 100], got $dampingPct")
    Checkpoints.scoped { scope =>
      // Persist the loop INVARIANTS — without this, every iteration
      // re-evaluates the caller's edge lineage (for q123 that is a full
      // orders⋈lineitem + distinct, three times per iteration via edges /
      // nodes / outdeg): measured 19 s/run at sf0.1, ~3 s/run persisted.
      // Round-19: invariants are pre-partitioned by their per-iteration
      // join key and the state joins pinned shuffled-hash — see
      // [[loopEdges]]' scaladoc for the full §2.4 argument.
      val e = loopEdges(scope, edges)
      val all = loopNodes(e)
      val seedTeleport = lit(Scale * (100 - dampingPct) / 100)
      val (nodes, start, teleport) = seeds match {
        case None => (scope.cache(all), lit(Scale), seedTeleport)
        case Some(sd) =>
          val seedSet = sd.select(col(sd.columns.head).as("node"))
            .distinct().withColumn("__seed", lit(true))
          val n = all.join(seedSet, Seq("node"), "left")
            .select(col("node"),
              coalesce(col("__seed"), lit(false)).as("is_seed"))
          (scope.cache(n),
            when(col("is_seed"), lit(Scale)).otherwise(lit(0L)),
            when(col("is_seed"), seedTeleport).otherwise(lit(0L)))
      }
      // e is hash(src)-partitioned, so this aggregate needs no exchange and
      // its cached output is already laid out for the per-iteration join
      val outw = scope.cache(e.groupBy(col("src").as("node"))
        .agg(outWeight.as("outw")))
      var ranks = nodes.select(col("node"), start.as("rank"))
      for (_ <- 1 to iterations) {
        val contrib = e
          .join(ranks.withColumnRenamed("node", "src")
            .hint("shuffle_hash"), "src")
          .join(outw.withColumnRenamed("node", "src")
            .hint("shuffle_hash"), "src")
          .select(col("dst").as("node"), expr(share).as("c"))
          .groupBy("node").agg(sum("c").as("csum"))
        val next = scope.checkpoint(
          nodes.join(contrib.hint("shuffle_hash"), Seq("node"), "left")
            .select(col("node"),
              (teleport +
                expr(s"($dampingPct * coalesce(csum, 0L)) div 100"))
                .as("rank")))
        // free the PREVIOUS iteration's checkpoint blocks now that the
        // new one is materialized — leaked checkpoint blocks pin storage
        // memory for the rest of the session
        scope.release(ranks)
        ranks = next
      }
      ranks
    }
  }

  /** Fixed-round synchronous label propagation: spread labels from a
    * seed set (node, label) along edges for `rounds` iterations — the
    * semi-supervised curation move (a few thousand human-labeled
    * documents labeling a whole near-dup/citation/co-trade graph by
    * proximity). Each round, every non-seed node adopts the MAJORITY
    * label among its in-neighbors' current labels (ties broken by the
    * lexicographically smallest label — deterministic under any
    * partitioning); seed nodes stay clamped; nodes with no labeled
    * in-neighbor stay null. Updates are synchronous (round i+1 reads
    * only round i), so the result is engine-independent.
    *
    * Scale shape: one equi-join + two COMBINABLE aggregates per round
    * (per-(node,label) count, then a `min(struct(-cnt, label))` argmax
    * — never a per-node window), so a celebrity node with 10^8 labeled
    * in-neighbors partial-aggregates map-side. Label tables are O(V),
    * rotated through [[Checkpoints.scoped]] generations.
    *
    * RETENTION: the returned frame is backed by the final round's
    * checkpoint, the caller's to free ([[Checkpoints]]).
    */
  def labelPropagation(edges: DataFrame, seeds: DataFrame,
                       rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    Checkpoints.scoped { scope =>
      // same §2.4 layout as [[pagerankInt]]: the edge table is partitioned
      // by src once and streams through every round's vote join with no
      // exchange and no sort; only the O(V) label table moves per round
      // (plus the two combinable vote aggregates)
      val e = loopEdges(scope, edges)
      val sd = seeds
        .select(col(seeds.columns.head).as("node"),
          col(seeds.columns(1)).as("__seed_label"))
        .groupBy("node").agg(min("__seed_label").as("__seed_label"))
      val nodes = scope.cache(loopNodes(e).join(sd, Seq("node"), "left"))
      var cur = nodes.select(col("node"), col("__seed_label").as("label"))
      for (_ <- 1 to rounds) {
        val votes = e
          .join(cur.filter(col("label").isNotNull)
            .select(col("node").as("src"), col("label"))
            .hint("shuffle_hash"), "src")
          .groupBy(col("dst").as("node"), col("label"))
          .agg(count(lit(1)).as("cnt"))
          .groupBy("node")
          .agg(min(struct((-col("cnt")).as("nc"), col("label").as("l")))
            .as("w"))
          .select(col("node"), col("w.l").as("__vote"))
        val next = scope.checkpoint(
          nodes.join(votes.hint("shuffle_hash"), Seq("node"), "left")
            .select(col("node"),
              coalesce(col("__seed_label"), col("__vote")).as("label")))
        scope.release(cur)
        cur = next
      }
      cur
    }
  }

  /** Bounded-round k-core peeling: iteratively remove nodes of degree
    * < k (and their edges) for a FIXED number of rounds, returning the
    * surviving (node, degree-in-subgraph) set — the standard graph-
    * quality signal (spam/link-farm cores, well-connected doc clusters).
    * A full k-core decomposition runs rounds until fixpoint (O(diameter)
    * worst case); fixing the round budget bounds cost the same way
    * [[pagerankInt]] fixes iterations, makes the result deterministic,
    * and is how the signal is used in practice (most peeling happens in
    * the first rounds). Each round is one degree aggregate + two
    * semi-joins — shuffle O(edges), AQE handles hub skew, no windows.
    * Rounds are monotone (the survivor set only shrinks), so a caller
    * wanting the exact fixpoint can raise `rounds` until two consecutive
    * budgets agree.
    *
    * RETENTION: the result is an eager `localCheckpoint` of the final
    * (node, deg) aggregate — O(survivors) rows; all intermediate
    * checkpoints (the 2|E| edge table, survivor sets) are released by
    * [[Checkpoints.scoped]] before returning; the result is the caller's
    * to free.
    */
  def kcoreRounds(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    Checkpoints.scoped { scope =>
      // symmetric distinct edge list (also drops self-loops), materialized
      // ONCE — every round re-reads it, and leaving it lazy would
      // re-evaluate the union+distinct per consumer
      val base = scope.checkpoint(
        edges.select(col("src").as("a"), col("dst").as("b"))
          .filter(col("a") =!= col("b"))
          .unionAll(edges.select(col("dst").as("a"), col("src").as("b"))
            .filter(col("a") =!= col("b")))
          .distinct())
      // Rotate survivor NODE sets, not edge sets: the induced subgraph of
      // round r is base ⋈ keep_r ⋈ keep_r (both endpoints surviving), so
      // each round is one pass over base + a degree aggregate, and the
      // only rotated state is a node list — ~|E|/avg-degree rows instead
      // of the 2|E| rows an edge-set checkpoint would re-materialize per
      // round (the first cut did exactly that: 22.5M-row checkpoints per
      // round tipped the 100M-row kcore_peel shape into memory-pressure
      // superlinearity, ratio 2.6).
      def induced(keep: DataFrame): DataFrame =
        base.join(keep, "a").join(keep.select(col("a").as("b")), "b")
      var keep: Option[DataFrame] = None // None = all nodes survive so far
      for (_ <- 1 to rounds) {
        val next = scope.checkpoint(keep.fold(base)(induced)
          .groupBy("a").agg(count(lit(1)).as("deg"))
          .filter(col("deg") >= k).select("a"))
        keep.foreach(scope.release)
        keep = Some(next)
      }
      // eager checkpoint materializes the (node, deg) aggregate — one
      // row per SURVIVING node — so the scope can release the 2|E|
      // symmetric edge table and the final survivor set on exit instead
      // of pinning them per call (a bench loop calling this
      // 2×reps+warmup times was accumulating both per invocation).
      scope.checkpoint(induced(keep.get)
        .groupBy(col("a").as("node")).agg(count(lit(1)).as("deg"))
        .orderBy("node"))
    }
  }

  /** Co-occurrence edges: one (src, dst) row with src < dst for every
    * unordered item pair sharing a group — the standard graph
    * construction over transactional data (co-purchase, co-citation,
    * co-supplier), feeding [[triangleCount]] / [[kcoreRounds]] /
    * [[pagerankInt]]. Items are first made distinct per group; an edge
    * appears once PER shared group (parallel edges preserved — every
    * downstream graph operator here canonicalizes/dedupes anyway, and
    * multiplicity is signal for weighted uses).
    *
    * DENSIFICATION — why `maxPerGroup` is not optional: a group with d
    * distinct items emits d·(d−1)/2 edges, so edge count is Σ d²/2 over
    * groups — quadratic in the HOTTEST group, and the blowup is in
    * generated rows, which AQE skew splitting cannot absorb. Worse, when
    * the item universe is fixed while groups accumulate (q133's lesson:
    * suppliers are ~sf·10k while orders grow ~sf·1.5M), the UNION of
    * group cliques densifies toward the complete graph — measured 204 s
    * for triangle counting at sf0.1 on the unrestricted co-supplier
    * graph, because a dense graph's m ≈ nodes² makes the downstream
    * O(m^1.5) honest-but-huge. Healthy co-occurrence graphs come from
    * groups of bounded size; the cap enforces that contract by DROPPING
    * over-cap groups before the self-join (aggregate + anti-join — the
    * dfCap/blockCap/bndCap discipline: the per-group count map-side
    * combines, and the over-cap key set is tiny so AQE broadcasts the
    * anti-join). A group that hot is a degenerate basket (a crawler
    * session touching everything), not co-occurrence signal. Callers
    * additionally restricting the EVENT (q133 keeps only rare
    * high-quantity lines) control density at the source; the cap is the
    * backstop that keeps the operator safe when the event filter is
    * miscalibrated.
    */
  def cooccurrenceEdges(events: DataFrame, groupCol: String,
                        itemCol: String, maxPerGroup: Int): DataFrame = {
    require(maxPerGroup >= 2, s"maxPerGroup must be >= 2, got $maxPerGroup")
    val g = events
      .select(col(groupCol).as("__g"), col(itemCol).as("__i"))
      .distinct()
    val hot = g.groupBy("__g").agg(count(lit(1)).as("__n"))
      .filter(col("__n") > maxPerGroup)
      .select("__g")
    val kept = g.join(hot, Seq("__g"), "left_anti")
    kept.select(col("__g"), col("__i").as("src"))
      .join(kept.select(col("__g"), col("__i").as("dst")), "__g")
      .filter(col("src") < col("dst"))
      .select("src", "dst")
  }

  /** Exact triangle count of an undirected graph, by degree-ordered edge
    * orientation (the MapReduce-classic Suri–Vassilvitskii / Cohen
    * scheme). Naive triangle enumeration joins the edge list with itself
    * on shared endpoints — a hub of degree d contributes d² wedges, and
    * web-scale graphs are power-law, so the wedge table explodes
    * quadratically in the hottest degree. Orienting every edge from its
    * lower-(degree, id) endpoint to the higher one makes each node's
    * OUT-degree O(√m): wedges are built only from a node's out-edges
    * (≤ out² per node, Σ out² = O(m^1.5) total regardless of skew), each
    * triangle is generated by exactly one wedge (at its lowest-ranked
    * apex), and the close-the-wedge step is a plain equi-join of wedges
    * against oriented edges. Three shuffles total (degree agg, wedge
    * self-join, closing join) — no iteration, no window.
    *
    * Input needs (src, dst) columns; self-loops and duplicate/reverse
    * edges are cleaned first. Returns one row: (n_triangles).
    */
  def triangleCount(edges: DataFrame): DataFrame =
    closedWedges(edges, identity)._1
      .agg(count(lit(1)).as("n_triangles"))

  /** Per-node local clustering coefficient — [[triangleCount]]'s
    * degree-oriented wedge-closing pipeline, but instead of folding the
    * closed wedges to one count, each triangle {u, x, y} is credited to
    * all three corners (an explode-by-union, map-side) and one
    * combinable per-node count divides into 2·T_v / (deg_v·(deg_v−1)).
    * Returns (node, deg, tri, coef) for every node; coef null when
    * deg < 2 (no possible wedge). The orientation bound still holds:
    * wedge generation fans out by the LOW-degree endpoint, so a hub
    * never enumerates its own deg² pairs.
    */
  def localClustering(edges: DataFrame): DataFrame = {
    // canon is referenced by THREE consumers (degree census, orientation
    // join, wedge-closing join) and its upstream is the caller's edge
    // construction — for q259 a full co-occurrence expansion. One eager
    // localCheckpoint materializes the distinct edge set once instead of
    // betting each consumer on the exchange-reuse race (§2.4/§5); deg
    // (O(V)) likewise feeds three joins. Both are leaves of the result.
    Checkpoints.scoped { scope =>
      val (closed, deg) = closedWedges(edges, scope.checkpoint)
      val tri = closed.select(col("u").as("node"))
        .unionAll(closed.select(col("x").as("node")))
        .unionAll(closed.select(col("y").as("node")))
        .groupBy("node").agg(count(lit(1)).as("tri"))
      deg.join(tri, Seq("node"), "left")
        .select(col("node"), col("deg"),
          coalesce(col("tri"), lit(0L)).as("tri"),
          when(col("deg") >= 2L,
            (coalesce(col("tri"), lit(0L)) * 2L).cast("double") /
              (col("deg") * (col("deg") - 1L)).cast("double")).as("coef"))
    }
  }

  /** The pipeline [[triangleCount]] and [[localClustering]] share: the
    * canonical undirected edge set (a < b, no self-loops, distinct), its
    * per-node degree table (node, deg), and every triangle as one closed
    * wedge (x, y, u) at its lowest-ranked apex u. Returns (closed wedges,
    * deg). The edge set and the degree table each pass through `pin`
    * (a scope's checkpoint, or identity), and both stay leaves of the
    * result.
    */
  private def closedWedges(edges: DataFrame, pin: DataFrame => DataFrame)
      : (DataFrame, DataFrame) = {
    val canon = pin(edges.select(
      least(col("src"), col("dst")).as("a"),
      greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct())
    val deg = pin(canon.select(col("a").as("node"))
      .unionAll(canon.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg")))
    // orient from lower (deg, id) to higher — the rank is a total order
    // because id breaks degree ties
    val withDeg = canon
      .join(deg.select(col("node").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("deg").as("db")), "b")
    val oriented = withDeg.select(
      when(col("da") < col("db") ||
        (col("da") === col("db") && col("a") < col("b")), col("a"))
        .otherwise(col("b")).as("u"),
      when(col("da") < col("db") ||
        (col("da") === col("db") && col("a") < col("b")), col("b"))
        .otherwise(col("a")).as("v"))
    // wedges at apex u: unordered {v, w} pairs of out-neighbors
    val e1 = oriented.select(col("u"), col("v").as("x"))
    val e2 = oriented.select(col("u"), col("v").as("y"))
    // close the wedge: {x, y} must be an edge — wedge pairs are ordered
    // by id (x < y), which is exactly the canonical edge form, so the
    // closing join runs against `canon` directly
    val closed = e1.join(e2, "u").filter(col("x") < col("y"))
      .join(canon.select(col("a").as("x"), col("b").as("y")),
        Seq("x", "y"))
    (closed, deg)
  }

  /** Minimum hop distance from a seed set, by frontier-expanding BFS
    * with a fixed depth budget — the reachability primitive behind
    * "within k links of a trusted/blocked node" corpus policies.
    * Returns (node, hops) for every node at distance ≤ `maxDepth` from
    * ANY seed (seeds themselves at 0); unreachable nodes are absent.
    *
    * Scale design: the state is one (node, hops) row per DISCOVERED
    * node — O(V), never O(paths). Each round joins only the previous
    * round's FRONTIER against the edge list (shuffle O(frontier
    * out-edges)), dedups the candidates, and anti-joins the known set,
    * so a node is expanded exactly once no matter how many paths reach
    * it — where the naive "repeat the join k times" materializes every
    * path and dies combinatorially on dense graphs. A hub seed costs
    * its out-degree once; AQE splits the hub's shuffle partition like
    * any other skewed join. Early exit when a frontier empties.
    *
    * Loop hygiene follows [[pagerankInt]] ([[Checkpoints.scoped]]): edges
    * persisted as the loop invariant; each depth's newly-discovered
    * generation is `localCheckpoint`'d once (never recomputed), and the
    * result is their union — unlike the rank loops, every generation is
    * part of the answer, so nothing is rotated away mid-loop.
    *
    * RETENTION: the result is backed by ALL generations' checkpoint
    * blocks (O(V) rows total), the caller's to free ([[Checkpoints]]).
    *
    * `edges` needs (src, dst); `seeds` is one column named `node`.
    * Edges are directed — symmetrize before calling for undirected
    * reachability.
    *
    * `broadcastBytes` caps the ESTIMATED frontier size eligible for
    * driver broadcast (default 64 MB — comfortable against a 1 GB
    * `spark.sql.autoBroadcastJoinThreshold`-era driver budget). The
    * estimate is rows × key width measured from the frontier itself
    * (fixed 8-byte payload for numeric keys; one cheap sum of
    * `octet_length` over the cached generation for string/binary keys)
    * plus per-row hash-relation overhead — a ROW-count cutoff assumed
    * short keys, and a 1M-row frontier of kilobyte URLs would have
    * pushed a multi-GB broadcast through the driver.
    */
  def bfsHops(edges: DataFrame, seeds: DataFrame, maxDepth: Int,
              broadcastBytes: Long = 64L * 1024 * 1024): DataFrame = {
    require(maxDepth >= 0, s"maxDepth must be >= 0, got $maxDepth")
    Checkpoints.scoped { scope =>
      val e = scope.cache(edges.select("src", "dst"))
      // each GENERATION (nodes first reached at depth d) is checkpointed
      // once and never recomputed; `dist` is their lazy union — O(V) rows
      // of cached blocks total, plan depth bounded by maxDepth
      var dist = scope.checkpoint(seeds.select(col("node")).distinct()
        .withColumn("hops", lit(0L)), SerializedGeneration)
      var frontier = dist
      var depth = 1
      var (frontierRows, frontierBytes) = keyedFrameStats(frontier, "node")
      while (depth <= maxDepth && frontierRows > 0) {
        val f = frontierBuild(frontier, frontierBytes, broadcastBytes)
        val next = scope.checkpoint(f
          .join(e, f("node") === e("src"))
          .select(col("dst").as("node")).distinct()
          .join(dist, Seq("node"), "left_anti")
          .withColumn("hops", lit(depth.toLong)), SerializedGeneration)
        val st = keyedFrameStats(next, "node")
        frontierRows = st._1
        frontierBytes = st._2
        if (frontierRows > 0) { dist = dist.unionByName(next); frontier = next }
        depth += 1
      }
      dist
    }
  }

  /** Storage level of the frontier loops' generations: SERIALIZED,
    * because the default deserialized level pins one row OBJECT per node,
    * and a 10⁸-node generation of boxed rows overruns a shared local heap
    * (measured OOM in the `bfs_hub` shape) where the compact serialized
    * form spills cleanly.
    */
  private val SerializedGeneration =
    org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER

  /** A frontier as the JOIN BUILD SIDE of [[bfsHops]] and [[ssspHops]].
    * Left to its own devices Catalyst sort-merges (checkpoint stats are
    * unknown), and codegen SMJ buffers ALL of a streamed row's matches in
    * heap — a mega-hub in a 1-row frontier appends its entire out-edge
    * list to one in-memory buffer (measured OOM in `bfs_hub`).
    * Broadcasting a small frontier (or hash-building a large one) keeps
    * the edge side STREAMING: the hub's edges probe a tiny hash map one
    * row at a time. The cutoff is BYTES, not rows (`bytes` from
    * [[keyedFrameStats]]): the generation is cached, so measuring its
    * actual key payload costs one cheap agg, and a byte bound holds for
    * kilobyte string keys where a row count would not; larger frontiers
    * hash-build per partition instead.
    */
  private def frontierBuild(frontier: DataFrame, bytes: Long,
                            broadcastBytes: Long): DataFrame =
    if (bytes <= broadcastBytes) broadcast(frontier)
    else frontier.hint("shuffle_hash")

  /** (rows, estimated broadcast bytes) of a cached one-key-column frame —
    * the [[bfsHops]] byte model: measured `octet_length` payload for
    * string/binary keys, fixed 8-byte payload for numerics, plus ~16 B/row
    * hash-relation overhead. One cheap agg over already-cached blocks.
    */
  private def keyedFrameStats(f: DataFrame, keyCol: String): (Long, Long) = {
    val varLen = f.schema(keyCol).dataType match {
      case org.apache.spark.sql.types.StringType |
           org.apache.spark.sql.types.BinaryType => true
      case _ => false
    }
    if (varLen) {
      val r = f.agg(count(lit(1)),
        coalesce(sum(octet_length(col(keyCol)).cast("long")), lit(0L)))
        .head()
      val n = r.getLong(0)
      (n, n * 16L + r.getLong(1))
    } else {
      val n = f.count()
      (n, n * 24L)
    }
  }

  /** Hop-bounded weighted single-source(-set) shortest paths: for every
    * node, the minimum total edge weight over paths of at most `maxIter`
    * edges from ANY seed — frontier-based Bellman–Ford relaxation, the
    * weighted generalization of [[bfsHops]] ("cheapest route within k
    * links": trust propagation with per-link costs, latency-weighted
    * reachability). Returns (node, dist) for every node reached within
    * the hop budget; seeds at 0; unreached nodes absent. With
    * `maxIter >= |V| - 1` and non-negative weights this is the exact
    * SSSP fixed point.
    *
    * Each round relaxes ONLY the frontier — the rows whose distance
    * improved last round: candidate = frontier ⋈ edges with a combinable
    * per-destination MIN (map-side partial min collapses a hub's fan-in
    * before the shuffle), then one key-join against the standing
    * distances keeps strict improvements. The induction that makes
    * frontier-pruning exact: a best ≤j-edge path's prefix improved its
    * node at some round ≤ j, so the extension is generated at round
    * ≤ j+1; nodes whose tentative distance did not improve have nothing
    * new to propagate. State is O(V) (one best-so-far row per reached
    * node), never O(paths) — the naive k-fold join materializes every
    * path and dies combinatorially.
    *
    * Loop hygiene ([[Checkpoints.scoped]]): edges persisted as the loop
    * invariant; the standing distance table and the frontier are
    * `localCheckpoint`'d SERIALIZED per round and the superseded
    * generation released ([[pagerankInt]]'s rotation — unlike
    * [[bfsHops]], generations here REPLACE each other, so only the final
    * table stays pinned). Frontier forced to the join build side under
    * the same measured-bytes broadcast cutoff as BFS
    * ([[frontierBuild]]: the edge list must always stream). RETENTION:
    * the result is one checkpointed table, the caller's to free.
    *
    * `edges` needs (src, dst, w) with LongType `w`; `seeds` is one
    * column `node`. Directed — symmetrize for undirected costs.
    */
  def ssspHops(edges: DataFrame, seeds: DataFrame, maxIter: Int,
               broadcastBytes: Long = 64L * 1024 * 1024): DataFrame = {
    require(maxIter >= 0, s"maxIter must be >= 0, got $maxIter")
    Checkpoints.scoped { scope =>
      val e = scope.cache(edges.select("src", "dst", "w"))
      var dist = scope.checkpoint(seeds.select(col("node")).distinct()
        .withColumn("dist", lit(0L)), SerializedGeneration)
      var frontier = dist
      var round = 1
      var (fRows, fBytes) = keyedFrameStats(frontier, "node")
      while (round <= maxIter && fRows > 0) {
        val f = frontierBuild(frontier, fBytes, broadcastBytes)
        val cand = f.join(e, f("node") === e("src"))
          .select(col("dst").as("node"), (col("dist") + col("w")).as("cd"))
          .groupBy("node").agg(min("cd").as("cd"))
        val standing = dist.select(col("node").as("__dnode"),
          col("dist").as("__dbest"))
        val improved = scope.checkpoint(cand
          .join(standing, cand("node") === col("__dnode"), "left")
          .filter(col("__dbest").isNull || col("cd") < col("__dbest"))
          .select(col("node"), col("cd").as("dist")), SerializedGeneration)
        val st = keyedFrameStats(improved, "node")
        if (st._1 > 0) {
          // anti-join build side: broadcast `improved` while it is small
          // (dist streams); a LARGE improved set must NOT be forced into
          // a hash build — a settled round can improve ~|V| nodes at
          // once (measured: the 10⁸-leaf hub star's last round built a
          // 10⁸-row hash relation against a 2-row dist and exhausted
          // execution memory). Unhinted, Catalyst sort-merges — and SMJ
          // is SAFE here, unlike the frontier⋈edges join: node is
          // unique on BOTH sides, so every match group is one row and
          // the sorts spill.
          val ik =
            if (st._2 <= broadcastBytes) broadcast(improved.select("node"))
            else improved.select("node")
          val newDist = scope.checkpoint(
            dist.join(ik, Seq("node"), "left_anti").unionByName(improved),
            SerializedGeneration)
          // rotate: the new table is materialized, the old one and the
          // PREVIOUS frontier (the old table itself in round 1) are dead;
          // improved stays — it is the next frontier, and its rows were
          // copied, not referenced, by newDist
          scope.release(dist)
          scope.release(frontier)
          dist = newDist
        }
        // a round that improved nothing ends the loop; its empty frontier
        // and the one before it are released when the scope exits
        frontier = improved
        fRows = st._1
        fBytes = st._2
        round += 1
      }
      dist
    }
  }
}
