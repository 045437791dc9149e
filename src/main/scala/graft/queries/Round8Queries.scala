package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ext.{Dedup, Graph, Stats, TextAnalysis, TimeSeries}
import OracleSql.{centsSql, tokSql}
import Tables.t

/** Round-8 batch: retrieval scoring, exact-arithmetic text statistics,
  * graph structure, and sweep-line concurrency — every float in a
  * compared column is ONE fixed per-row IEEE (+, *, /) formula over
  * exact integer aggregates (the q110 discipline); transcendental
  * functions (log) are deliberately absent because they are not
  * bit-reproducible across engines.
  */
object Round8Queries extends QuerySet {

  /** q130 query terms: mid-frequency corpus vocabulary, so tf/df vary
    * across documents and all BM25 factors are exercised.
    */
  private val Bm25Terms = Seq("join", "vector", "stream", "window")
  private val Bm25K1 = 1.2
  private val Bm25B = 0.75

  /** q134 boundary width (tokens shared between a doc's tail and the
    * next record's head).
    */
  private val BoundaryK = 8

  /** q134 hot-boundary cap: low enough that the planted boilerplate
    * footer (one shared 8-token boundary across every synthesized
    * footer record — hundreds of occurrences at sf0.01) is dropped
    * before the join at every bundled sf, so the guard is gated
    * semantics, not dead configuration.
    */
  private val BoundaryCap = 64

  /** q134 planted boilerplate: exactly [[BoundaryK]] tokens, so each
    * footer record's head digest == tail digest == one corpus-universal
    * boundary — the templated-corpus adversary (a standard footer as the
    * last k tokens of many shards) that would emit quadratic pairs
    * without [[BoundaryCap]].
    */
  private val BoundaryFooter =
    "standard legal notice revision contact footer terms end"

  /** q139: the q79 n-gram size (shared oracle — the bloom prefilter
    * must be result-invisible).
    */
  private val DecontamN = 3

  /** q140: threshold low enough that the synthetic corpus (shared
    * vocabulary, so lexical cosine is high across the board) emits a
    * bounded-but-nonempty pair set; dfCap high enough that no term is
    * capped at sf0.01 (the cap is exercised by the hot-shingle scale
    * shape, not the gate).
    */
  private val CosineT = 0.9
  private val CosineDfCap = 1000L

  /** q141: the q27/q65 Jaccard threshold, so the components match the
    * established dedup-groups surface.
    */
  private val KeepBestJaccardT = 0.5

  /** q143: degree threshold + fixed peeling budget (see kcoreRounds —
    * bounded like pagerank's iterations); 3 rounds peel the sparsified
    * co-supplier graph measurably at sf0.01 without emptying it.
    */
  private val KcoreK = 3
  private val KcoreRounds = 3

  /** q133/q143 co-supplier graph: per-order distinct-supplier cap for
    * [[graft.ext.Graph.cooccurrenceEdges]]. TPC-H orders carry 1–7
    * lineitems, so 8 never drops a group at any bundled sf (the gate
    * hash is the rare-event-filtered graph, unchanged) — the cap is the
    * operator's densification backstop, mirrored in both oracles so the
    * gated semantics are "co-occurrence over groups of ≤ 8 items".
    */
  private val CoSupplierCap = 8

  /** The q133/q143 co-supplier graph: suppliers sharing an order, over
    * the rare high-quantity lines only (see q133), per-order cap
    * [[CoSupplierCap]].
    */
  private def coSupplierEdges(s: SparkSession, dir: String): DataFrame =
    Graph.cooccurrenceEdges(
      t(s, dir, "lineitem").filter(col("l_quantity") >= 48),
      "l_orderkey", "l_suppkey", CoSupplierCap)

  /** q134 synthesizes the shard-stitching artifact from the corpus
    * itself: each document ≥ 32 tokens is split into two overlapping
    * records — tokens [1, 20] and [13, 32] — so record 2i's 8-token tail
    * IS record 2i+1's 8-token head and every split doc yields exactly
    * one boundary pair for the operator to recover. Each base doc ALSO
    * contributes one [[BoundaryFooter]] record: those share a single
    * hot boundary digest that [[BoundaryCap]] must drop (the capped
    * result contains exactly the split-doc pairs and none of the
    * quadratic footer pairs — reproduced by the oracle, so the guard
    * itself is hash-gated).
    */
  private def boundaryRecords(docs: DataFrame): DataFrame = {
    val toks = graft.functions.Portable.wsTokens(col("text"))
    val base = docs.select(col("doc_id"), toks.as("__w"))
      .filter(size(col("__w")) >= 32)
    base.select((col("doc_id") * 2).as("doc_id"),
      concat_ws(" ", slice(col("__w"), 1, 20)).as("text"))
      .unionAll(base.select((col("doc_id") * 2 + 1).as("doc_id"),
        concat_ws(" ", slice(col("__w"), 13, 20)).as("text")))
      .unionAll(base.select((col("doc_id") * 2 + 1000000000L).as("doc_id"),
        lit(BoundaryFooter).as("text")))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // BM25-shaped retrieval scoring (log-free odds-ratio idf — monotone
    // in the standard idf, bit-reproducible): one row per (doc, matched
    // query term).
    "q130_bm25" -> ((s, dir) =>
      TextAnalysis.bm25Terms(t(s, dir, "documents"), Bm25Terms,
        Bm25K1, Bm25B)
        .orderBy("doc_id", "tok")),

    // Token diversity via the collision (Simpson) index — the exact-
    // integer alternative to Shannon entropy (Σ c² is order-independent
    // where Σ p·log p is a float sum).
    "q131_token_diversity" -> ((s, dir) =>
      TextAnalysis.tokenDiversity(t(s, dir, "documents"))
        .orderBy("doc_id")),

    // Sweep-line interval concurrency of lineitem shipments in transit
    // ([ship_day, ship_day + 1..14 transit days) in epoch days — the
    // testdata has no receipt date, so transit is derived
    // deterministically from the keys), bucketed by 30-day windows: max
    // simultaneously-in-transit + earliest peak day, all on the
    // GlobalOrder range-shuffle running total — the single-task
    // `sum OVER (ORDER BY t)` shape distributed.
    "q132_ship_concurrency" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          expr("unix_micros(cast(l_shipdate as timestamp)) div 86400000000")
            .as("ship_day"))
        .withColumn("receipt_day",
          col("ship_day") + expr("l_orderkey % 14") + lit(1L))
      TimeSeries.maxConcurrency(li, col("ship_day"), col("receipt_day"),
        bucketWidth = 30L,
        Seq(col("l_orderkey"), col("l_linenumber")))
    }),

    // Exact triangle count of the co-supplier graph (suppliers sharing
    // an order), by degree-ordered orientation — O(m^1.5) wedges
    // regardless of hub skew, one row out. Co-occurrence is restricted
    // to rare high-quantity lines: the UNRESTRICTED graph densifies as
    // orders grow over the fixed supplier set (near-complete at sf0.1 —
    // measured 204 s, because a dense graph's m ≈ nodes² makes m^1.5
    // the honest cost), while the filtered graph keeps average degree
    // constant in sf (24 / 403 / 4387 edges at sf0.001/0.01/0.1) — the
    // shape real co-occurrence graphs (co-citation, co-purchase) have.
    "q133_triangles" -> ((s, dir) =>
      Graph.triangleCount(coSupplierEdges(s, dir))),

    // Shard-stitching boundary overlaps: tail-k == head-k pairs over the
    // synthesized split-record corpus (one pair per split document); the
    // planted boilerplate-footer boundary is dropped by bndCap before
    // the join — both the recovery and the guard are oracle-gated.
    "q134_boundary_overlap" -> ((s, dir) =>
      Dedup.boundaryPairs(boundaryRecords(t(s, dir, "documents")),
        BoundaryK, bndCap = BoundaryCap)
        .orderBy("doc_a", "doc_b")),

    // Normalization-aware exact dedup summary: how many duplicate
    // identities appear only after CCNet-style normalization.
    "q135_normalized_dedup" -> ((s, dir) =>
      Dedup.normalizedDedupStats(t(s, dir, "documents"))),

    // Per-group min-max scaling in exact integer micro-units, aggregated
    // back per group (sum/min/max of the scaled measure are integer-
    // exact, so the gate catches an off-by-one anywhere in the scaling).
    "q136_minmax_scale" -> ((s, dir) =>
      Stats.minMaxScaleMicro(
        t(s, dir, "lineitem")
          .select(col("l_returnflag"),
            Stats.cents(col("l_extendedprice")).as("price_cents")),
        "l_returnflag", col("price_cents"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum("scaled_micro").as("scaled_sum"),
          min("scaled_micro").as("scaled_min"),
          max("scaled_micro").as("scaled_max"))
        .orderBy("l_returnflag")),

    // Vocabulary rarity profile: per-doc sum of ⌊log₂ df⌋+1 buckets —
    // integer-exact log-frequency weighting (bin() length, no float log).
    "q137_token_rarity" -> ((s, dir) =>
      TextAnalysis.tokenRarity(t(s, dir, "documents"))
        .orderBy("doc_id")),

    // Bloom-prefiltered decontamination — the scale path for benchmark
    // sets too large to broadcast. Bloom false positives are removed by
    // the exact join, so the oracle is the SAME SQL as exact q79: the
    // gate proves the prefilter is result-invisible.
    "q139_decontaminate_bloom" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.ext.Decontaminate.contaminatedBloom(
        docs.filter(col("doc_id") % 97 =!= 0),
        docs.filter(col("doc_id") % 97 === 0),
        col("doc_id"), col("text"), DecontamN,
        expectedBenchGrams = 10000L)
        .orderBy("doc_id")
    }),

    // Sparse TF-IDF cosine pairs over the inverted index: exact BIGINT
    // dots/norms (integer log2 idf), one per-row IEEE sqrt+divide at the
    // end — the lexical complement of the embedding-cosine near-dup.
    "q140_sparse_cosine" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val n = docs.count()
      graft.ext.SparseSim.tfidfCosinePairs(docs, n, CosineT, CosineDfCap)
        .orderBy("doc_a", "doc_b")
    }),

    // MinHash estimator audit: per LSH-candidate pair, the signature
    // Jaccard estimate next to the exact shingle Jaccard and |error| —
    // the sketch-quality validation a pipeline runs before trusting
    // banded MinHash at a new threshold, as a gated artifact.
    "q146_minhash_estimate" -> ((s, dir) =>
      Dedup.minhashEstimateVsExact(t(s, dir, "documents"))
        .orderBy("doc_a", "doc_b")),

    // CDC changelog apply: orders snapshot + a three-version changelog
    // (v1 upsert, v2 delete, v3 resurrecting upsert on overlapping key
    // sets), folded with one combinable latest-change aggregate +
    // anti-join + union. Keys divisible by 12 see U → D → U, so the
    // gate proves version ordering, delete semantics, AND resurrection.
    "q145_changelog_apply" -> ((s, dir) => {
      val base = t(s, dir, "orders")
        .select(col("o_orderkey").as("k"),
          Stats.cents(col("o_totalprice")).as("price_cents"))
      val changes =
        base.filter(col("k") % 2 === 0)
          .select(col("k"), lit(1L).as("version"), lit("U").as("op"),
            (col("price_cents") + 10000L).as("price_cents"))
          .unionByName(base.filter(col("k") % 6 === 0)
            .select(col("k"), lit(2L).as("version"), lit("D").as("op"),
              lit(null).cast("long").as("price_cents")))
          .unionByName(base.filter(col("k") % 4 === 0)
            .select(col("k"), lit(3L).as("version"), lit("U").as("op"),
              (col("price_cents") + 20000L).as("price_cents")))
      graft.engine.Warehouse.applyChangelog(base, changes,
        "k", "version", "op", Seq("price_cents"))
        .orderBy("k")
    }),

    // Z-order clustered layout roundtrip: lineitem written range-
    // partitioned + sorted on the Morton code of (partkey, suppkey)
    // mod 1024, read back through a 2-D rectangle predicate, aggregated
    // per z-bucket. The STORED z values cross the gate (so the bit
    // interleave is hash-proven against the SQL twin) and the layout is
    // proven result-invisible (the q121/q122 pattern); per-file z-span
    // disjointness is asserted in Round8Suite.
    "q144_zorder" -> ((s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("q144_z")
      try {
        val li = t(s, dir, "lineitem").select(
          (col("l_partkey") % 1024).as("pk"),
          (col("l_suppkey") % 1024).as("sk"),
          Stats.cents(col("l_quantity")).as("qty_cents"))
        graft.ext.ZOrder.writeZOrdered(li, s"$tmp/z", col("pk"), col("sk"),
          bits = 10, partitions = 8)
        // plain read: a per-run temp dir would only grow the schema catalog
        val agg = s.read.parquet(s"$tmp/z")
          .filter(col("pk").between(100, 400) && col("sk").between(20, 60))
          .groupBy(expr("z div 65536").as("z_bucket"))
          .agg(count(lit(1)).as("n"), sum("qty_cents").as("qty_cents"))
          .orderBy("z_bucket")
        s.createDataFrame(
          java.util.Arrays.asList(agg.collect(): _*), agg.schema)
      } finally graft.engine.Pipeline.deleteRecursively(tmp)
    }),

    // Bounded-round k-core peeling of the sparsified co-supplier graph
    // (q133's edges): surviving nodes + in-subgraph degree after
    // KcoreRounds removal rounds at threshold KcoreK — the graph-quality
    // signal, budgeted like pagerank's fixed iterations and reproduced
    // by the oracle's unrolled round CTEs.
    "q143_kcore" -> ((s, dir) =>
      Graph.kcoreRounds(coSupplierEdges(s, dir), KcoreK, KcoreRounds)),

    // Quality-aware dedup representative: per near-dup component keep
    // the LONGEST member (score = token count, ties to lowest id) — the
    // keep-best curation policy, as a combinable argmax over the q65
    // components.
    "q141_dedup_keep_best" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.jaccardPairs(docs, KeepBestJaccardT)
      val scores = docs.select(col("doc_id"),
        size(graft.functions.Portable.wsTokens(col("text")))
          .cast("long").as("score"))
      graft.ext.DedupGroups.keepBestPerComponent(pairs, scores)
        .orderBy("component")
    }),

    // Incremental MinHash-LSH: candidates between the incoming batch
    // (doc_id % 7 = 0) and the existing corpus only — the recurring-
    // crawl shape that never re-bands existing-vs-existing. Same hash
    // family and band keys as q28, reproduced in full by the oracle.
    "q142_incremental_minhash" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.minhashCandidatesIncremental(
        docs.filter(col("doc_id") % 7 === 0),
        docs.filter(col("doc_id") % 7 =!= 0))
        .orderBy("doc_in", "doc_ex")
    }),

    // Per-group top-k via the native TopKLongPairs aggregate (bounded
    // O(k) state, map-side pruned) — the window-free row_number<=k. The
    // oracle IS the window formulation, so the gate proves the aggregate
    // reproduces rank semantics exactly, ties and all.
    "q138_topk_native" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_returnflag"),
          Stats.cents(col("l_extendedprice")).as("price_cents"),
          (col("l_orderkey") * 10 + col("l_linenumber")).as("uid"))
      graft.functions.TopKFunctions.topkPerGroup(li,
        Seq(col("l_returnflag")), col("price_cents"), col("uid"), k = 5)
        .select(col("l_returnflag"), col("rnk"),
          col("key").as("price_cents"), col("id").as("uid"))
        .orderBy("l_returnflag", "rnk")
    })
  )

  val oracleSql: Map[String, String] = Map(

    "q130_bm25" -> {
      val terms = Bm25Terms.map(q => s"'$q'").mkString(", ")
      s"""WITH tok AS (SELECT doc_id, unnest($tokSql) AS tok
                       FROM documents),
          dl AS (SELECT doc_id, count(*) AS doc_len FROM tok GROUP BY 1),
          tf AS (SELECT doc_id, tok, count(*) AS tf FROM tok
                 WHERE tok IN ($terms) GROUP BY 1, 2),
          df AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
          corpus AS (SELECT count(*) AS n_docs,
                            CAST(sum(doc_len) AS BIGINT) AS total_tokens
                     FROM dl)
          SELECT tf.doc_id, tf.tok, tf.tf, dl.doc_len, df.df,
                 (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) /
                   (CAST(df AS DOUBLE) + 0.5) *
                   (CAST(tf AS DOUBLE) * ${Bm25K1 + 1.0}) /
                   (CAST(tf AS DOUBLE) + $Bm25K1 *
                     (${1.0 - Bm25B} + $Bm25B *
                       (CAST(doc_len AS DOUBLE) * CAST(n_docs AS DOUBLE) /
                        CAST(total_tokens AS DOUBLE)))) AS score
          FROM tf JOIN dl ON tf.doc_id = dl.doc_id
                  JOIN df ON tf.tok = df.tok
          CROSS JOIN corpus
          ORDER BY tf.doc_id, tf.tok"""
    },

    "q131_token_diversity" ->
      s"""WITH tok AS (SELECT doc_id, unnest($tokSql) AS tok
                       FROM documents),
          c AS (SELECT doc_id, tok, count(*) AS c FROM tok GROUP BY 1, 2)
          SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
                 count(*) AS n_distinct,
                 CAST(sum(c * c) AS BIGINT) AS sum_c2,
                 CAST(sum(c * c) AS DOUBLE) /
                   (CAST(sum(c) AS DOUBLE) * CAST(sum(c) AS DOUBLE))
                   AS collision
          FROM c GROUP BY doc_id ORDER BY doc_id""",

    "q132_ship_concurrency" ->
      """WITH li AS (SELECT l_orderkey, l_linenumber,
                epoch_us(l_shipdate) // 86400000000 AS ship_day,
                epoch_us(l_shipdate) // 86400000000
                  + l_orderkey % 14 + 1 AS receipt_day
              FROM lineitem),
          ev AS (SELECT ship_day AS t, CAST(1 AS BIGINT) AS delta,
                        l_orderkey, l_linenumber FROM li
                 UNION ALL
                 SELECT receipt_day, -1, l_orderkey, l_linenumber FROM li),
          sw AS (SELECT t, CAST(sum(delta) OVER (
                   ORDER BY t, delta, l_orderkey, l_linenumber
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS open
                 FROM ev)
          SELECT t // 30 AS bucket, count(*) AS n_events,
                 max(struct_pack(c := open, t := t))['c'] AS max_open,
                 min(struct_pack(nc := -open, t := t))['t'] AS peak_period
          FROM sw GROUP BY 1 ORDER BY bucket""",

    "q133_triangles" ->
      s"""WITH po AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
                      WHERE l_quantity >= 48),
          ok AS (SELECT l_orderkey FROM po GROUP BY 1
                 HAVING count(*) <= $CoSupplierCap),
          pok AS (SELECT po.l_orderkey, po.l_suppkey
                  FROM po JOIN ok USING (l_orderkey)),
          e AS (SELECT DISTINCT x.l_suppkey AS a, y.l_suppkey AS b
                FROM pok x JOIN pok y ON x.l_orderkey = y.l_orderkey
                WHERE x.l_suppkey < y.l_suppkey)
          SELECT count(*) AS n_triangles
          FROM e e1 JOIN e e2 ON e1.b = e2.a
                    JOIN e e3 ON e1.a = e3.a AND e2.b = e3.b""",

    "q134_boundary_overlap" -> {
      val k = BoundaryK
      s"""WITH base AS (SELECT doc_id, $tokSql AS w FROM documents),
          big AS (SELECT doc_id, w FROM base WHERE len(w) >= 32),
          recs AS (SELECT doc_id * 2 AS doc_id,
                          list_slice(w, 1, 20) AS w FROM big
                   UNION ALL
                   SELECT doc_id * 2 + 1, list_slice(w, 13, 32) FROM big
                   UNION ALL
                   SELECT doc_id * 2 + 1000000000,
                          string_split('$BoundaryFooter', ' ') FROM big),
          ok AS (SELECT doc_id, w FROM recs WHERE len(w) >= $k),
          tails AS (SELECT doc_id AS doc_a,
                      md5(array_to_string(
                        list_slice(w, len(w) - ${k - 1}, len(w)), ' '))
                      AS bnd FROM ok),
          heads AS (SELECT doc_id AS doc_b,
                      md5(array_to_string(list_slice(w, 1, $k), ' '))
                      AS bnd FROM ok),
          hot AS (SELECT bnd FROM (SELECT bnd FROM tails
                                   UNION ALL SELECT bnd FROM heads) u
                  GROUP BY bnd HAVING count(*) > $BoundaryCap)
          SELECT doc_a, doc_b FROM tails JOIN heads USING (bnd)
          WHERE bnd NOT IN (SELECT bnd FROM hot) AND doc_a <> doc_b
          ORDER BY doc_a, doc_b"""
    },

    "q135_normalized_dedup" ->
      """WITH f AS (SELECT md5(text) AS raw_fp,
                 md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))
                   AS norm_fp
              FROM documents)
          SELECT count(*) AS n_docs,
                 CAST(count(DISTINCT raw_fp) AS BIGINT) AS n_raw_distinct,
                 CAST(count(DISTINCT norm_fp) AS BIGINT) AS n_norm_distinct,
                 CAST(count(DISTINCT raw_fp) - count(DISTINCT norm_fp)
                   AS BIGINT) AS n_extra_norm_dups
          FROM f""",

    "q136_minmax_scale" ->
      s"""WITH x AS (SELECT l_returnflag,
                ${centsSql("l_extendedprice")} AS pc FROM lineitem),
          st AS (SELECT l_returnflag, min(pc) AS mn, max(pc) AS mx
                 FROM x GROUP BY 1),
          sc AS (SELECT x.l_returnflag,
                        CASE WHEN mx > mn
                             THEN ((pc - mn) * 1000000) // (mx - mn)
                        END AS scaled_micro
                 FROM x JOIN st ON x.l_returnflag = st.l_returnflag)
          SELECT l_returnflag, count(*) AS n,
                 CAST(sum(scaled_micro) AS BIGINT) AS scaled_sum,
                 CAST(min(scaled_micro) AS BIGINT) AS scaled_min,
                 CAST(max(scaled_micro) AS BIGINT) AS scaled_max
          FROM sc GROUP BY 1 ORDER BY l_returnflag""",

    "q137_token_rarity" ->
      s"""WITH tok AS (SELECT doc_id, unnest($tokSql) AS tok
                       FROM documents),
          df AS (SELECT tok, count(*) AS df
                 FROM (SELECT DISTINCT doc_id, tok FROM tok) GROUP BY 1),
          b AS (SELECT tok, CAST(length(bin(df)) AS BIGINT) AS df_bits
                FROM df)
          SELECT tok.doc_id, count(*) AS n_tokens,
                 CAST(sum(df_bits) AS BIGINT) AS df_bits_sum,
                 CAST(sum(df_bits) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                   AS mean_df_bits
          FROM tok JOIN b ON tok.tok = b.tok
          GROUP BY 1 ORDER BY doc_id""",

    "q139_decontaminate_bloom" ->
      s"""WITH w AS (SELECT doc_id, $tokSql AS w FROM documents),
          g AS (SELECT DISTINCT doc_id,
                CAST('0x' || substr(md5(array_to_string(
                     w[i:i+${DecontamN - 1}], ' ')), 1, 15) AS BIGINT) AS gh
                FROM (SELECT doc_id, w,
                      unnest(generate_series(1, len(w) - ${DecontamN - 1}))
                        AS i FROM w)),
          bench AS (SELECT DISTINCT gh FROM g WHERE doc_id % 97 = 0),
          corp AS (SELECT doc_id, gh FROM g WHERE doc_id % 97 <> 0)
          SELECT doc_id, count(*) AS n_hits
          FROM corp JOIN bench USING (gh) GROUP BY 1
          ORDER BY doc_id""",

    "q140_sparse_cosine" ->
      s"""WITH tok AS (SELECT doc_id, unnest($tokSql) AS tok
                       FROM documents),
          tf AS (SELECT doc_id, tok, count(*) AS tf FROM tok GROUP BY 1, 2),
          n AS (SELECT count(*) AS nd FROM documents),
          df AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
          w AS (SELECT doc_id, tf.tok, df.df,
                       tf * CAST(length(bin(nd // df)) AS BIGINT) AS w
                FROM tf JOIN df ON tf.tok = df.tok CROSS JOIN n),
          n2 AS (SELECT doc_id, CAST(sum(w * w) AS BIGINT) AS n2
                 FROM w GROUP BY 1),
          rare AS (SELECT doc_id, tok FROM w WHERE df <= $CosineDfCap),
          cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                   FROM rare a JOIN rare b
                     ON a.tok = b.tok AND a.doc_id < b.doc_id),
          dots AS (SELECT doc_a, doc_b, CAST(sum(wa.w * wb.w) AS BIGINT)
                     AS dot
                   FROM cand
                   JOIN w wa ON cand.doc_a = wa.doc_id
                   JOIN w wb ON cand.doc_b = wb.doc_id
                     AND wa.tok = wb.tok
                   GROUP BY 1, 2)
          SELECT doc_a, doc_b, dot,
                 round(CAST(dot AS DOUBLE) /
                   sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)), 6)
                   AS cos
          FROM dots JOIN n2 na ON dots.doc_a = na.doc_id
                    JOIN n2 nb ON dots.doc_b = nb.doc_id
          WHERE round(CAST(dot AS DOUBLE) /
                  sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)), 6)
                  >= $CosineT
          ORDER BY doc_a, doc_b""",

    "q146_minhash_estimate" -> {
      import ExtensionQueries.{shingleCte, hash30Sql, minhashAggs, bandSelects}
      val agreeSum = (0 until ExtensionQueries.NumHashes)
        .map(i => s"(CASE WHEN sa.h$i = sb.h$i THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""WITH $shingleCte,
          shh AS (SELECT doc_id, $hash30Sql AS h30 FROM sh),
          sig AS (SELECT doc_id, $minhashAggs FROM shh GROUP BY doc_id),
          banded AS ($bandSelects),
          cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
                   FROM banded a JOIN banded b
                     ON a.band = b.band AND a.bkey = b.bkey
                       AND a.doc_id < b.doc_id
                   GROUP BY 1, 2),
          agree AS (SELECT doc_a, doc_b,
                           CAST($agreeSum AS BIGINT) AS n_agree
                    FROM cand JOIN sig sa ON cand.doc_a = sa.doc_id
                              JOIN sig sb ON cand.doc_b = sb.doc_id),
          sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
          inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                           count(*) AS i
                    FROM sh a JOIN sh b ON a.shingle = b.shingle
                      AND a.doc_id < b.doc_id
                    GROUP BY 1, 2),
          ex AS (SELECT c.doc_a, c.doc_b,
                        i * 1.0 / (x.n + y.n - i) AS jaccard
                 FROM cand c
                 JOIN inter ON c.doc_a = inter.doc_a
                   AND c.doc_b = inter.doc_b
                 JOIN sz x ON x.doc_id = c.doc_a
                 JOIN sz y ON y.doc_id = c.doc_b)
          SELECT g.doc_a, g.doc_b, n_agree,
                 CAST(n_agree AS DOUBLE) / ${ExtensionQueries.NumHashes}
                   AS est,
                 coalesce(jaccard, 0.0) AS jaccard,
                 round(abs(CAST(n_agree AS DOUBLE) /
                   ${ExtensionQueries.NumHashes} - coalesce(jaccard, 0.0)),
                   6) AS abs_err
          FROM agree g LEFT JOIN ex
            ON g.doc_a = ex.doc_a AND g.doc_b = ex.doc_b
          ORDER BY g.doc_a, g.doc_b"""
    },

    "q145_changelog_apply" ->
      s"""WITH base AS (SELECT o_orderkey AS k,
                ${centsSql("o_totalprice")} AS price_cents FROM orders),
          changes AS (
            SELECT k, 1 AS version, 'U' AS op,
                   price_cents + 10000 AS price_cents
            FROM base WHERE k % 2 = 0
            UNION ALL
            SELECT k, 2, 'D', NULL FROM base WHERE k % 6 = 0
            UNION ALL
            SELECT k, 3, 'U', price_cents + 20000
            FROM base WHERE k % 4 = 0),
          latest AS (SELECT k, arg_max(op, version) AS op,
                            CAST(arg_max(price_cents, version) AS BIGINT)
                              AS price_cents
                     FROM changes GROUP BY 1)
          SELECT k, price_cents FROM base
          WHERE k NOT IN (SELECT k FROM latest)
          UNION ALL
          SELECT k, price_cents FROM latest WHERE op <> 'D'
          ORDER BY k""",

    "q144_zorder" -> {
      val z = graft.ext.ZOrder.zValueSql("pk", "sk", 10)
      s"""WITH x AS (SELECT l_partkey % 1024 AS pk, l_suppkey % 1024 AS sk,
                ${centsSql("l_quantity")} AS qty_cents FROM lineitem),
          zz AS (SELECT pk, sk, qty_cents, $z AS z FROM x)
          SELECT CAST(z // 65536 AS BIGINT) AS z_bucket, count(*) AS n,
                 CAST(sum(qty_cents) AS BIGINT) AS qty_cents
          FROM zz WHERE pk BETWEEN 100 AND 400 AND sk BETWEEN 20 AND 60
          GROUP BY 1 ORDER BY z_bucket"""
    },

    "q143_kcore" -> {
      val base =
        """e0 AS (SELECT a, b FROM (
                SELECT x.l_suppkey AS a, y.l_suppkey AS b
                FROM pok x JOIN pok y ON x.l_orderkey = y.l_orderkey
                WHERE x.l_suppkey <> y.l_suppkey) GROUP BY 1, 2)"""
      val roundCtes = (1 to KcoreRounds).map { r =>
        s"""d${r - 1} AS (SELECT a, count(*) AS c FROM e${r - 1} GROUP BY 1),
            k${r - 1} AS (SELECT a FROM d${r - 1} WHERE c >= $KcoreK),
            e$r AS (SELECT e.a, e.b FROM e${r - 1} e
                    JOIN k${r - 1} x ON e.a = x.a
                    JOIN k${r - 1} y ON e.b = y.a)"""
      }.mkString(",\n")
      s"""WITH po AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
                      WHERE l_quantity >= 48),
          ok AS (SELECT l_orderkey FROM po GROUP BY 1
                 HAVING count(*) <= $CoSupplierCap),
          pok AS (SELECT po.l_orderkey, po.l_suppkey
                  FROM po JOIN ok USING (l_orderkey)),
          $base,
          $roundCtes
          SELECT a AS node, count(*) AS deg FROM e$KcoreRounds
          GROUP BY 1 ORDER BY node"""
    },

    "q141_dedup_keep_best" -> {
      val pairsSql = ExtensionQueries.oracleSql("q27_dedup_jaccard")
      s"""WITH RECURSIVE pr AS (SELECT doc_a, doc_b FROM ($pairsSql) t),
            e AS (SELECT doc_a AS a, doc_b AS b FROM pr
                  UNION SELECT doc_b, doc_a FROM pr),
            nodes AS (SELECT DISTINCT a AS id FROM e),
            reach(id, m) AS (
              SELECT id, id FROM nodes
              UNION
              SELECT e.a, reach.m FROM e JOIN reach ON e.b = reach.id),
            comp AS (SELECT id AS doc_id, min(m) AS component
                     FROM reach GROUP BY 1),
            sc AS (SELECT doc_id, CAST(len($tokSql) AS BIGINT) AS score
                   FROM documents)
          SELECT component, count(*) AS n_members,
                 min(struct_pack(ns := -score, id := comp.doc_id))['id']
                   AS kept_doc_id,
                 -min(struct_pack(ns := -score, id := comp.doc_id))['ns']
                   AS kept_score
          FROM comp JOIN sc ON comp.doc_id = sc.doc_id
          GROUP BY 1 ORDER BY component"""
    },

    "q142_incremental_minhash" -> {
      import ExtensionQueries.{shingleCte, hash30Sql, minhashAggs, bandSelects}
      s"""WITH $shingleCte,
          shh AS (SELECT doc_id, $hash30Sql AS h30 FROM sh),
          sig AS (SELECT doc_id, $minhashAggs FROM shh GROUP BY doc_id),
          banded AS ($bandSelects)
          SELECT a.doc_id AS doc_in, b.doc_id AS doc_ex,
                 count(*) AS n_bands
          FROM banded a
          JOIN banded b ON a.band = b.band AND a.bkey = b.bkey
            AND a.doc_id <> b.doc_id
          WHERE a.doc_id % 7 = 0 AND b.doc_id % 7 <> 0
          GROUP BY 1, 2 ORDER BY doc_in, doc_ex"""
    },

    "q138_topk_native" ->
      s"""WITH x AS (SELECT l_returnflag,
                ${centsSql("l_extendedprice")} AS price_cents,
                l_orderkey * 10 + l_linenumber AS uid FROM lineitem),
          r AS (SELECT l_returnflag, price_cents, uid,
                       row_number() OVER (PARTITION BY l_returnflag
                         ORDER BY price_cents DESC, uid ASC) AS rnk
                FROM x)
          SELECT l_returnflag, rnk, price_cents, uid FROM r
          WHERE rnk <= 5 ORDER BY l_returnflag, rnk"""
  )
}
