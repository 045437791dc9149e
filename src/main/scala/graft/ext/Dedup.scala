package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Portable.{hash30, hash60, wsTokens}

/** Deduplication operators for training-data pipelines, all built as
  * shuffle-conscious DataFrame programs:
  *
  *  - exact dedup is a single hash aggregate on a text digest (the digest,
  *    not the text, is shuffled — bytes moved per row stay constant no
  *    matter how large documents get);
  *  - n-gram Jaccard uses an inverted-index join on shingles (never an
  *    O(n²) cross join — candidate generation is |shared shingle| bounded,
  *    and AQE's skew-join splitting absorbs hot shingles);
  *  - MinHash-LSH reduces each document to a constant-size signature, bands
  *    the signature, and joins on band keys, so the shuffle volume is
  *    O(docs × bands) regardless of document length;
  *  - SimHash reduces each document to a single 60-bit signature.
  *
  * Signatures use the md5-derived [[graft.functions.Portable.hash60]], so
  * MinHash/SimHash outputs are bit-reproducible in the DuckDB oracle.
  */
object Dedup {

  /** Exact duplicate groups by content digest. */
  def exactGroups(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text")).as("fp"))
      .agg(count(lit(1)).as("n_docs"), min("doc_id").as("keep_doc_id"))

  /** Normalization-aware exact dedup (the CCNet discipline: lowercase +
    * punctuation/whitespace collapse BEFORE hashing, so cosmetic variants
    * of one document — capitalization, punctuation, spacing — fold into
    * one identity). Returns a one-row summary: documents, distinct
    * normalized identities, raw-exact distinct identities, and how many
    * extra duplicates normalization exposed beyond raw md5 equality.
    * Same digest-only shuffle discipline as [[exactGroups]] — the
    * normalized text never leaves the map side, only its md5 does.
    */
  def normalizedDedupStats(docs: DataFrame): DataFrame =
    docs.select(
      md5(col("text")).as("raw_fp"),
      md5(TextAnalysis.normalizeText(col("text"))).as("norm_fp"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("raw_fp")).as("n_raw_distinct"),
        countDistinct(col("norm_fp")).as("n_norm_distinct"))
      .select(col("n_docs"), col("n_raw_distinct"), col("n_norm_distinct"),
        (col("n_raw_distinct") - col("n_norm_distinct"))
          .as("n_extra_norm_dups"))

  /** Shard-stitching boundary overlaps: pairs where document A's LAST
    * `k` whitespace tokens equal document B's FIRST `k` tokens — the
    * artifact left when a crawl splits one page across records (A's tail
    * repeats as B's head). Whole-document dedup can't see it (the docs
    * differ) and shingle Jaccard dilutes it (k shared shingles out of
    * hundreds), so it gets its own operator. Each document contributes
    * ONE md5 of its k-token suffix and ONE of its k-token prefix;
    * candidate pairs come from a single equi-join on that digest —
    * shuffle volume O(docs), and the token arrays never travel.
    *
    * The equi-join needs the same hot-key guard as every sibling
    * candidate generator (jaccardPairs' dfCap, editDistancePairs'
    * blockCap): a boundary appearing t times as a tail and h times as a
    * head emits t·h pairs, and templated corpora DO share boilerplate
    * boundaries — a standard footer as the last k tokens of millions of
    * shards turns the join quadratic, in generated pair ROWS that AQE
    * skew splitting cannot absorb. `bndCap` drops every boundary digest
    * whose combined tail+head occurrence count exceeds the cap BEFORE
    * the join (aggregate + anti-join — the digest aggregate map-side
    * combines a hot boundary to one row per partition, and the over-cap
    * set is tiny so AQE broadcasts the anti-joins), bounding pairs per
    * surviving boundary at cap²/4. Pairs inside a dropped boundary are
    * lost by design: a boundary that common is boilerplate, not a shard
    * split — exact dedup's territory. The default (`Int.MaxValue`)
    * keeps exact semantics; production corpora should set a cap (tens
    * to low hundreds).
    */
  def boundaryPairs(docs: DataFrame, k: Int = 8,
                    bndCap: Int = Int.MaxValue): DataFrame = {
    require(k >= 1, s"boundary width must be >= 1, got $k")
    val toks = wsTokens(col("text"))
    val base = docs.select(col("doc_id"), toks.as("__w"))
      .filter(size(col("__w")) >= k)
    val heads = base.select(col("doc_id").as("doc_b"),
      md5(concat_ws(" ", slice(col("__w"), 1, k))).as("bnd"))
    val tails = base.select(col("doc_id").as("doc_a"),
      md5(concat_ws(" ",
        slice(col("__w"), -k, k))).as("bnd"))
    val (tailsKept, headsKept) =
      if (bndCap == Int.MaxValue) (tails, heads)
      else {
        val hot = tails.select("bnd").unionAll(heads.select("bnd"))
          .groupBy("bnd").agg(count(lit(1)).as("__n"))
          .filter(col("__n") > bndCap)
          .select("bnd")
        (tails.join(hot, Seq("bnd"), "left_anti"),
          heads.join(hot, Seq("bnd"), "left_anti"))
      }
    tailsKept.join(headsKept, "bnd")
      .filter(col("doc_a") =!= col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
  }

  /** Incremental exact dedup for snapshot-over-snapshot ingest: from
    * `incoming`, keep one representative per content digest (min doc_id)
    * whose digest does NOT already exist in `existing`. This is the
    * "only process genuinely new documents" step of a recurring crawl.
    *
    * Scale shape: both sides reduce to 16-byte digests before any
    * shuffle; the existing-corpus side is a digest-only aggregate (its
    * text is never moved), and the final check is a left-anti join on the
    * digest — at 100 TB the bytes shuffled are proportional to document
    * COUNT, not corpus size.
    */
  def incrementalNew(incoming: DataFrame, existing: DataFrame,
                     digest: Column = md5(col("text"))): DataFrame = {
    val inc = incoming.select(col("doc_id"), digest.as("fp"))
      .groupBy("fp").agg(min("doc_id").as("doc_id"))
    val seen = existing.select(digest.as("fp")).distinct()
    inc.join(seen, Seq("fp"), "left_anti").select("doc_id", "fp")
  }

  /** Blocked edit-distance near-dup pairs: all (a < b) document pairs in
    * the same block whose prefix Levenshtein distance is ≤ `maxDist`.
    * Levenshtein is O(len²) PER PAIR, so it can never run all-pairs; the
    * standard scalable shape is blocking — here (lang, text prefix of
    * `prefixLen` chars) — which turns the self-join into an equality join
    * the shuffle partitions by block key. Distance is computed on the
    * first `cmpLen` chars (bounded per-pair cost) with Spark's
    * thresholded levenshtein, which abandons a pair as soon as its
    * distance provably exceeds `maxDist` (banded DP: O(len·maxDist), not
    * O(len²)).
    *
    * At 100 TB the block-size distribution is the risk: a degenerate
    * block (e.g. a boilerplate prefix shared by millions of docs) turns
    * quadratic — the blowup is in generated pair ROWS, so AQE skew
    * splitting cannot help. `blockCap` (opt-in, the `dfCap` discipline of
    * [[jaccardPairs]]) drops every (lang, prefix) block larger than the
    * cap BEFORE the self-join, via aggregate + anti-join — groupBy's
    * partial aggregation collapses a hot block to one row per map
    * partition, and the over-cap key set is tiny so AQE broadcasts the
    * anti-join at runtime. Pairs inside a dropped block are lost by
    * design: a block that degenerate is boilerplate, which near-dup
    * curation handles with exact dedup, not pairwise DP. The default
    * (`Int.MaxValue`) keeps exact semantics for the oracle gate;
    * production corpora should set a cap (low thousands) or lengthen the
    * prefix.
    */
  def editDistancePairs(docs: DataFrame, prefixLen: Int = 4,
                        cmpLen: Int = 60, maxDist: Int = 10,
                        blockCap: Int = Int.MaxValue): DataFrame = {
    val base = docs.select(col("doc_id"), col("lang"),
      substring(col("text"), 1, prefixLen).as("blk"),
      substring(col("text"), 1, cmpLen).as("tc"))
    val pruned =
      if (blockCap == Int.MaxValue) base
      else {
        val hot = base.groupBy("lang", "blk")
          .agg(count(lit(1)).as("block_sz"))
          .filter(col("block_sz") > blockCap)
          .select("lang", "blk")
        base.join(hot, Seq("lang", "blk"), "left_anti")
      }
    // The block join broadcasts the (small) right side, so the expensive
    // per-pair DP runs with the STREAM side's parallelism — which for a
    // compact corpus is one parquet split. Spreading the stream side
    // first took the sf0.1 pair scan from 7.0s (one task computing 105k
    // distances) to sub-second across cores; at cluster scale the same
    // spread keeps the DP proportional to executors, not input files.
    val p = docs.sparkSession.sparkContext.defaultParallelism
    val a = pruned.select(col("doc_id").as("doc_a"), col("lang"),
      col("blk"), col("tc").as("ta"))
      .repartition(p)
    val b = pruned.select(col("doc_id").as("doc_b"), col("lang"),
      col("blk"), col("tc").as("tb"))
    a.join(b, Seq("lang", "blk"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        levenshtein(col("ta"), col("tb"), maxDist).cast("long").as("dist"))
      .filter(col("dist") >= 0) // thresholded form returns -1 above maxDist
  }

  /** Sorted-neighborhood candidate pairs — the classic complementary
    * blocking discipline to [[editDistancePairs]]' equality blocks: sort
    * every record by a normalized key and pair each record with its next
    * `window` neighbors in that order. Where prefix-equality blocking
    * misses a match whose block key differs (any edit inside the
    * prefix), sorted-neighborhood still pairs records that LAND NEAR
    * each other in sort order, at a guaranteed linear candidate budget:
    * exactly n·window pairs, no degenerate-block quadratic blowup to
    * cap.
    *
    * Shape: one [[GlobalOrder.withRowNumber]] total order over
    * (key, id) — boundary-stitched, no single-task sort — then `window`
    * co-partitioned equi-joins on rank+offset (an explode of the
    * offsets, one shuffle). Returns (doc_a, doc_b, cmp_a, cmp_b) with
    * doc_a < doc_b, each unordered pair at most once; the caller applies
    * the match predicate (e.g. thresholded levenshtein) to the
    * passed-through compare strings. `idCol` LongType and unique.
    */
  def sortedNeighborhoodPairs(docs: DataFrame, idCol: String,
                              keyCol: Column, cmpCol: Column,
                              window: Int): DataFrame = {
    require(window >= 1 && window <= 64,
      s"window must be in [1, 64], got $window")
    val base = docs.select(col(idCol).as("__snm_id"),
      keyCol.as("__snm_key"), cmpCol.as("__snm_cmp"))
    val rn = GlobalOrder.withRowNumber(base,
      Seq(col("__snm_key"), col("__snm_id")), out = "__snm_rn")
    val probes = rn
      .withColumn("__snm_d", explode(array(
        (1 to window).map(d => lit(d.toLong)): _*)))
      .select(col("__snm_id").as("__snm_ia"),
        col("__snm_cmp").as("__snm_ca"),
        (col("__snm_rn") + col("__snm_d")).as("__snm_rn"))
    val right = rn.select(col("__snm_id").as("__snm_ib"),
      col("__snm_cmp").as("__snm_cb"), col("__snm_rn"))
    probes.join(right, Seq("__snm_rn"))
      .select(
        least(col("__snm_ia"), col("__snm_ib")).as("doc_a"),
        greatest(col("__snm_ia"), col("__snm_ib")).as("doc_b"),
        when(col("__snm_ia") < col("__snm_ib"), col("__snm_ca"))
          .otherwise(col("__snm_cb")).as("cmp_a"),
        when(col("__snm_ia") < col("__snm_ib"), col("__snm_cb"))
          .otherwise(col("__snm_ca")).as("cmp_b"))
  }

  /** Word n-gram shingles per document, WITH positional duplicates:
    * (doc_id, shingle). No shuffle — a pure projection/explode.
    */
  def shinglesRaw(docs: DataFrame, n: Int = 3): DataFrame = {
    val w = col("w")
    docs.select(col("doc_id"), wsTokens(col("text")).as("w"))
      .select(col("doc_id"), w,
        explode(sequence(lit(1), greatest(size(w) - (n - 1), lit(1)))).as("i"))
      .filter(col("i") <= size(w) - (n - 1))
      .select(col("doc_id"),
        concat_ws(" ", (0 until n).map(j => element_at(w, col("i") + j)): _*)
          .as("shingle"))
  }

  /** Per-document DISTINCT shingle SET as an in-row array column — the
    * zero-shuffle form of [[shingles]] (round-18 optimization, guide
    * §2.3/§2.4 "remove shuffles outright / shuffle fewer bytes").
    * Set-dedup within a document needs no cross-row exchange: the
    * shingle positions of one document live in one row, so
    * `array_distinct` over the in-row transform IS the distinct — the
    * old `shinglesRaw(...).distinct()` paid a full
    * (doc_id, shingle)-keyed exchange of the exploded corpus (~5M
    * string rows at sf0.1) for a dedup that never crossed documents,
    * and every consumer that needed |set| paid a second doc_id-keyed
    * exchange for a count window. Output: (doc_id, sharr, n_shingles)
    * with n_shingles = size of the distinct set (0 for docs shorter
    * than n tokens — explode drops them, preserving [[shingles]]'
    * row semantics for exploded consumers).
    *
    * ONLY VALID when `doc_id` is unique per input row (true for every
    * caller — the documents table): duplicate doc_id rows would no
    * longer be set-merged across rows the way the exchange-based
    * distinct merged them.
    */
  def shingleSets(docs: DataFrame, n: Int = 3): DataFrame = {
    // `w` MUST be bound as an attribute before the transform lambda
    // references it: a raw `wsTokens(col("text"))` Column inlines the
    // whole-text split INTO the lambda body, where it re-evaluates once
    // per array element — O(len²) per document (the repo's own
    // HOF-lambda trap, the q338 permuteVec lesson; measured 20× slower
    // here before the binding).
    val w = col("w")
    val m = size(w) - (n - 1)
    // the coalesce-to-literal makes `sharr` (and so n_shingles) provably
    // NON-NULLABLE — load-bearing: the pair operators end in a
    // null-intolerant jaccard filter, and with a nullable n_shingles,
    // InferFiltersFromConstraints pushes an isnotnull(n_shingles) filter
    // to the SCAN with this whole expression re-substituted into an
    // interpreted per-row Filter (measured 6× the operator's cost); a
    // non-nullable type makes the constraint vacuous, so it is never
    // generated
    val arr = coalesce(
      when(m >= 1,
        array_distinct(transform(sequence(lit(1), m),
          i => concat_ws(" ", (0 until n).map(j => element_at(w, i + j)): _*)))),
      array())
    docs.select(col("doc_id"), wsTokens(col("text")).as("w"))
      .select(col("doc_id"), arr.as("sharr"))
      .select(col("doc_id"), col("sharr"),
        size(col("sharr")).cast("long").as("n_shingles"))
  }

  /** [[shingleSets]] exploded to (doc_id, n_shingles, shingle) rows —
    * the shape the pair operators consume, with |set| riding in-row.
    *
    * `explode_outer` + a post-filter on the GENERATED column is load-
    * bearing, not style: plain `explode` triggers Catalyst's
    * InferFiltersFromGenerate, whose inferred `size(e) > 0 AND
    * isnotnull(e)` predicate substitutes down through the projections
    * and re-inlines the whole shingle-build expression (split × ~8)
    * into an interpreted Filter evaluated once per row — measured 15 s
    * vs 0.5 s at sf0.1 for the same rows. The rule skips outer
    * generates, and the isnotnull filter on the generated column
    * cannot be pushed below the Generate, so the array is built
    * exactly once per document. Empty sets (docs shorter than n
    * tokens) emit one null-shingle row and are filtered — identical
    * rows to the old exchange-based distinct.
    */
  private def shingleRows(docs: DataFrame, n: Int): DataFrame =
    shingleSets(docs, n)
      .select(col("doc_id"), col("n_shingles"),
        explode_outer(col("sharr")).as("shingle"))
      .filter(col("shingle").isNotNull)

  /** Distinct word n-gram shingles per document (set semantics — required
    * by Jaccard). Zero shuffle since round 18: the per-document set is
    * built in-row ([[shingleSets]]) and exploded — identical rows to the
    * old `shinglesRaw(...).distinct()`, minus its corpus-wide exchange.
    *
    * PRECONDITION (inherited from [[shingleSets]]): `doc_id` must be
    * unique per input row — duplicate doc_id rows are no longer
    * set-merged across rows the way the old exchange-based distinct
    * merged them.
    */
  def shingles(docs: DataFrame, n: Int = 3): DataFrame =
    shingleRows(docs, n).select(col("doc_id"), col("shingle"))

  /** Near-duplicate pairs by exact n-gram Jaccard similarity >= threshold,
    * via inverted-index join (doc pairs are generated only when they share
    * at least one shingle).
    *
    * `dfCap` (opt-in) prunes shingles whose document frequency exceeds the
    * cap BEFORE the self-join: a shingle shared by d documents contributes
    * d²/2 candidate pairs, so on web-scale corpora one boilerplate shingle
    * (d in the millions) is an algorithmic blowup no skew-split can absorb.
    * This is the standard MinHash-preprocessing trade: |A| and |B| keep
    * their FULL shingle counts, so pruning only UNDERestimates Jaccard —
    * a pair is lost only if its entire overlap is ultra-common shingles.
    * The default (`Int.MaxValue`) keeps exact semantics FOR THE ORACLE
    * GATE; production corpora should set dfCap (low hundreds) — see
    * README "Designed for 100 TB" for the full sizing argument.
    *
    * PRECONDITION: `doc_id` unique per input row ([[shingleSets]]).
    */
  def jaccardPairs(docs: DataFrame, threshold: Double, n: Int = 3,
                   dfCap: Int = Int.MaxValue): DataFrame = {
    // each shingle row carries its document's total shingle count IN-ROW
    // (size of the per-doc set array, [[shingleSets]]) so |A| and |B|
    // ride along with the inverted-index join for free — the old shape
    // paid a (doc_id, shingle) exchange for the set-distinct plus a
    // doc_id exchange for a count window before the first real join
    // (round-18: two corpus-wide shuffles of exploded string rows
    // removed, guide §2.4)
    val all = shingleRows(docs, n)
    val sh =
      if (dfCap == Int.MaxValue) all
      else {
        // df-pruning via aggregate + anti-join, NOT a shingle-partitioned
        // window: a window would buffer the hot shingle's entire partition
        // in the one task that's about to discard it. groupBy's partial
        // aggregation shrinks the hot key to one row per map partition, and
        // the over-cap set is typically tiny (boilerplate shingles) so AQE
        // converts the anti-join to broadcast at runtime — not hinted
        // explicitly because its size is data-dependent (bounded only by
        // rows/cap), and a wrong forced broadcast is a driver OOM
        val hot = all.groupBy("shingle").agg(count(lit(1)).as("df"))
          .filter(col("df") > dfCap).select("shingle")
        all.join(hot, Seq("shingle"), "left_anti")
      }
    // the inverted-index self-join is PINNED sort-merge: with the
    // round-18 in-row shingle pipeline there is no exchange below this
    // join, so Catalyst's STATIC size estimate of the exploded corpus
    // side (derived from the small parquet file) sits under the 10 MB
    // broadcast threshold and the planner would otherwise BROADCAST a
    // corpus-shaped side — measured as a multi-second driver build at
    // sf0.1 and the wrong plan at any real scale (the q118 round-14
    // lesson; AQE cannot re-cost a join with no query-stage boundary
    // beneath it)
    sh.as("a").hint("merge")
      .join(sh.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.n_shingles").as("n_a"), col("b.n_shingles").as("n_b"))
      .agg(count(lit(1)).as("n_inter"))
      .select(col("doc_a"), col("doc_b"),
        (col("n_inter").cast("double") /
          (col("n_a") + col("n_b") - col("n_inter"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Exact Jaccard pairs via PPJoin-style prefix filtering — the
    * candidate-generation upgrade over [[jaccardPairs]]'s full inverted
    * index. Shingles are put in a global canonical order (ascending
    * document frequency, ties by shingle), and only each document's
    * PREFIX — its `|d| − ⌈t·|d|⌉ + 1` rarest shingles — enters the
    * self-join. The prefix-filter lemma makes this EXACT: two sets with
    * `J ≥ t` must overlap in at least `⌈t·max(|A|,|B|)⌉` shingles, and
    * sets that overlap that much must share a prefix shingle under any
    * common total order. Candidates are then verified against the full
    * shingle sets, so the output is identical to [[jaccardPairs]] — no
    * dfCap trade-off.
    *
    * Scale: this is the principled form of df-pruning. Boilerplate
    * shingles (the d²/2 pair bombs) sort LAST in the frequency order, so
    * at t = 0.8 a 100-shingle document exposes only its 21 rarest
    * shingles to the join — the hot shingle never generates candidates
    * unless a document is almost nothing but boilerplate. The constant
    * factor is real: the shingle table is evaluated for the df
    * aggregate, the ranking pass, and the two verification sides (~3
    * corpus passes plus a per-doc window vs [[jaccardPairs]]' 2), so on
    * a SMALL corpus the plain inverted index is faster — this operator
    * wins when candidate generation, not scanning, is the bill, i.e.
    * when boilerplate df makes the plain join's pair count explode.
    * Candidate verification touches only candidate pairs' shingles.
    *
    * PRECONDITION: `doc_id` unique per input row ([[shingleSets]]).
    */
  def jaccardPairsPrefix(docs: DataFrame, threshold: Double,
                         n: Int = 3): DataFrame =
    jaccardPairsPrefixImpl(docs, threshold, n, None)

  /** [[jaccardPairsPrefix]] with an optionally PRECOMPUTED document-
    * frequency table (shingle, df) — the round-19 seam that lets
    * [[jaccardPairsAuto]]'s full-corpus probe census be reused as the
    * branch's df table instead of re-shingling the corpus for an
    * identical aggregate (§1.2 "don't compute things you throw away").
    */
  private def jaccardPairsPrefixImpl(docs: DataFrame, threshold: Double,
                                     n: Int,
                                     dfPre: Option[DataFrame]): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"prefix filtering needs a threshold in (0, 1], got $threshold")
    // Round-18 reshape (guide §2.3/§2.4): the shingle table is built
    // IN-ROW ([[shingleSets]]) — per-doc set dedup and |set| need no
    // exchange — so the operator's first shuffle is the df census's
    // map-side-combined partial aggregate instead of a corpus-wide
    // (doc_id, shingle) exchange followed by a doc_id count window.
    // This also shrinks the old four-consumer exchange-reuse RACE
    // (identical shingle subtrees sometimes deduplicated, sometimes
    // both computed, run to run — measured 8–30 s swings on q118 at
    // sf0.1): the shared subtree is now a cheap projection, so losing
    // the race costs a re-tokenize, not a re-shuffle. An eager
    // localCheckpoint remains off the table (measured SLOWER at sf1:
    // 38.9 s → 52.9 s — the materialization barrier out-costs the
    // duplicate work it saves).
    val sets = shingleSets(docs, n)
    val sh = shingleRows(docs, n)
    // EVERY join in this operator is strategy-hinted: the shingle,
    // prefix, and df tables are all corpus-proportional and their
    // measured shuffle sizes straddle the 10 MB AQE broadcast threshold
    // at bench SFs, so any join left to AQE re-decides run to run (the
    // round-14/15 q118 fingerprint flip-flop). Sort-merge everywhere a
    // side is corpus-shaped — spillable and the plan you'd run at
    // 100 TB, where none of these tables is broadcastable.
    val dfTab = dfPre.getOrElse(
      sh.groupBy("shingle").agg(count(lit(1)).as("df")))
    val ranked = sh.hint("merge").join(dfTab, Seq("shingle"))
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
          .orderBy(col("df"), col("shingle"))))
    val prefix = ranked.filter(col("rnk") <=
      col("n_shingles") - ceil(col("n_shingles") * threshold) + 1)
    // size-compatibility prune BEFORE the shingle fan-out: J >= t
    // forces t·|A| <= |B| and t·|B| <= |A| (J <= min/max), so an
    // incompatible candidate pair is dropped from one doc-level row
    // instead of being verified through |A| shingle rows. Result-
    // invisible (the final jaccard >= threshold filter subsumes it) —
    // the q118 hash pins that.
    val cand = prefix.as("a").hint("merge")
      .join(prefix.as("b"),
        col("a.shingle") === col("b.shingle") &&
          col("a.doc_id") < col("b.doc_id") &&
          col("a.n_shingles") * threshold <= col("b.n_shingles") &&
          col("b.n_shingles") * threshold <= col("a.n_shingles"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    // Round-18 verification reshape: intersect the two documents' SET
    // ARRAYS in-row instead of expanding candidates through the exploded
    // shingle table. The old shape shuffled the full corpus shingle
    // table twice (aSide by doc_a, bSide by (doc_b, shingle)) and
    // materialized the candidate×shingle EXPANSION (Σ|A| over candidate
    // pairs — pair-population-bound, ~100× sf0.1 at sf1) through a
    // sort-merge join + re-aggregate; the new shape semi-prunes the
    // array table to candidate documents FIRST (the candidate doc-id
    // set is pairs-derived and tiny — AQE broadcasts it at bench SFs
    // and falls back to a spillable merge join beyond), so only
    // candidate documents' arrays ride any exchange, and |A∩B| is one
    // in-row `array_intersect` over already-distinct arrays — exactly
    // count(*) of the old per-shingle join group, with no expansion
    // rows and no re-aggregate. The attach joins stay PINNED sort-merge:
    // candidate-pruned array tables measure ~10 MB at sf0.1 (the
    // broadcast-threshold straddle band — the round-14 q118 flip-flop
    // lesson), and sort-merge is the shape that spills at any size.
    val candA = cand.select(col("doc_a").as("doc_id")).distinct()
    val candB = cand.select(col("doc_b").as("doc_id")).distinct()
    val aArr = sets.join(candA, Seq("doc_id"), "left_semi")
      .select(col("doc_id").as("doc_a"), col("sharr").as("arr_a"),
        col("n_shingles").as("n_a"))
    val bArr = sets.join(candB, Seq("doc_id"), "left_semi")
      .select(col("doc_id").as("doc_b"), col("sharr").as("arr_b"),
        col("n_shingles").as("n_b"))
    cand.hint("merge").join(aArr, Seq("doc_a"))
      .hint("merge").join(bArr, Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("arr_a"), col("arr_b"))).cast("long")
          .as("n_inter"),
        col("n_a"), col("n_b"))
      .select(col("doc_a"), col("doc_b"),
        (col("n_inter").cast("double") /
          (col("n_a") + col("n_b") - col("n_inter"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Exact Jaccard pairs with the candidate strategy AUTO-SELECTED from a
    * measured df-distribution probe — the round-8 crossover
    * (docs/PLANS.md "Prefix-filter vs dfCap crossover") promoted from a
    * hand choice to a data-driven one. Both branches are EXACT (the
    * plain inverted index runs uncapped; the prefix filter verifies
    * against full shingle sets), so the result is identical either way —
    * only the plan differs:
    *
    *  - plain [[jaccardPairs]]: ~2 corpus passes + Σ df·(df−1)/2
    *    candidate pairs through the self-join. Fastest on flat-df
    *    corpora (no boilerplate), unrunnable once one shingle's df
    *    approaches √corpus (d²/2 pair bomb).
    *  - [[jaccardPairsPrefix]]: ~3 corpus passes + a per-doc rank
    *    window, near-zero candidates from hot shingles. ~1.5× slower on
    *    clean corpora, the only runnable plan on boilerplate-heavy ones.
    *
    * The probe shingles a deterministic ~1/`sampleMod` hash-sample of
    * documents and aggregates TWO numbers — postings `Σ df` and
    * candidate pairs `Σ df·(df−1)/2`. Under uniform doc sampling at rate
    * p, a doc pair survives with probability p², so E[pairs_s] =
    * p²·pairs while E[postings_s] ≈ p·postings: the full-corpus
    * pairs-per-posting ratio is estimated as
    * `(pairs_s/postings_s)·sampleMod` and the prefix branch is chosen
    * when it exceeds `passBudget` (default 3.0: candidate generation
    * would out-cost the prefix's one extra corpus pass with margin).
    *
    * TRUST RULE (measured, round 13): the sample is decisive only when
    * it holds ≥ `pairFloor` sampled PAIRS — pairs, not postings, are
    * the concentration-bearing quantity, because p² sampling
    * concentrates pair evidence into rare C(df_s,2) ≥ 1 events whose
    * variance dwarfs the posting count's (a 2% sample of the sf0.1
    * corpus held 5k postings but too few pairs, under-read the 4.9
    * true ratio and mis-picked the plain branch — exact still, +50%
    * runtime). Below the floor the probe re-runs on the full corpus
    * (one df pass — the price of a reliable answer on corpora too
    * small for p² evidence; at web scale pairs_s is astronomically
    * above the floor and the ~1/sampleMod pass is all you pay). The
    * probe's 1-row collect is a documented O(1) model read.
    */
  def jaccardPairsAuto(docs: DataFrame, threshold: Double, n: Int = 3,
                       passBudget: Double = 3.0,
                       sampleMod: Int = 10,
                       pairFloor: Double = 500.0): DataFrame = {
    require(passBudget > 0 && sampleMod >= 1,
      s"passBudget > 0 and sampleMod >= 1 required, got $passBudget/$sampleMod")
    def censusOf(d: DataFrame): DataFrame =
      shingles(d, n).groupBy("shingle").agg(count(lit(1)).as("df"))
    def statsOf(census: DataFrame): (Long, Double) = {
      val r = census
        .agg(sum(col("df")).as("postings"),
          sum(col("df") * (col("df") - 1) / 2.0).as("pairs"))
        .collect()(0)
      if (r.isNullAt(0)) (0L, 0.0) else (r.getLong(0), r.getDouble(1))
    }
    val sampled = docs.filter(
      pmod(graft.functions.Portable.hash60(
        concat(lit("jpa:"), col("doc_id").cast("string"))),
        lit(sampleMod)) === 0)
    val (postS, pairS) = statsOf(censusOf(sampled))
    if (pairS >= pairFloor && postS > 0) {
      // decisive sample: pick the branch from the p²-scaled ratio
      if (pairS / postS * sampleMod > passBudget)
        jaccardPairsPrefix(docs, threshold, n)
      else jaccardPairs(docs, threshold, n)
    } else {
      // indecisive sample: the reliable answer needs the FULL df census —
      // checkpoint it so the prefix branch (whose first pass IS this
      // exact census) reuses it instead of re-shingling the corpus
      // (round-19, §1.2; measured ~1.2 s of q118's sf0.1 cost). The
      // plain branch has no use for it, so the scope frees it there; in
      // the prefix case it is a leaf of the returned plan.
      Checkpoints.scoped { scope =>
        val census = scope.checkpoint(censusOf(docs))
        val (pf, rf) = statsOf(census)
        val usePrefix = pf > 0 && (if (pf == 0) 0.0 else rf / pf) > passBudget
        if (usePrefix) jaccardPairsPrefixImpl(docs, threshold, n, Some(census))
        else jaccardPairs(docs, threshold, n)
      }
    }
  }

  /** Exact substring-level duplication at token grain — the suffix-gram
    * re-expression of exact-substring dedup (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better": find
    * every substring of ≥ L tokens that occurs more than once in the
    * corpus; their suffix array becomes a distributed L-gram frequency
    * join here, which finds the identical spans at L-token resolution
    * without a global suffix sort). Every L-token window is hashed
    * (hash60 over the space-joined tokens); windows whose corpus
    * occurrence count ≥ `minCount` are duplicated-by-construction
    * (that window IS a repeated substring of length exactly L), and a
    * doc's overlapping/adjacent flagged windows merge into maximal
    * duplicated spans. Output per document: `n_spans`, `dup_tokens`
    * (tokens covered by duplicated spans), `n_tokens`, and `dup_ratio` —
    * the signal exact-substring curation thresholds on. Documents
    * shorter than L tokens carry zero spans (but still appear).
    *
    * Scale: the window hash is a 60-bit long BEFORE any shuffle (the
    * gramNovelty key-width lesson); the frequency table is a plain
    * map-side-combinable count (a corpus-universal boilerplate window
    * collapses to one row per map partition); the flag-back is an equi
    * join on the long hash whose skew AQE splits; and the span merge is
    * a per-document `aggregate()` fold over the doc's SORTED flagged
    * positions — bounded by the document's own token count, i.e. by the
    * text cell already held in one row, so no per-key window and no
    * unbounded state anywhere (`substring_dedup_boilerplate` shape).
    */
  def duplicatedSpans(docs: DataFrame, L: Int,
                      minCount: Long = 2L): DataFrame =
    duplicatedSpansFromStats(docs, gramStats(docs, L), L, minCount)

  /** Per-shard persistable gram-statistics table: (g, cnt, owner) — the
    * corpus frequency AND canonical owner (min doc_id) of every L-token
    * window hash. This is the INCREMENTAL seam of exact-substring
    * dedup: a pipeline that grows by shards persists one table per
    * shard and merges with [[mergeGramStats]] instead of re-hashing the
    * whole corpus per run (the q142 incremental-MinHash pattern).
    * Both aggregates are map-side combinable: a corpus-universal
    * boilerplate window collapses to one row per map partition
    * (`gram_merge_hot` shape).
    */
  def gramStats(docs: DataFrame, L: Int): DataFrame = {
    require(L >= 1, s"window length must be >= 1, got $L")
    tokenWindows(docs, L).groupBy("g")
      .agg(count(lit(1)).as("cnt"), min(col("doc_id")).as("owner"))
  }

  /** Merge shard gram tables: counts ADD and owners take the MIN over
    * any partition of the corpus into shards, so
    * merge(gramStats(A), gramStats(B)) ≡ gramStats(A ∪ B) exactly —
    * oracle-gated by q333 (merged shards vs the full-corpus recompute
    * hash). Associative and commutative: shards can merge in any order,
    * pairwise or all at once.
    */
  def mergeGramStats(tables: Seq[DataFrame]): DataFrame = {
    require(tables.nonEmpty, "mergeGramStats needs at least one table")
    tables.reduce(_.unionByName(_)).groupBy("g")
      .agg(sum(col("cnt")).as("cnt"), min(col("owner")).as("owner"))
  }

  /** [[duplicatedSpans]] against a SUPPLIED gram-statistics table (a
    * [[gramStats]] output or a [[mergeGramStats]] of shard tables) —
    * the incremental re-flag path: when a new shard arrives, merge its
    * stats into the persisted table and re-flag ONLY the affected
    * documents instead of re-counting the corpus. `docs` may be any
    * subset of the corpus the stats were built from.
    */
  def duplicatedSpansFromStats(docs: DataFrame, stats: DataFrame, L: Int,
                               minCount: Long = 2L): DataFrame = {
    require(L >= 1, s"window length must be >= 1, got $L")
    require(minCount >= 2L, s"minCount must be >= 2, got $minCount")
    val toks = docs.select(col("doc_id"), wsTokens(col("text")).as("w"))
      .select(col("doc_id"), col("w"), size(col("w")).cast("long").as("n_tokens"))
    val grams = tokenWindows(docs, L)
    val freq = stats.filter(col("cnt") >= minCount).select("g")
    val flagged = grams.join(freq, Seq("g"), "left_semi")
    // fold sorted flagged positions into maximal spans: windows [p, p+L)
    // merge while the next start is within prev start + L (overlap or
    // adjacency). state = (dup_tokens, n_spans, island_start, island_last)
    val folded = flagged.groupBy("doc_id")
      .agg(sort_array(collect_list(col("pos"))).as("ps"))
      .select(col("doc_id"),
        aggregate(col("ps"),
          struct(lit(0L).as("dt"), lit(0L).as("ns"),
            lit(-1L).as("s"), lit(-1L).as("e")),
          (st, p) => when(st.getField("s") === -1L,
              struct(st.getField("dt").as("dt"), st.getField("ns").as("ns"),
                p.cast("long").as("s"), p.cast("long").as("e")))
            .when(p <= st.getField("e") + L,
              struct(st.getField("dt").as("dt"), st.getField("ns").as("ns"),
                st.getField("s").as("s"), p.cast("long").as("e")))
            .otherwise(struct(
              (st.getField("dt") + st.getField("e") - st.getField("s") + L).as("dt"),
              (st.getField("ns") + 1L).as("ns"),
              p.cast("long").as("s"), p.cast("long").as("e"))),
          st => struct(
            when(st.getField("s") === -1L, st.getField("dt"))
              .otherwise(st.getField("dt") + st.getField("e") - st.getField("s") + L)
              .as("dt"),
            when(st.getField("s") === -1L, st.getField("ns"))
              .otherwise(st.getField("ns") + 1L).as("ns"))).as("agg"))
      .select(col("doc_id"), col("agg.ns").as("n_spans"),
        col("agg.dt").as("dup_tokens"))
    toks.select(col("doc_id"), col("n_tokens"))
      .join(folded, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        col("n_tokens"),
        (coalesce(col("dup_tokens"), lit(0L)).cast("double") /
          col("n_tokens")).as("dup_ratio"))
  }

  /** (doc_id, pos, g): every L-token window of every document, position
    * 1-based, `g` the 60-bit hash of the space-joined window — the
    * shared gram table of [[duplicatedSpans]] and [[spanProvenance]].
    * Pure projection + explode, no shuffle; the hash is a long BEFORE
    * any downstream exchange (the gramNovelty key-width lesson).
    */
  private def tokenWindows(docs: DataFrame, L: Int): DataFrame =
    docs.select(col("doc_id"), wsTokens(col("text")).as("w"))
      .select(col("doc_id"), col("w"),
        explode(sequence(lit(1), greatest(size(col("w")) - (L - 1), lit(1))))
          .as("pos"))
      .filter(col("pos") <= size(col("w")) - (L - 1))
      .select(col("doc_id"), col("pos"),
        graft.functions.Portable.hash60(concat_ws(" ",
          (0 until L).map(j => element_at(col("w"), col("pos") + j)): _*))
          .as("g"))

  /** Provenance attribution over [[duplicatedSpans]]' duplicated
    * windows: each window occurring ≥ `minCount` times has a CANONICAL
    * owner — the minimum doc_id holding it — and each document reports
    * how many of its duplicated windows it owns vs borrows
    * (`owned_share` null when the doc has none). This is the "which
    * copy do we keep" half of exact-substring curation: a doc with high
    * dup_ratio but owned_share ≈ 1 is the boilerplate SOURCE; the same
    * ratio with owned_share ≈ 0 is a derivative copy.
    *
    * Scale: the owner is a `min` riding the same map-side-combinable
    * count aggregate (one row per gram per map partition even for a
    * corpus-universal window); the flag-back equi join on the long hash
    * is AQE-skew-splittable; no window, no unbounded state.
    */
  def spanProvenance(docs: DataFrame, L: Int,
                     minCount: Long = 2L): DataFrame = {
    require(L >= 1, s"window length must be >= 1, got $L")
    require(minCount >= 2L, s"minCount must be >= 2, got $minCount")
    val grams = tokenWindows(docs, L)
    val hot = gramStats(docs, L)
      .filter(col("cnt") >= minCount)
      .select("g", "owner")
    val per = grams.join(hot, Seq("g"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("dup_windows"),
        sum(when(col("owner") === col("doc_id"), 1L).otherwise(0L))
          .as("owned_windows"))
    docs.select("doc_id")
      .join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("dup_windows"), lit(0L)).as("dup_windows"),
        coalesce(col("owned_windows"), lit(0L)).as("owned_windows"),
        when(col("dup_windows") > 0L,
          col("owned_windows").cast("double") / col("dup_windows"))
          .as("owned_share"))
  }

  /** Duplicated-span REMOVAL — the rewrite step exact-substring
    * curation actually ships (Lee et al. 2022 drop the repeated spans,
    * not the documents): re-emit each document's text with every token
    * cut that is covered by a FOREIGN duplicated window — an L-token
    * window occurring ≥ `minCount` times in the corpus whose canonical
    * owner (min doc_id) is another document. The canonical owner keeps
    * its copy, so exactly one occurrence of every repeated span
    * survives the corpus-wide rewrite (the keep-one discipline, made
    * deterministic by the min-doc_id owner rule of [[spanProvenance]]).
    *
    * Cut semantics are token-exact and engine-portable: the covered
    * token set is the union of the flagged windows' [p, p+L) intervals
    * (identical to [[duplicatedSpans]]' island merge), and the output
    * text is the surviving tokens joined by single spaces — a
    * whitespace-NORMALIZED rewrite (the tokenizer's grain; original
    * inter-token whitespace is not preserved, by contract). Documents
    * with no foreign spans re-emit all their tokens; documents fully
    * covered emit the empty string. Returns (doc_id, clean_text,
    * n_tokens, kept_tokens, cut_tokens).
    *
    * Scale: the gram census and flag-back join are exactly
    * [[duplicatedSpans]]' (combinable count+min, AQE-splittable long-
    * hash equi join); the only new work is the per-document rebuild —
    * an `aggregate()` fold over the doc's SORTED foreign positions that
    * emits the inter-island token slices as it walks (scalar island
    * state, one slice per kept segment), so per-doc cost is
    * O(n_spans + n_tokens) and bounded by the text cell already held
    * in one row. No new shuffle shape anywhere.
    */
  def removeDuplicatedSpans(docs: DataFrame, L: Int,
                            minCount: Long = 2L): DataFrame =
    removeDuplicatedSpansFromStats(docs, gramStats(docs, L), L, minCount)

  /** [[removeDuplicatedSpans]] against a SUPPLIED gram-statistics table
    * (a [[gramStats]] output or a [[mergeGramStats]] of shard tables) —
    * the incremental REWRITE path: when a new shard arrives, merge its
    * stats into the persisted table and re-cut ONLY the affected
    * documents instead of re-counting the corpus (the
    * [[duplicatedSpansFromStats]] seam, for the rewrite half). `docs`
    * may be any subset of the corpus the stats were built from; owners
    * referenced by the stats keep their copies even when absent from
    * `docs`.
    */
  def removeDuplicatedSpansFromStats(docs: DataFrame, stats: DataFrame,
                                     L: Int,
                                     minCount: Long = 2L): DataFrame = {
    require(L >= 1, s"window length must be >= 1, got $L")
    require(minCount >= 2L, s"minCount must be >= 2, got $minCount")
    val toks = docs.select(col("doc_id"), wsTokens(col("text")).as("w"))
    val hot = stats
      .filter(col("cnt") >= minCount)
      .select("g", "owner")
    val cuts = tokenWindows(docs, L).join(hot, Seq("g"))
      .filter(col("owner") =!= col("doc_id"))
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("pos").cast("long"))).as("ps"))
    val empt = array().cast("array<string>")
    // walk the sorted foreign starts with scalar island state
    // (kept-so-far, next-unemitted cursor, island start/end): a new
    // island first flushes the kept slice before it; extending an
    // island (p <= e + L — the duplicatedSpans merge rule) just moves
    // the island end; the finish flushes the tail after the last island.
    val kept = toks.join(cuts, Seq("doc_id"), "left")
      .select(col("doc_id"), col("w"),
        size(col("w")).cast("long").as("n_tokens"),
        aggregate(coalesce(col("ps"), array().cast("array<long>")),
          struct(empt.as("k"), lit(1L).as("cur"),
            lit(-1L).as("s"), lit(-1L).as("e")),
          (st, p) => when(st.getField("s") === -1L,
              struct(concat(st.getField("k"),
                  slice(col("w"), st.getField("cur"),
                    p - st.getField("cur"))).as("k"),
                p.as("cur"), p.as("s"), p.as("e")))
            .when(p <= st.getField("e") + L,
              struct(st.getField("k").as("k"), st.getField("cur").as("cur"),
                st.getField("s").as("s"), p.as("e")))
            .otherwise(struct(concat(st.getField("k"),
                slice(col("w"), st.getField("e") + L,
                  p - st.getField("e") - L)).as("k"),
              p.as("cur"), p.as("s"), p.as("e"))),
          st => when(st.getField("s") === -1L,
              concat(st.getField("k"), slice(col("w"), st.getField("cur"),
                size(col("w")) - st.getField("cur") + 1)))
            .otherwise(concat(st.getField("k"),
              slice(col("w"), st.getField("e") + L,
                size(col("w")) - st.getField("e") - L + 1)))).as("kw"))
    kept.select(col("doc_id"),
      concat_ws(" ", col("kw")).as("clean_text"),
      col("n_tokens"),
      size(col("kw")).cast("long").as("kept_tokens"),
      (col("n_tokens") - size(col("kw")).cast("long")).as("cut_tokens"))
  }

  /** Cross-attribute duplication FLOW over [[spanProvenance]]'s
    * windows: for every duplicated L-token window held by a document
    * that is NOT its canonical owner (min doc_id), one (owner_attr →
    * borrower_attr) edge — aggregated to the matrix "how many duplicated
    * windows does source B carry that source A owns". The
    * which-source-scrapes-which census that decides where dedup effort
    * (or a licensing conversation) goes. Diagonal rows are within-source
    * copying (owner ≠ doc but same attr).
    *
    * Scale: the owner rides the combinable (count, min) gram aggregate;
    * attrs attach via two joins against the SMALL (doc_id, attr)
    * projection — broadcast when it fits, AQE-split otherwise; the
    * matrix groupBy is |attrs|² rows. No window, no unbounded state.
    */
  def dupFlow(docs: DataFrame, L: Int, attrCol: String,
              minCount: Long = 2L): DataFrame = {
    require(L >= 1, s"window length must be >= 1, got $L")
    require(minCount >= 2L, s"minCount must be >= 2, got $minCount")
    val grams = tokenWindows(docs, L)
    val hot = gramStats(docs, L)
      .filter(col("cnt") >= minCount)
      .select("g", "owner")
    val attrs = docs.select(col("doc_id"), col(attrCol))
    val borrowed = grams.join(hot, Seq("g"))
      .filter(col("doc_id") =!= col("owner"))
    borrowed
      .join(attrs.select(col("doc_id"),
        col(attrCol).as("borrower_attr")), Seq("doc_id"))
      .join(attrs.select(col("doc_id").as("owner"),
        col(attrCol).as("owner_attr")), Seq("owner"))
      .groupBy("owner_attr", "borrower_attr")
      .agg(count(lit(1)).as("n_windows"))
  }

  /** Containment (overlap-coefficient) near-dup pairs: for every (a < b)
    * pair sharing a shingle, the fraction of EACH document's shingle set
    * found in the other — `|A∩B|/|A|` and `|A∩B|/|B|` — kept when either
    * direction reaches `threshold`. This is the asymmetric signal Jaccard
    * misses: a short document quoted wholesale inside a long one has high
    * containment but low Jaccard, and training-data curation usually
    * wants the quote dropped. Same inverted-index join discipline (and
    * the same hot-shingle caveat) as [[jaccardPairs]].
    *
    * PRECONDITION: `doc_id` unique per input row ([[shingleSets]]) —
    * duplicate doc_id rows are not set-merged across rows.
    */
  def containmentPairs(docs: DataFrame, threshold: Double,
                       n: Int = 3): DataFrame = {
    // |set| rides in-row ([[shingleSets]]) — no set-distinct exchange,
    // no count window (round-18, same reshape as [[jaccardPairs]])
    val sh = shingleRows(docs, n)
    // merge pin: same static-estimate broadcast hazard as
    // [[jaccardPairs]]' self-join (no exchange below the join since the
    // in-row reshape)
    sh.as("a").hint("merge")
      .join(sh.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.n_shingles").as("n_a"), col("b.n_shingles").as("n_b"))
      .agg(count(lit(1)).as("n_inter"))
      .select(col("doc_a"), col("doc_b"),
        (col("n_inter").cast("double") / col("n_a")).as("cont_a_in_b"),
        (col("n_inter").cast("double") / col("n_b")).as("cont_b_in_a"))
      .filter(greatest(col("cont_a_in_b"), col("cont_b_in_a")) >= threshold)
  }

  /** Chunk-level duplication stats (the RefinedWeb/CCNet line-dedup
    * signal at fixed granularity): split each document into
    * non-overlapping `window`-token chunks
    * ([[TextAnalysis.slidingChunks]] with stride = window), count for
    * each chunk how many DISTINCT documents contain it, and roll up per
    * document: total chunks, chunks shared with at least one other
    * document, and the shared fraction — the signal that finds documents
    * which are mostly templated/boilerplate even when no whole-document
    * near-dup fires. `keep` flags documents under `maxSharedFrac`.
    *
    * Scale: chunk identity is reduced to a 60-bit truncation of the
    * chunk md5 BEFORE any shuffle, so the df aggregate and the join-back
    * move (8-byte hash, 8-byte doc id) rows — never digest strings, let
    * alone chunk text. This is the [[graft.ext.TextAnalysis.gramNovelty]]
    * lesson applied preemptively: with 32-char digest keys, a
    * corpus-universal boilerplate chunk's join partition crossed a
    * single-task memory cliff at 10M docs (measured superlinear,
    * per-row ratio 2.3); with long keys the same planted-hot-chunk shape
    * runs linear (`chunk_dedup_hot_chunk` decade shape: ratio 1.10,
    * SURVEY.md). The df count
    * is a partial aggregate, AQE splits the join-back skew, and 60-bit
    * collisions misattribute a chunk with probability ~n²/2⁶¹ —
    * negligible against the boilerplate signal.
    */
  def chunkDupStats(docs: DataFrame, window: Int,
                    maxSharedFrac: Double): DataFrame = {
    val chunks = TextAnalysis.slidingChunks(docs, window, window)
      .select(col("doc_id"),
        conv(substring(col("chunk_md5"), 1, 15), 16, 10).cast("long")
          .as("chunk_h"))
    // df = distinct docs per chunk — as distinct-PAIRS then a plain
    // count, NOT countDistinct(doc_id): a count-distinct's dedup phase
    // shuffles every (hot chunk, doc) pair to ONE reducer (partial
    // aggregation cannot collapse distinct pairs, and AQE cannot split
    // an aggregate's skewed partition the way it splits a join's). The
    // pair-distinct exchanges on BOTH columns — balanced under any
    // skew — and the count after it is map-side combinable.
    val df_ = chunks.distinct()
      .groupBy("chunk_h")
      .agg(count(lit(1)).as("chunk_df"))
    chunks.join(df_, Seq("chunk_h"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("chunk_df") > 1, 1L).otherwise(0L))
          .as("n_shared_chunks"))
      .select(col("doc_id"), col("n_chunks"), col("n_shared_chunks"),
        (col("n_shared_chunks").cast("double") / col("n_chunks"))
          .as("shared_frac"))
      .withColumn("keep", col("shared_frac") < maxSharedFrac)
  }

  /** MinHash signature: numHashes min-hashes over word n-gram shingles via
    * the affine family (one md5 per shingle, not per seed×shingle). One
    * shuffle (groupBy doc_id); signature width is constant.
    */
  def minhashSignature(docs: DataFrame, numHashes: Int = 16, n: Int = 3): DataFrame = {
    val consts = graft.functions.Portable.minhashConstants(numHashes)
    val p = graft.functions.Portable.MinhashPrime
    // min() is duplicate-insensitive, so the set-semantics distinct (and
    // its shuffle) is unnecessary here — raw shingles feed the aggregate
    val base = shinglesRaw(docs, n).withColumn("h30", hash30(col("shingle")))
    def seeded(s: Int) = {
      val (a, b) = consts(s)
      (lit(a) * col("h30") + lit(b)) % lit(p)
    }
    base.groupBy("doc_id")
      .agg(
        min(seeded(0)).as("h0"),
        (1 until numHashes).map(s => min(seeded(s)).as(s"h$s")): _*)
  }

  /** LSH banding: candidate near-duplicate pairs = documents sharing at
    * least one band of the MinHash signature. Output includes how many
    * bands agree (more bands ⇒ higher similarity).
    */
  def minhashCandidates(docs: DataFrame, numHashes: Int = 16,
                        rowsPerBand: Int = 4, n: Int = 3): DataFrame = {
    require(numHashes % rowsPerBand == 0,
      s"numHashes ($numHashes) must be divisible by rowsPerBand ($rowsPerBand)")
    val numBands = numHashes / rowsPerBand
    val sig = minhashSignature(docs, numHashes, n)
    val bandCols = (0 until numBands).map { b =>
      val key = md5(concat_ws(",",
        (0 until rowsPerBand).map(r => col(s"h${b * rowsPerBand + r}")): _*))
      struct(lit(b).as("band"), key.as("bkey"))
    }
    val banded = sig.select(col("doc_id"), explode(array(bandCols: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.bkey").as("bkey"))
    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_bands"))
  }

  /** Incremental MinHash-LSH for snapshot-over-snapshot ingest: candidate
    * near-dup pairs between INCOMING documents and the EXISTING corpus —
    * the recurring-crawl shape where re-banding existing-vs-existing
    * every batch would redo almost all the work. Signatures and banding
    * are identical to [[minhashCandidates]] (same hash family, same band
    * keys — a production deployment stores the existing side's banded
    * keys and only computes the incoming side per batch); the join is
    * incoming × existing only, so per-batch cost is
    * O(incoming × bands + matches), never O(corpus²) and never a
    * re-scan of existing×existing pairs.
    */
  def minhashCandidatesIncremental(incoming: DataFrame, existing: DataFrame,
                                   numHashes: Int = 16, rowsPerBand: Int = 4,
                                   n: Int = 3): DataFrame = {
    require(numHashes % rowsPerBand == 0,
      s"numHashes ($numHashes) must be divisible by rowsPerBand ($rowsPerBand)")
    val numBands = numHashes / rowsPerBand
    def banded(docs: DataFrame): DataFrame = {
      val sig = minhashSignature(docs, numHashes, n)
      val bandCols = (0 until numBands).map { b =>
        val key = md5(concat_ws(",",
          (0 until rowsPerBand).map(r => col(s"h${b * rowsPerBand + r}")): _*))
        struct(lit(b).as("band"), key.as("bkey"))
      }
      sig.select(col("doc_id"), explode(array(bandCols: _*)).as("bk"))
        .select(col("doc_id"), col("bk.band").as("band"),
          col("bk.bkey").as("bkey"))
    }
    banded(incoming).as("a")
      .join(banded(existing).as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") =!= col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_in"), col("b.doc_id").as("doc_ex"))
      .agg(count(lit(1)).as("n_bands"))
  }

  /** MinHash estimator validation: for every LSH candidate pair, the
    * signature-agreement Jaccard ESTIMATE (agreeing hash slots / total —
    * the textbook unbiased estimator) next to the EXACT shingle Jaccard.
    * This is the sketch-quality audit a pipeline runs before trusting
    * banded MinHash at a new threshold: the output is a per-pair
    * (estimate, exact, |error|) table, integer-exact except for two
    * per-row divisions.
    *
    * Cost: candidates come from the banded join (never all pairs);
    * signatures are re-joined per candidate (2×|candidates| signature
    * rows), and the exact Jaccard runs the inverted-index intersection
    * ONLY for candidate pairs — the verification pattern of
    * [[jaccardPairsPrefix]].
    *
    * Candidates with ZERO shared shingles (band-key/minhash collisions)
    * are kept with exact Jaccard 0.0 — the exact side is LEFT-joined,
    * not inner-joined, because those are precisely the maximum-error
    * pairs a sketch-quality audit exists to surface.
    */
  def minhashEstimateVsExact(docs: DataFrame, numHashes: Int = 16,
                             rowsPerBand: Int = 4, n: Int = 3): DataFrame = {
    val cand = minhashCandidates(docs, numHashes, rowsPerBand, n)
      .select("doc_a", "doc_b")
    val sig = minhashSignature(docs, numHashes, n)
    val agree = (0 until numHashes)
      .map(i => when(col(s"a.h$i") === col(s"b.h$i"), 1L).otherwise(0L))
      .reduce(_ + _)
    val est = cand
      .join(sig.as("a"), col("doc_a") === col("a.doc_id"))
      .join(sig.as("b"), col("doc_b") === col("b.doc_id"))
      .select(col("doc_a"), col("doc_b"), agree.as("n_agree"))
    // in-row array verification (round-18 — the [[jaccardPairsPrefix]]
    // reshape): candidate pairs attach both documents' in-row shingle
    // SET arrays and intersect per row, instead of expanding through
    // the exploded corpus shingle table. A zero-intersection candidate
    // now yields an explicit jaccard-0.0 row where the old per-shingle
    // inner join yielded no row — the left join + coalesce(0.0) below
    // produces the same output either way.
    // merge pins: the array sides are corpus-shaped with static (no
    // exchange beneath) size estimates — unpinned, the planner would
    // broadcast them (wrong at scale, the jaccardPairs self-join hazard)
    val sets = shingleSets(docs, n)
    val exact = cand.hint("merge")
      .join(sets.select(col("doc_id").as("doc_a"),
        col("sharr").as("arr_a"), col("n_shingles").as("n_a")), Seq("doc_a"))
      .hint("merge")
      .join(sets.select(col("doc_id").as("doc_b"),
        col("sharr").as("arr_b"), col("n_shingles").as("n_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("arr_a"), col("arr_b"))).cast("long")
          .as("n_inter"),
        col("n_a"), col("n_b"))
      .select(col("doc_a"), col("doc_b"),
        (col("n_inter").cast("double") /
          (col("n_a") + col("n_b") - col("n_inter"))).as("jaccard"))
    est.join(exact, Seq("doc_a", "doc_b"), "left")
      .select(col("doc_a"), col("doc_b"), col("n_agree"),
        (col("n_agree").cast("double") / numHashes).as("est"),
        coalesce(col("jaccard"), lit(0.0)).as("jaccard"),
        round(abs(col("n_agree").cast("double") / numHashes -
          coalesce(col("jaccard"), lit(0.0))), 6).as("abs_err"))
  }

  /** 60-bit SimHash over the distinct-token set (weight 1 per token). */
  def simhash(docs: DataFrame, bits: Int = 60): DataFrame = {
    val tok = docs
      .select(col("doc_id"),
        explode(array_distinct(wsTokens(col("text")))).as("tok"))
      .withColumn("h", hash60(col("tok")))
    val bitSums = tok.groupBy("doc_id").agg(
      sum(shiftright(col("h"), 0).bitwiseAND(1) * 2 - 1).as("b0"),
      (1 until bits).map(b =>
        sum(shiftright(col("h"), b).bitwiseAND(1) * 2 - 1).as(s"b$b")): _*)
    bitSums.select(col("doc_id"),
      (0 until bits).map(b =>
        when(col(s"b$b") > 0, shiftleft(lit(1L), b)).otherwise(lit(0L)))
        .reduce(_ + _).as("simhash"))
  }

  /** SimHash near-duplicate pairs with Hamming distance <= maxDist, using
    * band-of-bits blocking (pigeonhole: distance <= d pairs must agree on
    * at least one of d+1 bit-bands) — never a cross join.
    */
  def simhashPairs(docs: DataFrame, maxDist: Int = 3, bits: Int = 60): DataFrame = {
    val numBands = maxDist + 1
    val bandBits = bits / numBands
    val sig = simhash(docs, bits)
    val banded = sig.select(col("doc_id"), col("simhash"),
      explode(array((0 until numBands).map { b =>
        struct(lit(b).as("band"),
          shiftright(col("simhash"), b * bandBits)
            .bitwiseAND((1L << bandBits) - 1).as("bkey"))
      }: _*)).as("bk"))
      .select(col("doc_id"), col("simhash"),
        col("bk.band").as("band"), col("bk.bkey").as("bkey"))
    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxDist)
  }

  /** Cross-SLICE n-gram Jaccard matrix: exact set overlap between the
    * distinct-gram vocabularies of every corpus slice pair (source,
    * domain, crawl snapshot). The slice-level duplication audit — "how
    * much of source B is re-scraped source A" — at gram-SET grain,
    * complementing [[duplicatedSpans]]' doc-positional attribution.
    *
    * Scale contract: `sliceCol` is a SLICE key (sources/domains, ≤ ~10³
    * values), NOT a document key — a gram present in s slices expands
    * to s(−1)/2 pair rows in the intersection join, so cardinality is
    * bounded by |grams|·S², never |docs|². The per-slice gram sets are
    * one distinct groupBy (hot grams collapse map-side per slice);
    * slice sizes broadcast onto the ≤ S² result. All counts exact
    * integers; Jaccard is one IEEE division.
    */
  def sliceGramJaccard(docs: DataFrame, sliceCol: String,
                       n: Int = 3): DataFrame = {
    val grams = shinglesRaw(
      docs.select(col(sliceCol).as("doc_id"), col("text")), n)
      .select(col("doc_id").as("__slice"), hash60(col("shingle")).as("__h"))
      .distinct()
    val sizes = grams.groupBy(col("__slice")).agg(count(lit(1)).as("sz"))
    val inter = grams.as("a")
      .join(grams.as("b"),
        col("a.__h") === col("b.__h") &&
          col("a.__slice") < col("b.__slice"))
      .groupBy(col("a.__slice").as("slice_a"),
        col("b.__slice").as("slice_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(broadcast(sizes.select(col("__slice").as("slice_a"),
        col("sz").as("size_a"))), Seq("slice_a"))
      .join(broadcast(sizes.select(col("__slice").as("slice_b"),
        col("sz").as("size_b"))), Seq("slice_b"))
      .select(col("slice_a"), col("slice_b"), col("size_a"),
        col("size_b"), col("inter"),
        (col("inter").cast("double") /
          (col("size_a") + col("size_b") - col("inter")).cast("double"))
          .as("jaccard"))
  }
}
