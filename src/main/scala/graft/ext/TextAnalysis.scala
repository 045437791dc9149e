package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.engine.Skew
import graft.functions.Portable.wsTokens

/** Text-analysis operators for a large-scale training-data pipeline:
  * token counting, quality scoring, n-gram-heuristic language ID, and
  * content fingerprinting. Every operator is a narrow projection over the
  * `text` column — embarrassingly parallel, no shuffle, full whole-stage
  * codegen — so throughput at 100 TB is bounded only by scan bandwidth.
  */
object TextAnalysis {

  /** Stopword sets for the language-ID heuristic (tiny on purpose — the
    * operator is a deterministic scoring rule, not a trained model).
    */
  val langStopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "is", "a"),
    "es" -> Seq("el", "la", "de", "que", "y"),
    "fr" -> Seq("le", "les", "des", "et", "une"),
    "de" -> Seq("der", "die", "und", "ein", "ist"))

  val enStopwords: Seq[String] =
    Seq("the", "a", "and", "of", "to", "in", "is", "it", "for", "on")

  private def countIn(tokens: Column, words: Seq[String]): Column =
    size(filter(tokens, t => t.isin(words.map(_.asInstanceOf[Any]): _*)))

  /** Sliding-window chunking (the RAG / context-window prep step): each
    * document becomes ceil(n_tokens / stride) overlapping chunks of up to
    * `window` tokens, starting every `stride` tokens. Pure
    * projection + explode — no shuffle, chunk boundaries depend only on
    * the document itself, so the operator is embarrassingly parallel and
    * re-chunking after an upstream filter never moves data. Emits the
    * chunk text's md5 (stable identity for downstream dedup/indexing)
    * and the chunk's token count; keep `stride <= window` for full
    * coverage with `window - stride` token overlap.
    */
  def slidingChunks(docs: DataFrame, window: Int, stride: Int): DataFrame = {
    require(window > 0 && stride > 0,
      s"window/stride must be positive, got $window/$stride")
    require(stride <= window,
      s"stride ($stride) > window ($window) silently skips tokens — " +
        "every (stride - window)-token gap would be missing from coverage")
    val toks = wsTokens(col("text"))
    docs
      .select(col("doc_id"), toks.as("__toks"))
      .select(col("doc_id"), col("__toks"),
        explode(sequence(lit(1), size(col("__toks")), lit(stride)))
          .as("__start"))
      .select(col("doc_id"),
        // `div` = integer division (Column./ would round-trip double)
        expr(s"(__start - 1) div $stride").cast("long").as("chunk_idx"),
        size(slice(col("__toks"), col("__start"), lit(window)))
          .cast("long").as("chunk_tokens"),
        md5(concat_ws(" ",
          slice(col("__toks"), col("__start"), lit(window))))
          .as("chunk_md5"))
  }

  /** Corpus-level segment dedup — the C4/RefinedWeb "remove any line
    * that repeats across the corpus" boilerplate rule, re-expressed for
    * delimiter-free text: cut each document into fixed `segTokens`-token
    * segments (the deterministic stand-in for lines), drop every segment
    * whose content occurs in >= `minDocs` DISTINCT documents (shared
    * headers/footers/license blocks), and reassemble the survivors in
    * document order. Returns (doc_id, clean_text, segs_kept,
    * segs_removed) — one row per input document, fully-boilerplate
    * documents included with an empty clean_text.
    *
    * Scale shape: segmentation is a pure projection (no shuffle);
    * document frequency is pair-distinct + a combinable count (never
    * `countDistinct` grouped by a hotable hash — the q127 rule); the
    * repeated-segment filter is [[Skew.saltedLeftAnti]], because the
    * exact adversarial input this operator exists for — ONE boilerplate
    * segment carried by half the corpus — would serialize a plain
    * anti-join's hot hash into a single task. Reassembly state is
    * bounded by single-document length (`collect_list` per doc_id),
    * never by corpus size.
    */
  def dedupSegments(docs: DataFrame, segTokens: Int, minDocs: Long,
                    saltF: Int = 32): DataFrame = {
    require(segTokens >= 1, s"segTokens must be >= 1, got $segTokens")
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val base = docs
      .select(col("doc_id"), wsTokens(col("text")).as("__toks"))
      .select(col("doc_id"), col("__toks"),
        (expr(s"(size(__toks) - 1) div $segTokens") + 1)
          .cast("long").as("n_segs"))
    val segs = base.select(col("doc_id"),
        posexplode(expr(
          s"""transform(sequence(0, cast(n_segs as int) - 1),
              i -> array_join(slice(__toks, i * $segTokens + 1,
                                    $segTokens), ' '))""")))
      .select(col("doc_id"), col("pos").cast("long").as("seg_id"),
        col("col").as("seg"), md5(col("col")).as("h"))
    val hot = segs.select("h", "doc_id").distinct()
      .groupBy("h").agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= minDocs)
      .select("h")
    val kept = Skew.saltedLeftAnti(segs, hot, "h", saltF)
    val rebuilt = kept.groupBy("doc_id").agg(
      count(lit(1)).as("segs_kept"),
      array_join(
        transform(
          array_sort(collect_list(struct(col("seg_id"), col("seg")))),
          x => x.getField("seg")),
        " ").as("clean_text"))
    base.select(col("doc_id"), col("n_segs"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("segs_kept"), lit(0L)).as("segs_kept"),
        (col("n_segs") - coalesce(col("segs_kept"), lit(0L)))
          .as("segs_removed"))
  }

  /** Exact corpus vocabulary: the `topV` most frequent whitespace
    * tokens, ties broken by the lexicographically smaller token. One
    * combinable count aggregate, then a global top-V — Spark plans
    * `TakeOrderedAndProject`, which keeps O(topV) state per partition
    * and never materializes the full sorted token table, so the cost at
    * 100 TB is the token-count shuffle alone. Returns (tok, cnt).
    */
  def vocabulary(docs: DataFrame, topV: Int): DataFrame = {
    require(topV >= 1, s"topV must be >= 1, got $topV")
    docs.select(explode(wsTokens(col("text"))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("tok").asc)
      .limit(topV)
  }

  /** Per-document out-of-vocabulary rate against a (small) vocabulary —
    * the tokenizer-coverage signal curation pipelines threshold on
    * (high OOV = wrong language, encoding damage, or boilerplate the
    * tokenizer will shred). `vocab` must expose a `tok` column and is
    * BROADCAST (a vocabulary is tens of thousands of rows — never big
    * enough to justify shuffling the corpus tokens). The vocab is
    * deduplicated first: a repeated `tok` row would otherwise MULTIPLY
    * matching token rows through the join, inflating n_tokens and
    * deflating oov_pct — and the distinct is free at vocab size. Emits
    * (doc_id, n_tokens, n_oov, oov_pct); oov_pct is one IEEE division
    * over exact integer aggregates, so it is bit-portable.
    */
  def oovStats(docs: DataFrame, vocab: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(wsTokens(col("text"))).as("tok"))
      .join(broadcast(vocab.select(col("tok")).distinct()
        .withColumn("__in_vocab", lit(true))), Seq("tok"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("__in_vocab").isNull, lit(1L)).otherwise(lit(0L)))
          .as("n_oov"))
      .withColumn("oov_pct",
        (col("n_oov") * 100).cast("double") / col("n_tokens"))

  /** Inverted index with CAPPED posting lists: per distinct whitespace
    * token, its exact document frequency and the `k` lowest doc_ids that
    * contain it, rank-numbered — the retrieval-index build step, shaped
    * so stopword-grade tokens cannot melt it.
    *
    * Scale design: the (tok, doc) incidence is deduplicated once (one
    * shuffle), then BOTH outputs come from bounded-state combinable
    * aggregates over it — `count` for df, and the native
    * [[graft.functions.TopKLongPairs]] aggregate for the postings, which
    * prunes every map partition's contribution to k rows BEFORE the
    * shuffle. A `collect_list`-then-slice (or a per-token row_number
    * window) would buffer a hot token's entire posting set in one task —
    * exactly the hot-group straggler the top-k aggregate exists to kill.
    * The df count and the postings shuffle on the same token key, so the
    * final join is co-partitioned. Emits (tok, df, rnk, doc_id), k rows
    * max per token.
    */
  def invertedIndex(docs: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"posting cap must be >= 1, got $k")
    val pairs = docs
      .select(col("doc_id"), explode(wsTokens(col("text"))).as("tok"))
      .distinct()
    val dfc = pairs.groupBy("tok").agg(count(lit(1)).as("df"))
    // TopKLongPairs keeps the k LARGEST by (key DESC, id ASC); negating
    // doc_id turns that into the k smallest doc_ids in ascending order
    val postings = graft.functions.TopKFunctions.topkPerGroup(
      pairs, Seq(col("tok")), -col("doc_id"), col("doc_id"), k)
    postings.join(dfc, "tok")
      .select(col("tok"), col("df"), col("rnk"), col("id").as("doc_id"))
  }

  /** Token counts: whitespace tokens and BPE-ish word/symbol pieces. */
  def tokenCounts(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      size(wsTokens(col("text"))).cast("long").as("n_tokens_ws"),
      size(regexp_extract_all(col("text"),
        lit("[a-z0-9]+|[^a-z0-9\\s]"), lit(0))).cast("long").as("n_tokens_re"))

  /** Quality scoring: length, punctuation density, stopword density, and
    * average token length, combined into one [0,1] score.
    */
  def quality(docs: DataFrame): DataFrame = {
    val toks = wsTokens(col("text"))
    docs.select(
      col("doc_id"),
      size(toks).cast("long").as("n_tokens"),
      // empty text would make this an ANSI DIVIDE_BY_ZERO; score it 0
      when(length(col("text")) > 0,
        length(regexp_replace(col("text"), "[^a-z0-9\\s]", ""))
          .cast("double") / length(col("text")))
        .otherwise(0.0).as("alnum_ratio"),
      (countIn(toks, enStopwords).cast("double") / size(toks))
        .as("stopword_ratio"),
      (length(regexp_replace(col("text"), "\\s", "")).cast("double") /
        size(toks)).as("avg_token_len"))
      .withColumn("quality_score",
        lit(0.4) * least(col("n_tokens") / 50.0, lit(1.0)) +
          lit(0.3) * least(col("stopword_ratio") * 5.0, lit(1.0)) +
          lit(0.3) * col("alnum_ratio"))
  }

  /** Language ID: score each language's stopword hits; argmax with a fixed
    * priority order (en > es > fr > de) and 'und' when nothing matches.
    */
  def langId(docs: DataFrame): DataFrame = {
    // null text must land in 'und', not fall through NULL comparisons to
    // the final otherwise() branch ('de')
    val toks = wsTokens(coalesce(col("text"), lit("")))
    val scored = docs.select(
      col("doc_id") +: langStopwords.map { case (l, ws) =>
        countIn(toks, ws).cast("long").as(s"c_$l")
      }: _*)
    val Seq(en, es, fr, de) = langStopwords.map(l => col(s"c_${l._1}"))
    scored.withColumn("lang_pred",
      when(en + es + fr + de === 0, "und")
        .when(en >= es && en >= fr && en >= de, "en")
        .when(es >= fr && es >= de, "es")
        .when(fr >= de, "fr")
        .otherwise("de"))
  }

  /** Content fingerprint: md5 over the sorted distinct token set — an
    * order-insensitive document signature for exact bag-of-words dedup.
    */
  def fingerprint(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      md5(concat_ws(" ", array_sort(array_distinct(wsTokens(col("text"))))))
        .as("fp"))

  /** Word n-gram array of `tokens` (space-joined); empty when the document
    * has fewer than `n` tokens. Shared by [[repetition]].
    */
  private def grams(n: Int): Column =
    when(size(col("__w")) >= n,
      expr(s"transform(sequence(1, size(__w) - ${n - 1}), " +
        s"i -> concat_ws(' ', slice(__w, i, $n)))"))
      .otherwise(expr("array()"))

  /** Duplicate n-gram fraction — the Gopher/C4-style within-document
    * repetition signal used to drop boilerplate and degenerate text. For
    * n = 2 and n = 3: gram count, distinct gram count, and
    * `dup_frac_n = 1 - distinct/total` (0 for documents too short to have
    * grams). Pure per-row projection: no shuffle, codegen-friendly.
    */
  def repetition(docs: DataFrame): DataFrame = {
    def frac(total: Column, uniq: Column): Column =
      when(total === 0, lit(0.0))
        .otherwise(lit(1.0) - uniq.cast("double") / total)
    // gram COUNTS come from the token count alone — only the distinct
    // counts need the gram arrays materialized (once each, not per use)
    docs.select(col("doc_id"), wsTokens(col("text")).as("__w"))
      .withColumn("n_grams2",
        greatest(size(col("__w")) - 1, lit(0)).cast("long"))
      .withColumn("n_uniq2", size(array_distinct(grams(2))).cast("long"))
      .withColumn("n_grams3",
        greatest(size(col("__w")) - 2, lit(0)).cast("long"))
      .withColumn("n_uniq3", size(array_distinct(grams(3))).cast("long"))
      .select(col("doc_id"), col("n_grams2"), col("n_uniq2"),
        frac(col("n_grams2"), col("n_uniq2")).as("dup_frac2"),
        col("n_grams3"), col("n_uniq3"),
        frac(col("n_grams3"), col("n_uniq3")).as("dup_frac3"))
  }

  /** Per-document n-gram novelty — the dedup-adjacent "how much of this
    * document has the corpus already seen" signal used to down-weight
    * boilerplate when ordering training data. For each document:
    * the count of its DISTINCT word n-grams, and how many of those grams
    * first occur in this document (first occurrence = minimum doc_id over
    * the whole corpus; any total order over a unique id works).
    *
    * Scale: grams are reduced to the portable 60-bit md5 before any
    * movement, so the exchanges carry (8-byte gram hash, 8-byte doc id)
    * pairs — never gram strings. `array_distinct` runs per row BEFORE the
    * explode, so within-document duplicate grams are dropped at the scan
    * and every exchange is already distinct-pair-sized. The
    * first-occurrence min is a `groupBy(gram_h).agg(min)` joined back —
    * NOT a window over the gram hash: a window buffers and sorts each
    * gram's full partition in one task, so a corpus-universal gram (every
    * doc shares it) becomes one straggler task holding ~n_docs rows. The
    * aggregate's map-side combine collapses a hot gram to one row per map
    * partition, and AQE splits the join-back skew. 60-bit collisions make
    * two grams share a first-occurrence slot with probability ~n²/2⁶¹ —
    * negligible against the novelty signal's own noise.
    */
  def gramNovelty(docs: DataFrame, n: Int): DataFrame = {
    val pairs = docs
      .select(col("doc_id"), wsTokens(col("text")).as("__w"))
      .select(col("doc_id"),
        explode(array_distinct(grams(n))).as("gram"))
      .select(col("doc_id"),
        graft.functions.Portable.hash60(col("gram")).as("gram_h"))
    val firstDoc = pairs.groupBy("gram_h")
      .agg(min("doc_id").as("first_doc"))
    pairs
      .join(firstDoc, Seq("gram_h"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("novel_grams"))
  }

  /** One deterministic BPE-style merge iteration: find the corpus's most
    * frequent adjacent token pair (ties broken by pair text — a total
    * order, so the winner is engine-independent) and report, per
    * document, how many merges it would apply and the resulting token
    * count. Pairs with identical halves are EXCLUDED: `(x, x)`
    * occurrences can overlap ("x x x" merges once, not twice), which
    * would make the count depend on left-to-right application order;
    * with distinct halves occurrences cannot overlap, so "count of the
    * pair" IS the merge count and the whole step stays a pure
    * projection + one global argmin.
    *
    * Scale: the pair census is one map-side-combined count over corpus
    * bigrams; the winner is a 1-row `min(struct)` argmin broadcast back;
    * the per-doc merge count is local (no shuffle touches the corpus
    * after the census). If the corpus has no two-token document with
    * distinct adjacent tokens, `pair`/`pair_n` are null and every
    * merge count is 0.
    */
  def bpeMergeStep(docs: DataFrame): DataFrame = {
    val bg = docs.select(col("doc_id"), wsTokens(col("text")).as("__w"))
      .select(col("doc_id"), explode(grams(2)).as("__bg"))
      .filter(split(col("__bg"), " ").getItem(0) =!=
        split(col("__bg"), " ").getItem(1))
    val top = bg.groupBy("__bg").agg(count(lit(1)).as("__c"))
      .agg(min(struct((-col("__c")).as("nc"), col("__bg").as("p"))).as("__m"))
      .select(col("__m.p").as("pair"), (-col("__m.nc")).as("pair_n"))
    docs.select(col("doc_id"), wsTokens(col("text")).as("__w"))
      .crossJoin(broadcast(top))
      .select(col("doc_id"), size(col("__w")).cast("long").as("n_tokens"),
        size(filter(grams(2), g => g === col("pair"))).cast("long")
          .as("n_merges"),
        col("pair"), col("pair_n"))
      .withColumn("n_tokens_after", col("n_tokens") - col("n_merges"))
  }

  /** Multi-step BPE vocabulary TRAINING (Sennrich et al. 2016, word-type
    * weighted), distributed: build the word-TYPE table once (one corpus
    * pass; the state the whole loop runs on is vocabulary-sized, so a
    * 100 TB corpus costs one aggregate plus k vocab-sized passes), then
    * repeat `steps` times — census adjacent symbol pairs weighted by
    * word-type count, pick the most frequent pair, merge it into one
    * symbol everywhere. Per step the only driver traffic is the 1-row
    * argmax (a documented bounded model read ×k — BPE is inherently
    * sequential in its merge list).
    *
    * Determinism discipline (the q189 single-step contract, iterated):
    *  - word types are restricted to `^[a-z0-9]+$` (pre-tokenized clean
    *    lexical types; punctuation is pre-tokenization's job) so the
    *    symbol alphabet is ASCII and string ordering agrees between
    *    engines, and so the '|' symbol separator can never collide;
    *  - identical-halves pairs (x, x) are EXCLUDED: their occurrences
    *    can overlap ("x x x" merges once, not twice), which would make
    *    counts depend on application order; with distinct halves,
    *    occurrences cannot overlap and left-to-right literal
    *    `replace('|a|b|' → '|ab|')` has identical semantics on any
    *    engine;
    *  - argmax ties break (count desc, left asc, right asc) — a total
    *    order over ASCII strings.
    *
    * Word state rides as a '|'-delimited symbol string ("|p|l|a|y|"),
    * so applying a merge is ONE literal string replace — no per-symbol
    * array surgery, and the corresponding SQL is the same replace. The
    * oracle does not receive the learned merges: it RE-LEARNS them
    * stage by stage (census → argmax → scalar-subquery replace), so a
    * wrong argmax, census, or application on either engine hash-fails.
    *
    * Returns one row per merge: (step, left_sym, right_sym, merged,
    * pair_n — the weighted occurrence count that won the step).
    */
  def bpeTrain(docs: DataFrame, steps: Int): DataFrame = {
    require(steps >= 1 && steps <= 64,
      s"steps must be in [1, 64], got $steps")
    val spark = docs.sparkSession
    import spark.implicits._
    // the word-TYPE table is the loop state: vocabulary-sized, so it is
    // checkpointed once (k censuses read cached blocks instead of
    // re-aggregating the corpus k times); the returned merge table is
    // driver-built, so the scope frees the blocks on return
    Checkpoints.scoped { scope =>
      val words = scope.checkpoint(docs
        .select(explode(wsTokens(col("text"))).as("w"))
        .filter(col("w").rlike("^[a-z0-9]+$"))
        .groupBy("w").agg(count(lit(1)).as("cnt"))
        .select(concat(lit("|"),
          regexp_replace(col("w"), "(.)", "$1|")).as("state"), col("cnt")))
      val merges = scala.collection.mutable.ArrayBuffer
        .empty[(Long, String, String, String, Long)]
      var state = words
      var step = 1
      var exhausted = false
      while (step <= steps && !exhausted) {
        val top = state
          .select(col("cnt"), expr(
            "slice(split(state, '\\\\|'), 2, size(split(state, '\\\\|')) - 2)")
            .as("sy"))
          .filter(size(col("sy")) >= 2)
          // NOTE round 19: the batched trainer's census moved to
          // arrays_zip-of-slices (§1.2), but A/B-measured HERE the zip
          // was 0.92x — this state is per-WORD char arrays (a few
          // elements each), where the zip's three array allocations
          // cost more than the lambda dispatch they remove. Kept as
          // the measured-faster transform.
          .select(col("cnt"), explode(expr(
            "transform(sequence(1, size(sy) - 1), " +
              "j -> struct(sy[j - 1] AS a, sy[j] AS b))")).as("p"))
          .filter(col("p.a") =!= col("p.b"))
          .groupBy(col("p.a").as("a"), col("p.b").as("b"))
          .agg(sum(col("cnt")).as("c"))
          .orderBy(col("c").desc, col("a"), col("b"))
          .limit(1)
          .as[(String, String, Long)].collect()
        if (top.isEmpty) exhausted = true
        else {
          val (a, b, c) = top(0)
          merges += ((step.toLong, a, b, a + b, c))
          state = state.select(expr(
            s"replace(state, '|$a|$b|', '|$a$b|')").as("state"), col("cnt"))
          step += 1
        }
      }
      require(merges.nonEmpty, "bpeTrain: no mergeable pair in the corpus")
      merges.toSeq.toDF("step", "left_sym", "right_sym", "merged", "pair_n")
    }
  }

  /** Apply a learned BPE merge list ([[bpeTrain]]'s output order) to
    * every clean word occurrence and report per-language tokenizer
    * FERTILITY — pieces per word and chars per piece, the
    * vocabulary-fit signal multilingual data curation balances
    * mixtures on (a language the vocabulary underserves shows high
    * fertility: more pieces for the same text). Pure projection + one
    * combinable aggregate: each occurrence's symbol state folds
    * through the k literal replaces in-row (codegen'd string ops, no
    * join, no shuffle beyond the per-lang agg), so the corpus is read
    * once however many merges were learned.
    */
  def bpeFertility(docs: DataFrame,
                   merges: Seq[(String, String)]): DataFrame = {
    require(merges.nonEmpty, "bpeFertility needs at least one merge")
    val occ = docs
      .select(col("lang"), explode(wsTokens(col("text"))).as("w"))
      .filter(col("w").rlike("^[a-z0-9]+$"))
    val state0 = concat(lit("|"),
      regexp_replace(col("w"), "(.)", "$1|"))
    val stateN = merges.foldLeft(state0) { case (st, (a, b)) =>
      replace(st, lit(s"|$a|$b|"), lit(s"|$a$b|"))
    }
    occ.select(col("lang"), col("w"),
        (size(split(stateN, "\\|")) - 2).cast("long").as("n_pieces"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_words"), sum("n_pieces").as("n_pieces"),
        sum(length(col("w")).cast("long")).as("n_chars"))
      .select(col("lang"), col("n_words"), col("n_pieces"), col("n_chars"),
        (col("n_pieces").cast("double") / col("n_words").cast("double"))
          .as("fertility"),
        (col("n_chars").cast("double") / col("n_pieces").cast("double"))
          .as("chars_per_piece"))
  }

  /** Materialize the TOKEN-ID corpus under a learned BPE vocabulary —
    * the (doc_id, piece sequence, piece-ID sequence) table an LLM
    * pipeline actually SHIPS to training after curation ends: q354
    * learns the merges, q372 rewrites the text, this emits the training
    * input. (The reference pipeline stops at clean tabular marts —
    * `transform_data.py` — so this is extension surface, like all of
    * the curation family.)
    *
    * Segmentation is IN-ROW (the [[bpeFertility]] fold: each clean
    * word's '|'-delimited symbol state folds through the k literal
    * replaces — codegen'd string ops, no join, no shuffle), so the
    * `pieces` column costs one corpus projection. Piece IDs are the
    * lexicographic rank over the corpus's DISTINCT piece vocabulary:
    * the rank window runs single-partition but on the DEDUPED piece
    * table (vocabulary-sized — bounded by |merges| + alphabet, never
    * corpus-shaped), the id lookup is a broadcast join, and the
    * per-document ID sequence re-assembles with ONE equi shuffle on
    * doc_id (collect_list partially aggregates map-side). Documents
    * with no clean token keep a row as (0, '', '') — training-data
    * accounting must see them dropped explicitly downstream, not lose
    * them silently here.
    *
    * Returns (doc_id, n_pieces, pieces, piece_ids) — flat space-joined
    * strings, no arrays (the comparison-boundary discipline).
    */
  def bpeEncode(docs: DataFrame,
                merges: Seq[(String, String)]): DataFrame = {
    require(merges.nonEmpty, "bpeEncode needs at least one merge")
    def segOf(w: Column): Column = {
      val st0 = concat(lit("|"), regexp_replace(w, "(.)", "$1|"))
      val stN = merges.foldLeft(st0) { case (st, (a, b)) =>
        replace(st, lit(s"|$a|$b|"), lit(s"|$a$b|"))
      }
      replace(trim(stN, "|"), lit("|"), lit(" "))
    }
    val clean = filter(wsTokens(col("text")),
      x => x.rlike("^[a-z0-9]+$"))
    val pieces = docs.select(col("doc_id"),
      array_join(transform(clean, w => segOf(w)), " ").as("pieces"))
    val wp = docs
      .select(col("doc_id"), posexplode(clean).as(Seq("wpos", "w")))
      .select(col("doc_id"), col("wpos"),
        posexplode(split(segOf(col("w")), " ")).as(Seq("ppos", "piece")))
    val vocab = wp.select("piece").distinct()
      .withColumn("id", row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy("piece"))
        .cast("long"))
    val ids = wp.join(broadcast(vocab), "piece")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_pieces"),
        array_join(transform(array_sort(collect_list(
            struct(col("wpos"), col("ppos"), col("id")))),
          x => x.getField("id").cast("string")), " ").as("piece_ids"))
    // BOTH sides of the reassembly join are corpus-shaped (one row per
    // document) — AQE would happily broadcast the ids aggregate at bench
    // scale, a latent wrong-at-scale plan (the q140/groupMedian lesson);
    // pin the spillable sort-merge.
    pieces.join(ids.hint("merge"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_pieces"), lit(0L)).as("n_pieces"),
        col("pieces"),
        coalesce(col("piece_ids"), lit("")).as("piece_ids"))
  }

  /** Per-document BPE piece count under a learned merge list — the
    * packing-side companion to [[bpeEncode]]: sequence packing needs
    * ONLY the token count per document, so this skips the vocabulary
    * rank and the reassembly shuffle entirely. One corpus projection,
    * fully in-row: each clean word's symbol state folds through the k
    * literal replaces and contributes its piece count to a scalar
    * `aggregate()` over the token array (no explode, no join, no
    * shuffle). Documents with no clean token count 0.
    */
  def bpePieceCounts(docs: DataFrame,
                     merges: Seq[(String, String)]): DataFrame = {
    require(merges.nonEmpty, "bpePieceCounts needs at least one merge")
    def piecesOf(w: Column): Column = {
      val st0 = concat(lit("|"), regexp_replace(w, "(.)", "$1|"))
      val stN = merges.foldLeft(st0) { case (st, (a, b)) =>
        replace(st, lit(s"|$a|$b|"), lit(s"|$a$b|"))
      }
      (size(split(stN, "\\|")) - 2).cast("long")
    }
    val clean = filter(wsTokens(col("text")),
      x => x.rlike("^[a-z0-9]+$"))
    docs.select(col("doc_id"),
      aggregate(clean, lit(0L), (acc, w) => acc + piecesOf(w))
        .as("n_pieces"))
  }

  /** Bigram collocations by PMI lift: for every corpus bigram occurring
    * at least `minCount` times, its count, the two unigram counts, and
    * `lift = c_ab·N / (c_a·c_b)` — e^PMI, which ORDERS identically to
    * PMI without evaluating a log (ln is the one common math op with no
    * cross-platform exactness guarantee; ·, / are IEEE-exactly-rounded,
    * so the lift double is bit-identical on any engine).
    *
    * Scale: one count aggregate per arity (map-side combined), then two
    * joins of the bigram counts against the unigram vocabulary. The
    * vocabulary is orders of magnitude smaller than the corpus but NOT
    * driver-small at web scale, so the joins are left as plain equi-joins
    * for AQE to pick the strategy; N is a 1-row aggregate crossJoined
    * (broadcast) onto the result.
    */
  def pmiBigrams(docs: DataFrame, minCount: Long): DataFrame = {
    val toks = docs.select(explode(wsTokens(col("text"))).as("word"))
    val uni = toks.groupBy("word").agg(count(lit(1)).as("c_w"))
    val total = uni.agg(sum("c_w").cast("double").as("n_total"))
    val bi = docs
      .select(wsTokens(col("text")).as("__w"))
      .select(explode(grams(2)).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= minCount)
      .withColumn("w1", split(col("bigram"), " ").getItem(0))
      .withColumn("w2", split(col("bigram"), " ").getItem(1))
    bi
      .join(uni.select(col("word").as("w1"), col("c_w").as("c_a")), "w1")
      .join(uni.select(col("word").as("w2"), col("c_w").as("c_b")), "w2")
      .crossJoin(total)
      .select(col("bigram"), col("c_ab"), col("c_a"), col("c_b"),
        (col("c_ab").cast("double") * col("n_total") /
          (col("c_a").cast("double") * col("c_b").cast("double")))
          .as("lift"))
  }

  /** BM25-shaped relevance of every document against a fixed query term
    * set, one row per (doc, matched term). The idf factor is the RAW
    * Robertson odds ratio `(N - df + 0.5) / (df + 0.5)` — deliberately
    * WITHOUT the usual log: log is a monotone transform (per-term ranking
    * is unchanged) and transcendental functions are not bit-reproducible
    * across engines (java.lang.Math.log vs libm), which would break the
    * hash-compared oracle. Every float here is one fixed IEEE formula
    * (+, *, /) over exact integer aggregates, evaluated per row.
    *
    * Scale: one tokenize pass feeds both the per-(doc, term) tf aggregate
    * (map-side combined; only query terms survive the filter, so the
    * shuffle carries |queryTerms| × docs rows at most) and the per-doc
    * length aggregate. df and the corpus constants (N, total tokens) are
    * |queryTerms|-row / 1-row aggregates broadcast onto the result — no
    * window, no skew-prone key (tf keys are (doc, term), dominated by the
    * doc side).
    */
  def bm25Terms(docs: DataFrame, queryTerms: Seq[String],
                k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "bm25Terms needs at least one query term")
    val toks = docs.select(col("doc_id"),
      explode(wsTokens(col("text"))).as("tok"))
    val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("doc_len"))
    val qt = toks.filter(col("tok").isin(queryTerms.map(_.asInstanceOf[Any]): _*))
    val tf = qt.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val corpus = dl.agg(count(lit(1)).as("n_docs"),
      sum("doc_len").as("total_tokens"))
    tf.join(dl, "doc_id")
      .join(broadcast(df), "tok")
      .crossJoin(broadcast(corpus))
      .select(col("doc_id"), col("tok"), col("tf"), col("doc_len"), col("df"),
        // operand order mirrored exactly in the DuckDB oracle: IEEE
        // +,*,/ are correctly rounded, so same order => same bits
        ((col("n_docs").cast("double") - col("df").cast("double") + lit(0.5)) /
          (col("df").cast("double") + lit(0.5)) *
          (col("tf").cast("double") * lit(k1 + 1.0)) /
          (col("tf").cast("double") + lit(k1) *
            (lit(1.0 - b) + lit(b) * (col("doc_len").cast("double") *
              col("n_docs").cast("double") /
              col("total_tokens").cast("double")))))
          .as("score"))
  }

  /** Per-document token diversity via the collision (Simpson) index —
    * the Rényi-2 alternative to Shannon entropy that stays exact on a
    * hash-compared gate: `sum_c2 = Σ c_tok²` is an exact integer
    * aggregate (order-independent, unlike a float Σ p·log p), and the
    * collision probability `sum_c2 / n_tokens²` is one per-row IEEE
    * division. Low collision ⇒ diverse vocabulary; near 1 ⇒ the document
    * is one token repeated (the q81 repetition signal, but with a proper
    * distribution-level statistic). One tokenize + two combinable
    * aggregates, no window, no float sum.
    */
  def tokenDiversity(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(wsTokens(col("text"))).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum("c").as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        sum(col("c") * col("c")).as("sum_c2"))
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"), col("sum_c2"),
        (col("sum_c2").cast("double") /
          (col("n_tokens").cast("double") * col("n_tokens").cast("double")))
          .as("collision"))

  /** Per-document vocabulary rarity profile in EXACT integer arithmetic:
    * each token's corpus document frequency is bucketed by its binary
    * magnitude (`length(bin(df))` = ⌊log₂ df⌋ + 1 — an integer both
    * engines compute identically, unlike float log), and the document
    * aggregates the SUM of its tokens' buckets. Low mean bucket ⇒ rare
    * vocabulary (specialist/garbage text), high ⇒ common-word text. The
    * df table is vocabulary-sized (corpus-scale: still far smaller than
    * the token stream) and joins the token stream on `tok` — a plain
    * equi-join AQE can split if a stopword dominates; the final per-doc
    * aggregate is map-side combinable. The only float is the per-row
    * mean (sum / count) at the end.
    */
  def tokenRarity(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"),
      explode(wsTokens(col("text"))).as("tok"))
    val df = toks.select("doc_id", "tok").distinct()
      .groupBy("tok").agg(count(lit(1)).as("df"))
      .withColumn("df_bits", length(bin(col("df"))).cast("long"))
    toks.join(df.select("tok", "df_bits"), "tok")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum("df_bits").as("df_bits_sum"))
      .select(col("doc_id"), col("n_tokens"), col("df_bits_sum"),
        (col("df_bits_sum").cast("double") / col("n_tokens").cast("double"))
          .as("mean_df_bits"))
  }

  /** CCNet-style text normalization for normalization-aware dedup:
    * lowercase, strip every non-alphanumeric run to a single space, trim.
    * Byte-reproducible in any engine with regexp_replace (the pattern is
    * RE2-safe), so normalized-identity dedup can be oracle-gated.
    */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(lower(text), "[^a-z0-9]+", " "))

  /** Email-address pattern valid in both Java regex and RE2, so the same
    * redaction is reproducible in the DuckDB oracle.
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  /** Runs of 4+ digits — long ids, phone fragments, account numbers. */
  val LongDigitsRe = "\\d{4,}"

  /** PII scrubbing: redact email addresses then long digit runs (emails
    * are replaced first so their digits aren't double-counted). Returns
    * (doc_id, n_emails, n_digit_runs, md5 of the scrubbed text). The
    * regexes are RE2-compatible, so the oracle reproduces the redaction
    * byte-for-byte. Per-row projection — no shuffle.
    */
  def piiScrub(docs: DataFrame, text: Column): DataFrame = {
    val noEmail = regexp_replace(text, EmailRe, "<EMAIL>")
    docs.select(
      col("doc_id"),
      regexp_count(text, lit(EmailRe)).cast("long").as("n_emails"),
      regexp_count(noEmail, lit(LongDigitsRe)).cast("long")
        .as("n_digit_runs"),
      md5(regexp_replace(noEmail, LongDigitsRe, "<NUM>")).as("scrub_md5"))
  }

  /** Per-group Flesch reading-ease census — the curation signal for
    * "is this slice textbook prose or tag soup", complementing the
    * punctuation/stopword quality score (`qualityScore`) with a
    * sentence/syllable-structure read. Counts per document: W = latin
    * words (`[A-Za-z]+` matches), S = sentences (`[.!?]+` terminator
    * runs, floored at 1), Y = syllable proxy (`[aeiouyAEIOUY]+` vowel
    * runs). All three are RE2-safe patterns counted identically by any
    * regex engine.
    *
    * Returns one row per group: exact int64 totals (n_docs, words,
    * sentences, syllables), the CORPUS-level score
    * 206.835 − 1.015·(ΣW/ΣS) − 84.6·(ΣY/ΣW) — one fixed IEEE formula
    * over exact sums, NOT an average of per-doc doubles (a double sum
    * would accumulate in partition order) — and the per-doc band census
    * (n_easy ≥ 60 > n_medium ≥ 30 > n_hard), deterministic because each
    * per-doc score is the same fixed formula on both engines. Docs with
    * zero latin words are counted in n_nonlatin and excluded from the
    * bands. One combinable projection+fold — no shuffle of text.
    */
  def readabilityCensus(docs: DataFrame, groupCol: Column,
                        textCol: Column): DataFrame = {
    val w = size(regexp_extract_all(textCol, lit("[A-Za-z]+"), lit(0)))
      .cast("long")
    val sRaw = size(regexp_extract_all(textCol, lit("[.!?]+"), lit(0)))
      .cast("long")
    val s = greatest(sRaw, lit(1L))
    val y = size(regexp_extract_all(textCol, lit("[aeiouyAEIOUY]+"),
      lit(0))).cast("long")
    val score = lit(206.835) -
      lit(1.015) * (w.cast("double") / s.cast("double")) -
      lit(84.6) * (y.cast("double") / w.cast("double"))
    docs.select(groupCol.as("g"), w.as("__w"), s.as("__s"), y.as("__y"),
        when(w > 0L, score).as("__score"))
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__w")).as("words"),
        sum(col("__s")).as("sentences"),
        sum(col("__y")).as("syllables"),
        count_if(col("__score").isNull).as("n_nonlatin"),
        count_if(col("__score") >= 60.0).as("n_easy"),
        count_if(col("__score") >= 30.0 && col("__score") < 60.0)
          .as("n_medium"),
        count_if(col("__score") < 30.0).as("n_hard"))
      .withColumn("corpus_score",
        when(col("words") > 0L,
          lit(206.835) -
            lit(1.015) * (col("words").cast("double") /
              col("sentences").cast("double")) -
            lit(84.6) * (col("syllables").cast("double") /
              col("words").cast("double"))))
  }

  /** Per-document bigram language-model fluency score — the cheap
    * corpus-statistics stand-in for a perplexity filter (CCNet-style
    * quality gating without shipping a trained LM): for every bigram
    * instance (w1, w2) in a document, the corpus conditional frequency
    * c(w1 w2)/c(w1) measures how "expected" the continuation is, and
    * the document's score is the mean over its bigram instances.
    * Word-salad and boilerplate-shredded documents score low; fluent
    * text re-using the corpus's common continuations scores high.
    *
    * Determinism discipline: each conditional frequency is the INTEGER
    * micro-ratio `(c2 · 10⁶) div c1` (c2 ≤ c1 always, so the value is
    * a bounded long), summed exactly per document under any
    * partitioning; the only IEEE operation is the final division.
    * Token and bigram identities are 60-bit hashes BEFORE any shuffle
    * (the gramNovelty key-width lesson). Two combinable count
    * aggregates + two equi-joins back to the bigram instances (AQE
    * splits the stopword-bigram skew) + one per-doc sum. Documents with
    * fewer than two tokens report zero bigrams and a null score.
    */
  def bigramLmScore(docs: DataFrame): DataFrame = {
    import graft.functions.Portable.hash60
    val toks = docs.select(col("doc_id"), wsTokens(col("text")).as("w"))
    val uni = toks.select(explode(col("w")).as("tok"))
      .select(hash60(col("tok")).as("h1"))
      .groupBy("h1").agg(count(lit(1)).as("c1"))
    val bi = toks
      .select(col("doc_id"), col("w"),
        explode(sequence(lit(1), greatest(size(col("w")) - 1, lit(1))))
          .as("i"))
      .filter(col("i") <= size(col("w")) - 1)
      .select(col("doc_id"),
        hash60(element_at(col("w"), col("i"))).as("h1"),
        hash60(concat_ws(" ", element_at(col("w"), col("i")),
          element_at(col("w"), col("i") + 1))).as("h2"))
    val big = bi.groupBy("h2").agg(count(lit(1)).as("c2"))
    val scored = bi.join(uni, Seq("h1")).join(big, Seq("h2"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(expr("(c2 * 1000000L) div c1")).as("lm_micro"))
    docs.select("doc_id").join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("lm_micro"), lit(0L)).as("lm_micro"),
        when(col("n_bigrams") > 0L, col("lm_micro").cast("double") /
          (col("n_bigrams") * 1000000L)).as("lm_score"))
  }

  /** χ² association between every vocabulary term and ONE target corpus
    * slice (source, language, quality tier): the 2×2 contingency of
    * token occurrences (term-in-target, term-elsewhere vs rest) scored
    * with the standard χ² statistic. The feature-selection /
    * importance-weighting primitive (DSIR-style domain relevance): high
    * χ² terms are what makes the target slice LOOK like itself, and
    * per-term scores feed importance-resampled corpus selection.
    *
    * Determinism: all contingency cells are exact combinable integers;
    * χ² is ONE fixed IEEE expression over them (the signed cross-product
    * difference `k1·(n2−k2) − k2·(n1−k1)` is computed in decimal(38,0)
    * — exact for any long-typed cells, where a long product would wrap
    * silently past ~3e9 tokens per side — then squared in double,
    * deterministically rounded the same on both engines). Scale: one tokenize pass, one combinable
    * (term, in-target) count (hot terms collapse map-side), a 1-row
    * broadcast of the totals — no window, no join on the token stream.
    * Terms making up the WHOLE corpus (n = N) are χ²-null (degenerate
    * margin).
    */
  def termChi2(docs: DataFrame, targetPred: Column): DataFrame = {
    val toks = docs.select(explode(wsTokens(col("text"))).as("term"),
      when(targetPred, 1L).otherwise(0L).as("__t"))
    val cells = toks.groupBy("term").agg(
      sum(col("__t")).as("k1"),
      sum(lit(1L) - col("__t")).as("k2"))
    val totals = cells.agg(sum(col("k1")).as("n1"), sum(col("k2")).as("n2"))
    def d(c: String) = col(c).cast("double")
    // each FACTOR is cast to decimal(19,0) (a long always fits) so Spark
    // widens the product type to decimal(38,0), which exactly holds any
    // long×long product (< 10^38 ≥ (2^63)^2) — no silent long wrap once
    // token totals pass ~3e9 per side; the ONE double cast happens after
    // the exact subtraction. Keep the factor casts at 19,0: casting the
    // factors to decimal(38,0) directly would make the product overflow
    // the 38-digit ceiling instead.
    def dec(c: Column) = c.cast("decimal(19,0)")
    val diff = (dec(col("k1")) * dec(col("n2") - col("k2")) -
      dec(col("k2")) * dec(col("n1") - col("k1"))).cast("double")
    val n = d("n1") + d("n2")
    val rowT = d("k1") + d("k2")
    val rowR = n - rowT
    val chi2 = n * (diff * diff) / (d("n1") * d("n2") * rowT * rowR)
    cells.crossJoin(broadcast(totals))
      .select(col("term"), col("k1"), col("k2"),
        when(d("n1") > 0.0 && d("n2") > 0.0 && rowR > 0.0, chi2)
          .as("chi2"))
  }

  /** Pairwise bigram CROSS-ENTROPY matrix between corpus slices, on the
    * integer-bits grid: for every (model slice M, eval slice E),
    * H_bits(E‖M) ≈ Σ_b c_E(b) · ⌊log₂((N_M + V) div (c_M(b) + 1))⌋
    * / N_E — eval slice E scored under model slice M's add-one-smoothed
    * bigram distribution, the log quantized to whole bits via integer
    * division + bit length (the [[tokenRarity]] trick: NO float log, so
    * the matrix is bit-portable across engines). This is the
    * domain-shift read behind mixture design (DSIR / importance
    * sampling): a low off-diagonal cell means M's data models E well
    * (cheap transfer); the diagonal is each slice's self-entropy floor.
    *
    * Scale: one combinable (slice, bigram-hash) count, a 1-row vocab
    * frame and a |slices|-row totals frame (both broadcast), one
    * |slices|-fan-out join from eval counts to model counts on the
    * 60-bit hash (hot boilerplate bigrams are AQE's to split). No
    * window, no per-key state. Returns
    * (model_slice, eval_slice, n_bigrams, bits_total, mean_bits).
    */
  def crossEntropyBits(docs: DataFrame, sliceCol: String,
                       maxSlices: Int = 256): DataFrame = {
    import graft.functions.Portable.hash60
    require(maxSlices >= 1, s"maxSlices must be >= 1, got $maxSlices")
    val toks = docs.select(col(sliceCol).as("__sl"),
      wsTokens(col("text")).as("w"))
    val bi = toks
      .select(col("__sl"), col("w"),
        explode(sequence(lit(1), greatest(size(col("w")) - 1, lit(1))))
          .as("i"))
      .filter(col("i") <= size(col("w")) - 1)
      .select(col("__sl"),
        hash60(concat_ws(" ", element_at(col("w"), col("i")),
          element_at(col("w"), col("i") + 1))).as("h2"))
    val cnt = bi.groupBy("__sl", "h2").agg(count(lit(1)).as("c"))
    val vocab = cnt.agg(count_distinct(col("h2")).as("__v"))
    val totals = cnt.groupBy("__sl").agg(sum(col("c")).as("__n"))
    // fail loud before the |slices|-fan-out join and the |slices|²
    // output: the matrix is a MODEL read, not a data product — a
    // million-valued slice column here is a caller bug, and the
    // broadcast totals frame would hide it until the driver OOMs
    // (the markovStationary/bradleyTerry maxItems discipline)
    val nSlices = totals.count()
    require(nSlices <= maxSlices,
      s"crossEntropyBits: $nSlices slices exceed maxSlices=$maxSlices " +
        "— the pairwise matrix is quadratic in slices")
    val evalSide = cnt.select(col("__sl").as("eval_slice"), col("h2"),
        col("c").as("c_e"))
      .crossJoin(broadcast(totals.select(col("__sl").as("model_slice"),
        col("__n").as("n_m"))))
      .crossJoin(broadcast(vocab))
    val joined = evalSide.join(
      cnt.select(col("__sl").as("model_slice"), col("h2"),
        col("c").as("c_m")),
      Seq("model_slice", "h2"), "left")
      .withColumn("__num", (col("n_m") + col("__v")).cast("long"))
      .withColumn("__den", coalesce(col("c_m"), lit(0L)) + lit(1L))
    // whole-bit log via integer division + bit length — no float log
    val bits = (length(bin(expr("__num div __den"))) - 1).cast("long")
    joined
      .groupBy("model_slice", "eval_slice")
      .agg(sum(col("c_e")).as("n_bigrams"),
        sum(col("c_e") * bits).as("bits_total"))
      .select(col("model_slice"), col("eval_slice"), col("n_bigrams"),
        col("bits_total"),
        (col("bits_total").cast("double") /
          col("n_bigrams").cast("double")).as("mean_bits"))
  }

  /** DSIR-style importance score per document, on the integer-bits
    * grid: score_bits = Σ_b∈doc (bits_raw(b) − bits_target(b)), where
    * bits_M(b) = ⌊log₂((N_M + V) div (c_M(b) + 1))⌋ is the add-one
    * bigram surprisal under model M ([[crossEntropyBits]]'s whole-bit
    * log — no float anywhere until the reported per-bigram mean).
    * `raw` is the WHOLE corpus, `target` the rows matching
    * `targetPred`: a positive score means the document is CHEAPER
    * under the target model than under the corpus at large — it "looks
    * like" the target domain — and ranking by score descending is
    * exactly the importance-resampled data-selection order (Xie et
    * al.'s DSIR, re-expressed with hashed n-grams and integer logs).
    *
    * Scale: two combinable bigram-count tables (target is a filtered
    * second aggregate), both joined back to the doc-bigram stream on
    * the 60-bit hash (AQE splits hot boilerplate bigrams), one per-doc
    * combinable sum. No window, no per-key state. Returns
    * (doc_id, n_bigrams, bits_raw, bits_target, score_bits,
    * mean_score) with zero-bigram docs carried as nulls.
    */
  def dsirScoreBits(docs: DataFrame, targetPred: Column): DataFrame = {
    import graft.functions.Portable.hash60
    val toks = docs.select(col("doc_id"), when(targetPred, 1L)
      .otherwise(0L).as("__t"), wsTokens(col("text")).as("w"))
    val bi = toks
      .select(col("doc_id"), col("__t"), col("w"),
        explode(sequence(lit(1), greatest(size(col("w")) - 1, lit(1))))
          .as("i"))
      .filter(col("i") <= size(col("w")) - 1)
      .select(col("doc_id"), col("__t"),
        hash60(concat_ws(" ", element_at(col("w"), col("i")),
          element_at(col("w"), col("i") + 1))).as("h2"))
    val raw = bi.groupBy("h2").agg(count(lit(1)).as("c_raw"),
      sum(col("__t")).as("c_tgt"))
    val totals = raw.agg(sum(col("c_raw")).as("n_raw"),
      sum(col("c_tgt")).as("n_tgt"),
      count_distinct(col("h2")).as("__v"))
    def bits(num: String, den: String) =
      (length(bin(expr(s"$num div $den"))) - 1).cast("long")
    val scored = bi.join(raw, Seq("h2"))
      .crossJoin(broadcast(totals))
      .withColumn("__nr", (col("n_raw") + col("__v")).cast("long"))
      .withColumn("__dr", col("c_raw") + lit(1L))
      .withColumn("__nt", (col("n_tgt") + col("__v")).cast("long"))
      .withColumn("__dt", col("c_tgt") + lit(1L))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(bits("__nr", "__dr")).as("bits_raw"),
        sum(bits("__nt", "__dt")).as("bits_target"))
    docs.select("doc_id").join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        col("bits_raw"), col("bits_target"),
        (col("bits_raw") - col("bits_target")).as("score_bits"),
        when(col("n_bigrams") > 0L,
          (col("bits_raw") - col("bits_target")).cast("double") /
            col("n_bigrams").cast("double")).as("mean_score"))
  }

  /** Good–Turing frequency-of-frequencies census, octave-bucketed: how
    * many distinct terms occur with corpus frequency in [2^b, 2^{b+1}),
    * and how much token mass each octave carries. The head-vs-tail
    * shape of the vocabulary — the input to smoothing estimators and
    * the evidence behind tokenizer vocab-size choices (a fat octave-0
    * tail is hapax noise a BPE vocab shouldn't spend slots on).
    *
    * Octave = length(bin(c)) − 1 = ⌊log₂ c⌋ — exact integer string
    * arithmetic on both engines (the [[tokenRarity]] trick; no float
    * log). Scale: one combinable term count, one vocabulary-sized
    * octave aggregate; no window, no join.
    */
  def freqOfFreqs(docs: DataFrame): DataFrame =
    docs.select(explode(wsTokens(col("text"))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("__c"))
      .groupBy((length(bin(col("__c"))) - 1).cast("long").as("octave"))
      .agg(count(lit(1)).as("n_terms"),
        sum(col("__c")).as("token_mass"),
        min(col("__c")).as("min_freq"),
        max(col("__c")).as("max_freq"))

  /** Top-k characteristic terms per corpus slice by integer TF-IDF:
    * score = tf(slice, term) · bits(N_docs div df(term)) — term
    * frequency within the slice times the binary-magnitude idf
    * (⌊log₂⌋ + 1 of the inverse document frequency ratio, the
    * [[tokenRarity]] integer-idf). The per-source keyword extractor
    * behind corpus cards and mixture audits: what vocabulary
    * distinguishes this slice.
    *
    * Exactness at the CUT: the score is an exact long and ties break on
    * the term's md5-hash, so top-k MEMBERSHIP is deterministic — no
    * float-epsilon rank flips across engines (the reason the score
    * avoids a float idf). Scale: tf is one combinable (slice, term)
    * count; df is vocabulary-sized; the per-slice top-k runs on the
    * bounded-state [[graft.functions.TopKLongPairs]] aggregate (O(k)
    * per slice, map-side pruned — no window); the term-string join-back
    * touches only slices·k rows broadcast against the vocabulary.
    */
  def sourceKeywords(docs: DataFrame, sliceCol: String, k: Int): DataFrame = {
    import graft.functions.Portable.hash60
    val toks = docs.select(col(sliceCol), col("doc_id"),
      explode(wsTokens(col("text"))).as("term"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val dfT = toks.select(col("doc_id"), col("term")).distinct()
      .groupBy("term").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nDocs))
      .select(col("term"), col("df"),
        length(bin(expr("n_docs div df"))).cast("long").as("idf_bits"))
    val tf = toks.groupBy(col(sliceCol), col("term"))
      .agg(count(lit(1)).as("tf"))
    val scored = tf.join(dfT, "term")
      .select(col(sliceCol), hash60(col("term")).as("__h"),
        (col("tf") * col("idf_bits")).as("__score"))
    val top = graft.functions.TopKFunctions.topkPerGroup(scored,
      Seq(col(sliceCol)), col("__score"), col("__h"), k)
    dfT.select(hash60(col("term")).as("id"), col("term"), col("df"),
        col("idf_bits"))
      .join(broadcast(top), Seq("id"))
      .select(col(sliceCol), col("rnk"), col("term"),
        col("key").as("score"), col("df"), col("idf_bits"))
  }

  // -------------------------------------------------------------------
  // Corpus-level (SentencePiece-style) BPE: the production-vocabulary
  // path. The word-level family above ([[bpeTrain]]/[[bpeEncode]]) is
  // capped by this corpus's WORD diversity (31 word types; at most ~107
  // merges exist at any SF), so vocabulary-scale capability needs the
  // industry shape instead: normalize each document to its clean tokens
  // joined by '_' and learn CHARACTER-level merges that may cross word
  // boundaries — merge capacity then grows with corpus text mass, not
  // the word inventory.
  // -------------------------------------------------------------------

  /** Clean-token normalization for corpus-level BPE: whitespace tokens
    * matching `^[a-z0-9]+$`, joined by '_' (the word-boundary marker a
    * SentencePiece-style vocabulary learns through). '' when the
    * document has no clean token.
    */
  def bpeNormalize(text: Column): Column =
    array_join(filter(wsTokens(text), x => x.rlike("^[a-z0-9]+$")), "_")

  /** BATCHED corpus-level BPE training — the vocabulary-scale trainer
    * (round-17 verdict task 1). [[bpeTrain]] runs one Spark job per
    * merge, so a 32k-merge production vocabulary would be a 32k-job
    * driver loop; this trainer learns up to `batch` merges per census,
    * turning vocabulary size into stages = vocab/batch corpus scans
    * (32k at batch=64 -> 500 scans; at 100 TB the documented contract
    * is to train on a deterministic hash-sample — content-hash
    * sampling is [[Sampling]]'s seam — since BPE statistics converge
    * far below full-corpus mass).
    *
    * Per stage: (1) census every adjacent symbol pair (a <> b) over the
    * '|'-delimited document states, weighted by state multiplicity;
    * (2) rank by (count DESC, a, b) and keep the top `cands`
    * CANDIDATES; (3) greedy-scan candidates in rank order, selecting a
    * pair unless a previously SELECTED pair already uses either of its
    * symbols — selected pairs also reserve their merged string, so no
    * later selection can consume a symbol this batch is about to
    * create; (4) apply the <= batch selected merges as chained literal
    * replaces (symbol-disjointness makes the batch order-independent
    * and equal to simultaneous application over the pre-stage state).
    * The candidate list is vocabulary-sized (`cands` rows), so the
    * per-stage collect is a model-sized read, never corpus-shaped. The
    * state table is re-localCheckpoint'd per stage (each census reads
    * cached blocks) and every generation is released before returning.
    *
    * Returns one row per learned merge: (rank, stage, left_sym,
    * right_sym, merged, pair_n). A pair consumed and later re-formed by
    * string-coincident symbols can legitimately be re-learned at a
    * higher rank; the encode side resolves such pairs at their LOWEST
    * rank ([[graft.functions.BpeVocab]]).
    */
  def bpeTrainBatched(docs: DataFrame, stages: Int, batch: Int,
                      cands: Int): DataFrame = {
    require(stages >= 1 && stages <= 1000,
      s"stages must be in [1, 1000], got $stages")
    require(batch >= 1 && cands >= batch,
      s"need batch >= 1 and cands >= batch, got batch=$batch cands=$cands")
    val spark = docs.sparkSession
    import spark.implicits._
    // Round-19 state layout (guide §1.2 "per-task work", §2.4): the
    // state is a SYMBOL ARRAY per distinct normalized document, not a
    // '|'-delimited string —
    //  - each census reads the symbols directly instead of re-splitting
    //    the whole corpus state with a regex (measured 1.59 s -> 1.15 s
    //    per census at sf0.1);
    //  - the rebuild applies the <= batch selected merges in ONE
    //    left-to-right kernel pass ([[graft.functions.BpeApplyMerges]])
    //    instead of a fold of `batch` sequential `replace` scans —
    //    exact because the greedy selection makes batches
    //    symbol-disjoint (Round19Suite pins kernel == replace fold);
    //  - the per-stage `groupBy(state)` re-dedup is GONE: the census
    //    sums cnt per pair, so duplicate state rows contribute exactly
    //    the same totals un-merged — the old exchange of corpus-sized
    //    state strings per stage bought nothing (initial dedup of
    //    identical documents stays, keyed on the normalized text).
    // Merges learned are bit-identical; the q378-q380 oracles re-learn
    // the vocabulary independently and gate it.
    // split('', n) sliced to char_length (split's -1 limit appends one
    // trailing empty element) replaces the per-char transform lambda:
    // identical arrays (probed: 0 mismatching rows over the corpus),
    // but the HOF's interpreted per-element dispatch is gone — measured
    // 1.8 s -> 0.4 s for the stage-0 build at sf0.1 (round 19, §1.2).
    Checkpoints.scoped { scope =>
      var state = scope.checkpoint(docs
        .select(bpeNormalize(col("text")).as("n"))
        .filter(col("n") =!= "")
        .groupBy("n").agg(count(lit(1)).as("cnt"))
        .select(expr("slice(split(n, ''), 1, char_length(n))")
          .as("sy"), col("cnt")))
      val merges = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Long, String, String, String, Long)]
      var stage = 1
      var exhausted = false
      while (stage <= stages && !exhausted) {
        // adjacent pairs as arrays_zip of the two shifted slices — the
        // same (a, b) rows as the transform-to-struct lambda (probed: 0
        // mismatching census rows) without the HOF's interpreted
        // per-element dispatch; measured 1.0 s -> 0.4 s per census at
        // sf0.1 (round 19, §1.2)
        val top = state
          .filter(size(col("sy")) >= 2)
          .select(col("cnt"), explode(
            arrays_zip(slice(col("sy"), lit(1), size(col("sy")) - 1),
              slice(col("sy"), lit(2), size(col("sy")) - 1))).as("p"))
          .filter(col("p.0") =!= col("p.1"))
          .groupBy(col("p.0").as("a"), col("p.1").as("b"))
          .agg(sum(col("cnt")).as("c"))
          .orderBy(col("c").desc, col("a"), col("b"))
          .limit(cands)
          .as[(String, String, Long)].collect()
        if (top.isEmpty) exhausted = true
        else {
          val used = scala.collection.mutable.HashSet.empty[String]
          val sel = scala.collection.mutable.ArrayBuffer
            .empty[(String, String, Long)]
          var i = 0
          while (i < top.length && sel.length < batch) {
            val (a, b, c) = top(i)
            if (!used.contains(a) && !used.contains(b)) {
              sel += ((a, b, c))
              used += a; used += b; used += (a + b)
            }
            i += 1
          }
          sel.foreach { case (a, b, c) =>
            merges += ((merges.length + 1L, stage.toLong, a, b, a + b, c))
          }
          val next = scope.checkpoint(state.select(
            graft.functions.BpeFunctions
              .bpeApplyMerges(col("sy"), sel.toSeq.map(t => (t._1, t._2)))
              .as("sy"), col("cnt")))
          scope.release(state)
          state = next
          stage += 1
        }
      }
      require(merges.nonEmpty, "bpeTrainBatched: no mergeable pair")
      merges.toSeq
        .toDF("rank", "stage", "left_sym", "right_sym", "merged", "pair_n")
    }
  }

  /** Tokenize the corpus under a learned corpus-level vocabulary with
    * the LINEAR encode expression ([[graft.functions.BpeSegment]]):
    * one projection, one kernel call per document, plan size and
    * per-document cost independent of |merges| — the production-
    * vocabulary replacement for the per-merge `replace` fold. Returns
    * (doc_id, n_pieces, pieces); documents with no clean token keep a
    * row as (0, '').
    */
  def bpeEncodeCorpus(docs: DataFrame,
                      merges: Seq[(String, String)]): DataFrame = {
    require(merges.nonEmpty, "bpeEncodeCorpus needs at least one merge")
    docs
      .select(col("doc_id"),
        graft.functions.BpeFunctions
          .bpeSegment(bpeNormalize(col("text")), merges).as("pieces"))
      .select(col("doc_id"),
        when(col("pieces") === "", 0L)
          .otherwise(size(split(col("pieces"), " ")).cast("long"))
          .as("n_pieces"),
        col("pieces"))
  }
}
