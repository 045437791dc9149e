package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.Readers
import graft.ext.Pq

/** Round-15 batch: the two ANN operating points the round-14 verdict
  * asked to push over the recall bar, the streaming restart-recovery
  * proof, and the model-compatibility guard — each as a gated query.
  *
  *  - q345/q346: a ≤ 32-byte/vector PQ config GATED at recall@20 ≥ 0.7.
  *    The round-15 sweep (docs/pq15_sweep.jsonl): at m=32 the
  *    codebook-capacity axis beats the permutation axis — k=256 plain
  *    (exactly 32 bytes/vector) reads 0.90/0.85 at sf0.01 and 0.85/0.80
  *    at sf0.1 (mean/min), vs 0.76/0.65 for round-14's m=32/k=64+perm —
  *    so the gated config is (m=32, k=256, no permutation), 33% smaller
  *    codes than q330's 48 bytes with the same fail-loud floor.
  *  - q347/q348: residual IVFADC at a GATED probe operating point. The
  *    sweep's coverage curve (nProbe 4→16 of 16 cells: min recall 0.35 →
  *    0.85) puts nProbe=12 as the smallest probe count whose min recall
  *    clears the 0.7 floor with margin at every SF (0.80 sf0.01 / 0.85
  *    sf0.1), so q348 gates nProbe=12 fail-loud on both engines while
  *    q337 keeps reporting the cheap nProbe=4 point floor-free — the
  *    coverage-vs-cost trade is now two measured, gated points instead
  *    of one honest-but-subpar one.
  *  - q349: the q343 streaming gram-stats merge RESTARTED from a durable
  *    checkpoint — file 1 is processed by one query, the query STOPS,
  *    and a SECOND query instance resumes from the state store to
  *    process file 2; the final census must equal the uninterrupted
  *    batch recompute with doubled counts (q343's oracle, verbatim).
  *    State recovery across process generations is what makes the
  *    incremental seam production-trustworthy.
  *  - q350: the stamped serving path — codes carry [[Pq.modelHash]] and
  *    the ADC scan proves, in-plan, that they belong to the model it
  *    serves with; result must hash-match q331's oracle (the guard is
  *    result-invisible when models match; the mismatch arm is pinned by
  *    Round15Suite).
  */
object Round15Queries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Readers.table(s, dir, name)

  /** ≤ 32-byte config: m=32 subspaces × 8-bit codes (k=256) over the
    * raw coordinate order — the sweep's capacity-beats-permutation
    * winner. */
  private val Pq32M = 32
  private val Pq32K = 256

  /** Residual-IVFADC gated probe count (of Round2's 16 IVF cells): the
    * smallest nProbe whose MIN recall@20 clears the 0.7 floor with
    * margin at every SF (sweep: nProbe 8 → min 0.60–0.65; 12 → 0.80–
    * 0.85; 16 → 0.85, the quantization ceiling). */
  private val ResProbe = 12

  private val pq32Cache =
    new java.util.concurrent.ConcurrentHashMap[String, Pq.Model]()
  private def pq32Model(s: SparkSession, dir: String): Pq.Model =
    pq32Cache.computeIfAbsent(dir, _ =>
      Pq.trainCodebooksLocal(s, t(s, dir, "embeddings"),
        Round14Queries.Dim, Pq32M, Pq32K))

  private def pq32Adc(s: SparkSession, dir: String, k: Int): DataFrame = {
    val e = t(s, dir, "embeddings")
    val model = pq32Model(s, dir)
    Pq.adcKnnPacked(e.filter(col("vec_id") < Round14Queries.NQ),
      Pq.encodePacked(e, model), model, k)
  }

  /** Recall@RecallK of `adc` (query_id, neighbor_id) against the exact
    * 64-dim L2 top-RecallK; with a floor, any query below it raises on
    * the Spark side (the q330 fail-loud discipline). */
  private def recallFrame(s: SparkSession, dir: String, adc: DataFrame,
                          gateFloor: Option[Double], gateLabel: String)
  : DataFrame = {
    import graft.functions.VectorFunctions.dot
    val e = t(s, dir, "embeddings")
    val q = e.filter(col("vec_id") < Round14Queries.NQ)
    val qv = q.select(col("vec_id").as("query_id"),
      col("embedding").cast("array<double>").as("qv"))
    val exactD = e.select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      .crossJoin(broadcast(qv))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        floor((dot(col("v"), col("v")) -
          lit(2.0) * dot(col("v"), col("qv")) +
          dot(col("qv"), col("qv"))) * 1e6 + lit(0.5)).cast("long")
          .as("d_micro"))
    val exact = graft.functions.TopKFunctions.topkPerGroup(exactD,
        Seq(col("query_id")), -col("d_micro"), col("vec_id"),
        Round14Queries.RecallK)
      .select(col("query_id"), col("id").as("neighbor_id"))
    val ratio = col("n_overlap").cast("double") / col("n_exact").cast("double")
    val recall: Column = gateFloor match {
      case Some(f) => when(ratio >= f, ratio).otherwise(
        raise_error(concat(lit(s"$gateLabel recall below $f for query "),
          col("query_id"))))
      case None => ratio
    }
    exact.join(adc.select(col("query_id"), col("neighbor_id"))
          .withColumn("__hit", lit(1L)),
        Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_exact"),
        coalesce(sum(col("__hit")), lit(0L)).as("n_overlap"))
      .select(col("query_id"), col("n_exact"), col("n_overlap"),
        recall.as("recall"))
      .orderBy("query_id")
  }

  /** Bounded documents stream split across TWO query generations sharing
    * one durable checkpoint: generation 1 sees only file 1 and stops
    * (its state committed to the checkpoint's state store); file 2 then
    * lands, and generation 2 — a NEW streaming query, the restart —
    * resumes from the same checkpoint, skips the committed file 1, and
    * merges file 2 into the RESTORED state. Returns generation 2's
    * complete-mode table: the full state across both generations. All
    * scratch (stream dir, checkpoint, symlinks) is created fresh and
    * deleted per invocation — benches re-invoke query lambdas, and temp
    * state must not leak (the q344 lesson).
    */
  private def runDocsStreamRestart(
      s: SparkSession, dir: String, prefix: String)(
      stats: DataFrame => DataFrame): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val streamDir = java.nio.file.Files.createTempDirectory(prefix)
    val ckptDir = java.nio.file.Files.createTempDirectory(prefix + "ckpt_")
    val target = java.nio.file.Paths.get(dir).toAbsolutePath
      .resolve("documents.parquet")
    // directory-shaped tables (Spark-written scale-ups) must be linked
    // per part file — the stream source lists non-recursively (see
    // Round14Queries.runDocsStream)
    def link(i: Int): Unit = {
      StreamingQueries.partFiles(target).zipWithIndex.foreach { case (src, j) =>
        java.nio.file.Files.createSymbolicLink(
          streamDir.resolve(s"copy${i}_$j.parquet"), src)
      }
    }
    def rmTree(p: java.nio.file.Path): Unit = {
      import scala.jdk.CollectionConverters._
      if (java.nio.file.Files.exists(p))
        java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.deleteIfExists(_))
    }
    try {
      def phase(name: String): DataFrame =
        graft.streaming.EventStream.runToMemoryCheckpointed(
          stats(s.readStream.schema(schema).parquet(streamDir.toString)),
          StreamingQueries.memName(name), ckptDir.toString,
          statePartitions = Some(8))
      link(1)
      phase("q349_gen1_") // generation 1: file 1 only, then stop
      link(2)
      // generation 2: RESTART from the checkpoint — processes file 2
      // against the restored state and re-emits the full merged table
      val out = phase("q349_gen2_")
      // materialize before the scratch dirs disappear
      s.createDataFrame(
        java.util.Arrays.asList(out.collect(): _*), out.schema)
    } finally {
      rmTree(streamDir)
      rmTree(ckptDir)
    }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // 32-byte/vector packed ADC top-k, hash-gated: same serving plan as
    // q331 (per-query LUT broadcast, codegen'd lookup-sum scan, bounded
    // top-k) at 2/3 the code bytes.
    "q345_pq32_adc" -> ((s, dir) =>
      pq32Adc(s, dir, Round14Queries.AdcK).orderBy("query_id", "rnk")),

    // The 32-byte config's recall@20, GATED at 0.7 per query on both
    // engines — the floor that round 14's ≤ 32-byte candidates missed.
    "q346_pq32_recall" -> ((s, dir) =>
      recallFrame(s, dir, pq32Adc(s, dir, Round14Queries.RecallK),
        Some(Round14Queries.RecallFloor), "pq32")),

    // Residual IVFADC at the GATED probe point (nProbe=12 of 16): the
    // billion-vector serving layout with a recall floor it actually
    // clears, next to q336's cheap nProbe=4 reference point.
    "q347_residual_adc12" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Pq.ivfAdcResidualKnn(e,
          e.filter(col("vec_id") < Round14Queries.NQ),
          Round2Queries.ivfCentroids(s, dir), Round14Queries.hiModel(s, dir),
          Round14Queries.AdcK, ResProbe)
        .orderBy("query_id", "rnk")
    }),

    // Residual recall at nProbe=12, GATED ≥ 0.7 fail-loud — closes the
    // verdict's "honest but floor-free" gap: probe coverage is now a
    // chosen, defended operating point, not an exposure.
    "q348_residual_recall12" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val adc = Pq.ivfAdcResidualKnn(e,
        e.filter(col("vec_id") < Round14Queries.NQ),
        Round2Queries.ivfCentroids(s, dir), Round14Queries.hiModel(s, dir),
        Round14Queries.RecallK, ResProbe)
      recallFrame(s, dir, adc, Some(Round14Queries.RecallFloor),
        "residual nProbe=12")
    }),

    // Kill-restart ≡ uninterrupted ≡ batch: the gram-stats census after
    // a CHECKPOINTED restart between the two file arrivals must equal
    // q343's single-run oracle exactly.
    "q349_stream_gram_restart" -> ((s, dir) =>
      runDocsStreamRestart(s, dir, "q349_docs_") { raw =>
        graft.ext.Dedup.gramStats(
          raw.select(col("doc_id"), col("text")), Round14Queries.SpanL)
      }.groupBy("cnt")
        .agg(count(lit(1)).as("n_grams"), sum(col("owner")).as("owner_sum"))
        .orderBy("cnt")),

    // Stamped serving: codes carry the model content-hash; the ADC scan
    // verifies it in-plan (raise_error on mismatch) and must reproduce
    // q331's oracle bit-for-bit when the models match.
    "q350_pq_stamped_serving" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val model = Round14Queries.hiModel(s, dir)
      Pq.adcKnnPackedChecked(e.filter(col("vec_id") < Round14Queries.NQ),
          Pq.encodePackedStamped(e, model), model, Round14Queries.AdcK)
        .orderBy("query_id", "rnk")
    }),

    // Hybrid retrieval: per-query lexical TF-IDF cosine top-20 and
    // dense packed-ADC top-20, reciprocal-rank-fused (k0=60) into the
    // top-10 — the lexical+dense union every RAG-style corpus pipeline
    // serves, in exact-integer arithmetic end to end (integer-division
    // contributions, BIGINT sums, bounded top-k).
    "q351_hybrid_rrf" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val nDocs = docs.count()
      val lex = graft.ext.SparseSim.tfidfQueryTopK(docs, nDocs,
          Round14Queries.NQ, HybridR, LexDfCap)
        .select(col("query_id"), col("id"), col("rnk"))
      val e = t(s, dir, "embeddings")
      val model = Round14Queries.hiModel(s, dir)
      val ann = Pq.adcKnnPacked(
          e.filter(col("vec_id") < Round14Queries.NQ),
          Pq.encodePacked(e, model), model, HybridR)
        .select(col("query_id"), col("neighbor_id").as("id"), col("rnk"))
      graft.ext.Hybrid.rrfFuse(Seq(lex, ann), RrfK0, HybridK)
        .orderBy("query_id", "rnk")
    }),

    // Two-stage serving, hash-gated: ADC shortlist of 60, exact re-rank
    // to the top-5 — real vectors are fetched for candidates only.
    "q352_adc_refine" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val model = Round14Queries.hiModel(s, dir)
      Pq.adcRefineKnn(e.filter(col("vec_id") < Round14Queries.NQ), e,
          Pq.encodePacked(e, model), model, Round14Queries.AdcK, RefineSL)
        .orderBy("query_id", "rnk")
    }),

    // Tokenizer fertility under the learned vocabulary: train once per
    // sf dir (the hiModel cache discipline), fold the 8 merges through
    // every word occurrence in-row (no join), aggregate per language —
    // the vocabulary-fit signal mixtures are balanced on. The oracle
    // re-learns the merges with the same stage prelude as q354.
    "q355_bpe_fertility" -> ((s, dir) =>
      graft.ext.TextAnalysis.bpeFertility(t(s, dir, "documents"),
        bpeMerges(s, dir)).orderBy("lang")),

    // Distributed BPE vocabulary training, 8 merge steps: the oracle
    // does NOT receive the learned merges — it re-learns them stage by
    // stage (census → argmax → scalar-subquery replace), so a wrong
    // census weight, tie-break, or merge application on either engine
    // hash-fails. The loop state is the vocabulary-sized word-type
    // table; the corpus is read once.
    "q354_bpe_train" -> ((s, dir) =>
      graft.ext.TextAnalysis.bpeTrain(t(s, dir, "documents"), BpeSteps)
        .orderBy("step")),

    // Refined recall@20, GATED at 0.9 — re-ranking is exact, so recall
    // equals the shortlist's containment of the true top-20: the gate
    // proves the two-stage path beats the pure-ADC floor (0.7) by a
    // margin no single-stage config reached.
    "q353_refine_recall" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val model = Round14Queries.hiModel(s, dir)
      val refined = Pq.adcRefineKnn(
        e.filter(col("vec_id") < Round14Queries.NQ), e,
        Pq.encodePacked(e, model), model, Round14Queries.RecallK, RefineSL)
      recallFrame(s, dir, refined, Some(RefineFloor), "refine")
    }))

  /** Hybrid/refine constants: per-system ranking depth, fused depth, the
    * RRF damping constant (Cormack et al.'s 60), the refine shortlist
    * (3× the audited top-20), and the refined-recall floor.
    */
  private val HybridR = 20
  private val HybridK = 10
  private val RrfK0 = 60
  private val RefineSL = 60
  private val RefineFloor = 0.9
  private val LexDfCap = 1000L

  /** Gated-or-plain recall SQL over a prelude that defines `e` (vec_id,
    * v), `q` (query_id, v) and `dist` (query_id, vec_id, dist_micro) —
    * the q330/q337 rendering generalized: ADC top-RecallK from `dist`,
    * exact top-RecallK from `e`×`q`, per-query overlap, and optionally
    * DuckDB's error() below the floor.
    */
  private def recallSql(prelude: String, floor: Option[Double],
                        distCte: String = "dist"): String = {
    val k = Round14Queries.RecallK
    val recallExpr = floor match {
      case Some(f) =>
        s"""CASE WHEN CAST(n_overlap AS DOUBLE)
                   / CAST(n_exact AS DOUBLE) >= $f
                 THEN CAST(n_overlap AS DOUBLE) / CAST(n_exact AS DOUBLE)
                 ELSE CAST(error('recall below floor') AS DOUBLE)
            END"""
      case None =>
        "CAST(n_overlap AS DOUBLE) / CAST(n_exact AS DOUBLE)"
    }
    s"""WITH $prelude,
        adc AS (SELECT query_id, vec_id FROM (
                  SELECT query_id, vec_id,
                         row_number() OVER (PARTITION BY query_id
                           ORDER BY dist_micro ASC, vec_id ASC) AS rnk
                  FROM $distCte) t WHERE rnk <= $k),
        edist AS (SELECT q.query_id, c.vec_id,
                         CAST(floor((list_dot_product(c.v, c.v)
                           - 2 * list_dot_product(c.v, q.v)
                           + list_dot_product(q.v, q.v)) * 1000000.0
                           + 0.5) AS BIGINT) AS d_micro
                  FROM e c CROSS JOIN q
                  WHERE c.vec_id <> q.query_id),
        exact AS (SELECT query_id, vec_id FROM (
                    SELECT query_id, vec_id,
                           row_number() OVER (PARTITION BY query_id
                             ORDER BY d_micro ASC, vec_id ASC) AS rnk
                    FROM edist) t WHERE rnk <= $k),
        rec AS (SELECT ex.query_id,
                       CAST(count(*) AS BIGINT) AS n_exact,
                       CAST(sum(CASE WHEN adc.vec_id IS NOT NULL
                                     THEN 1 ELSE 0 END) AS BIGINT)
                         AS n_overlap
                FROM exact ex
                LEFT JOIN adc ON adc.query_id = ex.query_id
                  AND adc.vec_id = ex.vec_id
                GROUP BY 1)
        SELECT query_id, n_exact, n_overlap, $recallExpr AS recall
        FROM rec ORDER BY query_id"""
  }

  private[queries] val BpeSteps = 8

  /** One BPE training per sf dir for the APPLY-side query (q355): the
    * train-once/serve-everywhere seam; q354 deliberately retrains per
    * invocation because training IS its measured operator.
    */
  private val bpeCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[(String, String)]]()
  private[queries] def bpeMerges(s: SparkSession, dir: String): Seq[(String, String)] =
    bpeCache.computeIfAbsent(dir, _ =>
      graft.ext.TextAnalysis.bpeTrain(t(s, dir, "documents"), BpeSteps)
        .orderBy("step").select("left_sym", "right_sym")
        .collect().toSeq.map(r => (r.getString(0), r.getString(1))))

  /** q354's oracle: the FULL BPE training loop unrolled to `BpeSteps`
    * static SQL stages. Each stage re-derives the pair census from the
    * previous stage's word-state table, picks the argmax with the same
    * (count desc, left asc, right asc) total order, and applies the
    * merge via a scalar-subquery `replace` — the oracle LEARNS the
    * merges itself; nothing from the Spark run is echoed in.
    */
  /** Shared BPE stage prelude: w0 (word-type states) and, per step i,
    * p_i (pair census) / m_i (argmax) / w_i (merge applied) — the
    * oracle-side training loop both q354 (merge table) and q355
    * (fertility with the learned vocabulary) build on.
    */
  private[queries] def bpeStagesSql(steps: Int): String = {
    val tokSql = raw"string_split_regex(trim(text), '\s+')"
    // Every stage CTE is MATERIALIZED: DuckDB 1.0 inlines plain CTEs, so
    // w_i's three references to w_{i-1} (direct + the two argmax scalar
    // subqueries) would re-evaluate the whole chain 3^steps times —
    // materialization makes the unrolled loop linear, exactly like the
    // Spark side's localCheckpoint'd state table.
    val w0 =
      s"""w0 AS MATERIALIZED (SELECT '|' || regexp_replace(w, '(.)', '\\1|', 'g')
                   AS state,
                 CAST(count(*) AS BIGINT) AS cnt
          FROM (SELECT unnest($tokSql) AS w FROM documents)
          WHERE regexp_matches(w, '^[a-z0-9]+$$')
          GROUP BY 1)"""
    val stages = (1 to steps).map { i =>
      s"""p$i AS MATERIALIZED (SELECT sy[j] AS a, sy[j + 1] AS b,
                        CAST(sum(cnt) AS BIGINT) AS c
                 FROM (SELECT cnt, sy,
                              unnest(generate_series(1, len(sy) - 1)) AS j
                       FROM (SELECT cnt,
                                    string_split(trim(state, '|'), '|')
                                      AS sy
                             FROM w${i - 1}))
                 WHERE sy[j] <> sy[j + 1] GROUP BY 1, 2),
          m$i AS MATERIALIZED (SELECT a, b, c FROM p$i
                  ORDER BY c DESC, a ASC, b ASC LIMIT 1),
          w$i AS MATERIALIZED (SELECT replace(state,
                    (SELECT '|' || a || '|' || b || '|' FROM m$i),
                    (SELECT '|' || a || b || '|' FROM m$i)) AS state, cnt
                  FROM w${i - 1})"""
    }.mkString(",\n")
    s"$w0,\n$stages"
  }

  private def bpeOracleSql(steps: Int): String = {
    val union = (1 to steps).map { i =>
      s"""SELECT CAST($i AS BIGINT) AS step, a AS left_sym,
                 b AS right_sym, a || b AS merged, c AS pair_n
          FROM m$i"""
    }.mkString(" UNION ALL ")
    s"WITH ${bpeStagesSql(steps)}\n$union ORDER BY step"
  }

  /** q355's oracle: per-language tokenizer fertility under the learned
    * vocabulary — the w$steps word-type table (state AFTER all merges)
    * carries pieces per word TYPE; occurrences join back by word. The
    * merges are re-learned by the same stage prelude, never echoed.
    */
  private def bpeFertilitySql(steps: Int): String = {
    val tokSql = raw"string_split_regex(trim(text), '\s+')"
    s"""WITH ${bpeStagesSql(steps)},
        pieces AS (SELECT replace(trim(state, '|'), '|', '') AS w,
                          CAST(len(string_split(trim(state, '|'), '|'))
                            AS BIGINT) AS n_pieces
                   FROM w$steps),
        occ AS (SELECT lang, w
                FROM (SELECT lang, unnest($tokSql) AS w FROM documents)
                WHERE regexp_matches(w, '^[a-z0-9]+$$'))
        SELECT occ.lang,
               CAST(count(*) AS BIGINT) AS n_words,
               CAST(sum(pieces.n_pieces) AS BIGINT) AS n_pieces,
               CAST(sum(length(occ.w)) AS BIGINT) AS n_chars,
               CAST(sum(pieces.n_pieces) AS DOUBLE)
                 / CAST(count(*) AS DOUBLE) AS fertility,
               CAST(sum(length(occ.w)) AS DOUBLE)
                 / CAST(sum(pieces.n_pieces) AS DOUBLE) AS chars_per_piece
        FROM occ JOIN pieces ON pieces.w = occ.w
        GROUP BY 1 ORDER BY 1"""
  }

  val oracleSql: Map[String, String] = Map(
    "q354_bpe_train" -> bpeOracleSql(BpeSteps),
    "q355_bpe_fertility" -> bpeFertilitySql(BpeSteps),

    // identical to q343's oracle: restart or no restart, the final
    // census is the batch recompute with doubled counts
    "q349_stream_gram_restart" -> {
      val spanL = Round14Queries.SpanL
      val tokSql = raw"string_split_regex(trim(text), '\s+')"
      def hash60Sql(e: String): String =
        s"CAST('0x' || substr(md5($e), 1, 15) AS BIGINT)"
      s"""WITH w AS (SELECT doc_id, $tokSql AS w FROM documents),
          p AS (SELECT doc_id,
                       ${hash60Sql(s"array_to_string(w[i:i+${spanL - 1}], ' ')")} AS g
                FROM (SELECT doc_id, w,
                             unnest(generate_series(1, len(w) - ${spanL - 1})) AS i
                      FROM w)),
          g AS (SELECT g, CAST(2 * count(*) AS BIGINT) AS cnt,
                       CAST(min(doc_id) AS BIGINT) AS owner
                FROM p GROUP BY 1)
          SELECT cnt, CAST(count(*) AS BIGINT) AS n_grams,
                 CAST(sum(owner) AS BIGINT) AS owner_sum
          FROM g GROUP BY 1 ORDER BY cnt"""
    })

  val dynamicOracleSql: Map[String, (SparkSession, String) => String] =
    Map(
      "q345_pq32_adc" -> ((s, dir) =>
        Round14Queries.adcTopkSql(pq32Model(s, dir), Round14Queries.AdcK)),

      "q346_pq32_recall" -> ((s, dir) =>
        recallSql(Round14Queries.packedSql(pq32Model(s, dir)),
          Some(Round14Queries.RecallFloor))),

      "q347_residual_adc12" -> ((s, dir) => {
        val prelude = Round14Queries.residualSql(
          Round14Queries.hiModel(s, dir),
          Round2Queries.ivfCentroids(s, dir), nProbe = ResProbe)
        s"""WITH $prelude,
            r AS (SELECT query_id, vec_id AS neighbor_id, dist_micro,
                         row_number() OVER (PARTITION BY query_id
                           ORDER BY dist_micro ASC, vec_id ASC) AS rnk
                  FROM dist)
            SELECT query_id, CAST(rnk AS BIGINT) AS rnk, neighbor_id,
                   dist_micro
            FROM r WHERE rnk <= ${Round14Queries.AdcK}
            ORDER BY query_id, rnk"""
      }),

      "q348_residual_recall12" -> ((s, dir) =>
        recallSql(Round14Queries.residualSql(
            Round14Queries.hiModel(s, dir),
            Round2Queries.ivfCentroids(s, dir), nProbe = ResProbe),
          Some(Round14Queries.RecallFloor))),

      // the guard is result-invisible when models match: q331's oracle,
      // rendered from the same in-memory model
      "q350_pq_stamped_serving" -> ((s, dir) =>
        Round14Queries.adcTopkSql(Round14Queries.hiModel(s, dir),
          Round14Queries.AdcK)),

      // lexical CTEs are q140's weighting verbatim; the ADC half rides
      // the packed prelude; fusion is pure integer arithmetic
      "q351_hybrid_rrf" -> ((s, dir) => {
        val tokSql = raw"string_split_regex(trim(text), '\s+')"
        s"""WITH ${Round14Queries.packedSql(Round14Queries.hiModel(s, dir))},
            annR AS (SELECT query_id, vec_id AS id, rnk FROM (
                       SELECT query_id, vec_id,
                              row_number() OVER (PARTITION BY query_id
                                ORDER BY dist_micro ASC, vec_id ASC) AS rnk
                       FROM dist) t WHERE rnk <= $HybridR),
            tok AS (SELECT doc_id, unnest($tokSql) AS tok FROM documents),
            tf AS (SELECT doc_id, tok, count(*) AS tf FROM tok
                   GROUP BY 1, 2),
            nn AS (SELECT count(*) AS nd FROM documents),
            dft AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
            w AS (SELECT doc_id, tf.tok, dft.df,
                         tf * CAST(length(bin(nd // df)) AS BIGINT) AS w
                  FROM tf JOIN dft ON tf.tok = dft.tok CROSS JOIN nn),
            n2 AS (SELECT doc_id, CAST(sum(w * w) AS BIGINT) AS n2
                   FROM w GROUP BY 1),
            rare AS (SELECT doc_id, tok FROM w WHERE df <= $LexDfCap),
            qrare AS (SELECT doc_id AS query_id, tok FROM rare
                      WHERE doc_id < ${Round14Queries.NQ}),
            cand AS (SELECT DISTINCT qr.query_id, r.doc_id AS id
                     FROM qrare qr JOIN rare r ON r.tok = qr.tok
                     WHERE r.doc_id <> qr.query_id),
            qw AS (SELECT doc_id AS query_id, tok, w FROM w
                   WHERE doc_id < ${Round14Queries.NQ}),
            dots AS (SELECT c.query_id, c.id,
                            CAST(sum(cw.w * qw.w) AS BIGINT) AS dot
                     FROM cand c
                     JOIN w cw ON cw.doc_id = c.id
                     JOIN qw ON qw.query_id = c.query_id
                       AND qw.tok = cw.tok
                     GROUP BY 1, 2),
            lexm AS (SELECT d.query_id, d.id,
                            CAST(floor(CAST(d.dot AS DOUBLE)
                              / sqrt(CAST(nq.n2 AS DOUBLE)
                                     * CAST(nc.n2 AS DOUBLE))
                              * 1000000.0 + 0.5) AS BIGINT) AS cm
                     FROM dots d
                     JOIN n2 nq ON nq.doc_id = d.query_id
                     JOIN n2 nc ON nc.doc_id = d.id),
            lexR AS (SELECT query_id, id, rnk FROM (
                       SELECT query_id, id,
                              row_number() OVER (PARTITION BY query_id
                                ORDER BY cm DESC, id ASC) AS rnk
                       FROM lexm) t WHERE rnk <= $HybridR),
            u AS (SELECT query_id, id,
                         1000000000 // ($RrfK0 + rnk) AS c FROM annR
                  UNION ALL
                  SELECT query_id, id,
                         1000000000 // ($RrfK0 + rnk) AS c FROM lexR),
            fused AS (SELECT query_id, id, CAST(sum(c) AS BIGINT)
                        AS rrf_micro
                      FROM u GROUP BY 1, 2),
            rr AS (SELECT query_id, id, rrf_micro,
                          row_number() OVER (PARTITION BY query_id
                            ORDER BY rrf_micro DESC, id ASC) AS rnk
                   FROM fused)
            SELECT query_id, CAST(rnk AS BIGINT) AS rnk, id, rrf_micro
            FROM rr WHERE rnk <= $HybridK ORDER BY query_id, rnk"""
      }),

      "q352_adc_refine" -> ((s, dir) => {
        s"""WITH ${Round14Queries.packedSql(Round14Queries.hiModel(s, dir))},
            sl AS (SELECT query_id, vec_id FROM (
                     SELECT query_id, vec_id,
                            row_number() OVER (PARTITION BY query_id
                              ORDER BY dist_micro ASC, vec_id ASC) AS rnk
                     FROM dist) t WHERE rnk <= $RefineSL),
            ed AS (SELECT s.query_id, s.vec_id,
                          CAST(floor((list_dot_product(c.v, c.v)
                            - 2 * list_dot_product(c.v, q.v)
                            + list_dot_product(q.v, q.v)) * 1000000.0
                            + 0.5) AS BIGINT) AS d_micro
                   FROM sl s
                   JOIN e c ON c.vec_id = s.vec_id
                   JOIN q ON q.query_id = s.query_id),
            r AS (SELECT query_id, vec_id AS neighbor_id, d_micro,
                         row_number() OVER (PARTITION BY query_id
                           ORDER BY d_micro ASC, vec_id ASC) AS rnk
                  FROM ed)
            SELECT query_id, CAST(rnk AS BIGINT) AS rnk, neighbor_id,
                   d_micro
            FROM r WHERE rnk <= ${Round14Queries.AdcK}
            ORDER BY query_id, rnk"""
      }),

      "q353_refine_recall" -> ((s, dir) => {
        val prelude =
          s"""${Round14Queries.packedSql(Round14Queries.hiModel(s, dir))},
              sl AS (SELECT query_id, vec_id FROM (
                       SELECT query_id, vec_id,
                              row_number() OVER (PARTITION BY query_id
                                ORDER BY dist_micro ASC, vec_id ASC)
                                AS rnk
                       FROM dist) t WHERE rnk <= $RefineSL),
              dist2 AS (SELECT s.query_id, s.vec_id,
                               CAST(floor((list_dot_product(c.v, c.v)
                                 - 2 * list_dot_product(c.v, q.v)
                                 + list_dot_product(q.v, q.v))
                                 * 1000000.0 + 0.5) AS BIGINT)
                                 AS dist_micro
                        FROM sl s
                        JOIN e c ON c.vec_id = s.vec_id
                        JOIN q ON q.query_id = s.query_id)"""
        recallSql(prelude, Some(RefineFloor), distCte = "dist2")
      }))
}
