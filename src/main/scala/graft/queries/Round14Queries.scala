package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.Readers
import graft.ext.Pq

/** Round-14 first batch: the FULL-DIMENSION product-quantization stack
  * at usable recall. Round 13 gated an 8-of-64-dimension PQ demo whose
  * honest recall audit topped out at 0.05–0.30 — the missing 56
  * dimensions, not the codebook size, were the ceiling (measured: at
  * dim=8 recall stays ~0.1 for every (m, k); at dim=64 it climbs with
  * codebook capacity to 0.89–0.95 at m=64/k=64 across all three SFs).
  * This family quantizes ALL 64 dimensions with the packed
  * matrix-reference expressions ([[graft.functions.PqEncodePacked]]),
  * trains with the driver-local deterministic Lloyd solver
  * ([[Pq.trainCodebooksLocal]] — one bounded sample read instead of m
  * Spark fits), and GATES the recall: q330 fails loud on BOTH engines
  * (Spark `raise_error`, DuckDB `error()`) if any query's recall@20
  * drops below 0.7, so a regression in training, encoding, or the ADC
  * scan turns the round red instead of silently degrading quality.
  */
object Round14Queries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Readers.table(s, dir, name)

  /** Bounded documents-stream harness — [[StreamingQueries
    * .runEventsStream]]'s symlink-scratch-dir pattern over
    * documents.parquet (no nanos-ts handling needed); `copies` > 1 +
    * maxFilesPerTrigger=1 feeds the same file as SEPARATE micro-batches
    * so streaming state actually merges across arrivals.
    */
  private[queries] def runDocsStream(
      s: SparkSession, dir: String, prefix: String, copies: Int,
      options: Map[String, String] = Map.empty)(
      use: DataFrame => DataFrame): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val streamDir = java.nio.file.Files.createTempDirectory(prefix)
    val target = java.nio.file.Paths.get(dir).toAbsolutePath
      .resolve("documents.parquet")
    // the file stream source lists streamDir non-recursively, so a
    // symlink to a DIRECTORY-shaped table (Spark-written scale-ups like
    // testdata-sf1) would contribute zero files and the stream would
    // silently run on empty input — link each part file instead
    val links = (1 to copies).flatMap { i =>
      StreamingQueries.partFiles(target).zipWithIndex.map { case (src, j) =>
        val l = streamDir.resolve(s"copy${i}_$j.parquet")
        java.nio.file.Files.createSymbolicLink(l, src)
        l
      }
    }
    try use(s.readStream.schema(schema).options(options)
      .parquet(streamDir.toString))
    finally {
      links.foreach(java.nio.file.Files.deleteIfExists(_))
      java.nio.file.Files.deleteIfExists(streamDir)
    }
  }

  private[queries] val Dim = 64
  private val M = 64
  private val K = 64
  private[queries] val NQ = 5
  private[queries] val AdcK = 5
  private[queries] val RecallK = 20
  private[queries] val RecallFloor = 0.7

  /** One local-Lloyd fit per sf dir (the q64/q315 centroid-cache
    * discipline: query and generated oracle must see the same codebooks
    * within a run).
    */
  private val hiCache =
    new java.util.concurrent.ConcurrentHashMap[String, Pq.Model]()
  private[queries] def hiModel(s: SparkSession, dir: String): Pq.Model =
    hiCache.computeIfAbsent(dir, _ =>
      Pq.trainCodebooksLocal(s, t(s, dir, "embeddings"), Dim, M, K))

  private def hiAdc(s: SparkSession, dir: String, k: Int,
                    maxLutRows: Long): DataFrame = {
    val e = t(s, dir, "embeddings")
    val model = hiModel(s, dir)
    Pq.adcKnnPacked(e.filter(col("vec_id") < NQ),
      Pq.encodePacked(e, model), model, k, maxLutRows)
  }

  private val coreQueries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Recall@20 of the full-dim packed ADC ranking against the exact
    // 64-dim L2 top-20, GATED at 0.7 per query: the number that makes
    // the PQ stack an operator instead of a demo.
    "q330_pq_hi_recall" -> ((s, dir) => {
      import graft.functions.VectorFunctions.dot
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < NQ)
      val adc = hiAdc(s, dir, RecallK, Pq.DefaultMaxLutRows)
        .select(col("query_id"), col("neighbor_id"))
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
          Seq(col("query_id")), -col("d_micro"), col("vec_id"), RecallK)
        .select(col("query_id"), col("id").as("neighbor_id"))
      exact.join(adc.withColumn("__hit", lit(1L)),
          Seq("query_id", "neighbor_id"), "left")
        .groupBy("query_id")
        .agg(count(lit(1)).as("n_exact"),
          coalesce(sum(col("__hit")), lit(0L)).as("n_overlap"))
        .select(col("query_id"), col("n_exact"), col("n_overlap"),
          when(col("n_overlap").cast("double") /
              col("n_exact").cast("double") >= RecallFloor,
            col("n_overlap").cast("double") / col("n_exact").cast("double"))
            .otherwise(raise_error(concat(
              lit(s"pq hi recall below $RecallFloor for query "),
              col("query_id")))).as("recall"))
        .orderBy("query_id")
    }),

    // The packed ADC top-k itself: per-query LUT arrays broadcast, one
    // codegen'd loop per (query, code-row) pair, exact integer ranking.
    "q331_pq_hi_adc" -> ((s, dir) =>
      hiAdc(s, dir, AdcK, Pq.DefaultMaxLutRows)
        .orderBy("query_id", "rnk")),

    // Chunk-invisibility, in-gate: the SAME scan with a LUT budget that
    // forces the NQ queries through multiple hash-disjoint batches (6 at
    // this budget since round 15's per-batch ENFORCEMENT — the expected
    // 3 leave one batch over budget under hash skew, so the count
    // doubles) must hash identically to q331's oracle (which knows
    // nothing of batching).
    "q332_pq_adc_chunked" -> ((s, dir) =>
      hiAdc(s, dir, AdcK, 2L * M * K)
        .orderBy("query_id", "rnk")),

    // Incremental exact-substring dedup, merge-equivalence in-gate: the
    // corpus split into two shards by doc_id parity, each shard's
    // persistable (g, cnt, owner) table built independently, merged
    // with the combinable (sum, min) merge — and the re-flagged spans
    // must hash-match q295's FULL-CORPUS recompute oracle exactly.
    "q333_gram_merge_spans" -> ((s, dir) => {
      import graft.ext.Dedup
      val docs = t(s, dir, "documents")
      val sh0 = docs.filter(pmod(col("doc_id"), lit(2)) === 0)
      val sh1 = docs.filter(pmod(col("doc_id"), lit(2)) === 1)
      val merged = Dedup.mergeGramStats(Seq(
        Dedup.gramStats(sh0, SpanL), Dedup.gramStats(sh1, SpanL)))
      Dedup.duplicatedSpansFromStats(docs, merged, SpanL)
        .orderBy("doc_id")
    }),

    // The incremental ARRIVAL path: a new shard (odd doc_ids) lands,
    // its stats merge into the persisted even-shard table, and only the
    // NEW shard's documents re-flag — against corpus-wide frequencies.
    "q334_gram_merge_incr" -> ((s, dir) => {
      import graft.ext.Dedup
      val docs = t(s, dir, "documents")
      val sh0 = docs.filter(pmod(col("doc_id"), lit(2)) === 0)
      val sh1 = docs.filter(pmod(col("doc_id"), lit(2)) === 1)
      val merged = Dedup.mergeGramStats(Seq(
        Dedup.gramStats(sh0, SpanL), Dedup.gramStats(sh1, SpanL)))
      Dedup.duplicatedSpansFromStats(sh1, merged, SpanL)
        .orderBy("doc_id")
    }),

    // Unbiased pass@k (Chen et al. 2021's combinatorial estimator) —
    // the LLM-eval primitive: per task (user) with n samples and c
    // successes, pass@k = 1 − C(n−c,k)/C(n,k), computed as the exact
    // k-factor falling product (k fixed → closed form, left-assoc IEEE
    // identical on both engines), snapped to the micro grid per task,
    // then census'd per bucket from exact integer sums.
    "q335_pass_at_k" -> ((s, dir) => {
      val per = t(s, dir, "events").groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("c"))
        .filter(col("n") >= PassK)
      def fall(base: org.apache.spark.sql.Column) = (0 until PassK)
        .map(i => (base - lit(i.toLong)).cast("double")).reduce(_ * _)
      val pass = when(col("n") - col("c") < PassK, lit(1.0))
        .otherwise(lit(1.0) - fall(col("n") - col("c")) / fall(col("n")))
      per.select((col("user_id") % 10).as("bucket"),
          floor(pass * 1e6 + lit(0.5)).cast("long").as("pm"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_tasks"),
          sum(col("pm")).as("pass_micro_sum"),
          min(col("pm")).as("min_pass_micro"),
          max(col("pm")).as("max_pass_micro"))
        .select(col("bucket"), col("n_tasks"), col("pass_micro_sum"),
          col("min_pass_micro"), col("max_pass_micro"),
          (col("pass_micro_sum").cast("double") /
            col("n_tasks").cast("double") / 1e6).as("mean_pass"))
        .orderBy("bucket")
    }),

    // IVFADC proper: PQ codes over RESIDUALS (v − cell centroid) —
    // strictly tighter quantization than raw-vector codes at the same
    // (m, k); candidates from the cosine-probed cells, exact-integer
    // ADC ranking. The billion-vector serving layout, hash-pinned.
    "q336_ivf_adc_residual" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Pq.ivfAdcResidualKnn(e, e.filter(col("vec_id") < NQ),
          Round2Queries.ivfCentroids(s, dir), hiModel(s, dir),
          AdcK, IvfProbe)
        .orderBy("query_id", "rnk")
    }),

    // Residual-IVFADC recall audit vs the exact 64-dim top-20 — NO
    // floor: unlike q330 (full scan), recall here is capped by probe
    // coverage (nProbe/nCells of the corpus), and the audit exists to
    // expose exactly that trade next to q330's.
    "q337_residual_recall" -> ((s, dir) => {
      import graft.functions.VectorFunctions.dot
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < NQ)
      val adc = Pq.ivfAdcResidualKnn(e, q,
          Round2Queries.ivfCentroids(s, dir), hiModel(s, dir),
          RecallK, IvfProbe)
        .select(col("query_id"), col("neighbor_id"))
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
          Seq(col("query_id")), -col("d_micro"), col("vec_id"), RecallK)
        .select(col("query_id"), col("id").as("neighbor_id"))
      exact.join(adc.withColumn("__hit", lit(1L)),
          Seq("query_id", "neighbor_id"), "left")
        .groupBy("query_id")
        .agg(count(lit(1)).as("n_exact"),
          coalesce(sum(col("__hit")), lit(0L)).as("n_overlap"))
        .select(col("query_id"), col("n_exact"), col("n_overlap"),
          (col("n_overlap").cast("double") /
            col("n_exact").cast("double")).as("recall"))
        .orderBy("query_id")
    }),
  )

  private val PassK = 5
  private[queries] val IvfProbe = 4
  private val OpqM = 32
  private val OpqK = 64

  /** One (permutation, model) fit per sf dir for the OPQ-lite family —
    * the permutation is data-derived (per-dim variances), so it renders
    * into the oracle as an index list exactly like learned centroids.
    */
  private val opqCache = new java.util.concurrent.ConcurrentHashMap[
    String, (Seq[Int], Pq.Model)]()

  /** q344's saved-model parquet path, one per sf dir for the process
    * lifetime (same keying as [[hiCache]]): repeated invocations reload
    * the SAME persisted model instead of leaking a temp dir per call,
    * and a shutdown hook removes that one dir when the JVM exits.
    */
  private val savedModelCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def opqModel(s: SparkSession, dir: String): (Seq[Int], Pq.Model) =
    opqCache.computeIfAbsent(dir, _ => {
      val e = t(s, dir, "embeddings")
      val perm = Pq.varianceBalancedPerm(e, Dim, OpqM)
      val ep = e.select(col("vec_id"), Pq.permuteVec(
        col("embedding").cast("array<double>"), perm).as("embedding"))
      (perm, Pq.trainCodebooksLocal(s, ep, Dim, OpqM, OpqK))
    })

  private def opqAdc(s: SparkSession, dir: String, k: Int): DataFrame = {
    val (perm, model) = opqModel(s, dir)
    val e = t(s, dir, "embeddings")
    def p(df: DataFrame) = df.select(col("vec_id"), Pq.permuteVec(
      col("embedding").cast("array<double>"), perm).as("embedding"))
    Pq.adcKnnPacked(p(e.filter(col("vec_id") < NQ)),
      Pq.encodePacked(p(e), model), model, k)
  }

  /** OPQ-lite family: variance-balanced coordinate permutation before
    * PQ — at m=32/k=64 (24 bytes/vector, HALF of q330's m=64 codes)
    * the permutation lifts sf0.1 mean recall@20 0.67 → 0.76 (min
    * 0.55 → 0.65; PLANS.md sweep table). Min recall stays under the
    * 0.7 floor, so unlike q330 these gate the HASHES (permutation,
    * codes, ranking all reproduced by the oracle from the rendered
    * index list + codebooks) and q339 reports recall WITHOUT a floor —
    * the honest audit of the bytes-vs-recall trade between
    * configurations.
    */
  val opqQueries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q338_opq_adc" -> ((s, dir) =>
      opqAdc(s, dir, AdcK).orderBy("query_id", "rnk")),

    // Pairwise bigram cross-entropy between languages on the integer-
    // bits grid (no float log — bit-portable): the domain-shift matrix
    // behind mixture design; diagonal = self-entropy floor.
    "q340_cross_entropy" -> ((s, dir) =>
      graft.ext.TextAnalysis.crossEntropyBits(
          t(s, dir, "documents"), "lang")
        .orderBy("model_slice", "eval_slice")),

    // DSIR importance selection: per-doc whole-bit log-ratio between
    // the raw-corpus and target (lang = 'en') bigram models; ranking
    // by score descending = importance-resampled data selection.
    "q341_dsir_score" -> ((s, dir) =>
      graft.ext.TextAnalysis.dsirScoreBits(
          t(s, dir, "documents"), col("lang") === "en")
        .orderBy("doc_id")),

    // Persistence fidelity, in-gate: the hi model saved to parquet,
    // RELOADED, and served — must hash-match q331's oracle, which was
    // rendered from the in-memory model (doubles round-trip parquet
    // bit-exactly; ordering reconstructed from (s, code) keys). The
    // saved-model path is cached per sf dir (the hiCache discipline):
    // benches and verify re-invoke query lambdas repeatedly, and a fresh
    // temp dir per invocation was an unbounded temp-disk leak.
    "q344_pq_model_roundtrip" -> ((s, dir) => {
      val model = hiModel(s, dir)
      val path = savedModelCache.computeIfAbsent(dir, _ => {
        val root = java.nio.file.Files.createTempDirectory("q344_model_")
        sys.addShutdownHook(graft.engine.Pipeline.deleteRecursively(root))
        val p = root.resolve("pq").toString
        Pq.saveModel(s, model, p)
        p
      })
      val reloaded = Pq.loadModel(s, path)
      val e = t(s, dir, "embeddings")
      Pq.adcKnnPacked(e.filter(col("vec_id") < NQ),
          Pq.encodePacked(e, reloaded), reloaded, AdcK)
        .orderBy("query_id", "rnk")
    }),

    // The gram-stats merge seam in STREAMING form: the same document
    // file arrives as TWO micro-batches (maxFilesPerTrigger=1 over two
    // symlinks), the streaming aggregate merges (count, min-owner)
    // state across arrivals, and the final table must equal the batch
    // recompute with doubled counts — q333's merge-equivalence
    // restated as Structured Streaming state. Output is the cnt-census
    // (the raw gram table is corpus-sized).
    "q343_stream_gram_stats" -> ((s, dir) =>
      runDocsStream(s, dir, "q343_docs_", copies = 2,
          // one trigger per logical copy (the q366 harness lesson): a
          // directory-shaped table under maxFilesPerTrigger=1 would
          // re-emit the corpus-sized gram census once per PART file
          Map("maxFilesPerTrigger" ->
            StreamingQueries.partFileCount(dir, "documents").toString)) {
        raw =>
        val stats = graft.ext.Dedup.gramStats(
          raw.select(col("doc_id"), col("text")), SpanL)
        val out = graft.streaming.EventStream.runToMemory(stats,
          StreamingQueries.memName("q343_mem_"),
          statePartitions = Some(8))
        out.groupBy("cnt")
          .agg(count(lit(1)).as("n_grams"), sum(col("owner")).as("owner_sum"))
          .orderBy("cnt")
      }),

    // Fuzzy decontamination: MinHash-banded candidates between corpus
    // (doc_id % 29 ≠ 0) and "benchmark" (doc_id % 29 = 0), verified by
    // exact shingle Jaccard ≥ 0.5 — the paraphrase-resistant escape
    // hatch exact n-gram decontamination (q79/q139) misses.
    "q342_fuzzy_decontaminate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.ext.Decontaminate.contaminatedFuzzy(
          docs.filter(pmod(col("doc_id"), lit(29)) =!= 0),
          docs.filter(pmod(col("doc_id"), lit(29)) === 0), 0.5)
        .orderBy("doc_id")
    }),

    "q339_opq_recall" -> ((s, dir) => {
      import graft.functions.VectorFunctions.dot
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < NQ)
      val adc = opqAdc(s, dir, RecallK)
        .select(col("query_id"), col("neighbor_id"))
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
          Seq(col("query_id")), -col("d_micro"), col("vec_id"), RecallK)
        .select(col("query_id"), col("id").as("neighbor_id"))
      exact.join(adc.withColumn("__hit", lit(1L)),
          Seq("query_id", "neighbor_id"), "left")
        .groupBy("query_id")
        .agg(count(lit(1)).as("n_exact"),
          coalesce(sum(col("__hit")), lit(0L)).as("n_overlap"))
        .select(col("query_id"), col("n_exact"), col("n_overlap"),
          (col("n_overlap").cast("double") /
            col("n_exact").cast("double")).as("recall"))
        .orderBy("query_id")
    }),
  )

  /** q295's window length — the merge queries must re-derive the SAME
    * spans the full-corpus query gates, so the parameter is shared.
    */
  private[queries] val SpanL = 8

  private val tokSql = raw"string_split_regex(trim(text), '\s+')"
  private def hash60Sql(e: String): String =
    s"CAST('0x' || substr(md5($e), 1, 15) AS BIGINT)"

  /** Full-corpus substring-dedup recompute (q295's oracle verbatim,
    * with an optional final doc filter): the merged-shard queries must
    * reproduce it bit-for-bit — the oracle knows nothing of shards.
    */
  private def spanOracle(docFilter: String): String =
    s"""WITH w AS (SELECT doc_id, $tokSql AS w FROM documents),
        sz AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens FROM w),
        p AS (SELECT doc_id, i,
                     ${hash60Sql(s"array_to_string(w[i:i+${SpanL - 1}], ' ')")} AS g
              FROM (SELECT doc_id, w,
                           unnest(generate_series(1, len(w) - ${SpanL - 1})) AS i
                    FROM w)),
        hot AS (SELECT g FROM p GROUP BY g HAVING count(*) >= 2),
        f AS (SELECT doc_id, i FROM p WHERE g IN (SELECT g FROM hot)),
        b AS (SELECT doc_id, i,
                     CASE WHEN i - lag(i) OVER (PARTITION BY doc_id
                                                ORDER BY i) <= $SpanL
                          THEN 0 ELSE 1 END AS brk FROM f),
        isl AS (SELECT doc_id, i,
                       sum(brk) OVER (PARTITION BY doc_id ORDER BY i) AS isl
                FROM b),
        sp AS (SELECT doc_id, isl, min(i) AS s, max(i) AS e
               FROM isl GROUP BY 1, 2),
        d AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
                     CAST(sum(e - s + $SpanL) AS BIGINT) AS dup_tokens
              FROM sp GROUP BY 1)
        SELECT sz.doc_id,
               CAST(coalesce(d.n_spans, 0) AS BIGINT) AS n_spans,
               CAST(coalesce(d.dup_tokens, 0) AS BIGINT) AS dup_tokens,
               sz.n_tokens,
               CAST(coalesce(d.dup_tokens, 0) AS DOUBLE) / sz.n_tokens
                 AS dup_ratio
        FROM sz LEFT JOIN d USING (doc_id) $docFilter ORDER BY doc_id"""

  private val passAtKSql: String = {
    def fall(base: String) = (0 until PassK)
      .map(i => s"CAST($base - $i AS DOUBLE)").mkString(" * ")
    s"""WITH per AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n,
                            CAST(sum(CASE WHEN event_type = 'purchase'
                                          THEN 1 ELSE 0 END) AS BIGINT)
                              AS c
                     FROM events GROUP BY 1
                     HAVING count(*) >= $PassK),
        p AS (SELECT user_id % 10 AS bucket,
                     CAST(floor((CASE WHEN n - c < $PassK
                                      THEN CAST(1.0 AS DOUBLE)
                                      ELSE CAST(1.0 AS DOUBLE) -
                                           (${fall("n - c")})
                                           / (${fall("n")})
                                 END) * 1000000.0 + 0.5) AS BIGINT) AS pm
              FROM per)
        SELECT bucket, CAST(count(*) AS BIGINT) AS n_tasks,
               CAST(sum(pm) AS BIGINT) AS pass_micro_sum,
               CAST(min(pm) AS BIGINT) AS min_pass_micro,
               CAST(max(pm) AS BIGINT) AS max_pass_micro,
               CAST(sum(pm) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                 / 1000000.0 AS mean_pass
        FROM p GROUP BY 1 ORDER BY 1"""
  }

  private val crossEntropySql: String =
    s"""WITH w AS (SELECT lang, $tokSql AS w FROM documents),
        bi AS (SELECT lang,
                      ${hash60Sql("array_to_string(w[i:i+1], ' ')")} AS h2
               FROM (SELECT lang, w,
                            unnest(generate_series(1, len(w) - 1)) AS i
                     FROM w)),
        cnt AS (SELECT lang, h2, CAST(count(*) AS BIGINT) AS c
                FROM bi GROUP BY 1, 2),
        v AS (SELECT CAST(count(DISTINCT h2) AS BIGINT) AS v FROM cnt),
        tot AS (SELECT lang, CAST(sum(c) AS BIGINT) AS n
                FROM cnt GROUP BY 1),
        pairs AS (SELECT tm.lang AS model_slice, e.lang AS eval_slice,
                         e.c AS c_e,
                         CAST(length(bin((tm.n + v.v)
                           // (coalesce(cm.c, 0) + 1))) - 1 AS BIGINT)
                           AS bits
                  FROM cnt e
                  CROSS JOIN tot tm
                  CROSS JOIN v
                  LEFT JOIN cnt cm ON cm.lang = tm.lang
                    AND cm.h2 = e.h2)
        SELECT model_slice, eval_slice,
               CAST(sum(c_e) AS BIGINT) AS n_bigrams,
               CAST(sum(c_e * bits) AS BIGINT) AS bits_total,
               CAST(sum(c_e * bits) AS DOUBLE) / CAST(sum(c_e) AS DOUBLE)
                 AS mean_bits
        FROM pairs GROUP BY 1, 2 ORDER BY 1, 2"""

  private val dsirSql: String =
    s"""WITH w AS (SELECT doc_id, lang, $tokSql AS w FROM documents),
        bi AS (SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END
                       AS t,
                      ${hash60Sql("array_to_string(w[i:i+1], ' ')")} AS h2
               FROM (SELECT doc_id, lang, w,
                            unnest(generate_series(1, len(w) - 1)) AS i
                     FROM w)),
        raw AS (SELECT h2, CAST(count(*) AS BIGINT) AS c_raw,
                       CAST(sum(t) AS BIGINT) AS c_tgt
                FROM bi GROUP BY 1),
        tot AS (SELECT CAST(sum(c_raw) AS BIGINT) AS n_raw,
                       CAST(sum(c_tgt) AS BIGINT) AS n_tgt,
                       CAST(count(*) AS BIGINT) AS v
                FROM raw),
        per AS (SELECT bi.doc_id,
                       CAST(count(*) AS BIGINT) AS n_bigrams,
                       CAST(sum(length(bin((tot.n_raw + tot.v)
                         // (raw.c_raw + 1))) - 1) AS BIGINT)
                         AS bits_raw,
                       CAST(sum(length(bin((tot.n_tgt + tot.v)
                         // (raw.c_tgt + 1))) - 1) AS BIGINT)
                         AS bits_target
                FROM bi JOIN raw USING (h2) CROSS JOIN tot
                GROUP BY 1),
        d AS (SELECT doc_id FROM documents)
        SELECT d.doc_id,
               CAST(coalesce(per.n_bigrams, 0) AS BIGINT) AS n_bigrams,
               per.bits_raw, per.bits_target,
               CAST(per.bits_raw - per.bits_target AS BIGINT)
                 AS score_bits,
               CASE WHEN per.n_bigrams > 0
                    THEN CAST(per.bits_raw - per.bits_target AS DOUBLE)
                         / CAST(per.n_bigrams AS DOUBLE)
               END AS mean_score
        FROM d LEFT JOIN per USING (doc_id) ORDER BY doc_id"""

  private val fuzzyDecontSql: String = {
    import ExtensionQueries.{shingleCte, minhashAggs, hash30Sql, bandSelects}
    s"""WITH $shingleCte,
        shh AS (SELECT doc_id, $hash30Sql AS h30 FROM sh),
        sig AS (SELECT doc_id, $minhashAggs FROM shh GROUP BY doc_id),
        banded AS ($bandSelects),
        cand AS (SELECT DISTINCT a.doc_id, b.doc_id AS bench_id
                 FROM banded a JOIN banded b
                   ON a.band = b.band AND a.bkey = b.bkey
                  AND a.doc_id % 29 <> 0 AND b.doc_id % 29 = 0
                  AND a.doc_id <> b.doc_id),
        sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n
               FROM sh GROUP BY 1),
        inter AS (SELECT c.doc_id, c.bench_id,
                         CAST(count(*) AS BIGINT) AS i
                  FROM cand c
                  JOIN sh x ON x.doc_id = c.doc_id
                  JOIN sh y ON y.doc_id = c.bench_id
                    AND y.shingle = x.shingle
                  GROUP BY 1, 2),
        v AS (SELECT i.doc_id, i.bench_id, i.i,
                     CAST(x.n + y.n - i.i AS BIGINT) AS u
              FROM inter i JOIN sz x ON x.doc_id = i.doc_id
              JOIN sz y ON y.doc_id = i.bench_id),
        f AS (SELECT doc_id, bench_id, (i * 1000000) // u AS j_micro
              FROM v WHERE CAST(i AS DOUBLE) / CAST(u AS DOUBLE) >= 0.5),
        r AS (SELECT doc_id, bench_id, j_micro,
                     row_number() OVER (PARTITION BY doc_id
                       ORDER BY j_micro DESC, bench_id ASC) AS rnk
              FROM f)
        SELECT r.doc_id,
               cnt.n_matches,
               r.bench_id AS best_bench_id,
               CAST(r.j_micro AS DOUBLE) / 1000000.0 AS best_jaccard
        FROM r
        JOIN (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_matches
              FROM f GROUP BY 1) cnt ON cnt.doc_id = r.doc_id
        WHERE r.rnk = 1
        ORDER BY r.doc_id"""
  }

  val oracleSql: Map[String, String] = Map(
    "q333_gram_merge_spans" -> spanOracle(""),
    "q334_gram_merge_incr" -> spanOracle("WHERE sz.doc_id % 2 = 1"),
    "q335_pass_at_k" -> passAtKSql,
    "q340_cross_entropy" -> crossEntropySql,
    "q341_dsir_score" -> dsirSql,
    "q342_fuzzy_decontaminate" -> fuzzyDecontSql,
    "q343_stream_gram_stats" ->
      s"""WITH w AS (SELECT doc_id, $tokSql AS w FROM documents),
          p AS (SELECT doc_id,
                       ${hash60Sql(s"array_to_string(w[i:i+${SpanL - 1}], ' ')")} AS g
                FROM (SELECT doc_id, w,
                             unnest(generate_series(1, len(w) - ${SpanL - 1})) AS i
                      FROM w)),
          g AS (SELECT g, CAST(2 * count(*) AS BIGINT) AS cnt,
                       CAST(min(doc_id) AS BIGINT) AS owner
                FROM p GROUP BY 1)
          SELECT cnt, CAST(count(*) AS BIGINT) AS n_grams,
                 CAST(sum(owner) AS BIGINT) AS owner_sum
          FROM g GROUP BY 1 ORDER BY cnt""")

  /** Residual-IVFADC SQL prelude: cell assignment over the FULL vector
    * (q318's squared-Euclidean, ties to lowest cell), per-vector
    * residual v − centroid[cell] (elementwise double subtraction — the
    * zip_with order), packed-PQ assignment of the RESIDUAL slices,
    * cosine probe, per-(query, probed-cell) residual LUT, and the ADC
    * distance join. Ends with the `dist` CTE.
    */
  private[queries] def residualSql(model: Pq.Model,
                          cents: Seq[Seq[Double]],
                          nProbe: Int = IvfProbe): String = {
    val sub = model.subDim
    val bookValues = model.books.zipWithIndex.flatMap { case (book, s) =>
      book.zipWithIndex.map { case (c, i) =>
        c.map(x => s"'$x'::DOUBLE").mkString(s"($s, $i, [", ", ", "])")
      }
    }.mkString(", ")
    val centValues = cents.zipWithIndex.map { case (c, i) =>
      c.map(x => s"'$x'::DOUBLE").mkString(s"($i, [", ", ", "])")
    }.mkString(", ")
    def d2(vs: String, cv: String) =
      s"list_dot_product($vs, $vs) - 2 * list_dot_product($vs, $cv) + " +
        s"list_dot_product($cv, $cv)"
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
              FROM embeddings),
        books(s, code, bcv) AS (VALUES $bookValues),
        subs AS (SELECT unnest(generate_series(0, ${model.m - 1})) AS s),
        cents(cell, cv) AS (VALUES $centValues),
        cn AS (SELECT cell, cv, list_dot_product(cv, cv) AS cv_n2
               FROM cents),
        acell AS (SELECT vec_id, cell FROM (
                    SELECT e.vec_id, cn.cell,
                           row_number() OVER (PARTITION BY e.vec_id
                             ORDER BY (list_dot_product(e.v, e.v)
                               - 2 * list_dot_product(e.v, cn.cv)
                               + cn.cv_n2) ASC, cn.cell ASC) AS arnk
                    FROM e CROSS JOIN cn) t WHERE arnk = 1),
        rv AS (SELECT e.vec_id, a.cell,
                      list_transform(list_zip(e.v, cn.cv),
                                     x -> x[1] - x[2]) AS v
               FROM e JOIN acell a USING (vec_id)
               JOIN cn ON cn.cell = a.cell),
        rsv AS (SELECT rv.vec_id, rv.cell, subs.s,
                       list_slice(rv.v, subs.s * $sub + 1,
                                  (subs.s + 1) * $sub) AS sv
                FROM rv CROSS JOIN subs),
        asn AS (SELECT vec_id, cell, s, code FROM (
                  SELECT rsv.vec_id, rsv.cell, rsv.s, b.code,
                         row_number() OVER (PARTITION BY rsv.vec_id, rsv.s
                           ORDER BY ${d2("rsv.sv", "b.bcv")} ASC,
                                    b.code ASC) AS rnk
                  FROM rsv JOIN books b ON b.s = rsv.s) t WHERE rnk = 1),
        q AS (SELECT vec_id AS query_id, v,
                     list_dot_product(v, v) AS qv_n2
              FROM e WHERE vec_id < $NQ),
        probe AS (SELECT query_id, cell FROM (
                    SELECT q.query_id, cn.cell,
                           row_number() OVER (PARTITION BY q.query_id
                             ORDER BY list_dot_product(q.v, cn.cv)
                               / sqrt(q.qv_n2 * cn.cv_n2) DESC,
                               cn.cell ASC) AS cell_rnk
                    FROM q CROSS JOIN cn) t
                  WHERE cell_rnk <= $nProbe),
        qrv AS (SELECT p.query_id, p.cell,
                       list_transform(list_zip(q.v, cn.cv),
                                      x -> x[1] - x[2]) AS v
                FROM probe p
                JOIN q ON q.query_id = p.query_id
                JOIN cn ON cn.cell = p.cell),
        qsv AS (SELECT qrv.query_id, qrv.cell, subs.s,
                       list_slice(qrv.v, subs.s * $sub + 1,
                                  (subs.s + 1) * $sub) AS sv
                FROM qrv CROSS JOIN subs),
        lut AS (SELECT qsv.query_id, qsv.cell, b.s, b.code,
                       CAST(floor((${d2("qsv.sv", "b.bcv")}) * 1000000.0
                         + 0.5) AS BIGINT) AS d
                FROM qsv JOIN books b ON b.s = qsv.s),
        dist AS (SELECT l.query_id, a.vec_id,
                        CAST(sum(l.d) AS BIGINT) AS dist_micro
                 FROM asn a
                 JOIN lut l ON l.cell = a.cell AND l.s = a.s
                   AND l.code = a.code
                 WHERE a.vec_id <> l.query_id
                 GROUP BY 1, 2)"""
  }

  /** m-generic packed-PQ SQL prelude: ALL codebooks as one
    * (s, code, cv) VALUES relation, per-(vector, subspace) nearest-code
    * assignment with (d2 ASC, code ASC) ties — the strict-< scan order
    * of [[graft.functions.PqEncodePacked]] — and the per-query micro
    * lookup table. Components render as 'x'::DOUBLE (bare SQL decimal
    * literals parse as DECIMAL whose DOUBLE cast is not correctly
    * rounded — the q64 lesson).
    */
  private[queries] val defaultECte: String =
    """e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
             FROM embeddings)"""

  /** Permuted-vector CTE: the variance-balanced permutation is
    * data-derived, so it renders as a plain index list — the oracle
    * re-applies it exactly like learned centroids.
    */
  private def permECte(perm: Seq[Int]): String = {
    val items = perm.map(j => s"v0[${j + 1}]").mkString(", ")
    s"""e AS (SELECT vec_id, [$items] AS v FROM
          (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v0
           FROM embeddings))"""
  }

  private[queries] def packedSql(model: Pq.Model,
                        eCte: String = defaultECte): String = {
    val sub = model.subDim
    val bookValues = model.books.zipWithIndex.flatMap { case (book, s) =>
      book.zipWithIndex.map { case (c, i) =>
        c.map(x => s"'$x'::DOUBLE").mkString(s"($s, $i, [", ", ", "])")
      }
    }.mkString(", ")
    def d2(vs: String, cv: String) =
      s"list_dot_product($vs, $vs) - 2 * list_dot_product($vs, $cv) + " +
        s"list_dot_product($cv, $cv)"
    s"""$eCte,
        books(s, code, cv) AS (VALUES $bookValues),
        subs AS (SELECT unnest(generate_series(0, ${model.m - 1})) AS s),
        sv AS (SELECT e.vec_id, subs.s,
                      list_slice(e.v, subs.s * $sub + 1,
                                 (subs.s + 1) * $sub) AS sv
               FROM e CROSS JOIN subs),
        asn AS (SELECT vec_id, s, code FROM (
                  SELECT sv.vec_id, sv.s, b.code,
                         row_number() OVER (PARTITION BY sv.vec_id, sv.s
                           ORDER BY ${d2("sv.sv", "b.cv")} ASC,
                                    b.code ASC) AS rnk
                  FROM sv JOIN books b ON b.s = sv.s) t WHERE rnk = 1),
        q AS (SELECT vec_id AS query_id, v FROM e WHERE vec_id < $NQ),
        qsv AS (SELECT q.query_id, subs.s,
                       list_slice(q.v, subs.s * $sub + 1,
                                  (subs.s + 1) * $sub) AS sv
                FROM q CROSS JOIN subs),
        lut AS (SELECT qsv.query_id, b.s, b.code,
                       CAST(floor((${d2("qsv.sv", "b.cv")}) * 1000000.0
                         + 0.5) AS BIGINT) AS d
                FROM qsv JOIN books b ON b.s = qsv.s),
        dist AS (SELECT l.query_id, a.vec_id,
                        CAST(sum(l.d) AS BIGINT) AS dist_micro
                 FROM asn a
                 JOIN lut l ON l.s = a.s AND l.code = a.code
                 WHERE a.vec_id <> l.query_id
                 GROUP BY 1, 2)"""
  }

  private[queries] def adcTopkSql(model: Pq.Model, k: Int,
                         eCte: String = defaultECte): String =
    s"""WITH ${packedSql(model, eCte)},
        r AS (SELECT query_id, vec_id AS neighbor_id, dist_micro,
                     row_number() OVER (PARTITION BY query_id
                       ORDER BY dist_micro ASC, vec_id ASC) AS rnk
              FROM dist)
        SELECT query_id, CAST(rnk AS BIGINT) AS rnk, neighbor_id,
               dist_micro
        FROM r WHERE rnk <= $k ORDER BY query_id, rnk"""

  val dynamicOracleSql: Map[String, (SparkSession, String) => String] =
    Map(
      "q330_pq_hi_recall" -> ((s, dir) => {
        val model = hiModel(s, dir)
        s"""WITH ${packedSql(model)},
            adc AS (SELECT query_id, vec_id FROM (
                      SELECT query_id, vec_id,
                             row_number() OVER (PARTITION BY query_id
                               ORDER BY dist_micro ASC, vec_id ASC) AS rnk
                      FROM dist) t WHERE rnk <= $RecallK),
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
                        FROM edist) t WHERE rnk <= $RecallK),
            rec AS (SELECT ex.query_id,
                           CAST(count(*) AS BIGINT) AS n_exact,
                           CAST(sum(CASE WHEN adc.vec_id IS NOT NULL
                                         THEN 1 ELSE 0 END) AS BIGINT)
                             AS n_overlap
                    FROM exact ex
                    LEFT JOIN adc ON adc.query_id = ex.query_id
                      AND adc.vec_id = ex.vec_id
                    GROUP BY 1)
            SELECT query_id, n_exact, n_overlap,
                   CASE WHEN CAST(n_overlap AS DOUBLE)
                          / CAST(n_exact AS DOUBLE) >= $RecallFloor
                        THEN CAST(n_overlap AS DOUBLE)
                          / CAST(n_exact AS DOUBLE)
                        ELSE CAST(error('pq hi recall below floor')
                                  AS DOUBLE)
                   END AS recall
            FROM rec ORDER BY query_id"""
      }),

      "q331_pq_hi_adc" -> ((s, dir) => adcTopkSql(hiModel(s, dir), AdcK)),

      // rendered from the IN-MEMORY model — the reloaded-model query
      // must reproduce it bit-for-bit
      "q344_pq_model_roundtrip" -> ((s, dir) =>
        adcTopkSql(hiModel(s, dir), AdcK)),

      // identical SQL to q331 — the oracle knows nothing of batching;
      // the chunked Spark run must reproduce it bit-for-bit
      "q332_pq_adc_chunked" -> ((s, dir) =>
        adcTopkSql(hiModel(s, dir), AdcK)),

      "q338_opq_adc" -> ((s, dir) => {
        val (perm, model) = opqModel(s, dir)
        adcTopkSql(model, AdcK, permECte(perm))
      }),

      // adc side runs over PERMUTED vectors; the exact side must use
      // the ORIGINAL coordinate order — permutation preserves L2
      // exactly as a set but not the left-to-right IEEE fold, so
      // near-tie micro values could otherwise flip ranks
      "q339_opq_recall" -> ((s, dir) => {
        val (perm, model) = opqModel(s, dir)
        s"""WITH ${packedSql(model, permECte(perm))},
            adc AS (SELECT query_id, vec_id FROM (
                      SELECT query_id, vec_id,
                             row_number() OVER (PARTITION BY query_id
                               ORDER BY dist_micro ASC, vec_id ASC) AS rnk
                      FROM dist) t WHERE rnk <= $RecallK),
            e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                   FROM embeddings),
            q0 AS (SELECT vec_id AS query_id, v FROM e0
                   WHERE vec_id < $NQ),
            edist AS (SELECT q0.query_id, c.vec_id,
                             CAST(floor((list_dot_product(c.v, c.v)
                               - 2 * list_dot_product(c.v, q0.v)
                               + list_dot_product(q0.v, q0.v)) * 1000000.0
                               + 0.5) AS BIGINT) AS d_micro
                      FROM e0 c CROSS JOIN q0
                      WHERE c.vec_id <> q0.query_id),
            exact AS (SELECT query_id, vec_id FROM (
                        SELECT query_id, vec_id,
                               row_number() OVER (PARTITION BY query_id
                                 ORDER BY d_micro ASC, vec_id ASC) AS rnk
                        FROM edist) t WHERE rnk <= $RecallK)
            SELECT ex.query_id,
                   CAST(count(*) AS BIGINT) AS n_exact,
                   CAST(sum(CASE WHEN adc.vec_id IS NOT NULL
                                 THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_overlap,
                   CAST(sum(CASE WHEN adc.vec_id IS NOT NULL
                                 THEN 1 ELSE 0 END) AS DOUBLE)
                     / CAST(count(*) AS DOUBLE) AS recall
            FROM exact ex
            LEFT JOIN adc ON adc.query_id = ex.query_id
              AND adc.vec_id = ex.vec_id
            GROUP BY 1 ORDER BY 1"""
      }),

      "q336_ivf_adc_residual" -> ((s, dir) => {
        val prelude = residualSql(hiModel(s, dir),
          Round2Queries.ivfCentroids(s, dir))
        s"""WITH $prelude,
            r AS (SELECT query_id, vec_id AS neighbor_id, dist_micro,
                         row_number() OVER (PARTITION BY query_id
                           ORDER BY dist_micro ASC, vec_id ASC) AS rnk
                  FROM dist)
            SELECT query_id, CAST(rnk AS BIGINT) AS rnk, neighbor_id,
                   dist_micro
            FROM r WHERE rnk <= $AdcK ORDER BY query_id, rnk"""
      }),

      "q337_residual_recall" -> ((s, dir) => {
        val prelude = residualSql(hiModel(s, dir),
          Round2Queries.ivfCentroids(s, dir))
        s"""WITH $prelude,
            adc AS (SELECT query_id, vec_id FROM (
                      SELECT query_id, vec_id,
                             row_number() OVER (PARTITION BY query_id
                               ORDER BY dist_micro ASC, vec_id ASC) AS rnk
                      FROM dist) t WHERE rnk <= $RecallK),
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
                        FROM edist) t WHERE rnk <= $RecallK)
            SELECT ex.query_id,
                   CAST(count(*) AS BIGINT) AS n_exact,
                   CAST(sum(CASE WHEN adc.vec_id IS NOT NULL
                                 THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_overlap,
                   CAST(sum(CASE WHEN adc.vec_id IS NOT NULL
                                 THEN 1 ELSE 0 END) AS DOUBLE)
                     / CAST(count(*) AS DOUBLE) AS recall
            FROM exact ex
            LEFT JOIN adc ON adc.query_id = ex.query_id
              AND adc.vec_id = ex.vec_id
            GROUP BY 1 ORDER BY 1"""
      }))

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    coreQueries ++ opqQueries
}
