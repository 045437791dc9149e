package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.Readers
import graft.ext.KMeans

/** Round-15 continuation batch — the q354 re-learning gate generalized
  * to every trainer shape, plus guarantee-carrying dedup/sketch
  * operators:
  *  - q356/q357: full-corpus distributed Lloyd k-means on the exact
  *    micro grid — the oracle RE-LEARNS the centroids (the q354
  *    contract, for vectors), closing the gap between the sample-based
  *    driver-local trainers behind IVF/PQ and a 100 TB-scale trainer;
  *    q371 serves the grid over a STREAM (model-sized state).
  *  - q358/q359/q366/q367: winnowing (MOSS) fingerprints — position-
  *    robust local-overlap detection (guaranteed for ≥ w+n−1-gram
  *    matches), streamed census, and connected-component families.
  *  - q360: Kneser–Ney bigram smoothing as exact integer rationals.
  *  - q361–q363: all-but-the-top PCA by exact-integer power iteration,
  *    plus debiased kNN on the shared-denominator integer score.
  *  - q364/q365: distributed batch perceptron (the order-independent
  *    variant), trajectory re-learned by the oracle.
  *  - q368: Misra–Gries-gated heavy hitters (exact output, sketch
  *    guarantee failed loud in-plan).
  *  - q369/q370: hash-derived ±1 random projection with the JL
  *    estimator's quality measured exactly.
  */
object Round15bQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Readers.table(s, dir, name)

  private val K = 4
  private val Iters = 3

  /** One training per sf dir (the train-once/serve-everywhere seam);
    * q356 gates the learned grid itself, q357 gates serving with it.
    */
  private val kmCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[(Int, Seq[Long])]]()
  private def kmCents(s: SparkSession, dir: String): Seq[(Int, Seq[Long])] =
    kmCache.computeIfAbsent(dir, _ =>
      KMeans.lloyd(t(s, dir, "embeddings"), K, Iters))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Full-corpus Lloyd on the exact micro grid: 3 distributed passes,
    // k=4, init from the 4 lowest vec_ids. The oracle does NOT receive
    // the centroids — it re-runs all 3 assignment/update stages itself,
    // so a wrong argmin, a wrong floor(mean), or a drifted micro grid
    // on either engine hash-fails. 256 rows: (cid, dim, c_micro).
    "q356_kmeans_centroids" -> ((s, dir) =>
      KMeans.centroidTable(s, kmCents(s, dir)).orderBy("cid", "dim")),

    // Serving census under the learned grid: exact nearest-centroid
    // assignment of every vector (pure per-row projection — the k·d
    // grid folds in as literals, no join) → cluster sizes + exact
    // BIGINT inertia. The oracle re-learns the grid first, then
    // re-assigns, so the census compares two independent trainings.
    "q357_kmeans_census" -> ((s, dir) =>
      KMeans.assign(t(s, dir, "embeddings"), kmCents(s, dir))
        .groupBy("cid")
        // inertia sums per-vector d2 (≤ ~3·10¹⁴ each) over the whole
        // cluster: widen to decimal(38,0) like the oracle's HUGEINT —
        // a LongType sum would wrap silently in non-ANSI Spark once
        // the corpus outgrows ~3·10⁴ vectors per cluster headroom.
        .agg(count(lit(1)).as("n_vecs"),
          sum(col("d2").cast("decimal(38,0)")).cast("long").as("inertia"))
        .orderBy("cid")),

    // Winnowing (MOSS) fingerprint census: per-document selected-
    // fingerprint stats under (n=3, w=4). Selection is a pure in-row
    // array fold — no shuffle; any ≥ 6-gram contiguous overlap between
    // documents is guaranteed to share a fingerprint.
    "q358_winnow_census" -> ((s, dir) =>
      graft.ext.Winnow.census(t(s, dir, "documents"), WinN, WinW)
        .orderBy("doc_id")),

    // Winnowing overlap pairs: documents sharing ≥ 2 selected
    // fingerprints, boilerplate fingerprints (df > 50) excluded before
    // the inverted-index self-join.
    "q359_winnow_pairs" -> ((s, dir) =>
      graft.ext.Winnow.overlapPairs(t(s, dir, "documents"),
        WinN, WinW, WinMinShared, WinDfCap).orderBy("doc_a", "doc_b")),

    // Interpolated Kneser–Ney bigram probabilities as exact rationals
    // (D = 3/4 → num/den over pure BIGINT corpus counts): the KenLM-
    // style smoothing, no float anywhere, so both engines derive
    // bit-identical num/den — and Σ_w num(v,w) = den(v) exactly (the
    // property suite pins the closed-form normalization).
    "q360_kn_bigram" -> ((s, dir) =>
      graft.ext.LangModel.knBigram(t(s, dir, "documents"), KnMinCount)
        .orderBy("a", "b")),

    // Top principal component by exact-integer power iteration (the
    // all-but-the-top direction): 3 power steps, L∞-normalized to the
    // micro grid. The oracle re-derives the whole trajectory in
    // HUGEINT — mean, iterates, renormalizations — from the raw
    // vectors; nothing learned crosses engines.
    "q361_pca_component" -> ((s, dir) => {
      val (mu, v) = pcaModel(s, dir)
      graft.ext.Pca.componentTable(s, mu, v).orderBy("dim")
    }),

    // Projection census under the learned component: exact BIGINT
    // coefficients y = ⟨x − mu, v⟩ per vector (pure in-row projection),
    // aggregated per label — the distribution "all-but-the-top"
    // flattens. Both engines learn their own component first.
    "q362_pca_projection" -> ((s, dir) => {
      val (mu, v) = pcaModel(s, dir)
      graft.ext.Pca.projections(t(s, dir, "embeddings"), mu, v)
        .join(t(s, dir, "embeddings").select(col("vec_id"),
          col("label").cast("long").as("label")), "vec_id")
        .groupBy("label")
        .agg(count(lit(1)).as("n"), sum("y").as("sum_y"),
          min("y").as("min_y"), max("y").as("max_y"))
        .orderBy("label")
    }),

    // The payoff composition: kNN under the DEBIASED similarity (mean
    // and top component removed) — ranked by the exact integer
    // numerator score = ⟨x'a,x'b⟩·⟨v,v⟩ − y_a·y_b (shared denominator,
    // so no division), snapped to a 10¹⁰ grid for the BIGINT boundary.
    // Corpus × 5 broadcast queries, bounded-heap top-10 per query; the
    // oracle re-learns mean + component, then re-ranks from scratch.
    "q363_abtt_knn" -> ((s, dir) => {
      val (mu, v) = pcaModel(s, dir)
      graft.ext.Pca.debiasedKnn(t(s, dir, "embeddings"), mu, v,
          AbttK, AbttQueries)
        .orderBy("query_id", "rnk")
    }),

    // Distributed batch perceptron, 3 epochs from w = 0 (margin ≤ 0
    // updates — the deterministic cold start): the weight TRAJECTORY is
    // gated, and the oracle re-learns all 3 epochs (unrolled
    // misclassify → gradient-sum → weight-add stages).
    "q364_perceptron_train" -> ((s, dir) =>
      graft.ext.Perceptron.trajectoryTable(s, percTraj(s, dir))
        .orderBy("epoch", "dim")),

    // Confusion census under the final weights: exact sign of ⟨w, x⟩
    // per vector, one combinable aggregate. Both engines train their
    // own model first.
    "q365_perceptron_confusion" -> ((s, dir) =>
      graft.ext.Perceptron.confusion(t(s, dir, "embeddings"), PercSplit,
          percTraj(s, dir).last._2)
        .orderBy("y", "pred")),

    // Winnowing overlap pairs → connected components: the contiguous-
    // overlap clusters (plagiarism/contamination families), champion =
    // min doc_id per component (DedupGroups' hash-to-min CC); verified
    // against a DuckDB RECURSIVE transitive closure over the SAME
    // re-derived pair set.
    "q367_winnow_components" -> ((s, dir) => {
      val pairs = graft.ext.Winnow.overlapPairs(t(s, dir, "documents"),
          WinN, WinW, WinMinShared, WinDfCap)
        .select(col("doc_a"), col("doc_b"))
      graft.ext.DedupGroups.connectedComponents(pairs)
        .select(col("id").as("doc_id"), col("component"))
        .orderBy("doc_id")
    }),

    // Misra-Gries-GATED heavy hitters: the output is the EXACT census
    // of tokens with count > n/k (deterministic); the MG summary — the
    // O(k)-state sketch a 100 TB hot-key scan would ship — is used
    // in-plan to fail loud if its membership guarantee (every true
    // heavy hitter survives the summary) is ever violated. The gate is
    // result-invisible by theorem; the sketch is exercised on every
    // run.
    "q368_mg_heavy_hitters" -> ((s, dir) => {
      val toks = t(s, dir, "documents")
        .select(explode(graft.functions.Portable.wsTokens(col("text")))
          .as("w"))
        .filter(col("w").rlike("^[a-z0-9]+$"))
        .select(col("w"), graft.functions.Portable.hash60(col("w")).as("h"))
      val exact = toks.groupBy("w", "h").agg(count(lit(1)).as("cnt"))
      val nDf = exact.agg(sum("cnt").as("n"))
      // the summary is a bounded model read: ≤ k−1 (key, cnt) entries
      val cands = toks
        .agg(graft.functions.MgFunctions.misraGries(col("h"), MgK).as("s"))
        .selectExpr("explode(s) AS e").select(col("e.key"))
        .collect().map(_.getLong(0)).toSeq
      exact.crossJoin(broadcast(nDf))
        .filter(col("cnt") * MgK > col("n"))
        .select(col("w"),
          when(col("h").isin(cands: _*), col("cnt"))
            .otherwise(raise_error(concat(
              lit("MG guarantee violated for token "), col("w"))))
            .as("cnt"),
          col("n"))
        .orderBy("w")
    }),

    // Hash-derived ±1 random projection (Achlioptas): 64 → 16 dims on
    // the exact micro grid. The sign matrix is the md5 parity of
    // "rp:d:j" — a PUBLIC derivation both engines compute from the
    // seed string, so nothing learned or random crosses engines.
    // Output: (vec_id, j, z) exploded projections.
    "q369_random_projection" -> ((s, dir) =>
      graft.ext.RandomProjection.project(t(s, dir, "embeddings"), RpK)
        .select(col("vec_id"), posexplode(col("z")))
        .select(col("vec_id"), (col("pos") + 1).cast("long").as("j"),
          col("col").as("z"))
        .orderBy("vec_id", "j")),

    // The JL quality table, measured exactly: for 5 broadcast queries ×
    // corpus, original exact squared distance (micro²) vs projected
    // squared distance — with ±1 signs E[d2_proj] = k·d2_orig, and
    // ratio_micro = ⌊d2_proj·10⁶ / (k·d2_orig)⌋ makes the estimator's
    // concentration itself an exact, hash-gated observable.
    "q370_rp_distance_check" -> ((s, dir) => {
      val z = graft.ext.RandomProjection.project(t(s, dir, "embeddings"),
        RpK)
      val m = graft.ext.KMeans.micro(t(s, dir, "embeddings"))
        .join(z, "vec_id")
      val q = m.filter(col("vec_id") < RpQueries)
        .select(col("vec_id").as("query_id"), col("m").as("qm"),
          col("z").as("qz"))
      def d2(a: Column, b: Column) =
        aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
          lit(0L), (acc, t) => acc + t)
      m.crossJoin(broadcast(q)).filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id"),
          d2(col("m"), col("qm")).as("d2_orig"),
          d2(col("z"), col("qz")).as("d2_proj"))
        .filter(col("d2_orig") > 0)
        .select(col("query_id"), col("vec_id"), col("d2_orig"),
          col("d2_proj"),
          // d2_proj·10⁶ reaches ~10¹⁹ — widen before the scale
          expr(s"CAST(d2_proj AS DECIMAL(38,0)) * 1000000 div " +
            s"($RpK * CAST(d2_orig AS DECIMAL(38,0)))")
            .as("ratio_micro"))
        .orderBy("query_id", "vec_id")
    }),

    // The trained k-means grid serving a STREAM (the E-step online):
    // assignment is a pure per-row projection (centroids fold in as
    // literals), so it composes with Structured Streaming for free and
    // the stateful side is k ROWS of (count, inertia) — model-sized
    // state, unlike per-key tables. Two micro-batches of the same file
    // ⇒ final state = batch census with doubled counts; the oracle
    // re-learns the grid, re-assigns, and doubles.
    "q371_stream_kmeans_estep" -> ((s, dir) => {
      val cents = kmCents(s, dir)
      runEmbStream(s, dir, "q371_emb_", copies = 2) { raw =>
        val state = KMeans.assign(raw, cents)
          .groupBy("cid")
          // decimal(38,0) inertia sum — same wrap-safety widening as
          // the batch census (q357); cast back keeps the BIGINT schema.
          .agg(count(lit(1)).as("n_vecs"),
            sum(col("d2").cast("decimal(38,0)")).cast("long").as("inertia"))
        graft.streaming.EventStream.runToMemory(state,
            StreamingQueries.memName("q371_mem_"), statePartitions = Some(8))
          .orderBy("cid")
      }
    }),

    // Winnowing over a STREAM: the same selection (a stateless per-row
    // projection, so it composes with Structured Streaming for free)
    // feeding a stateful per-fingerprint (count, min-owner) table; the
    // docs file arrives as TWO micro-batches, so the final complete-
    // mode state must equal the batch recompute with doubled df — the
    // q343 seam, for the winnowing index.
    "q366_stream_winnow_census" -> ((s, dir) =>
      Round14Queries.runDocsStream(s, dir, "q366_docs_", copies = 2,
          // one trigger per logical COPY, not per part file: a
          // directory-shaped table (testdata-sf1: 8 parts) under
          // maxFilesPerTrigger=1 ran 16 micro-batches, and the
          // complete-mode sink re-emitted the FULL census each time —
          // an O(batches × state) harness artifact that read as an
          // 8.8x sf1 ratio on an operator that is actually linear
          // (and broke the documented two-micro-batch contract).
          Map("maxFilesPerTrigger" ->
            StreamingQueries.partFileCount(dir, "documents").toString)) {
        raw =>
        val fps = graft.ext.Winnow.fingerprints(
          raw.select(col("doc_id"), col("text")), WinN, WinW)
        val state = fps.groupBy("fp")
          .agg(count(lit(1)).as("df"), min("doc_id").as("owner"))
        val out = graft.streaming.EventStream.runToMemory(state,
          StreamingQueries.memName("q366_mem_"), statePartitions = Some(8))
        out.groupBy("df")
          .agg(count(lit(1)).as("n_fps"), sum("owner").as("owner_sum"))
          .orderBy("df")
      })
  )

  private val AbttK = 10
  private val AbttQueries = 5
  private val PercSplit = 5
  private val PercEpochs = 3
  private val MgK = 64
  private val RpK = 16
  private val RpQueries = 5

  /** Embeddings-schema twin of [[Round14Queries.runDocsStream]]: a
    * bounded parquet stream over per-part-file symlinks (directories
    * would list as zero files — the round-15b harness lesson).
    */
  private def runEmbStream(
      s: SparkSession, dir: String, prefix: String, copies: Int)(
      use: DataFrame => DataFrame): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType)))
    val streamDir = java.nio.file.Files.createTempDirectory(prefix)
    val target = java.nio.file.Paths.get(dir).toAbsolutePath
      .resolve("embeddings.parquet")
    val links = (1 to copies).flatMap { i =>
      StreamingQueries.partFiles(target).zipWithIndex.map { case (src, j) =>
        val l = streamDir.resolve(s"copy${i}_$j.parquet")
        java.nio.file.Files.createSymbolicLink(l, src)
        l
      }
    }
    // one trigger per logical copy (the q366 harness lesson):
    // per-part-file triggers would multiply the complete-mode state
    // re-emission by the part count on directory-shaped scale-ups
    try use(s.readStream.schema(schema)
      .option("maxFilesPerTrigger",
        StreamingQueries.partFileCount(dir, "embeddings").toString)
      .parquet(streamDir.toString))
    finally {
      links.foreach(java.nio.file.Files.deleteIfExists(_))
      java.nio.file.Files.deleteIfExists(streamDir)
    }
  }

  private val percCache = new java.util.concurrent.ConcurrentHashMap[
    String, Seq[(Int, Seq[Long], Long)]]()
  private def percTraj(s: SparkSession,
                       dir: String): Seq[(Int, Seq[Long], Long)] =
    percCache.computeIfAbsent(dir, _ =>
      graft.ext.Perceptron.train(t(s, dir, "embeddings"), PercSplit,
        PercEpochs))

  private val KnMinCount = 5L
  private val PcaIters = 3

  private val pcaCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Seq[Long], Seq[Long])]()
  private def pcaModel(s: SparkSession, dir: String): (Seq[Long], Seq[Long]) =
    pcaCache.computeIfAbsent(dir, _ =>
      graft.ext.Pca.topComponent(t(s, dir, "embeddings"), PcaIters))

  private val WinN = 3
  private val WinW = 4
  private val WinMinShared = 2
  private val WinDfCap = 50

  // ---- oracles ------------------------------------------------------------

  /** Unrolled Lloyd stages: m (micro grid), c0 (init), then per
    * iteration a_i (exact argmin assignment), u_i (floor-mean update),
    * c_i (LEFT join: emptied clusters keep their previous grid).
    */
  private def kmeansStagesSql(k: Int, iters: Int): String = {
    val d2 = "CAST(list_sum(list_transform(range(1,65), j -> " +
      "(v.m[j]-c.cm[j])*(v.m[j]-c.cm[j]))) AS BIGINT)"
    val m =
      """m AS MATERIALIZED (SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
           x -> CAST(floor(x*1000000 + 0.5) AS BIGINT)) AS m
           FROM embeddings)"""
    val c0 =
      s"""c0 AS MATERIALIZED (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT)
            AS cid, m AS cm
          FROM (SELECT vec_id, m FROM m ORDER BY vec_id LIMIT $k))"""
    val stages = (1 to iters).map { i =>
      s"""a$i AS MATERIALIZED (SELECT vec_id, m, cid, d2 FROM (
            SELECT vec_id, m, cid, d2,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY d2, cid) AS rn
            FROM (SELECT v.vec_id, v.m, c.cid, $d2 AS d2
                  FROM m v CROSS JOIN c${i - 1} c)) WHERE rn = 1),
          u$i AS MATERIALIZED (SELECT cid, list((s + n*1000000) // n - 1000000
                                   ORDER BY dim) AS cm FROM (
            SELECT cid, t.j AS dim, CAST(SUM(m[t.j]) AS BIGINT) AS s,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM a$i CROSS JOIN range(1,65) t(j)
            GROUP BY cid, t.j) GROUP BY cid),
          c$i AS MATERIALIZED (SELECT p.cid, coalesce(u.cm, p.cm) AS cm
                  FROM c${i - 1} p LEFT JOIN u$i u USING (cid))"""
    }.mkString(",\n")
    s"$m,\n$c0,\n$stages"
  }

  /** Winnowing stage prelude: t (token arrays), g (gram hash arrays),
    * s (selected fingerprints — window minima, distinct per doc).
    */
  private def winnowStagesSql(n: Int, w: Int): String =
    s"""t AS MATERIALIZED (
          SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
          FROM documents),
        g AS MATERIALIZED (
          SELECT doc_id,
            CASE WHEN len(w) >= $n
              THEN list_transform(range(1, len(w) - $n + 2),
                i -> CAST(('0x' || substr(md5(
                  array_to_string(w[i:i+$n-1], ' ')), 1, 15)) AS BIGINT))
              ELSE [] END AS h
          FROM t),
        s AS MATERIALIZED (
          SELECT doc_id, len(h) AS n_grams,
            list_distinct(
              CASE WHEN len(h) >= $w
                THEN list_transform(range(1, len(h) - $w + 2),
                       i -> list_min(h[i:i+$w-1]))
                WHEN len(h) >= 1 THEN [list_min(h)]
                ELSE [] END) AS fps
          FROM g)"""

  /** PCA power-iteration stage prelude: m (micro grid), mu (floor-mean),
    * x (centered), v0 (lowest-vec_id init), then per step y_i (in-row
    * projection), z_i (HUGEINT Gram product), v_i (L∞ floor-renorm).
    */
  private def pcaStagesSql(iters: Int): String = {
    val parts = scala.collection.mutable.ArrayBuffer(
      """m AS MATERIALIZED (SELECT vec_id,
           list_transform(CAST(embedding AS DOUBLE[]),
             x -> CAST(floor(x*1000000 + 0.5) AS BIGINT)) AS m
         FROM embeddings)""",
      """mu AS MATERIALIZED (SELECT list((s + n*1000000)//n - 1000000
             ORDER BY dim) AS mu FROM (
           SELECT t.j AS dim, CAST(SUM(m[t.j]) AS BIGINT) AS s,
                  CAST(COUNT(*) AS BIGINT) AS n
           FROM m CROSS JOIN range(1,65) t(j) GROUP BY t.j))""",
      """x AS MATERIALIZED (SELECT vec_id, list_transform(range(1,65),
           j -> m[j] - mu[j]) AS x FROM m CROSS JOIN mu)""",
      """v0 AS MATERIALIZED (SELECT x AS v FROM x ORDER BY vec_id LIMIT 1)""")
    for (i <- 1 to iters) {
      parts += s"""y$i AS MATERIALIZED (SELECT vec_id, x,
          CAST(list_sum(list_transform(range(1,65), j -> x[j] * v[j]))
            AS BIGINT) AS y
          FROM x CROSS JOIN v${i - 1})"""
      parts += s"""z$i AS MATERIALIZED (SELECT t.j AS dim,
          SUM(CAST(x[t.j] AS HUGEINT) * CAST(y AS HUGEINT)) AS z
          FROM y$i CROSS JOIN range(1,65) t(j) GROUP BY t.j)"""
      parts += s"""v$i AS MATERIALIZED (SELECT
          list(CAST((z*1000000 + mx*1000000) // mx - 1000000 AS BIGINT)
               ORDER BY dim) AS v
          FROM z$i CROSS JOIN (SELECT MAX(ABS(z)) AS mx FROM z$i))"""
    }
    parts.mkString(",\n")
  }

  /** Batch-perceptron stage prelude: ft (micro features, ±1 labels),
    * w0 = 0, then per epoch mi_i (margin ≤ 0 set), u_i (gradient sum),
    * w_i (LEFT join add — an empty update leaves w unchanged).
    */
  private def perceptronStagesSql(split: Int, epochs: Int): String = {
    val parts = scala.collection.mutable.ArrayBuffer(
      s"""ft AS MATERIALIZED (SELECT vec_id,
            list_transform(CAST(embedding AS DOUBLE[]),
              x -> CAST(floor(x*1000000+0.5) AS BIGINT)) AS x,
            CASE WHEN label < $split THEN CAST(1 AS BIGINT)
                 ELSE CAST(-1 AS BIGINT) END AS y
          FROM embeddings)""",
      """w0 AS (SELECT list_transform(range(1,65),
           j -> CAST(0 AS BIGINT)) AS w)""")
    for (i <- 1 to epochs) {
      parts += s"""mi$i AS MATERIALIZED (SELECT vec_id, x, y
          FROM ft CROSS JOIN w${i - 1}
          WHERE y * CAST(list_sum(list_transform(range(1,65),
                  j -> x[j]*w[j])) AS BIGINT) <= 0)"""
      parts += s"""u$i AS MATERIALIZED (SELECT t.j AS dim,
            CAST(SUM(y * x[t.j]) AS BIGINT) AS g
          FROM mi$i CROSS JOIN range(1,65) t(j) GROUP BY t.j)"""
      parts += s"""w$i AS MATERIALIZED (SELECT
            list(w[t.j] + coalesce(u.g, 0) ORDER BY t.j) AS w
          FROM w${i - 1} CROSS JOIN range(1,65) t(j)
          LEFT JOIN u$i u ON u.dim = t.j)"""
    }
    parts.mkString(",\n")
  }

  /** Random-projection stage prelude: m (micro grid), sm (md5-parity
    * sign matrix — re-derived, never transferred), z (projections).
    */
  private def rpStagesSql(k: Int): String =
    s"""m AS MATERIALIZED (SELECT vec_id,
          list_transform(CAST(embedding AS DOUBLE[]),
            x -> CAST(floor(x*1000000 + 0.5) AS BIGINT)) AS m
        FROM embeddings),
        sm AS MATERIALIZED (SELECT d.range AS d, j.range AS j,
          CASE WHEN CAST(('0x'||substr(md5('rp:'||d.range||':'||j.range),
                 1, 15)) AS BIGINT) % 2 = 0
               THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END AS s
          FROM range(1,65) d CROSS JOIN range(1,${k + 1}) j),
        z AS MATERIALIZED (SELECT vec_id, sm.j AS j,
          CAST(SUM(m[sm.d]*sm.s) AS BIGINT) AS z
          FROM m CROSS JOIN sm GROUP BY vec_id, sm.j)"""

  val oracleSql: Map[String, String] = Map(

    "q358_winnow_census" ->
      s"""WITH ${winnowStagesSql(WinN, WinW)}
          SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
                 CAST(len(fps) AS BIGINT) AS n_fps,
                 list_min(fps) AS fp_min, list_max(fps) AS fp_max
          FROM s WHERE n_grams >= 1 ORDER BY doc_id""",

    "q359_winnow_pairs" ->
      s"""WITH ${winnowStagesSql(WinN, WinW)},
          fp AS MATERIALIZED (SELECT doc_id, unnest(fps) AS fp FROM s),
          rare AS (SELECT fp FROM (SELECT fp, count(*) AS df
                                   FROM fp GROUP BY fp)
                   WHERE df <= $WinDfCap AND df >= 2),
          idx AS (SELECT f.doc_id, f.fp FROM fp f JOIN rare USING (fp))
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 CAST(count(*) AS BIGINT) AS n_shared
          FROM idx a JOIN idx b ON a.fp = b.fp AND a.doc_id < b.doc_id
          GROUP BY 1, 2 HAVING count(*) >= $WinMinShared
          ORDER BY doc_a, doc_b""",

    "q360_kn_bigram" ->
      s"""WITH w AS MATERIALIZED (
            SELECT list_filter(string_split_regex(trim(text), '\\s+'),
                     x -> regexp_matches(x, '^[a-z0-9]+$$')) AS w
            FROM documents),
          cvw AS MATERIALIZED (
            SELECT a, b, CAST(count(*) AS BIGINT) AS c FROM (
              SELECT w[i] AS a, w[i + 1] AS b
              FROM (SELECT w, unnest(generate_series(1, len(w) - 1)) AS i
                    FROM w WHERE len(w) >= 2)) GROUP BY 1, 2),
          cv AS (SELECT a, CAST(sum(c) AS BIGINT) AS cv,
                        CAST(count(*) AS BIGINT) AS n1p
                 FROM cvw GROUP BY a),
          n1r AS (SELECT b, CAST(count(*) AS BIGINT) AS n1r
                  FROM cvw GROUP BY b),
          npp AS (SELECT CAST(count(*) AS BIGINT) AS npp FROM cvw)
          SELECT a, b, c AS c_vw,
                 CAST((4*c - 3)*npp + 3*n1p*n1r AS BIGINT) AS num,
                 CAST(4*cv*npp AS BIGINT) AS den
          FROM cvw JOIN cv USING (a) JOIN n1r USING (b) CROSS JOIN npp
          WHERE c >= $KnMinCount ORDER BY a, b""",

    "q361_pca_component" ->
      s"""WITH ${pcaStagesSql(PcaIters)}
          SELECT CAST(t.j AS BIGINT) AS dim, mu[t.j] AS mu_micro,
                 v[t.j] AS v_micro
          FROM range(1,65) t(j) CROSS JOIN mu CROSS JOIN v$PcaIters
          ORDER BY dim""",

    "q362_pca_projection" ->
      s"""WITH ${pcaStagesSql(PcaIters)},
          p AS (SELECT e.vec_id, CAST(list_sum(list_transform(range(1,65),
                  j -> x[j]*v[j])) AS BIGINT) AS y
                FROM x e CROSS JOIN v$PcaIters)
          SELECT CAST(l.label AS BIGINT) AS label,
                 CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(p.y) AS BIGINT) AS sum_y,
                 CAST(MIN(p.y) AS BIGINT) AS min_y,
                 CAST(MAX(p.y) AS BIGINT) AS max_y
          FROM p JOIN embeddings l ON l.vec_id = p.vec_id
          GROUP BY 1 ORDER BY 1""",

    "q363_abtt_knn" ->
      s"""WITH ${pcaStagesSql(PcaIters)},
          xy AS MATERIALIZED (SELECT vec_id, x,
            CAST(list_sum(list_transform(range(1,65), j -> x[j]*v[j]))
              AS BIGINT) AS y
            FROM x CROSS JOIN v$PcaIters),
          vvt AS (SELECT CAST(list_sum(list_transform(range(1,65),
                    j -> v[j]*v[j])) AS BIGINT) AS vv FROM v$PcaIters),
          sc AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
            CAST((CAST(list_sum(list_transform(range(1,65),
                    j -> c.x[j]*q.x[j])) AS HUGEINT) * vv
                  - CAST(c.y AS HUGEINT) * CAST(q.y AS HUGEINT)
                  + CAST('20000000000000000000000000000' AS HUGEINT))
                 // 10000000000 - 2000000000000000000 AS BIGINT) AS s10
            FROM xy c CROSS JOIN (SELECT * FROM xy
                                  WHERE vec_id < $AbttQueries) q
            CROSS JOIN vvt WHERE c.vec_id <> q.vec_id),
          r AS (SELECT query_id, neighbor_id, s10,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY s10 DESC, neighbor_id)
                         AS rnk
                FROM sc)
          SELECT query_id, CAST(rnk AS BIGINT) AS rnk, neighbor_id,
                 s10 AS score_s10
          FROM r WHERE rnk <= $AbttK ORDER BY query_id, rnk""",

    "q371_stream_kmeans_estep" ->
      s"""WITH ${kmeansStagesSql(K, Iters)},
          af AS (SELECT vec_id, cid, d2 FROM (
            SELECT vec_id, cid, d2,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY d2, cid) AS rn
            FROM (SELECT v.vec_id, c.cid,
                         CAST(list_sum(list_transform(range(1,65), j ->
                           (v.m[j]-c.cm[j])*(v.m[j]-c.cm[j]))) AS BIGINT) AS d2
                  FROM m v CROSS JOIN c$Iters c)) WHERE rn = 1)
          SELECT cid, 2*CAST(COUNT(*) AS BIGINT) AS n_vecs,
                 2*CAST(SUM(d2) AS BIGINT) AS inertia
          FROM af GROUP BY cid ORDER BY cid""",

    "q369_random_projection" ->
      s"""WITH ${rpStagesSql(RpK)}
          SELECT vec_id, CAST(j AS BIGINT) AS j, z FROM z
          ORDER BY vec_id, j""",

    "q370_rp_distance_check" ->
      s"""WITH ${rpStagesSql(RpK)},
          zl AS MATERIALIZED (SELECT vec_id, list(z ORDER BY j) AS zl
                              FROM z GROUP BY vec_id),
          b AS MATERIALIZED (SELECT m.vec_id, m.m, zl.zl
                             FROM m JOIN zl USING (vec_id)),
          q AS (SELECT vec_id AS query_id, m AS qm, zl AS qz
                FROM b WHERE vec_id < $RpQueries),
          sc AS (SELECT q.query_id, b.vec_id,
            CAST(list_sum(list_transform(range(1,65),
              d -> (b.m[d]-q.qm[d])*(b.m[d]-q.qm[d]))) AS BIGINT)
              AS d2_orig,
            CAST(list_sum(list_transform(range(1,${RpK + 1}),
              j -> (b.zl[j]-q.qz[j])*(b.zl[j]-q.qz[j]))) AS BIGINT)
              AS d2_proj
            FROM b CROSS JOIN q WHERE b.vec_id <> q.query_id)
          SELECT query_id, vec_id, d2_orig, d2_proj,
                 CAST((CAST(d2_proj AS HUGEINT) * 1000000)
                      // ($RpK * CAST(d2_orig AS HUGEINT)) AS BIGINT)
                   AS ratio_micro
          FROM sc WHERE d2_orig > 0 ORDER BY query_id, vec_id""",

    "q368_mg_heavy_hitters" ->
      s"""WITH tok AS (SELECT unnest(list_filter(
            string_split_regex(trim(text), '\\s+'),
            x -> regexp_matches(x, '^[a-z0-9]+$$'))) AS w FROM documents),
          c AS (SELECT w, CAST(count(*) AS BIGINT) AS cnt
                FROM tok GROUP BY w),
          nt AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM c)
          SELECT w, cnt, n FROM c CROSS JOIN nt
          WHERE cnt * $MgK > n ORDER BY w""",

    "q367_winnow_components" -> {
      val pairsSql = s"""WITH ${winnowStagesSql(WinN, WinW)},
          fp AS MATERIALIZED (SELECT doc_id, unnest(fps) AS fp FROM s),
          rare AS (SELECT fp FROM (SELECT fp, count(*) AS df
                                   FROM fp GROUP BY fp)
                   WHERE df <= $WinDfCap AND df >= 2),
          idx AS (SELECT f.doc_id, f.fp FROM fp f JOIN rare USING (fp))
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM idx a JOIN idx b ON a.fp = b.fp AND a.doc_id < b.doc_id
          GROUP BY 1, 2 HAVING count(*) >= $WinMinShared"""
      s"""WITH RECURSIVE pr AS ($pairsSql),
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

    "q366_stream_winnow_census" ->
      s"""WITH ${winnowStagesSql(WinN, WinW)},
          fp AS MATERIALIZED (SELECT doc_id, unnest(fps) AS fp FROM s),
          st AS (SELECT fp, 2*CAST(count(*) AS BIGINT) AS df,
                        CAST(min(doc_id) AS BIGINT) AS owner
                 FROM fp GROUP BY fp)
          SELECT df, CAST(count(*) AS BIGINT) AS n_fps,
                 CAST(sum(owner) AS BIGINT) AS owner_sum
          FROM st GROUP BY df ORDER BY df""",

    "q364_perceptron_train" -> {
      val union = (1 to PercEpochs).map { e =>
        s"""SELECT CAST($e AS BIGINT) AS epoch, CAST(t.j AS BIGINT) AS dim,
              w[t.j] AS w_micro,
              (SELECT CAST(COUNT(*) AS BIGINT) FROM mi$e) AS n_updates
            FROM w$e CROSS JOIN range(1,65) t(j)"""
      }.mkString(" UNION ALL ")
      s"""WITH ${perceptronStagesSql(PercSplit, PercEpochs)}
          $union ORDER BY epoch, dim"""
    },

    "q365_perceptron_confusion" ->
      s"""WITH ${perceptronStagesSql(PercSplit, PercEpochs)}
          SELECT y, CAST(sign(CAST(list_sum(list_transform(range(1,65),
                   j -> x[j]*w[j])) AS BIGINT)) AS BIGINT) AS pred,
                 CAST(COUNT(*) AS BIGINT) AS n
          FROM ft CROSS JOIN w$PercEpochs GROUP BY 1, 2 ORDER BY 1, 2""",

    "q356_kmeans_centroids" ->
      s"""WITH ${kmeansStagesSql(K, Iters)}
          SELECT cid, CAST(t.j AS BIGINT) AS dim, cm[t.j] AS c_micro
          FROM c$Iters CROSS JOIN range(1,65) t(j)
          ORDER BY cid, dim""",

    "q357_kmeans_census" ->
      s"""WITH ${kmeansStagesSql(K, Iters)},
          af AS (SELECT vec_id, cid, d2 FROM (
            SELECT vec_id, cid, d2,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY d2, cid) AS rn
            FROM (SELECT v.vec_id, c.cid,
                         CAST(list_sum(list_transform(range(1,65), j ->
                           (v.m[j]-c.cm[j])*(v.m[j]-c.cm[j]))) AS BIGINT) AS d2
                  FROM m v CROSS JOIN c$Iters c)) WHERE rn = 1)
          SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_vecs,
                 CAST(SUM(d2) AS BIGINT) AS inertia
          FROM af GROUP BY cid ORDER BY cid"""
  )
}
