package graft.ext

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Product quantization (PQ) — the memory-side half of a large-scale ANN
  * stack (FAISS's IVF+PQ): split each d-dim vector into `m` subvectors,
  * learn a tiny k-means codebook PER subspace, and store each vector as
  * `m` small integer codes. A 100 TB embedding corpus compresses to
  * m·log₂(k) bits per vector, and asymmetric-distance (ADC) search scans
  * CODES with per-query lookup tables — the corpus vectors themselves
  * never travel through the join.
  *
  *  - TRAIN: one bounded, deterministic k-means per subspace (the
  *    [[IvfIndex.trainCentroids]] sampling discipline — quality needs a
  *    representative sample, not every vector).
  *  - ENCODE: per-subspace nearest-code assignment as ONE codegen'd
  *    projection over codebook literals (squared-Euclidean identity,
  *    ties to the lowest code — the [[IvfIndex]] operation order, so
  *    encoding is SQL-expressible and hash-verifiable). The per-row
  *    reconstruction error is emitted on the exact micro grid: a later
  *    SUM of err_micro longs is order-invariant where a double sum
  *    would not be.
  *  - ADC SEARCH: per query, an m·k lookup table of partial distances
  *    (micro longs) is built against the codebooks; corpus CODES join
  *    the table and the total distance is an exact integer sum, so
  *    top-k membership and tie order (distance, then vec_id) are
  *    deterministic on any engine. The per-query top-k runs on the
  *    bounded [[graft.functions.TopKLongPairs]] aggregate.
  */
object Pq {

  final case class Model(books: Seq[Seq[Seq[Double]]], dim: Int) {
    def m: Int = books.size
    def subDim: Int = dim / books.size
  }

  /** Learn `k`-code codebooks for `m` equal subspaces of `dim`-dim
    * vectors from a bounded sample (same discipline as IVF training:
    * Lloyd passes run over the bounded sample only). Deterministic per
    * (data, partition layout) — Spark's seeded sample AND its KMeans
    * init both depend on the physical split, so a repartitioned copy of
    * the same corpus can train a different (equally valid) model; use
    * [[trainCodebooksLocal]] when the model must be a pure function of
    * the data.
    */
  def trainCodebooks(spark: SparkSession, corpus: DataFrame, dim: Int,
                     m: Int, k: Int, seed: Long = 42L,
                     maxTrainVectors: Long = 100000L): Model = {
    require(m >= 1 && dim % m == 0,
      s"dim=$dim must split into m=$m equal subspaces")
    val sub = dim / m
    val vecs = corpus.select(col("embedding").cast("array<double>").as("v"))
    val n = vecs.count()
    val frac = math.min(1.0, maxTrainVectors.toDouble / math.max(n, 1L))
    Checkpoints.scoped { scope =>
      val train = scope.cache(
        if (frac >= 1.0) vecs
        else vecs.sample(withReplacement = false, frac, seed))
      val books = (0 until m).map { s =>
        val slices = train.select(array_to_vector(
          slice(col("v"), s * sub + 1, sub)).as("features"))
        new KMeans().setK(k).setSeed(seed + s).setMaxIter(10)
          .fit(slices).clusterCenters.toSeq.map(_.toArray.toSeq)
      }
      Model(books, dim)
    }
  }

  /** Learn codebooks with a DRIVER-LOCAL deterministic Lloyd solver over
    * a bounded collected sample — the trainer for large (m, k) shapes
    * where [[trainCodebooks]]'s m separate Spark KMeans fits cost more
    * than the whole query (measured: 32 fits ≈ 30 s; this path ≈ one
    * sample job + milliseconds). The collect is a documented bounded
    * model read: ≤ maxTrainVectors × dim doubles (default 20k × 64 ≈
    * 10 MB). Training quality only affects RECALL (which the q330 gate
    * asserts); correctness is independent of the codebooks because the
    * oracle re-derives everything from the rendered centroids.
    *
    * Determinism: the sample depends ONLY on the data, not on the
    * parquet split or partition layout — rows are kept by a portable
    * content hash of vec_id (`hash60("pqtrain:" + vec_id) % den == 0`,
    * den sized so the expected sample is `maxTrainVectors`), sorted by
    * vec_id on the driver, and capped at `maxTrainVectors` after the
    * sort ([[DataFrame.sample]] with a seed is only deterministic for a
    * FIXED partition layout — a repartitioned copy of the same corpus
    * would have trained a different model). Init = the first k sample
    * subvectors; 10 Lloyd iterations; nearest-centroid ties to the
    * lowest index; an emptied cluster keeps its previous centroid.
    */
  def trainCodebooksLocal(spark: SparkSession, corpus: DataFrame, dim: Int,
                          m: Int, k: Int, seed: Long = 42L,
                          maxTrainVectors: Long = 20000L): Model = {
    require(m >= 1 && dim % m == 0,
      s"dim=$dim must split into m=$m equal subspaces")
    val sub = dim / m
    import spark.implicits._
    val vecs = corpus.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
    val n = vecs.count()
    val sampled =
      if (n <= maxTrainVectors) vecs
      else {
        val den = math.ceil(n.toDouble / maxTrainVectors).toLong
        vecs.filter(pmod(graft.functions.Portable.hash60(
          concat(lit("pqtrain:"), col("vec_id").cast("string"))),
          lit(den)) === 0)
      }
    val cap = math.min(maxTrainVectors, Int.MaxValue.toLong).toInt
    val sample = sampled.as[(Long, Seq[Double])].collect()
      .sortBy(_._1).take(cap).map(_._2.toArray)
    require(sample.length >= k,
      s"need at least k=$k training vectors, sampled ${sample.length}")
    val books = (0 until m).map { s =>
      val pts = sample.map(v => java.util.Arrays.copyOfRange(v, s * sub,
        math.min((s + 1) * sub, v.length)))
      val cents = Array.tabulate(k)(i => pts(i).clone())
      for (_ <- 1 to 10) {
        val sums = Array.fill(k)(new Array[Double](sub))
        val cnts = new Array[Long](k)
        pts.foreach { p =>
          var best = 0
          var bestD2 = Double.PositiveInfinity
          var c = 0
          while (c < k) {
            var d2 = 0.0
            var j = 0
            while (j < sub && j < p.length) {
              val d = p(j) - cents(c)(j); d2 += d * d; j += 1
            }
            if (d2 < bestD2) { bestD2 = d2; best = c }
            c += 1
          }
          var j = 0
          while (j < sub && j < p.length) {
            sums(best)(j) += p(j); j += 1
          }
          cnts(best) += 1
        }
        for (c <- 0 until k if cnts(c) > 0L; j <- 0 until sub)
          cents(c)(j) = sums(c)(j) / cnts(c)
      }
      cents.map(_.toSeq).toSeq
    }
    Model(books, dim)
  }

  /** Content hash of a model: md5 (hex) over dim, m, and every centroid
    * double's IEEE-754 bits in (s, code, j) order. Two models are
    * serving-equivalent iff their hashes match — the compatibility token
    * that travels with persisted models ([[saveModel]]) and stamped code
    * tables ([[encodePackedStamped]]) so codes encoded under one model
    * can never be silently ADC-served under a different (same-shape)
    * model.
    */
  def modelHash(model: Model): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val bb = java.nio.ByteBuffer.allocate(8)
    def putLong(l: Long): Unit = {
      bb.clear(); bb.putLong(l); md.update(bb.array())
    }
    putLong(model.dim.toLong)
    putLong(model.m.toLong)
    for (book <- model.books; c <- book; x <- c)
      putLong(java.lang.Double.doubleToLongBits(x))
    md.digest().map(b => f"$b%02x").mkString
  }

  /** Persist a trained model as a plain parquet table
    * (s, code, cv array<double>, dim, model_hash) — the production seam:
    * codebooks are trained once, stored with the corpus codes, and
    * reloaded by every serving job. Doubles round-trip parquet
    * bit-exactly, so a reloaded model serves hash-identical rankings
    * (q344 gates that against the in-memory model's oracle). The
    * [[modelHash]] rides in every row; [[loadModel]] recomputes it from
    * the reloaded centroids and fails loud on any corruption or
    * mixed-model table.
    */
  def saveModel(spark: SparkSession, model: Model, path: String): Unit = {
    import spark.implicits._
    val h = modelHash(model)
    model.books.zipWithIndex.flatMap { case (book, s) =>
      book.zipWithIndex.map { case (c, i) => (s, i, c, model.dim, h) }
    }.toDF("s", "code", "cv", "dim", "model_hash")
      .repartition(1).write.mode("overwrite").parquet(path)
  }

  /** Reload a [[saveModel]] table. The collect is bounded by the model
    * size (m·k rows); ordering is reconstructed from the (s, code)
    * keys, so the physical row order of the parquet never matters. The
    * stored [[modelHash]] must equal the hash recomputed from the
    * reloaded centroids — a truncated file, a mixed-model directory, or
    * any bit-level corruption fails loud here instead of serving wrong
    * neighbors.
    */
  def loadModel(spark: SparkSession, path: String): Model = {
    import spark.implicits._
    val rows = graft.engine.Readers.parquet(spark, path)
      .select(col("s").cast("int"), col("code").cast("int"),
        col("cv").cast("array<double>"), col("dim").cast("int"),
        col("model_hash"))
      .as[(Int, Int, Seq[Double], Int, String)].collect()
    require(rows.nonEmpty, s"empty PQ model at $path")
    val dim = rows.head._4
    require(rows.forall(_._4 == dim), s"inconsistent dim in $path")
    val stored = rows.map(_._5).distinct
    require(stored.length == 1,
      s"mixed model_hash values in $path: ${stored.mkString(", ")}")
    val books = rows.groupBy(_._1).toSeq.sortBy(_._1).map { case (_, b) =>
      b.sortBy(_._2).map(_._3).toSeq
    }
    val model = Model(books, dim)
    val recomputed = modelHash(model)
    require(recomputed == stored.head,
      s"PQ model at $path fails its content hash: stored ${stored.head}, " +
        s"recomputed $recomputed")
    model
  }

  /** Variance-balanced coordinate permutation — OPQ's cheap first-order
    * approximation: PQ quantizes each subspace independently, so recall
    * suffers when a few high-variance dimensions crowd into one
    * subspace while others quantize near-constant noise. Order
    * dimensions by corpus variance (one combinable aggregate over the
    * posexploded vectors; ties to the lower index) and deal them to the
    * m subspaces in a SNAKE (0,1,…,m−1,m−1,…,1,0,…) so per-subspace
    * variance sums balance. Returns the permutation as the dimension
    * index list, subspace-major, ascending within each subspace —
    * fully determined by the data, so the oracle can re-apply it as a
    * rendered index list. Apply with [[permuteVec]] before
    * [[trainCodebooksLocal]]/[[encodePacked]]; queries must be
    * permuted with the SAME list.
    */
  def varianceBalancedPerm(corpus: DataFrame, dim: Int, m: Int): Seq[Int] = {
    require(m >= 1 && dim % m == 0,
      s"dim=$dim must split into m=$m equal subspaces")
    // per-dim moments on the exact micro grid: a plain sum(double) is a
    // float accumulation whose value depends on partition/merge order, so
    // two runs over differently-split copies of the same corpus could
    // rank two near-tied dimensions differently and emit different
    // (equally valid) permutations. Snapping each element to ⌊x·10⁶+½⌋
    // and summing as long / decimal(38,0) makes the ranking a pure
    // function of the data; the ~1e-6 quantization is irrelevant to a
    // variance ORDERING used only for subspace balancing.
    val xm = floor(col("x") * 1e6 + lit(0.5)).cast("long")
    val stats = corpus
      .select(posexplode(col("embedding").cast("array<double>"))
        .as(Seq("j", "x")))
      .select(col("j"), xm.as("xm"))
      .groupBy("j")
      .agg(count(lit(1)).as("n"), sum(col("xm")).as("s"),
        sum((col("xm") * col("xm")).cast("decimal(38,0)")).as("ss"))
      .collect()
    require(stats.length == dim,
      s"expected $dim dimensions, saw ${stats.length}")
    val byVar = stats.map { r =>
      val n = r.getLong(1).toDouble
      val s = r.getLong(2).toDouble / 1e6
      val ss = r.getDecimal(3).doubleValue() / 1e12
      (r.getInt(0), ss / n - (s / n) * (s / n))
    }.sortBy { case (j, v) => (-v, j) }.map(_._1)
    val buckets = Array.fill(m)(Vector.empty[Int])
    byVar.zipWithIndex.foreach { case (j, r) =>
      val round = r / m
      val pos = r % m
      val b = if (round % 2 == 0) pos else m - 1 - pos
      buckets(b) :+= j
    }
    buckets.toSeq.flatMap(_.sorted)
  }

  /** Reorder an array<double> vector by a dimension-index permutation
    * (0-based indices into the source vector).
    */
  def permuteVec(v: Column, perm: Seq[Int]): Column =
    // one-pass native expression; the previous Column phrasing
    // (`array(perm.map(j => element_at(v, j + 1)))`) re-evaluated the
    // child cast once per ELEMENT — 64 whole-array casts per row, which
    // round-18's q338 task-metrics decomposition measured as ~50x the
    // encode's arithmetic cost
    graft.functions.PqFunctions.vecPermute(v, perm)

  /** Squared distance between subvector s of `v` and a code centroid,
    * in the engine-portable order: v·v − 2·v·c + c·c, dot products
    * folded left-to-right (DuckDB list_dot_product's order).
    */
  private def subD2(v: Column, model: Model, s: Int, c: Seq[Double]): Column = {
    val sub = model.subDim
    def el(j: Int): Column = element_at(v, s * sub + 1 + j)
    val vv = (0 until sub).map(j => el(j) * el(j)).reduce(_ + _)
    val vc = (0 until sub).map(j => el(j) * lit(c(j))).reduce(_ + _)
    val cc = c.foldLeft(0.0)((a, x) => a + x * x)
    vv - lit(2.0) * vc + lit(cc)
  }

  /** Encode every vector: per-subspace nearest code (argmin via the
    * sorted-struct trick, ties to the lowest code) plus the row's total
    * reconstruction error ⌊Σ_s d²·10⁶ + ½⌋ as an exact long. One
    * projection, no shuffle.
    */
  def encode(corpus: DataFrame, model: Model): DataFrame = {
    val v = col("__v")
    val base = corpus.select(col("vec_id"),
      col("embedding").cast("array<double>").as("__v"))
    val mins = (0 until model.m).map { s =>
      array_min(array(model.books(s).zipWithIndex.map { case (c, i) =>
        struct(subD2(v, model, s, c).as("d2"), lit(i).as("code"))
      }: _*))
    }
    val codeCols = mins.zipWithIndex.map { case (mn, s) =>
      mn.getField("code").cast("long").as(s"code$s") }
    val err = mins.map(_.getField("d2")).reduce(_ + _)
    base.select(col("vec_id") +: codeCols :+
      floor(err * 1e6 + lit(0.5)).cast("long").as("err_micro"): _*)
  }

  /** Broadcast budget for the per-query ADC lookup table, in ROWS
    * (|queries|·m·k). 4M rows ≈ 100–150 MB broadcast — comfortable on
    * any executor; beyond it [[adcKnn]]/[[ivfPqKnn]] fall back to
    * hash-chunked query batches instead of silently OOMing the driver
    * (each query's top-k is independent, so partitioning the query set
    * and unioning the per-batch results is semantics-identical).
    */
  val DefaultMaxLutRows: Long = 1L << 22

  /** LUT rows one query contributes: Σ_s |book_s| (= m·k for uniform
    * codebooks). */
  private def lutRowsPerQuery(model: Model): Long =
    model.books.map(_.size.toLong).sum

  /** Per-query ADC lookup table (query_id, __s, __code, d_micro):
    * partial squared distance from the query's subvector `s` to code
    * centroid `code`, on the exact micro grid. One projection over
    * codebook literals per (query × m·k) row — the ONLY piece of the
    * ADC scan that carries real vectors, and the piece the
    * [[DefaultMaxLutRows]] budget bounds. Shared by [[adcKnn]] and
    * [[ivfPqKnn]] so the two ADC paths cannot drift.
    */
  private def adcLut(queries: DataFrame, model: Model): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    queries.select(col("vec_id").as("query_id"),
        col("embedding").cast("array<double>").as("__q"))
      .crossJoin(
        model.books.zipWithIndex.flatMap { case (book, s) =>
          book.indices.map(i => (s, i))
        }.toDF("__s", "__code"))
      .select(col("query_id"), col("__s"), col("__code"),
        floor(model.books.zipWithIndex.map { case (book, s) =>
          book.zipWithIndex.foldLeft(lit(null).cast("double")) {
            case (acc, (c, i)) =>
              when(col("__s") === s && col("__code") === i,
                subD2(col("__q"), model, s, c)).otherwise(acc)
          }
        }.reduce(coalesce(_, _)) * 1e6 + lit(0.5)).cast("long")
          .as("d_micro"))
  }

  /** Fail-loud LUT budgeting: split `queries` into hash-disjoint batches
    * whose per-batch LUT fits `maxLutRows` — ENFORCED per batch, not just
    * in expectation: hash skew can land most of a query set in one batch,
    * so after picking the expected batch count the ACTUAL per-batch
    * maximum is measured (one combinable aggregate over distinct query
    * ids) and the batch count doubles until every batch fits (or a
    * doubling cap fails loud — only reachable if many vec_ids share one
    * hash value). Returns per-batch filter predicates (None = no chunking
    * needed). Costs one distinct-count plus at most a few bounded
    * aggregates over the query frame — the price of a budget that is a
    * guarantee instead of an expectation. The hash split is plan-side
    * only: every query lands in exactly one batch, so the unioned result
    * is identical to the unchunked run.
    */
  private def batchPredicates(queries: DataFrame, model: Model,
                              maxLutRows: Long,
                              lutMultiplier: Long = 1L): Seq[Option[Column]] = {
    val per = lutRowsPerQuery(model) * lutMultiplier
    require(maxLutRows >= per,
      s"maxLutRows=$maxLutRows cannot hold even one query's $per-row LUT")
    val ids = queries.select(col("vec_id")).distinct()
    val nQ = ids.count()
    var nBatches = math.max(1L,
      math.ceil(nQ.toDouble * per / maxLutRows).toLong)
    require(nBatches <= Int.MaxValue, s"absurd batch count $nBatches")
    if (nBatches == 1L) return Seq(None)
    val maxPerBatch = maxLutRows / per
    var doublings = 0
    var fits = false
    while (!fits) {
      val worst = ids
        .groupBy(pmod(hash(col("vec_id")), lit(nBatches.toInt)).as("__b"))
        .agg(count(lit(1)).as("__n"))
        .agg(max(col("__n"))).collect()(0).getLong(0)
      if (worst <= maxPerBatch) fits = true
      else {
        doublings += 1
        require(doublings <= 20,
          s"LUT batching cannot satisfy maxLutRows=$maxLutRows: " +
            s"$worst queries share a batch after $doublings doublings " +
            s"(budget holds $maxPerBatch per batch)")
        nBatches *= 2
        require(nBatches <= Int.MaxValue, s"absurd batch count $nBatches")
      }
    }
    (0 until nBatches.toInt).map(b =>
      Some(pmod(hash(col("vec_id")), lit(nBatches.toInt)) === b))
  }

  /** ADC k-nearest-neighbors: queries keep their EXACT subvectors; the
    * corpus is represented only by its codes. Distances are per-query
    * micro-long lookup sums — exact integers, so ranking is
    * deterministic (distance asc, vec_id asc). `queries` and `corpus`
    * must both expose (vec_id, embedding). The per-query LUT broadcast
    * is budgeted by `maxLutRows`: a query set too large for one
    * broadcast is processed in hash-disjoint batches (each batch scans
    * the code table once — the honest serving cost) and unioned;
    * results are identical either way.
    */
  def adcKnn(queries: DataFrame, corpusCodes: DataFrame, model: Model,
             k: Int, maxLutRows: Long = DefaultMaxLutRows): DataFrame =
    batchPredicates(queries, model, maxLutRows).map { pred =>
      adcKnnBatch(pred.map(queries.filter).getOrElse(queries),
        corpusCodes, model, k)
    }.reduce(_.union(_))

  /** Packed encode: all m codes as ONE array<long> column — the
    * full-dimension form. Codebooks ride as codegen reference objects
    * ([[graft.functions.PqEncodePacked]]), so the projection stays in
    * whole-stage codegen at ANY (m, k) — the literal [[encode]] path is
    * unusable past ~2k plan literals (the [[IvfIndex]] 64 KB lesson).
    * Requires uniform code counts across books.
    */
  def encodePacked(corpus: DataFrame, model: Model): DataFrame =
    corpus.select(col("vec_id"),
      graft.functions.PqFunctions.pqCodes(
        col("embedding").cast("array<double>"), model.books).as("codes"))

  /** [[encodePacked]] plus a `model_hash` column ([[modelHash]]) on every
    * code row — the stamp that makes a persisted code table
    * self-describing: any later serving job can prove the codes belong
    * to the model it is about to ADC-serve with ([[adcKnnPackedChecked]])
    * instead of trusting path conventions. One literal column; no extra
    * pass, no shuffle.
    */
  def encodePackedStamped(corpus: DataFrame, model: Model): DataFrame =
    encodePacked(corpus, model)
      .withColumn("model_hash", lit(modelHash(model)))

  /** [[adcKnnPacked]] over STAMPED codes with the compatibility check
    * in-plan: every scanned code row's `model_hash` must equal the
    * serving model's [[modelHash]], or the scan raises — codes encoded
    * under a different (same-shape) model can never be silently ranked
    * with this model's lookup tables. The check is a codegen'd
    * conditional fused into the scan projection (no extra pass over the
    * codes, no driver read), so it costs nothing at 100 TB and cannot
    * be skipped by a mis-wired pipeline.
    */
  def adcKnnPackedChecked(queries: DataFrame, stampedCodes: DataFrame,
                          model: Model, k: Int,
                          maxLutRows: Long = DefaultMaxLutRows): DataFrame = {
    val expected = modelHash(model)
    val checked = stampedCodes.select(col("vec_id"),
      when(col("model_hash") === expected, col("codes"))
        .otherwise(raise_error(concat(
          lit("PQ model mismatch: codes stamped "), col("model_hash"),
          lit(s" but the serving model hashes $expected")))).as("codes"))
    adcKnnPacked(queries, checked, model, k, maxLutRows)
  }

  /** Packed ADC k-NN over [[encodePacked]] codes: each query broadcasts
    * ONE m·k-long lookup array; the code scan computes Σ_s lut[s·k+code_s]
    * in a single codegen'd loop per (query, vector) pair — no melt, no
    * per-subspace shuffle rows, exact integer distances. The
    * query×corpus pairing is a crossJoin against the BROADCAST bounded
    * query batch (the LUT budget caps it), and the per-query top-k is
    * the combinable [[graft.functions.TopKLongPairs]] aggregate — so
    * the only shuffle is the final bounded top-k merge.
    */
  def adcKnnPacked(queries: DataFrame, corpusCodes: DataFrame,
                   model: Model, k: Int,
                   maxLutRows: Long = DefaultMaxLutRows): DataFrame =
    batchPredicates(queries, model, maxLutRows).map { pred =>
      adcKnnPackedBatch(pred.map(queries.filter).getOrElse(queries),
        corpusCodes, model, k)
    }.reduce(_.union(_))

  /** Two-stage serving: packed-ADC SHORTLIST of `shortlistK` candidates
    * per query, then EXACT re-rank of the shortlist — the standard
    * refine step every production PQ deployment runs (quantized scan
    * narrows a billion vectors to a few hundred; exact distances are
    * computed only for those). At 100 TB the exact stage fetches
    * `|queries|·shortlistK` full vectors via a key join against the
    * corpus — the only place real vectors travel, and it is
    * candidate-bounded, never corpus-bounded. Refined recall@k equals
    * the shortlist's containment of the true top-k (re-ranking is
    * exact), so quantization error can demote a true neighbor only past
    * position `shortlistK`, not out of the result — measured: shortlist
    * 60 at m=64/k=64 lifts recall@20 from 0.93 (pure ADC) to ≥ 0.95
    * (q353 gates 0.9). Distances on the exact micro grid; ties
    * (distance, vec_id) as everywhere.
    */
  def adcRefineKnn(queries: DataFrame, corpusVectors: DataFrame,
                   corpusCodes: DataFrame, model: Model, k: Int,
                   shortlistK: Int,
                   maxLutRows: Long = DefaultMaxLutRows): DataFrame = {
    require(shortlistK >= k,
      s"shortlistK=$shortlistK must be >= k=$k")
    import graft.functions.VectorFunctions.dot
    val sl = adcKnnPacked(queries, corpusCodes, model, shortlistK,
        maxLutRows)
      .select(col("query_id"), col("neighbor_id"))
    val cv = corpusVectors.select(col("vec_id").as("neighbor_id"),
      col("embedding").cast("array<double>").as("__cv"))
    val qv = queries.select(col("vec_id").as("query_id"),
      col("embedding").cast("array<double>").as("__qv"))
    // candidate-side build: the shortlist is |queries|·shortlistK rows by
    // construction — the corpus vector table streams past it, nothing
    // corpus-sized is broadcast or collected (the q118 pin discipline)
    val exact = sl.hint("shuffle_hash").join(cv, Seq("neighbor_id"))
      .join(broadcast(qv), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        floor((dot(col("__cv"), col("__cv")) -
          lit(2.0) * dot(col("__cv"), col("__qv")) +
          dot(col("__qv"), col("__qv"))) * 1e6 + lit(0.5)).cast("long")
          .as("d_micro"))
    graft.functions.TopKFunctions.topkPerGroup(exact,
        Seq(col("query_id")), -col("d_micro"), col("neighbor_id"), k)
      .select(col("query_id"), col("rnk"), col("id").as("neighbor_id"),
        (-col("key")).as("d_micro"))
  }

  private def adcKnnPackedBatch(queries: DataFrame, corpusCodes: DataFrame,
                                model: Model, k: Int): DataFrame = {
    // The batch's LUTs are COLLECTED and ride as one reference object
    // (bounded by construction: batchPredicates caps each batch at
    // maxLutRows LUT entries, so this is a model-sized read, never
    // corpus-shaped). The per-query fan-out is then a plain
    // explode(sequence(0, B-1)) over each codes row — no broadcast
    // join. The previous crossJoin-against-broadcast-LUT plan
    // whole-stage-codegen'd the stream-side ENCODE into the join's
    // consume path, re-encoding every corpus row once per broadcast
    // row: per-row cost grew with the batch size (measured round 18 at
    // sf1: 5 queries -> encode 5x, 52 s vs 12 s;
    // docs/opq_metrics_r18.json).
    val spark = corpusCodes.sparkSession
    val (flat, norms, kk, subDim) =
      graft.functions.PqMatrix.pack(model.books)
    val qRows = queries
      .select(col("vec_id").cast("long"),
        col("embedding").cast("array<double>"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    if (qRows.isEmpty) {
      import spark.implicits._
      return Seq.empty[(Long, Long, Long, Long)]
        .toDF("query_id", "rnk", "neighbor_id", "dist_micro")
    }
    val m = model.books.size
    val luts = new Array[Long](qRows.length * m * kk)
    qRows.zipWithIndex.foreach { case ((_, v), qi) =>
      graft.functions.PqKernel.adcLut(
        org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
          .fromPrimitiveArray(v), flat, norms, m, kk, subDim)
        .copyToArray(luts, qi * m * kk)
    }
    val qids = qRows.map(_._1).toSeq
    val dists = corpusCodes
      .select(col("vec_id"), col("codes"),
        explode(sequence(lit(0), lit(qRows.length - 1))).as("__qi"))
      .select(
        element_at(typedLit(qids), (col("__qi") + 1).cast("int"))
          .as("query_id"),
        col("vec_id"),
        graft.functions.PqFunctions.pqAdcDistBatch(col("codes"),
          col("__qi"), luts, m, kk).as("dist_micro"))
      .filter(col("query_id") =!= col("vec_id"))
    graft.functions.TopKFunctions.topkPerGroup(dists,
        Seq(col("query_id")), -col("dist_micro"), col("vec_id"), k)
      .select(col("query_id"), col("rnk"), col("id").as("neighbor_id"),
        (-col("key")).as("dist_micro"))
  }

  private def adcKnnBatch(queries: DataFrame, corpusCodes: DataFrame,
                          model: Model, k: Int): DataFrame = {
    val melted = corpusCodes.select(col("vec_id") +:
      (0 until model.m).map(s => col(s"code$s")): _*)
      .select(col("vec_id"), explode(array((0 until model.m).map { s =>
        struct(lit(s).as("__s"), col(s"code$s").as("__code"))
      }: _*)).as("__sc"))
      .select(col("vec_id"), col("__sc.__s").as("__s"),
        col("__sc.__code").as("__code"))
    val dists = melted.join(broadcast(adcLut(queries, model)),
        Seq("__s", "__code"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("d_micro")).as("dist_micro"))
      .filter(col("query_id") =!= col("vec_id"))
    graft.functions.TopKFunctions.topkPerGroup(dists,
        Seq(col("query_id")), -col("dist_micro"), col("vec_id"), k)
      .select(col("query_id"), col("rnk"), col("id").as("neighbor_id"),
        (-col("key")).as("dist_micro"))
  }

  /** The composed FAISS-style stack — IVF coarse probe + PQ fine rank:
    * queries pick their `nProbe` nearest IVF cells (cosine, the
    * [[IvfIndex.knn]] probe), and only the CODES of vectors in probed
    * cells are ranked by exact-integer ADC distance. At 100 TB the scan
    * touches ~nProbe/nCells of the corpus and moves m bytes per
    * candidate instead of the vector — the memory-bandwidth shape real
    * billion-vector serving uses. Every step after the two k-means fits
    * (cell assignment, probing, code assignment, lookup distances,
    * ranking) is engine-portable and oracle-checked.
    */
  def ivfPqKnn(corpus: DataFrame, queries: DataFrame,
               ivfCentroids: Seq[Seq[Double]], model: Model, k: Int,
               nProbe: Int,
               maxLutRows: Long = DefaultMaxLutRows): DataFrame = {
    val spark = corpus.sparkSession
    val ivf = IvfIndex.fromCentroids(spark, corpus, ivfCentroids)
    val codes = encode(corpus, model)
      .join(ivf.assigned.select(col("vec_id"), col("cell")), Seq("vec_id"))
    batchPredicates(queries, model, maxLutRows).map { pred =>
      ivfPqKnnBatch(codes, ivf,
        pred.map(queries.filter).getOrElse(queries), model, k, nProbe)
    }.reduce(_.union(_))
  }

  /** IVFADC proper — the FAISS billion-vector layout: PQ codes over
    * RESIDUALS (v − centroid[cell]) instead of raw vectors, so each
    * cell's codebook budget covers only the local displacement — at the
    * same (m, k) the quantization error is strictly smaller than
    * [[ivfPqKnn]]'s raw-vector codes. Queries probe their `nProbe`
    * nearest cells (the q64 cosine probe), build ONE packed LUT per
    * (query, probed cell) from the query's residual against that cell,
    * and candidates are ranked by exact-integer ADC over their residual
    * codes. The LUT broadcast is |queries|·nProbe·m·k rows, budgeted by
    * `maxLutRows` with the same hash-chunked fallback. At 100 TB the
    * join moves CODES + per-(query, cell) LUT arrays — residual vectors
    * never travel.
    */
  def ivfAdcResidualKnn(corpus: DataFrame, queries: DataFrame,
                        ivfCentroids: Seq[Seq[Double]], model: Model,
                        k: Int, nProbe: Int,
                        maxLutRows: Long = DefaultMaxLutRows): DataFrame = {
    val spark = corpus.sparkSession
    val ivf = IvfIndex.fromCentroids(spark, corpus, ivfCentroids)
    // residual codes: one broadcast join to attach the cell centroid,
    // one codegen'd elementwise subtract + packed encode — no shuffle
    val codes = ivf.assigned
      .join(broadcast(ivf.centroids.select(col("cell"), col("cv"))),
        Seq("cell"))
      .select(col("vec_id"), col("cell"),
        graft.functions.PqFunctions.pqCodes(
          zip_with(col("v"), col("cv"), (a, b) => a - b),
          model.books).as("codes"))
    batchPredicates(queries, model, maxLutRows, lutMultiplier = nProbe)
      .map { pred =>
        ivfAdcResidualBatch(codes, ivf,
          pred.map(queries.filter).getOrElse(queries), model, k, nProbe)
      }.reduce(_.union(_))
  }

  private def ivfAdcResidualBatch(codes: DataFrame, ivf: IvfIndex.Model,
                                  queries: DataFrame, model: Model,
                                  k: Int, nProbe: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.VectorFunctions.dot
    val nCodes = model.books.head.size
    val q = queries.select(col("vec_id").as("query_id"),
        col("embedding").cast("array<double>").as("qv"))
      .withColumn("qv_n2", dot(col("qv"), col("qv")))
    // nCells rows per query — bounded by the index, not the data
    val cellRank = Window.partitionBy("query_id")
      .orderBy(desc("cell_score"), asc("cell"))
    val probed = q.crossJoin(broadcast(ivf.centroids))
      .withColumn("cell_score",
        dot(col("qv"), col("cv")) / sqrt(col("qv_n2") * col("cv_n2")))
      .withColumn("cell_rnk", row_number().over(cellRank))
      .filter(col("cell_rnk") <= nProbe)
      .select(col("query_id"), col("cell"), col("qv"), col("cv"))
    val lutQ = broadcast(probed.select(col("query_id"), col("cell"),
      graft.functions.PqFunctions.pqAdcLut(
        zip_with(col("qv"), col("cv"), (a, b) => a - b),
        model.books).as("__lut")))
    val dists = codes.join(lutQ, Seq("cell"))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id"),
        graft.functions.PqFunctions.pqAdcDist(col("codes"), col("__lut"),
          nCodes).as("dist_micro"))
    graft.functions.TopKFunctions.topkPerGroup(dists,
        Seq(col("query_id")), -col("dist_micro"), col("vec_id"), k)
      .select(col("query_id"), col("rnk"), col("id").as("neighbor_id"),
        (-col("key")).as("dist_micro"))
  }

  private def ivfPqKnnBatch(codes: DataFrame, ivf: IvfIndex.Model,
                            queries: DataFrame, model: Model, k: Int,
                            nProbe: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.VectorFunctions.dot
    val q = queries.select(col("vec_id").as("query_id"),
        col("embedding").cast("array<double>").as("qv"))
      .withColumn("qv_n2", dot(col("qv"), col("qv")))
    // nCells rows per query — bounded by the index, not the data
    val cellRank = Window.partitionBy("query_id")
      .orderBy(desc("cell_score"), asc("cell"))
    val probed = q.crossJoin(broadcast(ivf.centroids))
      .withColumn("cell_score",
        dot(col("qv"), col("cv")) / sqrt(col("qv_n2") * col("cv_n2")))
      .withColumn("cell_rnk", row_number().over(cellRank))
      .filter(col("cell_rnk") <= nProbe)
      .select(col("query_id"), col("cell"))
    // candidate (query, vec) pairs: codes of probed cells only
    val cand = codes.join(broadcast(probed), Seq("cell"))
      .filter(col("query_id") =!= col("vec_id"))
    val melted = cand.select(col("query_id"), col("vec_id"),
        explode(array((0 until model.m).map { s =>
          struct(lit(s).as("__s"), col(s"code$s").as("__code"))
        }: _*)).as("__sc"))
      .select(col("query_id"), col("vec_id"),
        col("__sc.__s").as("__s"), col("__sc.__code").as("__code"))
    val dists = melted.join(broadcast(adcLut(queries, model)),
        Seq("query_id", "__s", "__code"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("d_micro")).as("dist_micro"))
    graft.functions.TopKFunctions.topkPerGroup(dists,
        Seq(col("query_id")), -col("dist_micro"), col("vec_id"), k)
      .select(col("query_id"), col("rnk"), col("id").as("neighbor_id"),
        (-col("key")).as("dist_micro"))
  }
}
