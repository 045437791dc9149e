package graft.ext

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions.{dot, nearestCentroid}

/** IVF (inverted-file) approximate nearest-neighbor index — the
  * coarse-quantizer alternative to random-hyperplane LSH
  * ([[Similarity.knnLsh]]):
  *
  *  1. TRAIN: k-means over a bounded, deterministic sample of the corpus
  *     learns `nCells` centroids. Lloyd iterations are full passes over the
  *     TRAINING input, so the sample cap (`maxTrainVectors`, default 100k)
  *     is what keeps training O(1) in corpus size — quantizer quality needs
  *     a representative sample, not every vector (FAISS trains IVF cells
  *     the same way).
  *  2. ASSIGN: every corpus vector picks its nearest centroid in a single
  *     PROJECTION — the centroid matrix rides into whole-stage codegen as
  *     a reference object ([[graft.functions.NearestCentroid]]), so
  *     assignment is one corpus pass with no join, no shuffle, no per-row
  *     blowup and no codegen size ceiling at any cell count. Posting lists
  *     are just the `cell` column; at warehouse scale they can
  *     additionally be bucketed on disk.
  *  3. PROBE: each query ranks centroids (there are only `nCells`), keeps
  *     the `nProbe` nearest cells, and scores only vectors in those cells:
  *     the scanned fraction is ~nProbe/nCells of the corpus, the quadratic
  *     term gone.
  *
  * Assignment uses the squared-Euclidean identity ‖v−c‖² = v·v − 2·v·c + c·c
  * with ties to the lowest cell, evaluated in the same operation order as
  * DuckDB's `list_dot_product` — so the whole post-training pipeline is
  * SQL-expressible and hash-verified by the q64 oracle (only the k-means
  * `fit` itself stays outside the gate). Recall/probe tradeoff is
  * (nCells, nProbe) — measured against the exact baseline in ExtSuite.
  */
object IvfIndex {

  final case class Model(centroidVecs: Seq[Seq[Double]],
                         centroids: DataFrame /* (cell, cv, cv_n2) */,
                         assigned: DataFrame /* corpus + cell */)

  private def asDouble(df: DataFrame): DataFrame =
    df.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))

  /** Learn `nCells` centroids from a deterministic sample of at most
    * ~`maxTrainVectors` corpus vectors (sampling keeps the 10 Lloyd passes
    * bounded no matter how large the corpus is).
    */
  def trainCentroids(spark: SparkSession, corpus: DataFrame, nCells: Int,
                     seed: Long = 42L,
                     maxTrainVectors: Long = 100000L): Seq[Seq[Double]] = {
    val vecs = asDouble(corpus)
    // column-pruned count (near-metadata cost on parquet; still one Spark
    // job per trainCentroids call)
    val n = vecs.count()
    val frac = math.min(1.0, maxTrainVectors.toDouble / math.max(n, 1L))
    val train =
      (if (frac >= 1.0) vecs else vecs.sample(withReplacement = false, frac, seed))
        .withColumn("features", array_to_vector(col("v")))
    val model = new KMeans().setK(nCells).setSeed(seed).setMaxIter(10)
      .fit(train)
    model.clusterCenters.toSeq.map(_.toArray.toSeq)
  }

  /** Train the coarse quantizer (sampled) and assign every corpus vector. */
  def build(spark: SparkSession, corpus: DataFrame, nCells: Int,
            seed: Long = 42L, maxTrainVectors: Long = 100000L): Model =
    fromCentroids(spark, corpus,
      trainCentroids(spark, corpus, nCells, seed, maxTrainVectors))

  /** Assign every corpus vector to its nearest centroid with
    * [[graft.functions.NearestCentroid]]: a Catalyst expression whose
    * generated code is one call to a loop over the centroid matrix held as
    * a reference object, so assignment is ONE codegen'd projection (no
    * join, no shuffle, no 64 KB ceiling) at any cell count. d² is
    * v·v − 2·v·c + c·c with the dot products folded left to right (DuckDB
    * `list_dot_product`'s order) and ties go to the lowest cell, so the
    * q64 oracle's literal SQL reproduces every cell bit for bit. A null
    * vector gets a null cell.
    */
  def fromCentroids(spark: SparkSession, corpus: DataFrame,
                    centroidVecs: Seq[Seq[Double]]): Model = {
    require(centroidVecs.nonEmpty, "fromCentroids needs at least one centroid")
    import spark.implicits._
    val centroids = centroidVecs.zipWithIndex
      .map { case (c, i) => (i, c) }.toDF("cell", "cv")
      .withColumn("cv_n2", dot(col("cv"), col("cv")))
    val assigned = asDouble(corpus)
      .withColumn("v_n2", dot(col("v"), col("v")))
      .withColumn("cell", nearestCentroid(col("v"), centroidVecs))
      .select("vec_id", "v", "cell", "v_n2")
    Model(centroidVecs, centroids, assigned)
  }

  /** Per-cell representative (coreset / diversity selection): for each IVF
    * cell, the vector closest to its centroid — deterministic
    * (dist², vec_id) tiebreak — plus the cell population. This is the
    * pick-one-per-region step of diversity-aware data selection
    * (herding/coreset pruning over a coarse quantizer).
    *
    * Scale argument: the argmin is a COMBINABLE aggregate —
    * `min(struct(dist2, vec_id))` — not a `Window.partitionBy(cell)`.
    * Cell populations are zipf-skewed (the repo's own `semdedup_zipf_cells`
    * shape plants 10% of vectors in 1% of cells), and a window over `cell`
    * buffers and sorts each cell's rows in a single task: the hot cell
    * becomes a straggler that scales with corpus size. Partial aggregation
    * instead collapses every cell to ONE row per map partition before the
    * shuffle, so the reduce side sees O(cells × partitions) rows no matter
    * how hot a cell is — and the population count folds into the same pass
    * (no separate counts aggregate + join). Struct min compares field-wise
    * left-to-right, giving exactly the (dist2 ASC, vec_id ASC) order the
    * row_number formulation had.
    */
  def cellRepresentatives(model: Model): DataFrame = {
    val withDist = model.assigned.join(broadcast(model.centroids), "cell")
      .select(col("cell").cast("long").as("cell"), col("vec_id"),
        (col("v_n2") - lit(2.0) * dot(col("v"), col("cv")) + col("cv_n2"))
          .as("dist2"))
    withDist.groupBy("cell")
      .agg(min(struct(col("dist2"), col("vec_id"))).as("best"),
        count(lit(1)).as("n_vecs"))
      .select(col("cell"), col("n_vecs"),
        col("best").getField("vec_id").as("rep_vec_id"),
        col("best").getField("dist2").as("dist2"))
      .orderBy("cell")
  }

  /** The probe shared by every IVF search: each query's `nProbe` cells
    * with the highest cosine to their centroid, ties to the lowest cell,
    * as rows (query_id, qv, qv_n2, cell, cv). The centroid table has only
    * nCells rows, so it is broadcast and each query ranks nCells rows.
    */
  private[ext] def probe(model: Model, queries: DataFrame, nProbe: Int): DataFrame = {
    val q = asDouble(queries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
      .withColumn("qv_n2", dot(col("qv"), col("qv")))
    val cellRank = Window.partitionBy("query_id")
      .orderBy(desc("cell_score"), asc("cell"))
    q.crossJoin(broadcast(model.centroids))
      .withColumn("cell_score",
        dot(col("qv"), col("cv")) / sqrt(col("qv_n2") * col("cv_n2")))
      .withColumn("cell_rnk", row_number().over(cellRank))
      .filter(col("cell_rnk") <= nProbe)
      .select("query_id", "qv", "qv_n2", "cell", "cv")
  }

  /** Approximate top-k: [[probe]] the nProbe nearest cells per query, exact
    * cosine within the probed cells only. The (query × nProbe) probe table
    * is broadcast into the corpus scan.
    */
  def knn(model: Model, queries: DataFrame, k: Int, nProbe: Int): DataFrame = {
    val probed = probe(model, queries, nProbe)
      .select("query_id", "qv", "qv_n2", "cell")
    val scored = model.assigned.join(broadcast(probed), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(dot(col("qv"), col("v")) / sqrt(col("qv_n2") * col("v_n2")), 6)
          .as("score"))
    val w = Window.partitionBy("query_id")
      .orderBy(desc("score"), asc("neighbor_id"))
    scored.select(col("query_id"), col("neighbor_id"), col("score"),
      row_number().over(w).cast("long").as("rnk"))
      .filter(col("rnk") <= k)
  }
}
