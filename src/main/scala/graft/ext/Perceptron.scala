package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed BATCH perceptron on the exact integer micro grid — the
  * linear quality-classifier trainer (fastText-style gating without the
  * float softmax): per epoch, sum the update y·x over ALL currently
  * misclassified examples and apply once. Unlike the sequential
  * perceptron (whose updates depend on row order — undefined in a
  * distributed scan), the batch variant's epoch update is a pure
  * aggregate: deterministic under any partitioning, and expressible in
  * both engines, so the DuckDB oracle RE-LEARNS the weight trajectory
  * (the q354/q356/q361 contract).
  *
  * Exactness: features are BIGINT micro coordinates, labels ±1, the
  * margin y·⟨w, x⟩ an exact BIGINT — train() measures d and max|x|
  * from the data once and fail-louds whenever d·max|w|·max|x| could
  * reach 2⁶³ (so neither ragged dims nor out-of-range coordinates can
  * wrap a margin silently), misclassified means
  * margin ≤ 0 (epoch 1 updates on everything from w = 0 — the
  * deterministic cold start).
  *
  * Scale shape per epoch: the margin is an in-row fold (w rides as a
  * literal), the update one map-side-combinable (dim) aggregate — d
  * cells per map partition; driver traffic is the d-entry update
  * vector (a bounded model read).
  */
object Perceptron {

  /** ±1 label column from the integer `label`: +1 iff label < `split`. */
  private def sign(split: Int) =
    when(col("label") < split, lit(1L)).otherwise(lit(-1L))

  /** (vec_id, x, y) micro feature table. */
  private def features(emb: DataFrame, split: Int): DataFrame =
    emb.select(col("vec_id"), KMeans.microVec(col("embedding")).as("x"),
      sign(split).as("y"))

  private def margin(w: Seq[Long]) =
    col("y") * aggregate(
      zip_with(col("x"), typedLit(w), (a, b) => a * b),
      lit(0L), (acc, t) => acc + t)

  /** Train `epochs` batch-perceptron epochs from w = 0; returns the
    * weight trajectory: epoch → (weights, misclassified count at the
    * START of the epoch, i.e. the update's support).
    */
  def train(emb: DataFrame, split: Int,
            epochs: Int): Seq[(Int, Seq[Long], Long)] = {
    require(epochs >= 1 && epochs <= 8,
      s"epochs must be in [1, 8], got $epochs")
    val spark = emb.sparkSession
    import spark.implicits._
    Checkpoints.scoped { scope =>
      val f = scope.checkpoint(features(emb, split))
      // Derive the dimension and coordinate range from the DATA (one
      // cheap combinable aggregate on the checkpointed feature table)
      // instead of assuming 64 dims / |x| ≤ 1.3·10⁶: a ragged corpus
      // would otherwise silently train a truncated model (zip_with
      // stops at the shorter array), and out-of-range coordinates
      // would wrap margins in non-ANSI Spark BEFORE the w-bound check
      // can fire. Fail loud on both.
      val stats = f.select(
        min(size(col("x"))), max(size(col("x"))),
        max(aggregate(col("x"), lit(0L),
          (acc, t) => greatest(acc, abs(t)))))
        .as[(Option[Int], Option[Int], Option[Long])].head()
      // an empty feature table makes every min/max NULL — fail with a
      // named condition instead of an opaque NPE out of the decoder
      val (dMin, dMax, xMaxRaw) = (stats._1, stats._2, stats._3) match {
        case (Some(a), Some(b), Some(c)) => (a, b, c)
        case _ => throw new IllegalArgumentException(
          "perceptron: empty feature table (no labeled rows after split)")
      }
      require(dMin == dMax,
        s"perceptron: ragged embedding dims (min $dMin, max $dMax)")
      val d = dMax
      val xMax = math.max(xMaxRaw, 1L)
      // margin = y·Σ_d w_d·x_d stays exact in signed 64-bit iff
      // d · max|w| · max|x| < 2⁶³ — the bound below is derived from
      // the OBSERVED d and max|x|, checked after every epoch. The
      // divisor d·max|x| is itself a 64-bit product, so compute it in
      // BigInt: for max|x| near 2⁶³/d the Long product would wrap and
      // could yield a too-LAX bound — the exact failure this guard
      // exists to catch. A divisor ≥ 2⁶³ means no nonzero weight is
      // provably safe; bound 1 keeps the all-zero start legal and the
      // first real update fails loud.
      val divisor = BigInt(d) * BigInt(xMax)
      val wBound =
        if (divisor >= BigInt(Long.MaxValue)) 1L
        else Long.MaxValue / divisor.toLong
      var w: Seq[Long] = Seq.fill(d)(0L)
      val out = scala.collection.mutable.ArrayBuffer
        .empty[(Int, Seq[Long], Long)]
      for (e <- 1 to epochs) {
        val upd = f.filter(margin(w) <= 0)
          .select(col("y"), posexplode(col("x")))
          .groupBy((col("pos") + 1).as("dim"))
          .agg(sum(col("y") * col("col")).as("g"), count(lit(1)).as("n"))
          .as[(Long, Long, Long)].collect()
        val miscl = upd.headOption.map(_._3).getOrElse(0L)
        val g = upd.map(r => r._1 -> r._2).toMap
        w = w.zipWithIndex.map { case (wd, j) =>
          wd + g.getOrElse((j + 1).toLong, 0L)
        }
        // |w_d| grows with the update-support size, so fail loud
        // (Spark would wrap silently in non-ANSI mode) instead of
        // serving a wrong trajectory — checked on the already-
        // collected model against the data-derived bound, no extra job.
        require(w.forall(wd => math.abs(wd) < wBound),
          s"perceptron epoch $e: |w| exceeds the exact-margin bound " +
            s"$wBound for d=$d, max|x|=$xMax (corpus too large for " +
            "64-bit margins; shard or scale down)")
        out += ((e, w, miscl))
      }
      out.toSeq
    }
  }

  /** Trajectory table: (epoch, dim, w_micro, n_updates) — the weights
    * AFTER each epoch and the epoch's update support size.
    */
  def trajectoryTable(spark: SparkSession,
                      traj: Seq[(Int, Seq[Long], Long)]): DataFrame = {
    import spark.implicits._
    traj.flatMap { case (e, w, n) =>
      w.zipWithIndex.map { case (wd, j) =>
        (e.toLong, (j + 1).toLong, wd, n)
      }
    }.toDF("epoch", "dim", "w_micro", "n_updates")
  }

  /** Confusion census under final weights: (y, pred, n) where pred is
    * the exact sign of ⟨w, x⟩ (−1, 0, +1). Pure per-row projection +
    * one combinable aggregate.
    */
  def confusion(emb: DataFrame, split: Int, w: Seq[Long]): DataFrame =
    features(emb, split)
      .select(col("y"), signum(aggregate(
        zip_with(col("x"), typedLit(w), (a, b) => a * b),
        lit(0L), (acc, t) => acc + t)).cast("long").as("pred"))
      .groupBy("y", "pred").agg(count(lit(1)).as("n"))
}
