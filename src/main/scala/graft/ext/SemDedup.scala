package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions.dot

/** Semantic deduplication (SemDeDup-style): cluster the embedding space,
  * then drop near-duplicate vectors WITHIN each cluster — the
  * cluster-then-compare trick that makes embedding-level dedup tractable,
  * because the quadratic pair scan runs per cell (n/k vectors) instead of
  * over the whole corpus.
  *
  * Scale design: cell assignment is the shared IVF path
  * ([[IvfIndex.fromCentroids]] — the [[graft.functions.NearestCentroid]]
  * reference-object expression at any cell count; one corpus scan, no
  * shuffle). The pair scan is a self-join
  * keyed on `cell`, so the shuffle moves each vector once and the
  * quadratic term is bounded by the largest cell — at 100 TB the knobs
  * are nCells (more cells ⇒ smaller quadratic blocks) and AQE skew-join
  * splitting for lopsided cells.
  *
  * Decision rule (deterministic, order-free): a vector is dropped iff
  * some LOWER-id vector in its cell matches it at ≥ `threshold` cosine —
  * the keep-first discipline of the text-dedup operators, applied to
  * embedding space. The threshold compares the raw cosine double, which
  * is bitwise deterministic cross-engine (fixed fold order), so the kept
  * set is reproducible with no rounding step.
  */
object SemDedup {

  /** Per-vector dedup decision: (vec_id, cell, n_dup_lower, kept).
    * `n_dup_lower` counts the lower-id same-cell vectors within
    * `threshold`; `kept` = no such vector exists.
    */
  def semanticDedup(spark: SparkSession, emb: DataFrame,
                    centroidVecs: Seq[Seq[Double]],
                    threshold: Double): DataFrame = {
    val assigned = IvfIndex.fromCentroids(spark, emb, centroidVecs).assigned
    val a = assigned.select(col("cell"), col("vec_id").as("vec_a"),
      col("v").as("va"), col("v_n2").as("va_n2"))
    val b = assigned.select(col("cell"), col("vec_id").as("vec_b"),
      col("v").as("vb"), col("v_n2").as("vb_n2"))
    // The threshold compares the UNROUNDED cosine: the raw double is
    // already bitwise deterministic cross-engine (fixed fold order),
    // while round()-then-compare would reintroduce the Spark-vs-DuckDB
    // half-ulp round() divergence exactly where it flips a row set.
    val dupPairs = a.join(b, Seq("cell"))
      .filter(col("vec_a") < col("vec_b"))
      .select(col("vec_b"),
        (dot(col("va"), col("vb")) /
          sqrt(col("va_n2") * col("vb_n2"))).as("score"))
      .filter(col("score") >= threshold)
    val lowerDups = dupPairs.groupBy("vec_b")
      .agg(count(lit(1)).as("n_dup_lower"))
    assigned.select(col("vec_id"), col("cell").cast("long").as("cell"))
      .join(lowerDups.withColumnRenamed("vec_b", "vec_id"), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        coalesce(col("n_dup_lower"), lit(0L)).as("n_dup_lower"),
        (coalesce(col("n_dup_lower"), lit(0L)) === 0L).as("kept"))
  }
}
