package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed full-corpus Lloyd k-means on the exact integer micro grid.
  *
  * The reference trains coarse quantizers on bounded samples
  * (driver-local Lloyd — [[IvfIndex.trainCentroids]], [[Pq.trainCodebooksLocal]]);
  * this is the 100 TB-scale complement: every Lloyd pass is a
  * DISTRIBUTED pass over the full vector table, so the trained model
  * reflects all the data, not a sample. Per iteration the only driver
  * traffic is the k·d updated centroid grid (a bounded model read, like
  * the BPE argmax in [[TextAnalysis.bpeTrain]]); the corpus itself is
  * never collected.
  *
  * Determinism discipline (the q354 re-learning contract, for vectors):
  *  - vectors ride as BIGINT micro coordinates (`floor(x·1e6 + 0.5)` of
  *    the float64 widening — identical IEEE arithmetic on both engines),
  *    so every distance is an exact BIGINT and every comparison is a
  *    total order;
  *  - init = the k lowest `vec_id`s' vectors (data-dependent only, no
  *    RNG);
  *  - assignment = exact L2² argmin, ties to the lower cid;
  *  - update = per-dimension floor(mean) via the offset trick:
  *    `(s + n·1e6) div n − 1e6` keeps the numerator positive, so
  *    truncating integer division IS floor division on both engines;
  *  - an emptied cluster keeps its previous centroid (both engines
  *    LEFT-join new means onto the previous grid).
  *
  * Because the whole trajectory is exact-integer and argmin/argmax
  * choices are totally ordered, a DuckDB oracle can RE-LEARN the
  * centroids from scratch (unrolled census → update stages) and a hash
  * compare pins two independent trainings against each other — no
  * centroid literal ever crosses between engines.
  *
  * Scale shape per iteration: assignment is a pure per-row projection
  * (k centroid grids fold in as array literals — no join, no shuffle),
  * and the update is ONE map-side-combinable aggregate whose exchange
  * carries at most k·d cells per map partition. Nothing is quadratic in
  * the corpus; k and d are model-sized.
  */
object KMeans {

  /** BIGINT micro coordinates of a float vector column. */
  def microVec(e: Column): Column =
    transform(e.cast("array<double>"),
      x => floor(x * lit(1e6) + lit(0.5)).cast("long"))

  /** Exact squared L2 distance between two BIGINT micro vectors. */
  private def d2(v: Column, cm: Seq[Long]): Column =
    aggregate(
      zip_with(v, typedLit(cm), (x, y) => (x - y) * (x - y)),
      lit(0L), (acc, z) => acc + z)

  /** In-row argmin over the k centroid grids: array_min of
    * struct(d2, cid) — lexicographic, so ties break to the lower cid.
    */
  private def best(v: Column, cents: Seq[(Int, Seq[Long])]): Column =
    array_min(array(cents.map { case (cid, cm) =>
      struct(d2(v, cm).as("d2"), lit(cid.toLong).as("cid"))
    }: _*))
      // array()'s element-type unification can drop struct field names
      // (col1/col2); the positional cast restores them
      .cast("struct<d2:bigint,cid:bigint>")

  private val Offset = 1000000L

  /** The micro vector table: (vec_id, m). */
  def micro(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), microVec(col("embedding")).as("m"))

  /** Run `iters` full-corpus Lloyd iterations; returns the final
    * centroid grids (cid → d micro coordinates), cid in 0 until k.
    */
  def lloyd(emb: DataFrame, k: Int, iters: Int): Seq[(Int, Seq[Long])] = {
    require(k >= 1 && k <= 64, s"k must be in [1, 64], got $k")
    require(iters >= 1 && iters <= 16, s"iters must be in [1, 16], got $iters")
    val spark = emb.sparkSession
    import spark.implicits._
    Checkpoints.scoped { scope =>
      val m = scope.checkpoint(micro(emb))
      // init: the k lowest vec_ids' vectors (a bounded model read)
      var cents: Seq[(Int, Seq[Long])] = m.orderBy("vec_id").limit(k)
        .select(col("m")).as[Seq[Long]].collect().toSeq.zipWithIndex
        .map { case (v, i) => (i, v) }
      require(cents.size == k,
        s"lloyd: corpus has fewer than k=$k vectors")
      for (_ <- 1 to iters) {
        val b = best(col("m"), cents)
        val updated = m
          .select(b.getField("cid").as("cid"), posexplode(col("m")))
          .groupBy(col("cid"), (col("pos") + 1).as("dim"))
          .agg(sum(col("col")).as("s"), count(lit(1)).as("n"))
          .select(col("cid"), col("dim"),
            (expr(s"(s + n * ${Offset}L) div n") - Offset).as("c"))
          .as[(Long, Long, Long)].collect()
        val byCid = updated.groupBy(_._1).map { case (cid, rows) =>
          cid.toInt -> rows.sortBy(_._2).map(_._3).toSeq
        }
        // an emptied cluster keeps its previous grid
        cents = cents.map { case (cid, prev) =>
          (cid, byCid.getOrElse(cid, prev))
        }
      }
      cents
    }
  }

  /** Centroid grid as a DataFrame: (cid, dim, c_micro), dim 1-based. */
  def centroidTable(spark: SparkSession,
                    cents: Seq[(Int, Seq[Long])]): DataFrame = {
    import spark.implicits._
    cents.flatMap { case (cid, cm) =>
      cm.zipWithIndex.map { case (c, j) =>
        (cid.toLong, (j + 1).toLong, c)
      }
    }.toDF("cid", "dim", "c_micro")
  }

  /** Exact assignment of every vector to its nearest centroid:
    * (vec_id, cid, d2) — a pure per-row projection.
    */
  def assign(emb: DataFrame, cents: Seq[(Int, Seq[Long])]): DataFrame = {
    val b = best(col("m"), cents)
    micro(emb).select(col("vec_id"),
      b.getField("cid").as("cid"), b.getField("d2").as("d2"))
  }
}
