package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Top principal component by power iteration on the exact integer
  * grid — the "all-but-the-top" embedding post-processing step
  * (Mu & Viswanath 2018): embedding sets concentrate along a dominant
  * direction plus the mean; subtracting both measurably improves
  * cosine-similarity retrieval, so a curation pipeline wants the top
  * component as a first-class, reproducible model artifact.
  *
  * Exactness discipline (the q354/q356 re-learning contract): every
  * quantity in the trajectory is an exact integer, so a DuckDB oracle
  * re-derives the identical component with no float drift:
  *  - vectors ride as BIGINT micro coordinates; the mean is the
  *    per-dimension floor(mean) (offset trick);
  *  - one power step is y = X'v (per-row BIGINT — |x'|≤2²¹, |v|≤2²⁰,
  *    d=64 keeps Σ x'_d·v_d under 2⁴⁷), then z = X'ᵀy in
  *    DECIMAL(38,0)/HUGEINT (per-term up to ~10²⁰ overflows BIGINT —
  *    the widening is load-bearing, not defensive);
  *  - renormalization is L∞ on the integer grid:
  *    v' = floor(z·10⁶ / max|z|) via the positive-offset floor-div, so
  *    ‖v'‖∞ = 10⁶ exactly and no square root ever appears;
  *  - v₀ = the lowest vec_id's centered vector (data-dependent, no
  *    RNG). The covariance is PSD so the iterate's sign is stable;
  *    no sign normalization is needed for determinism.
  *
  * Scale shape: each iteration is one in-row projection (y — the
  * current v folds in as a literal) and one map-side-combinable
  * aggregate (z — at most d cells per map partition), so an iteration
  * reads the corpus once and shuffles d rows. Driver traffic per
  * iteration is the d-entry z vector (a bounded model read); the
  * renormalization runs driver-side in BigInt on those d values.
  */
object Pca {

  private val Scale = 1000000L

  /** (mu, v): the per-dimension floor-mean micro vector and the final
    * iterate with ‖v‖∞ = 10⁶, after `iters` exact power steps.
    */
  def topComponent(emb: DataFrame, iters: Int): (Seq[Long], Seq[Long]) = {
    require(iters >= 1 && iters <= 8, s"iters must be in [1, 8], got $iters")
    val spark = emb.sparkSession
    import spark.implicits._
    Checkpoints.scoped { scope =>
      val m = scope.checkpoint(KMeans.micro(emb))
      val mu: Seq[Long] = m
        .select(posexplode(col("m")))
        .groupBy((col("pos") + 1).as("dim"))
        .agg(sum(col("col")).as("s"), count(lit(1)).as("n"))
        .select(col("dim"), (expr(s"(s + n * ${Scale}L) div n") - Scale).as("c"))
        .as[(Long, Long)].collect().sortBy(_._1).map(_._2).toSeq
      val x = m.select(col("vec_id"),
        zip_with(col("m"), typedLit(mu), (a, b) => a - b).as("x"))
      var v: Seq[BigInt] = x.orderBy("vec_id").limit(1)
        .select(col("x")).as[Seq[Long]].collect()
        .headOption.getOrElse(sys.error("topComponent: empty corpus"))
        .map(BigInt(_))
      for (_ <- 1 to iters) {
        val vLong = v.map(_.toLong)
        val y = aggregate(
          zip_with(col("x"), typedLit(vLong), (a, b) => a * b),
          lit(0L), (acc, t) => acc + t)
        // z = X'ᵀ y with decimal(38,0) products: x'·y can reach ~10²⁰
        val z: Seq[BigInt] = x.select(col("x"), y.as("y"))
          .select(posexplode(col("x")), col("y"))
          .groupBy((col("pos") + 1).as("dim"))
          .agg(sum(col("col").cast("decimal(19,0)") *
            col("y").cast("decimal(19,0)")).as("z"))
          .select(col("dim"), col("z").cast("string"))
          .as[(Long, String)].collect().sortBy(_._1)
          .map(r => BigInt(r._2)).toSeq
        val mx = z.map(_.abs).max
        require(mx > 0, "topComponent: zero iterate (degenerate corpus)")
        // exact floor(z·10⁶ / mx) via the positive-offset trick
        v = z.map(zd => (zd * Scale + mx * Scale) / mx - Scale)
      }
      (mu, v.map(_.toLong))
    }
  }

  /** Component table: (dim, mu_micro, v_micro), dim 1-based. */
  def componentTable(spark: SparkSession, mu: Seq[Long],
                     v: Seq[Long]): DataFrame = {
    import spark.implicits._
    mu.zip(v).zipWithIndex.map { case ((m0, v0), j) =>
      ((j + 1).toLong, m0, v0)
    }.toDF("dim", "mu_micro", "v_micro")
  }

  /** Per-vector projection coefficient y = ⟨x − mu, v⟩ under the final
    * component — exact BIGINT; the quantity "all-but-the-top" subtracts
    * along v. Pure per-row projection.
    */
  def projections(emb: DataFrame, mu: Seq[Long], v: Seq[Long]): DataFrame =
    KMeans.micro(emb).select(col("vec_id"),
      aggregate(
        zip_with(
          zip_with(col("m"), typedLit(mu), (a, b) => a - b),
          typedLit(v), (a, b) => a * b),
        lit(0L), (acc, t) => acc + t).as("y"))

  /** All-but-the-top debiased kNN, exactly: similarity after removing
    * the mean and the component along `v` is
    *   ⟨x'a, x'b⟩ − y_a·y_b/⟨v,v⟩
    * — a rational whose denominator ⟨v,v⟩ is SHARED by every pair, so
    * ranking needs only the integer numerator
    *   score = ⟨x'a, x'b⟩·⟨v,v⟩ − y_a·y_b
    * (up to ~10²⁸ — the decimal(38,0)/HUGEINT widening is load-bearing,
    * like the PCA Gram products). Emitted snapped to the 10¹⁰ grid via
    * a positive-offset floor-div so the comparison column is a plain
    * BIGINT; ordering ties on the grid break by neighbor_id — the same
    * total order on both engines.
    *
    * Scale: x' and y are per-row projections, scoring crossJoins the
    * corpus against the BROADCAST nQueries rows only, and the per-query
    * top-k is the bounded-heap aggregate (no corpus-sized windows).
    */
  def debiasedKnn(emb: DataFrame, mu: Seq[Long], v: Seq[Long],
                  k: Int, nQueries: Int): DataFrame = {
    val vv: Long = v.map(x => x * x).sum
    val xy = KMeans.micro(emb)
      .select(col("vec_id"),
        zip_with(col("m"), typedLit(mu), (a, b) => a - b).as("x"))
      .select(col("vec_id"), col("x"),
        aggregate(zip_with(col("x"), typedLit(v), (a, b) => a * b),
          lit(0L), (acc, t) => acc + t).as("y"))
    val q = xy.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("x").as("qx"),
        col("y").as("qy"))
    val scored = xy.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        (aggregate(zip_with(col("x"), col("qx"), (a, b) => a * b),
          lit(0L), (acc, t) => acc + t).cast("decimal(19,0)") *
          lit(vv).cast("decimal(19,0)") -
          col("y").cast("decimal(19,0)") * col("qy").cast("decimal(19,0)"))
          .as("score"))
      // |score| ≤ ~1.1e28 < 2e28, so score + 2e28 > 0 and truncating
      // div IS floor div on both engines; 2e28/1e10 = 2e18 shifts back
      .select(col("query_id"), col("vec_id"),
        (expr("(score + CAST('20000000000000000000000000000' AS DECIMAL(38,0)))" +
          " div CAST('10000000000' AS DECIMAL(38,0))") -
          lit(2000000000000000000L)).as("s10"))
    graft.functions.TopKFunctions.topkPerGroup(scored,
        Seq(col("query_id")), col("s10"), col("vec_id"), k)
      .select(col("query_id"), col("rnk"),
        col("id").as("neighbor_id"), col("key").as("score_s10"))
  }
}
