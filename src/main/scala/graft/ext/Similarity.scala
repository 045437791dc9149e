package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions.dot

/** Similarity search over an embedding column (`array<float>`).
  *
  * Scale design: brute-force top-k is the exact baseline — it broadcasts
  * the (small) query set and scans the corpus once, no shuffle of the
  * corpus at all; per-query results come from a windowed rank over
  * (query × corpus) rows. The LSH variant reduces the scanned candidate
  * set by random-hyperplane bucketing: each vector maps to a single bucket
  * id, the join is bucket-equality, and recall/probe count trades off via
  * `planes` (fewer planes ⇒ bigger buckets ⇒ higher recall, more compute).
  * At 100 TB the bucketed path shuffles only (bucket, vec) pairs and never
  * materializes the full cross product.
  *
  * Hot-path arithmetic uses the codegen'd [[graft.functions.DotProduct]]
  * expression, and squared norms are computed once per vector BEFORE the
  * pair join (O(n·dim)), never per pair (O(n²·dim)) — at 2k vectors this
  * took the near-dup scan from 50s to ~1s; at cluster scale it's the
  * difference between quadratic and linear vector decode work.
  */
object Similarity {

  /** Elementwise cosine similarity of two double-array columns: dot(a,b) /
    * sqrt(|a|²·|b|²), accumulated left-to-right (deterministic order).
    */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / sqrt(dot(a, a) * dot(b, b))

  private def asDouble(c: Column): Column = c.cast("array<double>")

  /** Project (id, vector, |v|²) once — callers join on this so the norm is
    * never recomputed inside a pair loop.
    */
  private def withNorm2(df: DataFrame, idAs: String, vAs: String): DataFrame =
    df.select(col("vec_id").as(idAs), asDouble(col("embedding")).as(vAs))
      .withColumn(s"${vAs}_n2", dot(col(vAs), col(vAs)))

  private def pairCosine(av: String, bv: String): Column =
    dot(col(av), col(bv)) / sqrt(col(s"${av}_n2") * col(s"${bv}_n2"))

  /** Exact brute-force top-k: for each query vector, the k nearest corpus
    * vectors by cosine (self-matches excluded). Scores are rounded to 6dp
    * for cross-engine rank stability; ties break on vec_id.
    */
  def knnBrute(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val q = withNorm2(queries, "query_id", "qv")
    // same single-split hazard as neardupPairs: the corpus is the stream
    // side of a broadcast join, so its input split count IS the
    // parallelism of the scoring loop
    val p = corpus.sparkSession.sparkContext.defaultParallelism
    val c = withNorm2(corpus, "neighbor_id", "cv").repartition(p)
    val scored = c.crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(pairCosine("qv", "cv"), 6).as("score"))
    val w = Window.partitionBy("query_id")
      .orderBy(desc("score"), asc("neighbor_id"))
    scored.select(col("query_id"), col("neighbor_id"), col("score"),
      row_number().over(w).cast("long").as("rnk"))
      .filter(col("rnk") <= k)
  }

  /** Near-duplicate pairs: all (a < b) with cosine >= threshold. Exact;
    * quadratic candidate set — use [[lshNeardupPairs]] beyond ~1M vectors.
    */
  def neardupPairs(emb: DataFrame, threshold: Double): DataFrame = {
    // spread the probe side across all cores: a small corpus often arrives
    // as ONE parquet split, and a broadcast nested-loop join inherits the
    // stream side's partitioning — without this the O(n²) pair loop runs
    // in a single task no matter how many executors exist
    val p = emb.sparkSession.sparkContext.defaultParallelism
    val a = withNorm2(emb, "vec_a", "va").repartition(p)
    val b = withNorm2(emb, "vec_b", "vb")
    a.join(b, col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        round(pairCosine("va", "vb"), 6).as("score"))
      .filter(col("score") >= threshold)
  }

  /** Deterministic ±1 random hyperplanes derived from md5 — reproducible
    * across sessions/engines without shipping a model artifact.
    */
  private[graft] def planeSign(plane: Int, dim: Int): Double = {
    val dgst = java.security.MessageDigest.getInstance("MD5")
      .digest(s"plane:$plane:$dim".getBytes("UTF-8"))
    if ((dgst(0) & 1) == 0) 1.0 else -1.0
  }

  /** Random-hyperplane LSH bucket id (one int from `planes` sign bits). */
  def lshBucket(v: Column, planes: Int, dim: Int): Column =
    (0 until planes).map { p =>
      val plane = array((0 until dim).map(j => lit(planeSign(p, j))): _*)
      when(dot(v, plane) > 0, shiftleft(lit(1), p)).otherwise(lit(0))
    }.reduce(_ + _)

  /** Approximate top-k via LSH bucketing: candidates are corpus vectors in
    * the query's bucket; rank within candidates only.
    */
  def knnLsh(queries: DataFrame, corpus: DataFrame, k: Int,
             planes: Int = 8, dim: Int = 64): DataFrame = {
    val q = withNorm2(queries, "query_id", "qv")
      .withColumn("bucket", lshBucket(col("qv"), planes, dim))
    val c = withNorm2(corpus, "neighbor_id", "cv")
      .withColumn("bucket", lshBucket(col("cv"), planes, dim))
    val scored = c.join(broadcast(q), Seq("bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(pairCosine("qv", "cv"), 6).as("score"))
    val w = Window.partitionBy("query_id")
      .orderBy(desc("score"), asc("neighbor_id"))
    scored.select(col("query_id"), col("neighbor_id"), col("score"),
      row_number().over(w).cast("long").as("rnk"))
      .filter(col("rnk") <= k)
  }

  /** Approximate near-duplicate pairs via LSH: only intra-bucket pairs are
    * scored. With `planes` sign bits, vectors at cosine >= threshold land
    * in the same bucket with high probability while the bucket count (2^p)
    * keeps each bucket's quadratic term small.
    */
  def lshNeardupPairs(emb: DataFrame, threshold: Double,
                      planes: Int = 8, dim: Int = 64): DataFrame = {
    val a = withNorm2(emb, "vec_a", "va")
      .withColumn("bucket", lshBucket(col("va"), planes, dim))
    val b = withNorm2(emb, "vec_b", "vb")
      .withColumn("bucket", lshBucket(col("vb"), planes, dim))
    a.as("a").join(b.as("b"),
      col("a.bucket") === col("b.bucket") && col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        round(pairCosine("va", "vb"), 6).as("score"))
      .filter(col("score") >= threshold)
  }

  /** k-center greedy (farthest-point) diversity seeds — the coreset /
    * diverse-subset selector curation pipelines use to cover an
    * embedding space with k exemplars (2-approximation to the optimal
    * k-center cover): seed with the LOWEST vec_id, then k−1 times pick
    * the point farthest (exact L2², micro grid) from everything
    * selected so far, ties to the lowest vec_id — a total order, so the
    * selection is engine-portable and fully SQL-expressible (the
    * selected vectors are data values, not learned constants: the
    * oracle recomputes every step from the parquet itself).
    *
    * Scale: each of the k−1 steps is ONE corpus projection against ≤ k
    * literal vectors (no join, no shuffle) plus a 1-row argmax;
    * driver state is O(k·dim). k is the job multiplier — keep it small
    * (≤ ~64); selected rows keep dmin = 0 and simply never win again.
    * Returns (step, vec_id, dmin_micro).
    */
  def kCenterSeeds(corpus: DataFrame, k: Int): DataFrame = {
    require(k >= 1 && k <= 64, s"k must be in [1, 64], got $k")
    val spark = corpus.sparkSession
    import spark.implicits._
    val vecs = corpus.select(col("vec_id"), asDouble(col("embedding"))
      .as("v"))
    val first = vecs.orderBy("vec_id").limit(1)
      .as[(Long, Seq[Double])].collect().head
    var selected = Vector(first)
    val out = scala.collection.mutable.ListBuffer(
      (1L, first._1, 0L))
    for (step <- 2 to k) {
      val d2s = selected.map { case (_, c) =>
        val cLit = array(c.map(lit): _*)
        val cn2 = c.foldLeft(0.0)((a, x) => a + x * x)
        dot(col("v"), col("v")) - lit(2.0) * dot(col("v"), cLit) +
          lit(cn2)
      }
      val dmin = if (d2s.size == 1) d2s.head else least(d2s: _*)
      val pick = vecs
        .select(col("vec_id"), col("v"),
          floor(dmin * 1e6 + lit(0.5)).cast("long").as("d"))
        .orderBy(col("d").desc, col("vec_id"))
        .limit(1).as[(Long, Seq[Double], Long)].collect().head
      // fail loud instead of silently emitting duplicate seeds: dmin = 0
      // for EVERY remaining point means the distinct vector space (at
      // micro resolution) is already covered — k asked for more centers
      // than distinct vectors exist (the greedyCoverage saturation rule)
      require(pick._3 > 0L,
        s"kCenterSeeds: step $step found no point at positive distance " +
          s"from the ${selected.size} selected centers — k=$k exceeds " +
          "the corpus's distinct vector count (at micro resolution)")
      selected :+= ((pick._1, pick._2))
      out += ((step.toLong, pick._1, pick._3))
    }
    spark.createDataset(out.toSeq).toDF("step", "vec_id", "dmin_micro")
  }
}
