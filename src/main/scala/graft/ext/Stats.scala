package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Exact-moment statistics (correlation / covariance / stddev / z-score)
  * built for cross-engine determinism AND scale.
  *
  * Floating-point `corr()`/`stddev()` aggregates are order-dependent: the
  * partial-aggregation tree sums doubles in partition order, so two runs
  * (or two engines) produce answers differing in the low bits — fine for
  * analytics, fatal for a hash-compared gate and for reproducible data
  * curation. These operators instead aggregate integer-scaled measures
  * ("cents"): the per-group sums (n, Σx, Σy, Σx², Σy², Σxy) are EXACT
  * 64-bit integers under any partitioning, and the statistics are derived
  * from those sums with one fixed double-arithmetic formula — bit-identical
  * on every engine and every cluster layout.
  *
  * Scale design: one partial-aggregated groupBy (map-side combine on the
  * six sums — constant state per group), no window, no second scan of the
  * data. The caller supplies the integer scaling (e.g.
  * `floor(x * 100 + 0.5)` for 2-decimal measures) and owns the overflow
  * budget: Σx² fits int64 while |x_cents|² × rows < 9.2e18 — at 100 TB
  * scale wide measures should be pre-scaled down or summed as
  * DECIMAL(38,0) instead.
  *
  * Degenerate groups never throw (Spark 4 is ANSI-on, so a bare `/ 0`
  * WOULD): moments are guarded to null when undefined — n < 2 for
  * covariance/variance, zero variance for correlation and z-scores.
  */
object Stats {

  /** Integer-cents helper: `floor(x * scale + 0.5)` — the engine-portable
    * round-half-up (Spark round() is BigDecimal HALF_UP, DuckDB round()
    * is scale-multiply + std::round; floor(x+0.5) is the same correctly
    * rounded IEEE op everywhere).
    */
  def cents(x: Column, scale: Int = 100): Column =
    floor(x * scale + lit(0.5)).cast("long")

  /** Per-group exact second-moment statistics of two integer measures:
    * sample covariance, sample stddevs, and Pearson correlation, plus the
    * raw exact sums. The moment formulation ((Σxy − ΣxΣy/n)/(n−1)) is used
    * on BOTH engines, so derived doubles match bit-for-bit.
    *
    * Null policy is pairwise-complete: only rows where BOTH measures are
    * non-null enter n and every sum (mixing count(*) with null-skipping
    * sums would silently skew every derived moment). Degenerate groups
    * yield null, not an ANSI divide-by-zero: covariance/variance need
    * n ≥ 2; correlation additionally needs both variances > 0.
    *
    * Output units are the CENTS units of the inputs (covariance scales
    * with scale², correlation is scale-free).
    */
  def momentStats(df: DataFrame, groupCol: String,
                  xCents: Column, yCents: Column): DataFrame = {
    val bothNonNull = xCents.isNotNull && yCents.isNotNull
    val x = when(bothNonNull, xCents)
    val y = when(bothNonNull, yCents)
    val agg = df.groupBy(groupCol).agg(
      count(x).as("n"),
      sum(x).as("sx"), sum(y).as("sy"),
      sum(x * x).as("sxx"),
      sum(y * y).as("syy"),
      sum(x * y).as("sxy"))
    val nd = col("n").cast("double")
    def d(c: String) = col(c).cast("double")
    val cov = (d("sxy") - d("sx") * d("sy") / nd) / (nd - 1.0)
    val varx = (d("sxx") - d("sx") * d("sx") / nd) / (nd - 1.0)
    val vary = (d("syy") - d("sy") * d("sy") / nd) / (nd - 1.0)
    // CaseWhen evaluates branches lazily per row, so the guarded
    // divisions never execute for degenerate groups (no ANSI throw).
    // Variances are clamped at 0 INSIDE the guard (greatest outside it
    // would eat the null): the moment formula can round to a tiny
    // negative when sx² exceeds 2⁵³ and true variance is ~0, and
    // sqrt(negative) is NaN on Spark but an ERROR on DuckDB — the clamp
    // (mirrored in the oracle SQL) keeps both engines at 0.
    val covG = when(col("n") >= 2, cov)
    val varxG = when(col("n") >= 2, greatest(varx, lit(0.0)))
    val varyG = when(col("n") >= 2, greatest(vary, lit(0.0)))
    agg.select(col(groupCol), col("n"),
      col("sx"), col("sy"),
      covG.as("covar"),
      sqrt(varxG).as("stddev_x"),
      sqrt(varyG).as("stddev_y"),
      when(col("n") >= 2 && varx > 0.0 && vary > 0.0,
        cov / (sqrt(varx) * sqrt(vary))).as("corr"))
  }

  /** Half-life–decayed engagement score per group:
    * `score = Σ value · 2^−⌊age/halfLife⌋` with the exponent clamped to
    * `maxK` — the recency weighting behind freshness-aware corpus
    * selection and user-engagement ranking. Naively this is an
    * order-dependent float sum (unusable on a hash-compared gate, and
    * irreproducible across partitionings); here the EXPONENT is
    * integer-bucketed first, each bucket's cents sum exactly
    * (combinable longs), and the final score folds the ≤ maxK+1 bucket
    * terms in one FIXED order — each term is `long · 2^−k`, an exact
    * power-of-two scaling, so the score is bit-identical on any engine
    * and any partitioning.
    *
    * Rows with `ts > refUs` (the future) are excluded. One combinable
    * groupBy with maxK+1 conditional sums — no window, no join;
    * operator state is O(maxK) per group.
    */
  def halfLifeScore(df: DataFrame, groupCol: String, tsCol: String,
                    valueCents: Column, refUs: Long, halfLifeUs: Long,
                    maxK: Int = 15): DataFrame = {
    require(halfLifeUs > 0, s"halfLifeUs must be positive, got $halfLifeUs")
    require(maxK >= 0 && maxK <= 62, s"maxK must be in [0, 62], got $maxK")
    val k = least(expr(s"(${refUs}L - $tsCol) div ${halfLifeUs}L"),
      lit(maxK.toLong))
    val sums = (0 to maxK).map(i =>
      sum(when(k === i.toLong, valueCents)).as(s"__s$i"))
    val bucketed = df.filter(col(tsCol) <= refUs)
      .groupBy(groupCol)
      .agg(count(lit(1)).as("n_events"), sums: _*)
    val score = (0 to maxK).map { i =>
      coalesce(col(s"__s$i"), lit(0L)).cast("double") *
        lit(math.pow(2.0, -i))
    }.reduce(_ + _)
    bucketed.select(col(groupCol), col("n_events"),
      score.as("decayed_score"))
  }

  /** Per-group Welch two-sample t statistic between cohorts A and B
    * (A = rows where `cohortA` is true): ns, exact integer sums, both
    * cohort means, and `t = (m_a − m_b) / sqrt(v_a/n_a + v_b/n_b)` —
    * the experiment-analysis primitive (unequal variances assumed, no
    * pooling). Every moment comes from the [[momentStats]] discipline:
    * exact integer (n, Σx, Σx²) per cohort under any partitioning, and
    * ONE fixed IEEE formula for the doubles, mirrored verbatim in the
    * oracle SQL — so the statistic is bit-identical on any engine.
    * Degenerate cohorts (n < 2 either side, or both variances 0) yield
    * null t instead of an ANSI error.
    *
    * Scale: one combinable groupBy over (group) with conditional sums —
    * no join, no window; output is |groups| rows. `xCents` must fit the
    * Σx² long bound (|x| ≤ ~3·10⁶ cents at 10¹² rows — downscale the
    * grid for wider measures, as with [[momentStats]]).
    */
  def welchT(df: DataFrame, groupCol: String, cohortA: Column,
             xCents: Column): DataFrame = {
    val a = when(cohortA && xCents.isNotNull, xCents)
    val b = when(!cohortA && xCents.isNotNull, xCents)
    val agg = df.groupBy(groupCol).agg(
      count(a).as("n_a"), sum(a).as("sx_a"), sum(a * a).as("sxx_a"),
      count(b).as("n_b"), sum(b).as("sx_b"), sum(b * b).as("sxx_b"))
    def d(c: String) = col(c).cast("double")
    def mean(s: String, n: String) = d(s) / d(n)
    def variance(sxx: String, sx: String, n: String) =
      (d(sxx) - d(sx) * d(sx) / d(n)) / (d(n) - 1.0)
    val va = variance("sxx_a", "sx_a", "n_a")
    val vb = variance("sxx_b", "sx_b", "n_b")
    val se2 = va / d("n_a") + vb / d("n_b")
    agg.select(col(groupCol),
      col("n_a"), col("n_b"), col("sx_a"), col("sx_b"),
      when(col("n_a") >= 1, mean("sx_a", "n_a")).as("mean_a"),
      when(col("n_b") >= 1, mean("sx_b", "n_b")).as("mean_b"),
      when(col("n_a") >= 2 && col("n_b") >= 2 && se2 > 0.0,
        (mean("sx_a", "n_a") - mean("sx_b", "n_b")) / sqrt(se2)).as("t"))
  }

  /** Append a per-group sample z-score of an integer measure, and an
    * outlier flag at `zThreshold`. The tiny per-group stats table (n, Σx,
    * Σx²) is broadcast back onto the rows — one aggregate plus a
    * broadcast join; the fact side is never shuffled, which is the shape
    * that survives 100 TB (a `Window.partitionBy(group)` would shuffle
    * AND sort every row for three numbers per group).
    *
    * Null rows and degenerate groups (n < 2, or zero variance) get a
    * null z and `false` flag instead of an ANSI divide-by-zero.
    */
  def withZScore(df: DataFrame, groupCol: String, xCents: Column,
                 zThreshold: Double, zOut: String = "z",
                 flagOut: String = "is_outlier"): DataFrame = {
    val stats = df.groupBy(groupCol).agg(
      count(xCents).as("__n"),
      sum(xCents).as("__sx"),
      sum(xCents * xCents).as("__sxx"))
    val nd = col("__n").cast("double")
    val mean = col("__sx").cast("double") / nd
    val variance =
      (col("__sxx").cast("double") -
        col("__sx").cast("double") * col("__sx").cast("double") / nd) /
        (nd - 1.0)
    val z = when(col("__n") >= 2 && variance > 0.0,
      (xCents.cast("double") - mean) / sqrt(variance))
    df.join(broadcast(stats), groupCol)
      .withColumn(zOut, z)
      .withColumn(flagOut, coalesce(abs(col(zOut)) > zThreshold, lit(false)))
      .drop("__n", "__sx", "__sxx")
  }

  /** Per-group min-max scaling into EXACT integer micro-units:
    * `scaled_micro = ((x − min) · 10⁶) div (max − min)` — feature
    * normalization that stays on a hash-compared gate (the usual
    * `(x − min) / (max − min)` double is an inexact quotient whose
    * downstream float sums are partition-order-dependent; integer floor
    * division is bit-identical everywhere). Degenerate groups
    * (max = min) scale to null. Same shape as [[withZScore]]: one tiny
    * per-group (min, max) aggregate broadcast back onto the facts — the
    * fact side is never shuffled, no window.
    */
  def minMaxScaleMicro(df: DataFrame, groupCol: String, xCents: Column,
                       out: String = "scaled_micro"): DataFrame = {
    val stats = df.groupBy(groupCol)
      .agg(min(xCents).as("__mn"), max(xCents).as("__mx"))
    df.join(broadcast(stats), groupCol)
      .withColumn("__x", xCents)
      .withColumn(out,
        when(col("__mx") > col("__mn"),
          // `div` = true integer floor division — a double quotient cast
          // to long can land one off at exactly-representable boundaries
          expr("((__x - __mn) * 1000000L) div (__mx - __mn)")))
      .drop("__mn", "__mx", "__x")
  }

  /** Empirical-CDF quantile transform (feature normalization into [0,1]):
    * per-group `cume_dist` (fraction of rows ≤ this value, ties share a
    * value) and `percent_rank` ((rank−1)/(n−1), 0 for singleton groups)
    * over `orderCol`. Both are count ratios — one exactly-rounded IEEE
    * division — so the doubles are engine-portable.
    *
    * Scale: one hash shuffle on `groupCol` + an in-partition sort; the
    * groups must be numerous relative to executors (it's a per-GROUP
    * window — for a GLOBAL cdf over 100 TB use
    * [[GlobalOrder.withRowNumber]] / a count, not a global window).
    */
  def quantileTransform(df: DataFrame, groupCol: String, orderCol: Column,
                        cdfOut: String = "cdf",
                        prOut: String = "pr"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(groupCol).orderBy(orderCol)
    df.withColumn(cdfOut, cume_dist().over(w))
      .withColumn(prOut, percent_rank().over(w))
  }

  /** Robust per-group location/spread: exact median and MAD (median of
    * absolute deviations from the group median) over an integer-cents
    * measure. Integer inputs put every interpolated midpoint exactly ON
    * the 0.5 grid, so the doubles are engine-portable with no rounding
    * (the 2dp-boundary percentile trap does not apply).
    *
    * Scale: two passes over the fact table — medians per group, then a
    * broadcast join back for the deviation pass (group cardinality is
    * small by construction; the fact side is scanned twice and never
    * shuffled beyond the two aggregates). Exact `percentile` holds each
    * group's values in the aggregation buffer — correct while per-group
    * row counts fit an executor (true for categorical groups);
    * `exact = false` swaps in the `approx_percentile` quantile sketch
    * (constant state per group, rank error ≤ n/`accuracy`) — the
    * >10⁹-rows-per-group shape. The approx medians are actual corpus
    * values (the GK sketch returns an element, not an interpolation),
    * cast to double so both variants share one schema.
    */
  def robustStats(df: DataFrame, groupCol: String, xCents: Column,
                  exact: Boolean = true, accuracy: Int = 10000): DataFrame = {
    def med(c: Column): Column =
      if (exact) percentile(c, lit(0.5))
      else approx_percentile(c, lit(0.5), lit(accuracy)).cast("double")
    val meds = df.groupBy(groupCol).agg(
      count(xCents).as("n"),
      med(xCents).as("med"))
    df.join(broadcast(meds), Seq(groupCol))
      .groupBy(groupCol)
      .agg(first(col("n")).as("n"), first(col("med")).as("med"),
        med(abs(xCents.cast("double") - col("med")))
          .as("mad"))
  }

  /** Exact pairwise covariance matrix of the first `dims` dimensions of
    * an embedding column (upper triangle, i ≤ j) — the input to PCA
    * whitening / decorrelation diagnostics over a vector corpus.
    *
    * Determinism: each coordinate is fixed-point encoded
    * (`floor(x·scale + 0.5)`, the [[cents]] grid), so the per-pair sums
    * (n, Σx, Σy, Σxy) are EXACT integers under any partitioning, and the
    * covariance is one fixed double formula over them — bit-identical on
    * every engine, unlike a float `covar_samp` whose partial-sum order
    * varies. `cov` is in ORIGINAL units (the scale² divides back out);
    * quantization error is bounded by the grid, not by row count.
    *
    * Scale shape: two chained `posexplode`s fan each row into
    * dims·(dims+1)/2 pair rows — a local projection, no shuffle, no
    * join — and ONE map-side-combined groupBy over dims² groups does all
    * the summing. Overflow budget: |x·scale|² × rows < 9.2e18 (at 2¹⁶
    * and unit-norm embeddings that is ~10⁹ rows; shrink `scale` or sum
    * as DECIMAL(38,0) beyond).
    */
  def embeddingCovariance(df: DataFrame, idCol: String, vecCol: String,
                          dims: Int, scale: Int = 65536): DataFrame = {
    require(dims >= 1, s"dims must be >= 1, got $dims")
    val xi = df
      .select(col(idCol), slice(col(vecCol), 1, dims).as("__v"))
      .select(col(idCol), col("__v"),
        posexplode(col("__v")).as(Seq("i", "x")))
    val pairs = xi
      .select(col("i"), col("x"), posexplode(col("__v")).as(Seq("j", "y")))
      .filter(col("j") >= col("i"))
      .select(col("i").cast("long").as("i"), col("j").cast("long").as("j"),
        cents(col("x").cast("double"), scale).as("xc"),
        cents(col("y").cast("double"), scale).as("yc"))
    val agg = pairs.groupBy("i", "j").agg(
      count(lit(1)).as("n"),
      sum("xc").as("sx"), sum("yc").as("sy"),
      sum(col("xc") * col("yc")).as("sxy"))
    val nd = col("n").cast("double")
    val covCents = (col("sxy").cast("double") -
      col("sx").cast("double") * col("sy").cast("double") / nd) / (nd - 1.0)
    agg.select(col("i"), col("j"), col("n"),
      when(col("n") >= 2,
        covCents / (scale.toDouble * scale.toDouble)).as("cov"))
  }

  /** The (means, inverse-ridged-covariance) model behind
    * [[mahalanobisScore]], learned in one deterministic pass: means come
    * from the same fixed-point integer sums as [[embeddingCovariance]]
    * (exact under any partitioning), the d×d covariance is collected to
    * the driver (d² doubles), ridge-regularized (`ridge` added to the
    * diagonal — keeps a near-singular corpus invertible,
    * deterministically), and inverted by Gauss-Jordan with partial
    * pivoting in plain driver code. Everything downstream treats the
    * result as CONSTANTS, so the scoring expression — and the DuckDB
    * oracle rendered from the same model — is engine-independent.
    */
  def mahalanobisModel(df: DataFrame, idCol: String, vecCol: String,
                       dims: Int, scale: Int = 65536,
                       ridge: Double = 1e-3)
      : (Array[Double], Array[Array[Double]]) = {
    val moments = df
      .select(posexplode(slice(col(vecCol), 1, dims)).as(Seq("i", "x")))
      .select(col("i"), cents(col("x").cast("double"), scale).as("xc"))
      .groupBy("i").agg(count(lit(1)).as("n"), sum("xc").as("sx"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    val means = moments.map { case (_, n, sx) =>
      (sx.toDouble / n) / scale.toDouble
    }
    val cov = Array.ofDim[Double](dims, dims)
    embeddingCovariance(df, idCol, vecCol, dims, scale).collect()
      .foreach { r =>
        // embeddingCovariance emits NULL cov below n=2 — surface a clear
        // diagnostic instead of an opaque NPE on a degenerate corpus
        require(!r.isNullAt(3),
          s"mahalanobisModel needs >= 2 rows per dimension pair; " +
            s"pair (${r.getLong(0)}, ${r.getLong(1)}) has n=${r.getLong(2)}")
        val (i, j, c) = (r.getLong(0).toInt, r.getLong(1).toInt,
          r.getDouble(3))
        cov(i)(j) = c; cov(j)(i) = c
      }
    for (i <- 0 until dims) cov(i)(i) += ridge
    (means, invert(cov))
  }

  /** Dominant principal direction of the embedding cloud, learned by
    * deterministic power iteration on the EXACT fixed-point covariance
    * ([[embeddingCovariance]]'s integer sums): (means, unit eigenvector,
    * eigenvalue). The d×d matrix is collected to the driver (d²
    * doubles) and iterated a FIXED `iters` times from the fixed
    * all-ones start in plain driver code — no RNG, no convergence test,
    * so the model is a pure function of the data and the oracle
    * rendered from the same constants is engine-independent (the
    * [[mahalanobisModel]] discipline). Sign convention: the first
    * nonzero component is made positive. Degenerate (zero) covariance
    * returns the start vector with eigenvalue 0.
    */
  def pcaPowerModel(df: DataFrame, idCol: String, vecCol: String,
                    dims: Int, scale: Int = 65536, iters: Int = 100)
      : (Array[Double], Array[Double], Double) = {
    val moments = df
      .select(posexplode(slice(col(vecCol), 1, dims)).as(Seq("i", "x")))
      .select(col("i"), cents(col("x").cast("double"), scale).as("xc"))
      .groupBy("i").agg(count(lit(1)).as("n"), sum("xc").as("sx"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    val means = moments.map { case (_, n, sx) =>
      (sx.toDouble / n) / scale.toDouble
    }
    val cov = Array.ofDim[Double](dims, dims)
    embeddingCovariance(df, idCol, vecCol, dims, scale).collect()
      .foreach { r =>
        require(!r.isNullAt(3),
          s"pcaPowerModel needs >= 2 rows per dimension pair; " +
            s"pair (${r.getLong(0)}, ${r.getLong(1)}) has n=${r.getLong(2)}")
        val (i, j, c) = (r.getLong(0).toInt, r.getLong(1).toInt,
          r.getDouble(3))
        cov(i)(j) = c; cov(j)(i) = c
      }
    var v = Array.fill(dims)(1.0 / math.sqrt(dims.toDouble))
    for (_ <- 0 until iters) {
      val w = Array.tabulate(dims)(i =>
        (0 until dims).map(j => cov(i)(j) * v(j)).sum)
      val norm = math.sqrt(w.map(x => x * x).sum)
      if (norm > 0.0) v = w.map(_ / norm)
    }
    v.find(_ != 0.0).foreach(first => if (first < 0) v = v.map(-_))
    val eig = (0 until dims).map(i =>
      v(i) * (0 until dims).map(j => cov(i)(j) * v(j)).sum).sum
    (means, v, eig)
  }

  /** Per-row squared Mahalanobis distance under a [[mahalanobisModel]]:
    * d² = (x−μ)ᵀ Σ⁻¹ (x−μ), built as ONE fixed expression over the
    * model constants — left-associated term sum, each term
    * `c_ij · (x_i−μ_i) · (x_j−μ_j)` — so an oracle rendering the same
    * constants in the same shape reproduces every bit (the final
    * round(6) absorbs nothing but formatting). A local projection: no
    * shuffle, no join, codegen-friendly, embarrassingly 100 TB-safe.
    */
  def mahalanobisScore(df: DataFrame, idCol: String, vecCol: String,
                       means: Array[Double],
                       inv: Array[Array[Double]]): DataFrame = {
    val d = means.length
    def x(i: Int): Column = col(vecCol).getItem(i).cast("double")
    val terms = for (i <- 0 until d; j <- 0 until d) yield
      lit(inv(i)(j)) * (x(i) - lit(means(i))) * (x(j) - lit(means(j)))
    df.select(col(idCol), round(terms.reduce(_ + _), 6).as("d2"))
  }

  /** DuckDB twin of [[mahalanobisScore]]'s expression, over a 1-based
    * array column expression `vecSql` — identical constants (shortest
    * round-trip double literals re-parse to the same IEEE value),
    * identical association. */
  def mahalanobisSqlExpr(vecSql: String, means: Array[Double],
                         inv: Array[Array[Double]]): String = {
    val d = means.length
    def x(i: Int): String = s"CAST($vecSql[${i + 1}] AS DOUBLE)"
    val terms = for (i <- 0 until d; j <- 0 until d) yield
      s"${inv(i)(j)} * (${x(i)} - ${means(i)}) * (${x(j)} - ${means(j)})"
    s"round(${terms.mkString(" + ")}, 6)"
  }

  /** Per-group ordinary-least-squares line fit of y against x — slope,
    * intercept, and r² per group, the trend primitive behind "is this
    * metric drifting over time" (x = time bucket, y = measure). Exact
    * integer sums (n, Σx, Σy, Σxy, Σx², Σy²) from ONE combinable
    * groupBy — constant state per group, no window, no second pass —
    * then the closed-form normal-equation doubles in a fixed order,
    * mirrored verbatim in the oracle SQL:
    *
    *   slope = (n·Σxy − Σx·Σy) / (n·Σx² − Σx²ᵗᵒᵗ)
    *   intercept = (Σy − slope·Σx) / n
    *   r² = (n·Σxy − Σx·Σy)² / ((n·Σx² − (Σx)²)(n·Σy² − (Σy)²))
    *
    * The n·Σ products are computed in DOUBLE (each factor is an exact
    * long, each product one correctly-rounded IEEE op — identical on
    * any engine); degenerate groups (n < 2, zero x-variance) yield null
    * slope/intercept, zero y-variance yields null r². Overflow budget
    * (caller-owned, the [[cents]] discipline): Σx² and Σxy must fit
    * int64 — normalize x to a SMALL grid (hours since a corpus origin,
    * not epoch micros: |x| ≤ 10³ supports 10¹² rows).
    */
  def groupLinFit(df: DataFrame, groupCol: String, xLong: Column,
                  yLong: Column): DataFrame = {
    val x = when(xLong.isNotNull && yLong.isNotNull, xLong)
    val y = when(xLong.isNotNull && yLong.isNotNull, yLong)
    val agg = df.groupBy(groupCol).agg(
      count(x).as("n"), sum(x).as("sx"), sum(y).as("sy"),
      sum(x * y).as("sxy"), sum(x * x).as("sxx"), sum(y * y).as("syy"))
    def d(c: String) = col(c).cast("double")
    val cov = d("n") * d("sxy") - d("sx") * d("sy")
    val varx = d("n") * d("sxx") - d("sx") * d("sx")
    val vary = d("n") * d("syy") - d("sy") * d("sy")
    val slope = when(col("n") >= 2L && varx =!= 0.0, cov / varx)
    agg.select(col(groupCol), col("n"),
      slope.as("slope"),
      when(slope.isNotNull, (d("sy") - slope * d("sx")) / d("n"))
        .as("intercept"),
      when(slope.isNotNull && vary =!= 0.0, (cov * cov) / (varx * vary))
        .as("r2"))
  }

  /** Per-key CUSUM peak: the maximum absolute deviation of the running
    * sum from the key's own uniform trend line —
    * `max_i |S_i − i·(T/n)|`, where S_i is the prefix sum of the value
    * in time order, T the key's total, n its row count. A key whose
    * values are stationary stays near 0; a level shift (changepoint)
    * pushes the peak to ~|shift|·min(i, n−i) — the classic
    * distribution-free changepoint screen, here as a scan (not a test).
    *
    * Scaled to integers before the division: the per-row deviation is
    * computed as `|S_i·n − i·T|` (exact int64), maxed per key, divided
    * by n ONCE at the end — bit-identical under any partitioning.
    * Ordered prefix sums come from TWO boundary-stitch passes
    * ([[GlobalOrder.withRunningTotalPerKey]] for S_i and for i itself),
    * so a hot key never sorts in one task; the per-key (n, T) ride the
    * same passes' final rows via one co-keyed groupBy + join. Overflow
    * budget: |S_i·n| ≤ int64 → |value| · rows² per key < 9.2e18
    * (downscale the grid for billion-row keys).
    *
    * Returns (keyCol, n, cusum_peak). `keyCol`/`tsCol`/`valueCol`
    * LongType; (key, ts, tieCols) a total order.
    */
  def cusumPeak(df: DataFrame, keyCol: String, tsCol: String,
                valueCol: String, tieCols: Seq[Column]): DataFrame = {
    GlobalOrder.requireFresh(df, "__graft_s", "__graft_i", "__graft_one")
    // one fused ordered pass for running sum AND running index (the
    // PLANS.md multi-measure stitch rule: a second stitch re-sorts
    // the whole input)
    val si = GlobalOrder.withRunningTotalsPerKey(
      df.withColumn("__graft_one", lit(1L)), keyCol, tsCol,
      Seq(valueCol, "__graft_one"), tieCols,
      outs = Seq("__graft_s", "__graft_i"))
    val totals = si.groupBy(keyCol)
      .agg(max(col("__graft_i")).as("__graft_n"),
        sum(col(valueCol)).as("__graft_t"))
    si.join(totals, Seq(keyCol))
      .select(col(keyCol), col("__graft_n"),
        abs(col("__graft_s") * col("__graft_n") -
          col("__graft_i") * col("__graft_t")).as("__graft_dev"))
      .groupBy(keyCol)
      .agg(max(col("__graft_n")).as("n"),
        max(col("__graft_dev")).as("__graft_peak"))
      .select(col(keyCol), col("n"),
        (col("__graft_peak").cast("double") / col("n").cast("double"))
          .as("cusum_peak"))
  }

  /** Per-group robust outlier screen via median/MAD — the
    * median-absolute-deviation z-score, which a single 10⁹-cent junk
    * value cannot poison the way it poisons a mean/stddev z-score
    * ([[momentStats]]' z is the fragile twin). Returns (group, n,
    * median, mad, n_outliers) with outliers = rows where
    * |x − median| > k·MAD.
    *
    * Bit-portability: the median of a LongType column lands exactly on
    * the .5 grid, so DOUBLED deviations |2x − 2·median| are exact
    * integers, the MAD is their median halved (a power-of-two division
    * — exact), and the k·MAD threshold comparison is one
    * correctly-rounded multiply — no accumulation, no epsilon. Both
    * median passes ride [[GlobalOrder.groupMedianOfLong]]'s global-rank
    * recipe, so a group holding half the input never sorts in one task;
    * the med/MAD joins are broadcasts of |groups| rows.
    *
    * (group, value, tieCols) and (group, dev, tieCols) must be total
    * orders — pass a unique row id.
    */
  def madOutliers(df: DataFrame, groupCol: String, valueCol: String,
                  tieCols: Seq[Column], k: Int = 3): DataFrame = {
    GlobalOrder.requireFresh(df, "__graft_dev2", "__graft_med", "n",
      "median")
    val med = GlobalOrder.groupMedianOfLong(df, groupCol, valueCol, tieCols)
      .select(col(groupCol), col("n"), col("median"))
    // the deviation frame must stay clean of the first pass's n/median
    // columns (the second median pass requires them fresh)
    val dev = df.join(broadcast(med.select(col(groupCol),
        col("median").as("__graft_med"))), Seq(groupCol))
      .withColumn("__graft_dev2",
        abs(col(valueCol) * 2L - (col("__graft_med") * 2.0).cast("long")))
      .drop("__graft_med")
    val mad2 = GlobalOrder.groupMedianOfLong(dev, groupCol, "__graft_dev2",
        tieCols)
      .select(col(groupCol), col("median").as("__graft_m2"))
    val outliers = dev.join(broadcast(mad2), Seq(groupCol))
      .groupBy(groupCol)
      .agg(count_if(col("__graft_dev2").cast("double") >
        lit(k.toDouble) * col("__graft_m2")).as("n_outliers"))
    // the three per-group model tables are runtime-sized right at the
    // broadcast threshold for small group columns, so AQE's BHJ-vs-SMJ
    // choice races run to run (the q118 straddle, observed as q234's
    // recurring bench fp flip). Pin sort-merge: all three sides are
    // already shuffled on groupCol, the sort is over model-sized rows,
    // and the choice stays correct at ANY group cardinality.
    med.hint("merge").join(mad2.hint("merge"), Seq(groupCol))
      .join(outliers.hint("merge"), Seq(groupCol))
      .select(col(groupCol), col("n"), col("median"),
        (col("__graft_m2") / lit(2.0)).as("mad"), col("n_outliers"))
  }

  /** Per-group Gini coefficient of a non-negative LongType measure —
    * the concentration/inequality summary ("is 1% of users 99% of the
    * volume") data-curation runs on token counts, revenue, engagement.
    * Uses the rank formulation over ascending order:
    * G = (2·Σᵢ i·xᵢ − (n+1)·Σx) / (n·Σx), exact integer sums → one
    * fixed IEEE formula. Null for groups with zero total.
    *
    * The per-group ascending rank i comes from ONE global
    * [[GlobalOrder.withRowNumber]] over (group, value, tie) (groups are
    * contiguous in the total order, so i = global rank − group's min
    * rank + 1 — the [[GlobalOrder.groupMedianOfLong]] trick), then
    * everything is a combinable aggregate: a group with half the input
    * shuffles by unique rank, never into one task. Overflow budget:
    * Σ i·x ≤ n²·max(x) must fit int64.
    */
  def groupGini(df: DataFrame, groupCol: String, valueCol: String,
                tieCols: Seq[Column]): DataFrame = {
    GlobalOrder.requireFresh(df, "__graft_rn", "__graft_lo")
    val rn = GlobalOrder.withRowNumber(df,
      col(groupCol) +: col(valueCol) +: tieCols, "__graft_rn")
    val bounds = rn.groupBy(groupCol)
      .agg(min(col("__graft_rn")).as("__graft_lo"))
    val sums = rn.join(broadcast(bounds), Seq(groupCol))
      .withColumn("__graft_i",
        col("__graft_rn") - col("__graft_lo") + 1L)
      .groupBy(groupCol)
      .agg(count(lit(1)).as("n"),
        sum(col(valueCol)).as("__graft_sx"),
        sum(col("__graft_i") * col(valueCol)).as("__graft_six"))
    sums.select(col(groupCol), col("n"),
      when(col("__graft_sx") > 0L,
        (lit(2.0) * col("__graft_six").cast("double") -
          (col("n") + 1L).cast("double") * col("__graft_sx").cast("double"))
          / (col("n").cast("double") * col("__graft_sx").cast("double")))
        .as("gini"))
  }

  /** Per-group autocorrelation at fixed lags over a REGULAR integer
    * index (hourly/daily buckets): for each requested lag L, the
    * Pearson correlation between the series and itself shifted by L —
    * the periodicity/burst-persistence screen ("is this hour's volume
    * predicted by the last hour's"). Returns one row per (group, lag):
    * n_pairs and rho.
    *
    * Shape: the lagged pairing is an EQUI-join on (group, index−L) —
    * co-partitioned on the same (group, index) key as the series
    * itself, uniform under any group skew (never a window, never a
    * per-group sort); one pass per lag, unioned, then one combinable
    * aggregate of the six exact integer sums and the [[welchT]]-style
    * fixed IEEE formula. Degenerate (n < 2 or zero variance on either
    * side) → null rho. Overflow budget: Σx² over pairs must fit int64.
    *
    * `idxCol`/`valueCol` LongType; (group, idx) unique.
    */
  def laggedPearson(df: DataFrame, groupCol: String, idxCol: String,
                    valueCol: String, lags: Seq[Int]): DataFrame = {
    require(lags.nonEmpty && lags.forall(_ > 0),
      s"lags must be positive, got $lags")
    val base = df.select(col(groupCol), col(idxCol).as("__graft_i"),
      col(valueCol).as("__graft_x"))
    val pairs = lags.map { l =>
      val shifted = base.select(col(groupCol),
        (col("__graft_i") + l.toLong).as("__graft_i"),
        col("__graft_x").as("__graft_y"))
      base.join(shifted, Seq(groupCol, "__graft_i"))
        .select(col(groupCol), lit(l.toLong).as("lag"),
          col("__graft_x"), col("__graft_y"))
    }.reduce(_ unionByName _)
    val agg = pairs.groupBy(col(groupCol), col("lag")).agg(
      count(lit(1)).as("n_pairs"),
      sum(col("__graft_x")).as("sx"), sum(col("__graft_y")).as("sy"),
      sum(col("__graft_x") * col("__graft_y")).as("sxy"),
      sum(col("__graft_x") * col("__graft_x")).as("sxx"),
      sum(col("__graft_y") * col("__graft_y")).as("syy"))
    def d(c: String) = col(c).cast("double")
    val cov = d("n_pairs") * d("sxy") - d("sx") * d("sy")
    val vx = d("n_pairs") * d("sxx") - d("sx") * d("sx")
    val vy = d("n_pairs") * d("syy") - d("sy") * d("sy")
    agg.select(col(groupCol), col("lag"), col("n_pairs"),
      when(col("n_pairs") >= 2L && vx =!= 0.0 && vy =!= 0.0,
        cov / sqrt(vx * vy)).as("rho"))
  }

  /** Chi-square independence CONTRIBUTION table for two categorical
    * columns: per (row category, col category) — observed count,
    * expected count under independence (row·col/total), and the cell's
    * (o−e)²/e contribution. Emitted PER CELL rather than summed: the
    * cell values are each one fixed IEEE formula over exact integer
    * counts (bit-portable), where the grand chi-square total would sum
    * doubles in nondeterministic aggregation order — the caller folds
    * the handful of cells in whatever order it likes, the GATE needs
    * the deterministic table. Cells with zero observed count are absent
    * (join the category spines for a dense table). One combinable
    * count pass + three broadcast-sized margin joins.
    */
  def chisqCells(df: DataFrame, rowCol: String, colCol: String): DataFrame = {
    val cells = df.groupBy(col(rowCol), col(colCol))
      .agg(count(lit(1)).as("o"))
    val rt = cells.groupBy(rowCol).agg(sum(col("o")).as("__graft_rt"))
    val ct = cells.groupBy(colCol).agg(sum(col("o")).as("__graft_ct"))
    val tot = cells.agg(sum(col("o")).as("__graft_n"))
    val e = (col("__graft_rt").cast("double") *
      col("__graft_ct").cast("double")) / col("__graft_n").cast("double")
    cells.join(broadcast(rt), Seq(rowCol))
      .join(broadcast(ct), Seq(colCol))
      .crossJoin(broadcast(tot))
      .select(col(rowCol), col(colCol), col("o"), e.as("expected"))
      .withColumn("contrib",
        (col("o").cast("double") - col("expected")) *
          (col("o").cast("double") - col("expected")) / col("expected"))
  }

  /** Per-group total-variation drift between two cohorts over a FIXED
    * small bin alphabet: TVD = ½·Σ_b |p_A(b) − p_B(b)| — the
    * log-free distribution-shift screen (PSI's ln(p/q) would tie the
    * gate to two libms agreeing; TVD is absolute differences of
    * rationals). Returns (group, n_a, n_b, tvd); groups with an empty
    * cohort yield null tvd.
    *
    * Determinism discipline: bins are PIVOTED to 2·k conditional-sum
    * columns in ONE combinable pass (constant state per group), and the
    * k per-bin |·| terms fold LEFT-TO-RIGHT in bin order — a plain
    * sum() over bin rows would accumulate doubles in partition order.
    * `binCol` must be a long in [0, k); keep k small (≤ a few dozen) —
    * it is a column-count, not a row-count.
    */
  def tvdDrift(df: DataFrame, groupCol: String, binCol: String,
               inCohortA: Column, k: Int): DataFrame = {
    require(k >= 1 && k <= 64, s"k must be in [1, 64], got $k")
    val sums = (0 until k).flatMap { b =>
      Seq(
        count(when(inCohortA && col(binCol) === b.toLong, 1)).as(s"__a$b"),
        count(when(!inCohortA && col(binCol) === b.toLong, 1)).as(s"__b$b"))
    }
    val agg = df.groupBy(groupCol).agg(sums.head, sums.tail: _*)
    val na = (0 until k).map(b => col(s"__a$b")).reduce(_ + _)
    val nb = (0 until k).map(b => col(s"__b$b")).reduce(_ + _)
    val withTotals = agg.withColumn("n_a", na).withColumn("n_b", nb)
    val terms = (0 until k).map { b =>
      abs(col(s"__a$b").cast("double") / col("n_a").cast("double") -
        col(s"__b$b").cast("double") / col("n_b").cast("double"))
    }.reduce(_ + _)
    withTotals.select(col(groupCol), col("n_a"), col("n_b"),
      when(col("n_a") > 0L && col("n_b") > 0L, lit(0.5) * terms)
        .as("tvd"))
  }

  /** Poisson(1) CDF thresholds for k = 0..4 (weights capped at 5),
    * computed ONCE on the driver and injected as identical literals
    * into the Spark plan and the oracle SQL ([[poissonBootstrapMeans]]).
    */
  val PoissonCdf: Seq[Double] = {
    val p = math.exp(-1.0)
    val terms = Seq(1.0, 1.0, 0.5, 1.0 / 6, 1.0 / 24)
    terms.scanLeft(0.0)(_ + _).tail.map(_ * p)
  }

  /** DETERMINISTIC Poisson bootstrap: per group, `nResamples` resample
    * means of a measure — the uncertainty band ("how stable is this
    * group's mean") without any RNG. Each row's multiplicity in
    * resample b is Poisson(1)-distributed but DERIVED from a portable
    * md5 hash of (row id, b) against driver-injected CDF thresholds
    * ([[PoissonCdf]]) — so the same rows give the same resamples on any
    * engine, any partitioning, any rerun, and the oracle replays them
    * exactly. The classic streaming-bootstrap trick (per-row
    * independent weights, no sampling pass), here made reproducible.
    *
    * Shape: rows fan out ×nResamples (explode of a literal array — a
    * map-side projection), then ONE combinable groupBy((group, b)) of
    * two integer sums; each mean is a single IEEE division. Returns
    * (group, b, n_eff, mean) — n_eff the resample's total weight, mean
    * null when it is 0. Downstream quantiles over the B means give the
    * CI. Keep nResamples modest (≤ 64): it multiplies shuffle rows.
    */
  def poissonBootstrapMeans(df: DataFrame, groupCol: String, idCol: Column,
                            valueCol: Column, nResamples: Int): DataFrame = {
    require(nResamples >= 1 && nResamples <= 64,
      s"nResamples must be in [1, 64], got $nResamples")
    val fan = df.select(col(groupCol), idCol.as("__graft_id"),
        valueCol.as("__graft_x"))
      .withColumn("__graft_b", explode(array(
        (0 until nResamples).map(b => lit(b.toLong)): _*)))
    val u = graft.functions.Portable.hash30(
      concat(col("__graft_id").cast("string"), lit(":"),
        col("__graft_b").cast("string"))).cast("double") /
      lit((1L << 30).toDouble)
    var w: Column = lit(5L)
    for ((t, k) <- PoissonCdf.zipWithIndex.reverse)
      w = when(u < t, lit(k.toLong)).otherwise(w)
    fan.withColumn("__graft_w", w)
      .groupBy(col(groupCol), col("__graft_b").as("b"))
      .agg(sum(col("__graft_w")).as("n_eff"),
        sum(col("__graft_w") * col("__graft_x")).as("__graft_swx"))
      .select(col(groupCol), col("b"), col("n_eff"),
        when(col("n_eff") > 0L,
          col("__graft_swx").cast("double") / col("n_eff").cast("double"))
          .as("mean"))
  }

  /** Per-group ROC AUC of an integer score against a binary label via
    * the Mann–Whitney U statistic — the threshold-free ranking-quality
    * summary ("does this score actually separate positives from
    * negatives") behind every classifier audit and every learned
    * data-quality filter. AUC = P(s⁺ > s⁻) + ½·P(s⁺ = s⁻); with
    * cp(v)/cn(v) the positive/negative counts at each distinct score v
    * and cnb(v) the negatives strictly below v,
    * 2U = Σ_v cp(v)·(2·cnb(v) + cn(v)) — an EXACT integer under any
    * partitioning, divided once at the end.
    *
    * Shape: one combinable groupBy((group, score)) compaction, then the
    * [[GlobalOrder.withRunningTotalPerKey]] boundary-stitch over the
    * COMPACTED table (≤ distinct scores per group rows — never the raw
    * data, and a hot group never sorts in one task), then one
    * combinable per-group fold. Overflow budget: 2U ≤ 2·n⁺·n⁻ must fit
    * int64 — shard wider populations by stratum first. `groupCol`
    * non-null LongType; `scoreCol` LongType; `posCol` boolean. Groups
    * with no positives or no negatives yield null AUC.
    */
  def rocAuc(df: DataFrame, groupCol: String, posCol: Column,
             scoreCol: Column, partitions: Int = 0): DataFrame = {
    GlobalOrder.requireFresh(df, "__graft_s", "__graft_cp", "__graft_cn",
      "__graft_rt")
    val compact = df.groupBy(col(groupCol), scoreCol.as("__graft_s"))
      .agg(count_if(posCol).as("__graft_cp"),
        count_if(!posCol).as("__graft_cn"))
    val run = GlobalOrder.withRunningTotalPerKey(compact, groupCol,
      "__graft_s", "__graft_cn", Seq.empty, out = "__graft_rt",
      partitions = partitions)
    run
      .withColumn("__graft_cnb", col("__graft_rt") - col("__graft_cn"))
      .groupBy(groupCol)
      .agg(sum(col("__graft_cp")).as("n_pos"),
        sum(col("__graft_cn")).as("n_neg"),
        sum(col("__graft_cp") *
          (col("__graft_cnb") * 2L + col("__graft_cn"))).as("__graft_u2"))
      .select(col(groupCol), col("n_pos"), col("n_neg"),
        when(col("n_pos") > 0L && col("n_neg") > 0L,
          col("__graft_u2").cast("double") /
            (lit(2.0) * col("n_pos").cast("double") *
              col("n_neg").cast("double"))).as("auc"))
  }

  /** Per-group Spearman rank correlation of two integer measures — the
    * monotonic-association screen that [[momentStats]]' Pearson misses
    * when the relationship is nonlinear or outlier-dominated. Ties get
    * midranks (the standard tie correction): with cum(v) the inclusive
    * count at or below v and c(v) the tie-block size, 2·midrank(v) =
    * 2·cum(v) − c(v) + 1 — an integer, so all six rank sums are EXACT
    * int64 under any partitioning and ρ is one fixed IEEE formula
    * (the [[laggedPearson]] form) over doubled midranks, whose common
    * ×2 scale cancels.
    *
    * Shape: per measure, one combinable (group, value) compaction +
    * the [[GlobalOrder.withRunningTotalPerKey]] stitch over the
    * compacted table + one co-partitioned equi-join back on
    * (group, value); then one combinable six-sum fold. No window, no
    * per-group sort. Overflow budget: Σ(2r)² ≤ 4n³ per group must fit
    * int64 (n ≤ ~1.3M rows per group; shard beyond that). `groupCol`
    * non-null LongType; x/y LongType. Null-x or null-y rows are
    * dropped pairwise; degenerate groups (n < 2 or a constant side)
    * yield null ρ.
    */
  def spearmanRho(df: DataFrame, groupCol: String, xCol: Column,
                  yCol: Column, partitions: Int = 0): DataFrame = {
    GlobalOrder.requireFresh(df, "__graft_x", "__graft_y", "__graft_c",
      "__graft_rt", "__graft_rx", "__graft_ry")
    val base = df
      .filter(xCol.isNotNull && yCol.isNotNull)
      .select(col(groupCol), xCol.as("__graft_x"), yCol.as("__graft_y"))
    def ranks2(vc: String, out: String): DataFrame = {
      val compact = base.groupBy(col(groupCol), col(vc))
        .agg(count(lit(1)).as("__graft_c"))
      GlobalOrder.withRunningTotalPerKey(compact, groupCol, vc,
          "__graft_c", Seq.empty, out = "__graft_rt",
          partitions = partitions)
        .select(col(groupCol), col(vc),
          (col("__graft_rt") * 2L - col("__graft_c") + 1L).as(out))
    }
    val joined = base
      .join(ranks2("__graft_x", "__graft_rx"), Seq(groupCol, "__graft_x"))
      .join(ranks2("__graft_y", "__graft_ry"), Seq(groupCol, "__graft_y"))
    val agg = joined.groupBy(groupCol).agg(
      count(lit(1)).as("n"),
      sum(col("__graft_rx")).as("__sx"), sum(col("__graft_ry")).as("__sy"),
      sum(col("__graft_rx") * col("__graft_rx")).as("__sxx"),
      sum(col("__graft_ry") * col("__graft_ry")).as("__syy"),
      sum(col("__graft_rx") * col("__graft_ry")).as("__sxy"))
    def d(c: String) = col(c).cast("double")
    val cov = d("n") * d("__sxy") - d("__sx") * d("__sy")
    val vx = d("n") * d("__sxx") - d("__sx") * d("__sx")
    val vy = d("n") * d("__syy") - d("__sy") * d("__sy")
    agg.select(col(groupCol), col("n"),
      when(col("n") >= 2L && vx =!= 0.0 && vy =!= 0.0,
        cov / sqrt(vx * vy)).as("rho"))
  }

  /** Per-group Pareto concentration: the smallest top-k of entities
    * (by descending value) whose running total reaches `pctNum/pctDen`
    * of the group's total — "how many customers are 80% of the
    * revenue", the actionable sibling of [[groupGini]]'s single
    * coefficient. Returns (group, n_entities, total_value, n_top,
    * top_value, top_share); the threshold test is exact integer
    * arithmetic (cum·den ≥ total·num), share is the one final
    * division.
    *
    * Shape: ONE fused [[GlobalOrder.withRunningTotalsPerKey]] stitch
    * over the per-entity rows in (value desc, tie) order carrying both
    * running measures (value and rank), then one combinable per-group
    * total and a broadcast join back for the threshold argmin (a
    * min-of-struct, combinable). Input must be ONE row per (group,
    * entity): pre-aggregate first. Values must be non-negative;
    * total·pctDen must fit int64. `groupCol` non-null LongType,
    * `valueCol` non-null LongType.
    */
  def paretoTopShare(df: DataFrame, groupCol: String, valueCol: String,
                     tieCols: Seq[Column], pctNum: Int = 4,
                     pctDen: Int = 5, partitions: Int = 0): DataFrame = {
    require(pctNum > 0 && pctDen >= pctNum,
      s"need 0 < pctNum <= pctDen, got $pctNum/$pctDen")
    GlobalOrder.requireFresh(df, "__graft_negv", "__graft_one",
      "__graft_cum", "__graft_rnk")
    val withNeg = df
      .withColumn("__graft_negv", -col(valueCol))
      .withColumn("__graft_one", lit(1L))
    // one ordered pass for BOTH running measures (value + rank): a
    // second single-column stitch re-sorts the whole input — measured
    // 1.30 per-row ratio on the 10⁸ pareto_hot_group shape vs ~1.0
    // with the fused pass
    val rnk = GlobalOrder.withRunningTotalsPerKey(withNeg, groupCol,
      "__graft_negv", Seq(valueCol, "__graft_one"), tieCols,
      outs = Seq("__graft_cum", "__graft_rnk"), partitions = partitions)
    val tot = rnk.groupBy(groupCol).agg(
      count(lit(1)).as("n_entities"), sum(col(valueCol)).as("total_value"))
    val hit = rnk.join(broadcast(tot), Seq(groupCol))
      .filter(col("__graft_cum") * pctDen.toLong >=
        col("total_value") * pctNum.toLong)
      .groupBy(groupCol)
      .agg(min(struct(col("__graft_rnk").as("n_top"),
        col("__graft_cum").as("top_value"))).as("__graft_hit"))
    tot.join(hit, Seq(groupCol))
      .select(col(groupCol), col("n_entities"), col("total_value"),
        col("__graft_hit.n_top").as("n_top"),
        col("__graft_hit.top_value").as("top_value"),
        (col("__graft_hit.top_value").cast("double") /
          col("total_value").cast("double")).as("top_share"))
  }

  /** Per-group Kendall τ-b over a SHORT per-group series (daily/hourly
    * aggregates — the caller guarantees bounded group size, since the
    * pair join is |group|² rows): concordant/discordant/tied pair
    * counts from one co-partitioned self-join on the group key with
    * idx_a < idx_b, then τ-b = (C − D) / √((C+D+T)·(C+D)) — the tie-
    * corrected form, exact integers until the one final sqrt+division.
    * Requires the idx to be UNIQUE per group (no x-ties; true for any
    * per-period aggregate), so the x tie term vanishes and
    * n₀ = C + D + T. For unbounded groups use [[spearmanRho]], which
    * is O(n log n) in shuffle rather than O(n²) in pairs. Returns
    * (group, n_pairs, c, d, t, tau); τ null when no pairs or C+D = 0.
    */
  def kendallTau(df: DataFrame, groupCol: String, idxCol: String,
                 valueCol: String): DataFrame = {
    val a = df.select(col(groupCol), col(idxCol).as("__ka_i"),
      col(valueCol).as("__ka_v"))
    val b = df.select(col(groupCol), col(idxCol).as("__kb_i"),
      col(valueCol).as("__kb_v"))
    val pairs = a.join(b, Seq(groupCol))
      .filter(col("__kb_i") > col("__ka_i"))
    val agg = pairs.groupBy(groupCol).agg(
      count(lit(1)).as("n_pairs"),
      count_if(col("__kb_v") > col("__ka_v")).as("c"),
      count_if(col("__kb_v") < col("__ka_v")).as("d"),
      count_if(col("__kb_v") === col("__ka_v")).as("t"))
    agg.select(col(groupCol), col("n_pairs"), col("c"), col("d"),
      col("t"),
      when(col("n_pairs") > 0L && col("c") + col("d") > 0L,
        (col("c") - col("d")).cast("double") /
          sqrt(col("n_pairs").cast("double") *
            (col("c") + col("d")).cast("double"))).as("tau"))
  }

  /** Per-group binomial rate with a Wilson score interval at z = 2
    * (~95.4% — an INTEGER z, so z² = 4 and every constant in the
    * closed form is an exact small literal, bit-identical across
    * engines; a 1.96 would round-trip fine but buys nothing). The
    * Wilson interval is the rate estimate that stays honest at small
    * n and extreme p̂ where the naive ±z√(p̂(1−p̂)/n) collapses to a
    * zero-width lie — the per-entity defect/late/violation-rate
    * screen 100 TB audits rank entities by. One combinable (n, k)
    * pass; the interval is one fixed IEEE formula per group row.
    */
  def wilsonRate(df: DataFrame, groupCol: String,
                 hitCol: Column): DataFrame = {
    val agg = df.groupBy(groupCol)
      .agg(count(lit(1)).as("n"), count_if(hitCol).as("k"))
    val nD = col("n").cast("double")
    val p = col("k").cast("double") / nD
    val half = lit(2.0) * sqrt((p * (lit(1.0) - p) + lit(1.0) / nD) / nD)
    val denom = lit(1.0) + lit(4.0) / nD
    agg.select(col(groupCol), col("n"), col("k"), p.as("rate"),
      ((p + lit(2.0) / nD - half) / denom).as("wilson_lo"),
      ((p + lit(2.0) / nD + half) / denom).as("wilson_hi"))
  }

  /** Two-sample Kolmogorov–Smirnov statistic over an integer measure:
    * D = max_x |F₁(x) − F₂(x)|, computed as the EXACT integer
    * max |r₁(x)·n₂ − r₂(x)·n₁| over the merged distinct-value support
    * (r = inclusive cumulative counts), divided once by n₁·n₂ — the
    * distribution-shift test that needs no binning choice, unlike
    * [[tvdDrift]]'s fixed-bin TVD. Returns ONE row:
    * (n1, n2, ks_num, ks).
    *
    * Shape: one combinable (value, cohort-counts) compaction, then ONE
    * fused [[GlobalOrder.withRunningTotalsPerKey]] stitch (constant
    * key) carrying BOTH cohorts' running counts in value order over
    * the compacted table, then a combinable max. Overflow budget:
    * n₁·n₂ must fit int64 (≤ ~3e9 rows per cohort; sample or shard
    * beyond). `cohortCol` boolean: false → sample 1, true → sample 2.
    */
  def ksTest(df: DataFrame, valueCol: Column,
             cohortCol: Column): DataFrame = {
    val compact = df
      .groupBy(valueCol.as("__graft_v"))
      .agg(count_if(!cohortCol).as("__graft_c1"),
        count_if(cohortCol).as("__graft_c2"))
      .withColumn("__graft_k", lit(0L))
    val run = GlobalOrder.withRunningTotalsPerKey(compact, "__graft_k",
      "__graft_v", Seq("__graft_c1", "__graft_c2"), Seq.empty,
      outs = Seq("__graft_r1", "__graft_r2"))
    val tot = run.agg(sum(col("__graft_c1")).as("n1"),
      sum(col("__graft_c2")).as("n2"))
    run.crossJoin(broadcast(tot))
      .select(col("n1"), col("n2"),
        abs(col("__graft_r1") * col("n2") -
          col("__graft_r2") * col("n1")).as("__graft_gap"))
      .groupBy("n1", "n2")
      .agg(max(col("__graft_gap")).as("ks_num"))
      .select(col("n1"), col("n2"), col("ks_num"),
        when(col("n1") > 0L && col("n2") > 0L,
          col("ks_num").cast("double") /
            (col("n1").cast("double") * col("n2").cast("double")))
          .as("ks"))
  }

  /** Per-group Wald–Wolfowitz runs test over an ordered series: is the
    * above/below-median sign sequence random, or does it clump (regime
    * persistence) / alternate (overcorrection)? The distribution-free
    * randomness screen that complements [[cusumPeak]] (level shifts) and
    * [[pettittChangepoint]] (rank shifts). Rows equal to the median are
    * dropped (the standard convention); returns
    * (group, n1 above, n2 below, runs, z) with z null when either side
    * is empty or the variance degenerates (n < 2).
    *
    * Exactness: the group median of a LongType column lands on the .5
    * grid ([[GlobalOrder.groupMedianOfLong]]), so DOUBLED values compare
    * against the doubled median in exact integers — no epsilon; n1, n2
    * and the run count are exact int64 under any partitioning (runs are
    * counted as run STARTS — a first row or a sign flip — via
    * [[GlobalOrder.withLagPerKey]]'s boundary stitch, no per-group
    * window sort); z is one fixed IEEE formula over the three integers.
    * (group, ts, tieCols) must be a total order; group/ts/value
    * LongType.
    */
  def runsTest(df: DataFrame, groupCol: String, tsCol: String,
               valueCol: String, tieCols: Seq[Column]): DataFrame = {
    GlobalOrder.requireFresh(df, "__graft_m2", "__graft_sgn",
      "__graft_prev", "n1", "n2", "runs", "z")
    val med = GlobalOrder.groupMedianOfLong(df, groupCol, valueCol,
      tieCols)
    val signed = df
      .join(broadcast(med.select(col(groupCol),
        (col("median") * 2.0).cast("long").as("__graft_m2"))),
        Seq(groupCol))
      .withColumn("__graft_sgn",
        when(col(valueCol) * 2L > col("__graft_m2"), 1L)
          .when(col(valueCol) * 2L < col("__graft_m2"), 0L))
      .filter(col("__graft_sgn").isNotNull)
    val lagged = GlobalOrder.withLagPerKey(signed, groupCol, tsCol,
      "__graft_sgn", tieCols, out = "__graft_prev")
    val agg = lagged.groupBy(groupCol).agg(
      count_if(col("__graft_sgn") === 1L).as("n1"),
      count_if(col("__graft_sgn") === 0L).as("n2"),
      count_if(col("__graft_prev").isNull ||
        col("__graft_prev") =!= col("__graft_sgn")).as("runs"))
    def d(c: String) = col(c).cast("double")
    val n = d("n1") + d("n2")
    val two = lit(2.0) * d("n1") * d("n2")
    val mu = two / n + lit(1.0)
    val sig2 = two * (two - n) / (n * n * (n - lit(1.0)))
    agg.select(col(groupCol), col("n1"), col("n2"), col("runs"),
      when(col("n1") > 0L && col("n2") > 0L &&
        col("n1") + col("n2") >= 2L && sig2 > 0.0,
        (d("runs") - mu) / sqrt(sig2)).as("z"))
  }

  /** Per-group Pettitt changepoint: the rank-based single-changepoint
    * statistic K = max_t |U_t| with
    * U_t = Σ_{i≤t} Σ_{j>t} sgn(x_i − x_j) — the robust sibling of
    * [[cusumPeak]] (which follows the VALUES and so follows one junk
    * spike; Pettitt follows midranks, which a 10⁹-cent outlier moves by
    * at most one rank). Uses the rank identity
    * U_t = Σ_{i≤t} 2·midrank(x_i) − t(n+1), an exact int64 with the
    * doubled-midrank trick ([[spearmanRho]]'s 2·cum − c + 1). Returns
    * (group, n, k, cp) — k the exact statistic, cp the EARLIEST ts
    * attaining it.
    *
    * Shape: one (group, value) compaction + rank stitch, then ONE fused
    * [[GlobalOrder.withRunningTotalsPerKey]] pass in (group, ts) order
    * carrying the running rank sum AND the running index (the PLANS.md
    * multi-measure rule), then a combinable max and one argmin join.
    * Overflow budget: t·(n+1) ≤ n² per group must fit int64 (n ≤ ~3e9
    * rows per group). (group, ts, tieCols) and (group, value, tieCols)
    * must be total orders; group/ts/value LongType.
    */
  def pettittChangepoint(df: DataFrame, groupCol: String, tsCol: String,
                         valueCol: String,
                         tieCols: Seq[Column]): DataFrame = {
    GlobalOrder.requireFresh(df, "__graft_c", "__graft_rt", "__graft_r2",
      "__graft_s2", "__graft_i", "__graft_one", "__graft_u", "n", "k",
      "cp")
    val compact = df.groupBy(col(groupCol), col(valueCol))
      .agg(count(lit(1)).as("__graft_c"))
    val ranks = GlobalOrder.withRunningTotalPerKey(compact, groupCol,
        valueCol, "__graft_c", Seq.empty, out = "__graft_rt")
      .select(col(groupCol), col(valueCol),
        (col("__graft_rt") * 2L - col("__graft_c") + 1L).as("__graft_r2"))
    val ranked = df.join(ranks, Seq(groupCol, valueCol))
      .withColumn("__graft_one", lit(1L))
    val run = GlobalOrder.withRunningTotalsPerKey(ranked, groupCol,
      tsCol, Seq("__graft_r2", "__graft_one"), tieCols,
      outs = Seq("__graft_s2", "__graft_i"))
    val totals = run.groupBy(groupCol)
      .agg(max(col("__graft_i")).as("n"))
    val u = run.join(broadcast(totals), Seq(groupCol))
      .select(col(groupCol), col("n"), col(tsCol),
        abs(col("__graft_s2") -
          col("__graft_i") * (col("n") + 1L)).as("__graft_u"))
    val k = u.groupBy(groupCol)
      .agg(max(col("n")).as("n"), max(col("__graft_u")).as("k"))
    u.select(col(groupCol), col(tsCol), col("__graft_u"))
      .join(broadcast(k), Seq(groupCol))
      .filter(col("__graft_u") === col("k"))
      .groupBy(groupCol)
      .agg(max(col("n")).as("n"), max(col("k")).as("k"),
        min(col(tsCol)).as("cp"))
  }

  /** Kruskal–Wallis H over a FIXED small group alphabet: the k-sample
    * rank ANOVA — "do these k cohorts share a location?" without the
    * normality assumption [[welchT]] leans on (and its k = 2 limit).
    * Returns ONE row (n, t_ties, h, h_corrected) with
    * H = 12/(N(N+1)) · Σ_g R_g²/n_g − 3(N+1) over pooled midranks and
    * the tie-corrected H' = H / (1 − ΣT/(N³−N)), ΣT = Σ(t³−t) over tie
    * blocks.
    *
    * Determinism discipline: pooled doubled midranks via the
    * [[spearmanRho]] compaction identity (2·cum − c + 1, exact int64);
    * per-group rank sums and counts PIVOTED to 2k columns in one
    * combinable pass; the k per-group double terms R2_g²/(4n_g) fold
    * LEFT-TO-RIGHT in group order (the [[tvdDrift]] rule — a sum() over
    * group rows would accumulate doubles in partition order); H then
    * H' are fixed IEEE formulas. `binCol` a long in [0, k), k ≤ 64 (a
    * column count). Overflow budget: Σ(t³−t) needs the largest tie
    * block ≤ ~2M rows — pre-jitter or sub-bucket beyond.
    */
  def kruskalWallis(df: DataFrame, binCol: String, valueCol: String,
                    k: Int): DataFrame = {
    require(k >= 2 && k <= 64, s"k must be in [2, 64], got $k")
    GlobalOrder.requireFresh(df, "__graft_c", "__graft_rt", "__graft_r2",
      "__graft_k0", "n", "t_ties", "h", "h_corrected")
    val compact = df.groupBy(col(valueCol))
      .agg(count(lit(1)).as("__graft_c"))
      .withColumn("__graft_k0", lit(0L))
    val ranks = GlobalOrder.withRunningTotalPerKey(compact, "__graft_k0",
        valueCol, "__graft_c", Seq.empty, out = "__graft_rt")
      .select(col(valueCol),
        (col("__graft_rt") * 2L - col("__graft_c") + 1L).as("__graft_r2"))
    val ties = compact.agg(
      sum(col("__graft_c") * col("__graft_c") * col("__graft_c") -
        col("__graft_c")).as("t_ties"))
    val sums = (0 until k).flatMap { g =>
      Seq(count_if(col(binCol) === g.toLong).as(s"__n$g"),
        sum(when(col(binCol) === g.toLong, col("__graft_r2"))
          .otherwise(0L)).as(s"__r$g"))
    }
    val piv = df.join(ranks, Seq(valueCol))
      .agg(sums.head, sums.tail: _*)
      .crossJoin(broadcast(ties))
    def d(c: String) = col(c).cast("double")
    val nTot = (0 until k).map(g => col(s"__n$g")).reduce(_ + _)
    val s = (0 until k).map { g =>
      when(col(s"__n$g") > 0L,
        d(s"__r$g") * d(s"__r$g") / (lit(4.0) * d(s"__n$g")))
        .otherwise(0.0)
    }.reduce(_ + _)
    val withN = piv.withColumn("n", nTot)
    val h = lit(12.0) / (d("n") * (d("n") + lit(1.0))) * s -
      lit(3.0) * (d("n") + lit(1.0))
    val corr = lit(1.0) - d("t_ties") /
      (d("n") * d("n") * d("n") - d("n"))
    withN.withColumn("h", when(col("n") >= 2L, h))
      .select(col("n"), col("t_ties"), col("h"),
        when(col("h").isNotNull && corr > 0.0, col("h") / corr)
          .as("h_corrected"))
  }

  /** Lead–lag cross-correlation between two integer series sharing an
    * index: Pearson r of (x(i), y(i + lag)) per lag — "do purchases
    * follow clicks, and by how many days?". [[laggedPearson]]'s
    * autocorrelation machinery generalized to a PAIR of measures and
    * SIGNED lags (negative lag = y leads x). Input must be ONE row per
    * index with both measures (pre-join the series; absent periods are
    * the caller's densify/zero-fill decision). Returns
    * (lag, n_pairs, r) with the six pair sums exact int64 and r one
    * fixed IEEE formula; degenerate lags (n < 2 or a constant side)
    * yield null r.
    *
    * Shape: one self-equi-join on the shifted index per lag (each a
    * co-partitioned shuffle of per-index rows, or a broadcast when the
    * compacted series is small), then one combinable six-sum fold per
    * lag. Keep |lags| modest — cost is linear in it.
    */
  def crossCorr(df: DataFrame, idxCol: String, xCol: String,
                yCol: String, lags: Seq[Int]): DataFrame = {
    require(lags.nonEmpty, "crossCorr needs at least one lag")
    GlobalOrder.requireFresh(df, "__graft_i", "__graft_x", "__graft_y",
      "lag", "n_pairs", "r")
    val base = df.select(col(idxCol).as("__graft_i"),
      col(xCol).as("__graft_x"), col(yCol).as("__graft_y"))
    val pairs = lags.map { l =>
      val shifted = base.select(
        (col("__graft_i") - l.toLong).as("__graft_i"),
        col("__graft_y").as("__graft_yl"))
      base.drop("__graft_y")
        .join(shifted, Seq("__graft_i"))
        .select(lit(l.toLong).as("lag"), col("__graft_x"),
          col("__graft_yl").as("__graft_y"))
    }.reduce(_ unionByName _)
    val agg = pairs.groupBy(col("lag")).agg(
      count(lit(1)).as("n_pairs"),
      sum(col("__graft_x")).as("__sx"), sum(col("__graft_y")).as("__sy"),
      sum(col("__graft_x") * col("__graft_x")).as("__sxx"),
      sum(col("__graft_y") * col("__graft_y")).as("__syy"),
      sum(col("__graft_x") * col("__graft_y")).as("__sxy"))
    def d(c: String) = col(c).cast("double")
    val cov = d("n_pairs") * d("__sxy") - d("__sx") * d("__sy")
    val vx = d("n_pairs") * d("__sxx") - d("__sx") * d("__sx")
    val vy = d("n_pairs") * d("__syy") - d("__sy") * d("__sy")
    agg.select(col("lag"), col("n_pairs"),
      when(col("n_pairs") >= 2L && vx =!= 0.0 && vy =!= 0.0,
        cov / sqrt(vx * vy)).as("r"))
  }

  /** K-cohort Kolmogorov–Smirnov drift monitor against a baseline
    * cohort: per bin b ≠ `baselineBin`, the exact KS distance between
    * bin b's value distribution and the baseline's — the "did this
    * month's distribution move" production monitor, [[ksTest]]
    * generalized from one pair to K-vs-baseline WITHOUT K passes.
    *
    * Shape: one combinable (value → K per-bin counts) pivot compaction
    * (the [[tvdDrift]] fixed-alphabet rule, bins ≤ 64 are a COLUMN
    * count), then ONE fused [[GlobalOrder.withRunningTotalsPerKey]]
    * stitch carrying all K running counts in value order over the
    * compacted support, then one combinable K-way max. Every cumulative
    * count and cross-product gap |r_b·n_base − r_base·n_b| is exact
    * int64; each ks is one final division. Overflow budget:
    * n_b · n_base must fit int64 (≤ ~3e9 rows per cohort). Returns
    * (bin, n, ks_num, ks) for non-empty bins ≠ baseline; `binCol` a
    * long in [0, k).
    */
  def ksDriftBins(df: DataFrame, binCol: String, valueCol: String,
                  k: Int, baselineBin: Int = 0): DataFrame = {
    require(k >= 2 && k <= 64, s"k must be in [2, 64], got $k")
    require(baselineBin >= 0 && baselineBin < k,
      s"baselineBin must be in [0, $k), got $baselineBin")
    GlobalOrder.requireFresh(df, "__graft_k0", "bin", "n", "ks_num",
      "ks")
    val counts = (0 until k).map(b =>
      count_if(col(binCol) === b.toLong).as(s"__c$b"))
    val compact = df.groupBy(col(valueCol))
      .agg(counts.head, counts.tail: _*)
      .withColumn("__graft_k0", lit(0L))
    val run = GlobalOrder.withRunningTotalsPerKey(compact, "__graft_k0",
      valueCol, (0 until k).map(b => s"__c$b"), Seq.empty,
      outs = (0 until k).map(b => s"__r$b"))
    // totals come from `compact`, not `run`: the running-total stitch
    // preserves the per-value __c columns, so the sums are identical —
    // and the stitch machinery is then evaluated ONCE (for gapped)
    // instead of twice (round 19, §1.2)
    val tots = compact.agg(
      (0 until k).map(b => sum(col(s"__c$b")).as(s"__n$b")).head,
      (0 until k).map(b => sum(col(s"__c$b")).as(s"__n$b")).tail: _*)
    val gapped = run.crossJoin(broadcast(tots))
    Checkpoints.scoped { scope =>
      // `maxes` is ONE row, but the per-bin output used to reference it
      // from k-1 union branches — k-1 re-evaluations of the whole
      // compact -> stitch -> crossJoin -> agg chain (or an exchange-reuse
      // race). An eager checkpoint pins the single row, a leaf of the
      // returned plan; the union branches read it from storage (round 19,
      // §2.4/§5).
      val gaps = (0 until k).map { b =>
        max(abs(col(s"__r$baselineBin") * col(s"__n$b") -
          col(s"__r$b") * col(s"__n$baselineBin"))).as(s"__g$b")
      }
      val maxes = scope.checkpoint(gapped.agg(gaps.head, gaps.tail ++
        (0 until k).map(b => max(col(s"__n$b")).as(s"__m$b")): _*))
      (0 until k).filter(_ != baselineBin).map { b =>
        maxes.select(lit(b.toLong).as("bin"), col(s"__m$b").as("n"),
          col(s"__g$b").as("ks_num"),
          when(col(s"__m$b") > 0L && col(s"__m$baselineBin") > 0L,
            col(s"__g$b").cast("double") /
              (col(s"__m$b").cast("double") *
                col(s"__m$baselineBin").cast("double"))).as("ks"))
      }.reduce(_ unionByName _)
        .filter(col("n") > 0L)
    }
  }

  /** Gauss-Jordan inverse with partial pivoting — driver-side, d ≤ a few
    * hundred. Deterministic for a given matrix. */
  private def invert(a: Array[Array[Double]]): Array[Array[Double]] = {
    val n = a.length
    val m = Array.tabulate(n, 2 * n)((i, j) =>
      if (j < n) a(i)(j) else if (j - n == i) 1.0 else 0.0)
    for (c <- 0 until n) {
      var piv = c
      for (r <- c + 1 until n)
        if (math.abs(m(r)(c)) > math.abs(m(piv)(c))) piv = r
      val t = m(c); m(c) = m(piv); m(piv) = t
      require(math.abs(m(c)(c)) > 1e-12,
        "singular covariance — raise the ridge")
      val dgn = m(c)(c)
      for (j <- 0 until 2 * n) m(c)(j) /= dgn
      for (r <- 0 until n if r != c) {
        val f = m(r)(c)
        if (f != 0.0) for (j <- 0 until 2 * n) m(r)(j) -= f * m(c)(j)
      }
    }
    Array.tabulate(n, n)((i, j) => m(i)(n + j))
  }

  /** Winsorized mean per group over a LongType measure: exact DISCRETE
    * quantile fences at `lo`/`hi` (the element at rank `ceil(q·n)` —
    * DuckDB's `quantile_disc` convention, so the oracle replays it
    * verbatim), every value clamped to [q_lo, q_hi], and the mean taken
    * over the clamped INTEGERS — one IEEE division per group at the
    * very end, so the result is bit-identical under any partitioning
    * (a double `avg` of clamped values would depend on partial-sum
    * order). The outlier-robust location estimate curation thresholds
    * want when MAD is too aggressive (it discards magnitude entirely).
    *
    * Scale: pass 1 compacts to per-(group, value) counts — combinable,
    * hot values collapse map-side; pass 2 folds each group's SORTED
    * value support through one `aggregate()` walk (state = running
    * count + the two fences), bounded by the group's DISTINCT value
    * count — the [[tvdDrift]] bounded-support contract, not row count;
    * pass 3 re-scans the fact side once, clamps against the broadcast
    * fences, and sums exact integers. No window, no unbounded state.
    */
  def winsorizedMean(df: DataFrame, groupCol: String, valueCol: String,
                     lo: Double = 0.05, hi: Double = 0.95): DataFrame = {
    require(lo >= 0 && hi <= 1 && lo <= hi,
      s"need 0 <= lo <= hi <= 1, got $lo/$hi")
    require(df.schema(valueCol).dataType ==
      org.apache.spark.sql.types.LongType,
      s"winsorizedMean needs a LongType measure; $valueCol is " +
        df.schema(valueCol).dataType.toString)
    val cells = df.groupBy(col(groupCol), col(valueCol).as("__v"))
      .agg(count(lit(1)).as("__c"))
    val packed = cells.groupBy(groupCol)
      .agg(sort_array(collect_list(struct(col("__v"), col("__c"))))
        .as("__arr"), sum(col("__c")).as("n"))
      // ceil over the SAME IEEE product both engines compute; rank is
      // 1-based inclusive
      .withColumn("__rlo", ceil(lit(lo) * col("n")).cast("long"))
      .withColumn("__rhi", ceil(lit(hi) * col("n")).cast("long"))
    val fences = packed.select(col(groupCol), col("n"),
      aggregate(col("__arr"),
        struct(lit(0L).as("cum"), lit(null).cast("long").as("lo"),
          lit(null).cast("long").as("hi")),
        (st, e) => {
          val cum2 = st.getField("cum") + e.getField("__c")
          struct(cum2.as("cum"),
            coalesce(st.getField("lo"),
              when(cum2 >= greatest(col("__rlo"), lit(1L)),
                e.getField("__v"))).as("lo"),
            coalesce(st.getField("hi"),
              when(cum2 >= greatest(col("__rhi"), lit(1L)),
                e.getField("__v"))).as("hi"))
        }).as("__f"))
      .select(col(groupCol), col("n"), col("__f.lo").as("q_lo"),
        col("__f.hi").as("q_hi"))
    df.join(broadcast(fences), Seq(groupCol))
      .groupBy(groupCol)
      .agg(first(col("n")).as("n"), first(col("q_lo")).as("q_lo"),
        first(col("q_hi")).as("q_hi"),
        sum(least(greatest(col(valueCol), col("q_lo")), col("q_hi")))
          .as("__s"))
      .select(col(groupCol), col("n"), col("q_lo"), col("q_hi"),
        (col("__s").cast("double") / col("n")).as("win_mean"))
  }

  /** Cohen's kappa: chance-corrected agreement between two categorical
    * columns of the same frame (rater-vs-rater, or model-vs-ground-truth
    * as in the langId audit). κ = (p_o − p_e) / (1 − p_e), where p_o is
    * observed agreement and p_e the agreement expected if the two
    * labelings were independent (Σ over labels of marginal products).
    * The single-scalar companion of the full confusion census: the
    * number a curation pipeline thresholds on before trusting a cheap
    * classifier to stand in for an expensive one.
    *
    * Determinism: every input to the final expression is an exact
    * integer (n, n_agree, Σ rowᵢ·colᵢ); the κ double is derived by the
    * identical formula on both engines. Scale: two label-marginal
    * aggregates (label cardinality is tiny by definition of a
    * categorical rating) + one count — all combinable, no window, and
    * the marginal join runs on the label domain, not the fact table.
    * Degenerate case p_e = 1 (both raters constant) yields null κ.
    */
  def cohenKappa(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val totals = df.agg(count(lit(1)).as("n"),
      count_if(col(aCol) === col(bCol)).as("n_agree"))
    val ma = df.groupBy(col(aCol).as("__l")).agg(count(lit(1)).as("__na"))
    val mb = df.groupBy(col(bCol).as("__l")).agg(count(lit(1)).as("__nb"))
    val peNum = ma.join(mb, Seq("__l"))
      .agg(coalesce(sum(col("__na") * col("__nb")), lit(0L)).as("pe_num"))
    val nd = col("n").cast("double")
    val po = col("n_agree").cast("double") / nd
    val pe = col("pe_num").cast("double") / (nd * nd)
    totals.crossJoin(peNum).select(col("n"), col("n_agree"),
      po.as("p_o"), pe.as("p_e"),
      when(pe < 1.0, (po - pe) / (lit(1.0) - pe)).as("kappa"))
  }

  /** Per-group two-feature OLS (ŷ = b0 + b1·x1 + b2·x2) in closed form:
    * one combinable pass collects the exact integer normal-equation
    * sums, then Cramer's rule over the 3×3 system in ONE fixed double
    * expression — the multi-feature extension of [[groupLinFit]], for
    * "does x2 explain anything x1 doesn't" questions without an
    * iterative solver. Determinism: every sum is an exact long
    * (LONG→DOUBLE is correctly rounded everywhere), and the determinant
    * expansion is mirrored verbatim in the oracle, so the betas are
    * bit-identical. Inputs must be integer-valued columns sized so each
    * product sum stays under 2⁵³ (cents-grid discipline; widen to
    * decimal sums past that). Degenerate groups (n < 3 or a singular
    * system — collinear features) yield null betas, not a throw. One
    * groupBy, no window, O(1) state per group.
    */
  def groupLinFit2(df: DataFrame, groupCol: String, yL: Column,
                   x1L: Column, x2L: Column): DataFrame = {
    val ok0 = yL.isNotNull && x1L.isNotNull && x2L.isNotNull
    val y = when(ok0, yL.cast("long"))
    val x1 = when(ok0, x1L.cast("long"))
    val x2 = when(ok0, x2L.cast("long"))
    val agg = df.groupBy(groupCol).agg(
      count(y).as("n"),
      sum(x1).as("sx1"), sum(x2).as("sx2"), sum(y).as("sy"),
      sum(x1 * x1).as("sx11"), sum(x1 * x2).as("sx12"),
      sum(x2 * x2).as("sx22"),
      sum(x1 * y).as("sx1y"), sum(x2 * y).as("sx2y"))
    def d(c: String) = col(c).cast("double")
    val (n, sx1, sx2, sy) = (d("n"), d("sx1"), d("sx2"), d("sy"))
    val (sx11, sx12, sx22) = (d("sx11"), d("sx12"), d("sx22"))
    val (sx1y, sx2y) = (d("sx1y"), d("sx2y"))
    val det = n * (sx11 * sx22 - sx12 * sx12) -
      sx1 * (sx1 * sx22 - sx12 * sx2) +
      sx2 * (sx1 * sx12 - sx11 * sx2)
    val det0 = sy * (sx11 * sx22 - sx12 * sx12) -
      sx1 * (sx1y * sx22 - sx12 * sx2y) +
      sx2 * (sx1y * sx12 - sx11 * sx2y)
    val det1 = n * (sx1y * sx22 - sx12 * sx2y) -
      sy * (sx1 * sx22 - sx12 * sx2) +
      sx2 * (sx1 * sx2y - sx1y * sx2)
    val det2 = n * (sx11 * sx2y - sx1y * sx12) -
      sx1 * (sx1 * sx2y - sx1y * sx2) +
      sy * (sx1 * sx12 - sx11 * sx2)
    val ok = col("n") >= 3 && det =!= 0.0
    agg.select(col(groupCol), col("n"),
      when(ok, det0 / det).as("b0"),
      when(ok, det1 / det).as("b1"),
      when(ok, det2 / det).as("b2"))
  }

  /** CUPED variance reduction (the standard experimentation trick):
    * adjust each cohort's post-period mean by θ·(its pre-period mean −
    * the global pre mean), with θ = cov(pre, post)/var(pre) learned on
    * the POOLED units — pre-period behavior that predicts the metric is
    * subtracted out, shrinking the variance of the treatment contrast
    * without biasing it. Input is one row per experimental UNIT with
    * integer (cents-grid) pre/post measures.
    *
    * Determinism: all five pooled sums and the per-cohort sums are
    * exact longs (LONG→DOUBLE correctly rounded on both engines), and
    * θ / the adjusted means are fixed mirrored expressions — bit-equal
    * with no snapping. θ is null (and adjusted = raw mean) when
    * var(pre) = 0. Two combinable aggregates + a 1-row broadcast; no
    * window, no join on units.
    */
  def cupedAdjust(df: DataFrame, cohortCol: String, preL: Column,
                  postL: Column): DataFrame = {
    val pre = preL.cast("long")
    val post = postL.cast("long")
    val pooled = df.agg(count(lit(1)).as("__n"),
      sum(pre).as("__sp"), sum(post).as("__sq"),
      sum(pre * pre).as("__spp"), sum(pre * post).as("__spq"))
    val byCohort = df.groupBy(cohortCol).agg(
      count(lit(1)).as("n"), sum(pre).as("__spc"),
      sum(post).as("__sqc"))
    def d(c: String) = col(c).cast("double")
    val nd = d("__n")
    val varPre = d("__spp") - d("__sp") * d("__sp") / nd
    val covPp = d("__spq") - d("__sp") * d("__sq") / nd
    val theta = when(varPre > 0.0, covPp / varPre)
    val preMean = d("__sp") / nd
    val meanPost = d("__sqc") / d("n")
    val meanPre = d("__spc") / d("n")
    byCohort.crossJoin(broadcast(pooled))
      .select(col(cohortCol), col("n"), meanPost.as("mean_post"),
        theta.as("theta"),
        coalesce(meanPost - theta * (meanPre - preMean), meanPost)
          .as("mean_adj"))
  }

  /** Model-calibration (reliability) bins: fixed-width buckets over an
    * integer micro-unit score in [0, 10⁶] vs a binary outcome — per bin
    * the row count, positive count, and observed rate. The reliability
    * diagram behind "can this cheap quality/language score's VALUE be
    * trusted as a probability", the companion of [[rocAuc]] (which
    * checks ranking, not calibration).
    *
    * Determinism: the bin index is exact integer arithmetic
    * (`score·B div 10⁶`, capped at B−1 so score = 10⁶ lands in the top
    * bin), counts are exact, and the rate is one IEEE division of
    * exact longs — bit-identical on both engines. Scale: ONE combinable
    * groupBy on a ≤ B-key domain; no window, no join.
    */
  def calibrationBins(df: DataFrame, scoreMicro: Column, pos: Column,
                      bins: Int = 10): DataFrame = {
    require(bins >= 1, s"bins must be >= 1, got $bins")
    df.select(scoreMicro.cast("long").as("__s"),
        when(pos, 1L).otherwise(0L).as("__p"))
      .select(least(expr(s"(__s * $bins) div 1000000"),
          lit((bins - 1).toLong)).as("bin"),
        col("__p"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"), sum(col("__p")).as("n_pos"))
      .select(col("bin"), col("n"), col("n_pos"),
        (col("n_pos").cast("double") / col("n").cast("double"))
          .as("rate"))
  }

  /** Per-group higher central moments of an integer measure: exact
    * power sums Σx..Σx⁴ (per-row powers multiplied IN DECIMAL(38,0) —
    * a long wraps silently at cents⁴ of a 55k-cent value), from which
    * mean, population skewness g₁ = m₃/m₂^{3/2} and EXCESS kurtosis
    * g₂ = m₄/m₂² − 3 are derived. The shape diagnostics behind
    * heavy-tail screens (quality-score distributions, length
    * distributions) that variance alone can't see.
    *
    * Determinism: the sums are exact (combinable decimals, any order),
    * but DECIMAL→DOUBLE is NOT correctly rounded on every engine
    * (DuckDB's int128 cast is ~1 ulp off true for > 2⁵³ sums), so raw
    * derived doubles would flap on a hash gate. Skewness/kurtosis are
    * therefore SNAPPED to an exact micro-unit integer grid
    * (⌊g·10⁶ + ½⌋ as long) and the reported doubles derived from the
    * micro longs — ulp-level engine drift is absorbed by the grid (the
    * [[cents]] integerization discipline, applied to outputs). `mean`
    * stays a raw double: LONG→DOUBLE is hardware-correctly-rounded on
    * both engines, so sx/n is bit-equal without snapping. |x| must fit
    * 3·10⁹ (x² in long before the decimal widening); |g₁|, |g₂| ≤ 9·10¹²
    * for the micro grid — any physical distribution qualifies. Scale:
    * ONE combinable groupBy, no window, O(1) state per group.
    * Skew/kurtosis are null for degenerate groups (n < 2 or zero
    * variance).
    */
  def higherMoments(df: DataFrame, groupCol: String,
                    xLong: Column): DataFrame = {
    val x = xLong.cast("long")
    val dec = "decimal(38,0)"
    val x2 = x * x
    val agg = df.groupBy(groupCol).agg(
      count(x).as("n"),
      sum(x).as("sx"),
      sum(x2.cast(dec)).as("sxx"),
      sum(x2.cast(dec) * x).as("sx3"),
      sum(x2.cast(dec) * x2).as("sx4"))
    val nd = col("n").cast("double")
    def d(c: String) = col(c).cast("double")
    val mean = d("sx") / nd
    // central moments from raw power sums (population normalization)
    val m2 = d("sxx") / nd - mean * mean
    val m3 = d("sx3") / nd - lit(3.0) * mean * (d("sxx") / nd) +
      lit(2.0) * mean * mean * mean
    val m4 = d("sx4") / nd - lit(4.0) * mean * (d("sx3") / nd) +
      lit(6.0) * mean * mean * (d("sxx") / nd) -
      lit(3.0) * mean * mean * mean * mean
    val ok = col("n") >= 2 && m2 > 0.0
    def micro(g: Column): Column =
      floor(g * 1e6 + lit(0.5)).cast("long")
    val skewMicro = when(ok, micro(m3 / sqrt(m2 * m2 * m2)))
    val kurtMicro = when(ok, micro(m4 / (m2 * m2) - lit(3.0)))
    agg.select(col(groupCol), col("n"), mean.as("mean"),
      skewMicro.as("skew_micro"),
      kurtMicro.as("kurt_micro"),
      (skewMicro.cast("double") / 1e6).as("skewness"),
      (kurtMicro.cast("double") / 1e6).as("excess_kurtosis"))
  }

  /** Cross-cohort quantile normalization: map every cohort's value
    * distribution onto the REFERENCE cohort's — value v in cohort c
    * goes to the reference element at discrete rank
    * `ceil((cum_c(v)/n_c) · n_ref)` (the [[winsorizedMean]] /
    * `quantile_disc` rank convention). The batch-effect remover for
    * mixed-provenance training data: after mapping, every source's
    * length/score distribution IS the reference's, so downstream
    * thresholds mean the same thing everywhere. Returns the per-(cohort,
    * value) mapping table (cohort, value, n_rows, mapped) — join it back
    * to the fact table to materialize normalized rows.
    *
    * Determinism: ranks and counts are exact integers; the only IEEE
    * step is the rank fraction `(cum/n)·n_ref`, written as the identical
    * expression in the oracle, so `ceil` lands identically. Scale: the
    * whole computation lives on the per-cohort value SUPPORT (the
    * [[tvdDrift]] bounded-support contract — distinct values, not
    * rows): one combinable (cohort, value) count, one sorted-array fold
    * per cohort for cumulative counts, and one O(|support|) lookup fold
    * per DISTINCT (cohort, value) against the broadcast reference
    * array. No window, no per-row work beyond the first count — but the
    * support term is QUADRATIC (S lookups × S-element folds): fine to
    * ~10⁴ distinct values (`quantile_normalize_support` shape), compact
    * to coarser bins first beyond that.
    */
  def quantileNormalize(df: DataFrame, cohortCol: String,
                        valueCol: String, refCohort: String): DataFrame = {
    require(df.schema(valueCol).dataType ==
      org.apache.spark.sql.types.LongType,
      s"quantileNormalize needs a LongType measure; $valueCol is " +
        df.schema(valueCol).dataType.toString)
    val cells = df.groupBy(col(cohortCol), col(valueCol).as("__v"))
      .agg(count(lit(1)).as("__c"))
    // per cohort: sorted (value, count) support with inclusive
    // cumulative counts, exploded back to rows
    val packed = cells.groupBy(cohortCol)
      .agg(sort_array(collect_list(struct(col("__v"), col("__c"))))
        .as("__arr"), sum(col("__c")).as("n"))
    val withCum = packed.select(col(cohortCol), col("n"),
        posexplode(col("__arr")).as(Seq("__i", "__e")),
        col("__arr"))
      .select(col(cohortCol), col("n"), col("__e.__v").as("__v"),
        col("__e.__c").as("__c"),
        aggregate(slice(col("__arr"), lit(1), col("__i") + 1),
          lit(0L), (acc, e) => acc + e.getField("__c")).as("__cum"))
    val ref = withCum.filter(col(cohortCol) === refCohort)
      .groupBy(lit(1).as("__one"))
      .agg(sort_array(collect_list(struct(col("__v"), col("__cum"))))
        .as("__ref"), max(col("__cum")).as("__nref"))
    withCum.crossJoin(broadcast(ref.drop("__one")))
      // clamp to n_ref: the IEEE fraction can land an ulp above 1.0 at
      // the top rank, and ceil would then ask for rank n_ref + 1 (the
      // oracle clamps with the same expression)
      .withColumn("__r",
        least(ceil((col("__cum").cast("double") / col("n")) * col("__nref"))
          .cast("long"), col("__nref")))
      .select(col(cohortCol), col("__v").as(valueCol),
        col("__c").as("n_rows"),
        aggregate(col("__ref"),
          lit(null).cast("long"),
          (found, e) => coalesce(found,
            when(e.getField("__cum") >= col("__r"), e.getField("__v"))))
          .as("mapped"))
  }
}
