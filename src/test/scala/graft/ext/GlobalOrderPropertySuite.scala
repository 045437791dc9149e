package graft.ext

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.SparkSpec

/** Randomized seam coverage for the boundary-stitch family
  * ([[GlobalOrder.withSessionId]] / [[GlobalOrder.withFillForward]] /
  * [[GlobalOrder.withRunningTotalPerKey]] /
  * [[GlobalOrder.withRunningTotalsPerKey]] /
  * [[GlobalOrder.withLagPerKey]] / [[GlobalOrder.withRunningMaxPerKey]]
  * and [[AsofJoin.leftAsofBig]]). The deterministic Round9Suite tests pin
  * the hot-key shapes; these sweep RANDOM datasets — heavy (key, ts)
  * ties, null runs, singleton keys — across partition counts 1..7, the
  * axis that moves every partition seam the driver-side carry logic
  * must stitch. Oracles are the per-key window formulations over the
  * same total order. Plain ScalaCheck generators with fixed seeds
  * (PropertySuite's recipe — the scalatest bridge is not in the
  * offline dependency budget).
  */
class GlobalOrderPropertySuite extends SparkSpec {
  import spark.implicits._

  private def samples[A](g: Gen[A], n: Int, seed: Long): Seq[A] =
    (0 until n).flatMap(i =>
      g.apply(Gen.Parameters.default, Seed(seed * 1000 + i)))

  /** (key, ts, value?) with few keys and few distinct ts — maximal tie
    * pressure so splits land INSIDE tied runs.
    */
  private def rows(seed: Long, n: Int): Seq[(Long, Long, Option[Long])] = {
    val g = Gen.zip(Gen.chooseNum(0L, 3L), Gen.chooseNum(0L, 9L),
      Gen.option(Gen.chooseNum(-50L, 50L)))
    samples(g, n, seed)
  }

  it("withRunningTotalPerKey matches the window sum on random tied data") {
    for (seed <- 1L to 4L; p <- Seq(1, 2, 3, 7)) {
      val df = rows(seed, 120).zipWithIndex
        .map { case ((k, t, v), i) => (k, t, v, i.toLong) }
        .toDF("k", "t", "v", "id")
      val got = GlobalOrder
        .withRunningTotalPerKey(df, "k", "t", "v", Seq(col("id")),
          partitions = p)
        .select("id", "running_total").as[(Long, Long)].collect().toMap
      val w = Window.partitionBy("k").orderBy("t", "id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val want = df.withColumn("rt", coalesce(sum("v").over(w), lit(0L)))
        .select("id", "rt").as[(Long, Long)].collect().toMap
      assert(got == want, s"seed=$seed partitions=$p")
    }
  }

  it("withFillForward matches last_value IGNORE NULLS on random tied data") {
    for (seed <- 5L to 8L; p <- Seq(1, 2, 3, 7)) {
      val df = rows(seed, 120).zipWithIndex
        .map { case ((k, t, v), i) => (k, t, v, i.toLong) }
        .toDF("k", "t", "v", "id")
      val got = GlobalOrder
        .withFillForward(df, "k", "t", "v", Seq(col("id")), partitions = p)
        .select("id", "filled").as[(Long, Option[Long])].collect().toMap
      val w = Window.partitionBy("k").orderBy("t", "id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val want = df
        .withColumn("f", last("v", ignoreNulls = true).over(w))
        .select("id", "f").as[(Long, Option[Long])].collect().toMap
      assert(got == want, s"seed=$seed partitions=$p")
    }
  }

  it("withSessionId matches the window formulation on random tied data") {
    for (seed <- 9L to 12L; p <- Seq(1, 2, 3, 7)) {
      val df = rows(seed, 120).zipWithIndex
        .map { case ((k, t, _), i) => (k, t, i.toLong) }
        .toDF("k", "t", "id")
      val got = GlobalOrder
        .withSessionId(df, "k", "t", gap = 3L, Seq(col("id")),
          partitions = p)
        .select("id", "session_id").as[(Long, Long)].collect().toMap
      val byKey = Window.partitionBy("k").orderBy("t", "id")
      val glob = Window.orderBy("k", "t", "id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val want = df
        .withColumn("brk",
          when(lag(col("t"), 1).over(byKey).isNull ||
            col("t") - lag(col("t"), 1).over(byKey) > 3L, 1L)
            .otherwise(0L))
        .withColumn("sid", sum("brk").over(glob))
        .select("id", "sid").as[(Long, Long)].collect().toMap
      assert(got == want, s"seed=$seed partitions=$p")
    }
  }

  it("withLagPerKey matches the lag window on random tied data") {
    for (seed <- 17L to 20L; p <- Seq(1, 2, 3, 7)) {
      val df = rows(seed, 120).zipWithIndex
        .map { case ((k, t, v), i) => (k, t, v, i.toLong) }
        .toDF("k", "t", "v", "id")
      val got = GlobalOrder
        .withLagPerKey(df, "k", "t", "v", Seq(col("id")), partitions = p)
        .select("id", "lagged").as[(Long, Option[Long])].collect().toMap
      val w = Window.partitionBy("k").orderBy("t", "id")
      val want = df.withColumn("lg", lag("v", 1).over(w))
        .select("id", "lg").as[(Long, Option[Long])].collect().toMap
      assert(got == want, s"seed=$seed partitions=$p")
    }
  }

  it("withRunningMaxPerKey matches the max window on random tied data") {
    for (seed <- 21L to 24L; p <- Seq(1, 2, 3, 7)) {
      val df = rows(seed, 120).zipWithIndex
        .map { case ((k, t, v), i) => (k, t, v, i.toLong) }
        .toDF("k", "t", "v", "id")
      val byKey = Window.partitionBy("k").orderBy("t", "id")
      for ((inclusive, end) <- Seq(true -> Window.currentRow, false -> -1L)) {
        val got = GlobalOrder
          .withRunningMaxPerKey(df, "k", "t", "v", Seq(col("id")),
            inclusive = inclusive, partitions = p)
          .select("id", "running_max").as[(Long, Option[Long])]
          .collect().toMap
        val w = byKey.rowsBetween(Window.unboundedPreceding, end)
        val want = df.withColumn("mx", max("v").over(w))
          .select("id", "mx").as[(Long, Option[Long])].collect().toMap
        assert(got == want,
          s"seed=$seed partitions=$p inclusive=$inclusive")
      }
    }
  }

  it("withRunningTotalsPerKey matches two window sums on random tied data") {
    for (seed <- 25L to 28L; p <- Seq(1, 2, 3, 7)) {
      val df = rows(seed, 120).zip(rows(seed + 100, 120)).zipWithIndex
        .map { case (((k, t, v), (_, _, w)), i) => (k, t, v, w, i.toLong) }
        .toDF("k", "t", "v", "w", "id")
      val got = GlobalOrder
        .withRunningTotalsPerKey(df, "k", "t", Seq("v", "w"),
          Seq(col("id")), Seq("rv", "rw"), partitions = p)
        .select("id", "rv", "rw").as[(Long, Long, Long)].collect()
        .map { case (id, a, b) => id -> (a, b) }.toMap
      val win = Window.partitionBy("k").orderBy("t", "id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val want = df
        .withColumn("sv", coalesce(sum("v").over(win), lit(0L)))
        .withColumn("sw", coalesce(sum("w").over(win), lit(0L)))
        .select("id", "sv", "sw").as[(Long, Long, Long)].collect()
        .map { case (id, a, b) => id -> (a, b) }.toMap
      assert(got == want, s"seed=$seed partitions=$p")
    }
  }

  it("leftAsofBig matches leftAsof on random probe/ref tables") {
    for (seed <- 13L to 16L) {
      val lg = Gen.zip(Gen.chooseNum(0L, 3L), Gen.chooseNum(0L, 20L))
      val rg = Gen.zip(Gen.chooseNum(0L, 4L), Gen.chooseNum(0L, 20L),
        Gen.chooseNum(100L, 999L))
      val left = samples(lg, 80, seed).zipWithIndex
        .map { case ((k, t), i) => (k, t, i.toLong) }
        .toDF("k", "t", "lid")
      val right = samples(rg, 60, seed + 100).zipWithIndex
        // de-dup (k, rt) so the as-of match is unique and both
        // formulations must pick the same row
        .map { case ((k, t, v), i) => (k, t * 10 + i % 10, v) }
        .toDF("k", "rt", "rv").groupBy("k", "rt")
        .agg(max("rv").as("rv"))
      val got = AsofJoin.leftAsofBig(left, right, "k", "t", "rt", "rv")
        .select("lid", "rv").as[(Long, Option[Long])].collect().toMap
      val want = AsofJoin.leftAsof(left, right, "k", "t", "rt", Seq("rv"))
        .select("lid", "rv").as[(Long, Option[Long])].collect().toMap
      assert(got == want, s"seed=$seed")
    }
  }
}
