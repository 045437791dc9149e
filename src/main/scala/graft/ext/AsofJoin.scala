package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of join: for every left row, the single right row with the greatest
  * `rightTime <= leftTime` within the same key — the operator behind
  * point-in-time feature lookups and trade/quote alignment.
  *
  * Spark has no native ASOF JOIN (DuckDB does; the reference engine has no
  * joins at all — SURVEY.md §2.4). A naive range join
  * (`l.key = r.key && r.ts <= l.ts` + max-per-left) explodes to the full
  * per-key cross product before pruning. This implementation is the
  * union-interleave technique instead: tag both sides, union them, and run
  * ONE window pass per key ordered by (time, side) where the right side
  * sorts first on ties (inclusive `<=` semantics) — `last_value(..,
  * ignoreNulls)` of the right payload at each left row is exactly the
  * as-of match.
  *
  * Scale: one shuffle of |L| + |R| rows on the key, no intermediate blowup,
  * window state is O(1) per row (running last value). Skewed keys AQE-split
  * like any other shuffle.
  *
  * The right side must be unique per (key, time) — ties inside the right
  * table have no deterministic "latest" row (DuckDB's ASOF has the same
  * caveat); pre-aggregate duplicates away before calling.
  */
object AsofJoin {

  /** Left as-of join. Returns all left columns plus, for each
    * `rightValue` column, the value from the matching right row (null when
    * no right row is at-or-before the left row's time).
    *
    * @param left       probe side
    * @param right      reference side (unique per (key, time))
    * @param key        equi-key column name present on both sides
    * @param leftTime   event-time column name on `left`
    * @param rightTime  event-time column name on `right`
    * @param rightValues right payload columns to carry (renamed as-is)
    */
  def leftAsof(left: DataFrame, right: DataFrame, key: String,
               leftTime: String, rightTime: String,
               rightValues: Seq[String]): DataFrame = {
    requireUnreserved(left, right, Seq("__k", "__t", "__side"))
    // left payload = left columns minus the key/time already lifted out
    val lp = left.columns.filterNot(c => c == key || c == leftTime).toSeq
    requireDisjointPayload(lp, rightValues, key, leftTime)
    // one unified schema: key, ts, side tag, left payload, right payload
    val l = left.select(
      col(key).as("__k") +: col(leftTime).as("__t") +: lit(1).as("__side") +:
        (lp.map(col) ++
          rightValues.map(c => lit(null).cast(right.schema(c).dataType).as(c))): _*)
    val r = right.select(
      col(key).as("__k") +: col(rightTime).as("__t") +: lit(0).as("__side") +:
        (lp.map(c => lit(null).cast(left.schema(c).dataType).as(c)) ++
          rightValues.map(col)): _*)
    // right (side 0) sorts before left (side 1) at equal time => inclusive
    val w = Window.partitionBy("__k").orderBy(col("__t"), col("__side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val matched = l.unionByName(r).select(
      (Seq(col("__k"), col("__t"), col("__side")) ++ lp.map(col) ++
        rightValues.map(c =>
          last(when(col("__side") === 0, col(c)), ignoreNulls = true)
            .over(w).as(c))): _*)
    matched.filter(col("__side") === 1)
      .select(col("__k").as(key) +: col("__t").as(leftTime) +:
        (lp.map(col) ++ rightValues.map(col)): _*)
  }

  /** Hot-key-safe left as-of join for a single LongType payload.
    *
    * [[leftAsof]]'s union-interleave still runs one WINDOW per key, so a
    * hot key (half the probe rows on one entity) buffers and sorts its
    * whole interleaved timeline in a single task. This variant feeds the
    * same interleave through [[GlobalOrder.withFillForward]] instead:
    * the right payload fills forward over the (key, time, side) range
    * order — which IS the as-of match — with the hot key spread across
    * range partitions and stitched by O(p) driver state (`asof_hot_key`
    * decade shape: ratio 0.71, SURVEY.md). Same inclusive `<=` semantics
    * (right sorts before left on time ties) and the same
    * unique-per-(key, time) right-side contract; additionally `key`,
    * both time columns, and `rightValue` must be non-null LongType
    * (dictionary-encode wider payloads, or call once per column).
    */
  def leftAsofBig(left: DataFrame, right: DataFrame, key: String,
                  leftTime: String, rightTime: String,
                  rightValue: String): DataFrame = {
    requireUnreserved(left, right, Seq("__k", "__t", "__side", "__v", "__f"))
    val lp = left.columns.filterNot(c => c == key || c == leftTime).toSeq
    requireDisjointPayload(lp, Seq(rightValue), key, leftTime)
    val l = left.select(
      col(key).as("__k") +: col(leftTime).as("__t") +:
        lit(1L).as("__side") +:
        (lp.map(col) :+ lit(null).cast("long").as("__v")): _*)
    val r = right.select(
      col(key).as("__k") +: col(rightTime).as("__t") +:
        lit(0L).as("__side") +:
        (lp.map(c => lit(null).cast(left.schema(c).dataType).as(c)) :+
          col(rightValue).as("__v")): _*)
    GlobalOrder.withFillForward(l.unionByName(r), "__k", "__t", "__v",
      Seq(col("__side")), out = "__f")
      .filter(col("__side") === 1)
      .select(col("__k").as(key) +: col("__t").as(leftTime) +:
        (lp.map(col) :+ col("__f").as(rightValue)): _*)
  }

  /** Fail-at-call-site guards (the saltedJoin style): the interleave
    * builds its unified schema under reserved `__`-prefixed names, so an
    * input column reusing one would be silently shadowed; a left payload
    * column sharing a right value's name (or a right value reusing the
    * key/time names) would make the final select ambiguous or wrong.
    */
  private def requireUnreserved(left: DataFrame, right: DataFrame,
                                reserved: Seq[String]): Unit = {
    val clash = reserved.filter(c =>
      left.columns.contains(c) || right.columns.contains(c))
    require(clash.isEmpty,
      s"as-of inputs carry reserved column(s) ${clash.mkString(", ")} — " +
        "rename them before calling")
  }

  private def requireDisjointPayload(leftPayload: Seq[String],
                                     rightValues: Seq[String], key: String,
                                     leftTime: String): Unit = {
    val overlap = rightValues.filter(v =>
      leftPayload.contains(v) || v == key || v == leftTime)
    require(overlap.isEmpty,
      s"right value column(s) ${overlap.mkString(", ")} collide with left " +
        "columns — alias one side before calling")
  }
}
