package graft.ext

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{JoinedRow,
  SpecificInternalRow, UnsafeProjection}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.GraftShim
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Distributed total-order operators.
  *
  * `Window.orderBy(...)` with no partition key collapses the whole dataset
  * into ONE partition (Spark even warns), so global row numbers / running
  * totals / ntile via WindowExec cannot scale past a single executor's
  * memory. These operators compute the same results with the classic
  * scalable recipe instead: range-repartition on the sort key, sort within
  * partitions, then assign contiguous per-partition ranges from a small
  * per-partition-stats job (p longs to the driver) followed by a
  * per-partition prefix scan. Three distributed passes instead of one
  * single-node pass — at 100 TB that is the difference between a plan that
  * runs and a plan that OOMs the one unlucky executor.
  *
  * The hot path stays on Tungsten InternalRows and is deliberately
  * UNCACHED: the stats job and the prefix-scan job share one sorted RDD
  * lineage, so the range shuffle is written once and each job re-reads
  * the shuffle files, re-paying only the in-partition sort (a few percent
  * of the pass). Persisting the sorted rows — boxed external Rows or even
  * compact UnsafeRow copies — made storage compete with the concurrent
  * sorters' execution memory and failed at 10^8 rows (docs/PLANS.md,
  * lessons 1-2: per-row ratio 1.48 boxed+cached; tasks died with
  * UNABLE_TO_ACQUIRE_MEMORY cached-unsafe; ~1.0 on this uncached path).
  * The appended columns are written with a reused JoinedRow +
  * UnsafeProjection over a reused mutable row — no boxing anywhere.
  *
  * The sort columns MUST form a total order (include a unique tiebreaker):
  * range boundaries are only deterministic when no two rows compare equal.
  *
  * The per-key operators ([[withFillForward]], [[withRunningTotalPerKey]],
  * [[withRunningTotalsPerKey]], [[withLagPerKey]],
  * [[withRunningMaxPerKey]]) are the hot-key-safe form of a
  * `Window.partitionBy(key).orderBy(ts)` frame, which sorts each key's
  * whole timeline in one task. They range-partition on (key, ts, tie)
  * instead, so a hot key's rows stay CONTIGUOUS in range order but
  * spread over many partitions, and each is one [[KeyFold]] over that
  * order. The boundary stitch is written once, in [[perKeyFold]]: job 1
  * reports each partition's first key, last key and the fold state of
  * its last key's run; the driver threads a carry (key, state) through
  * the partitions in range order — the carry EXTENDS through a partition
  * (`combine`) only while that partition reads one key equal to the
  * carry's, and otherwise RESTARTS from the partition's last run (empty
  * partitions pass it on); job 2 re-scans each partition from its carry,
  * which applies only while the partition still reads the carry's key.
  * `keyCol`/`tsCol` are non-null LongType and (key, ts, tieCols) must be
  * a total order.
  */
object GlobalOrder {

  /** `df` range-partitioned on `sortCols` into `partitions` (0 = the
    * session's shuffle partitions) and sorted within each: the one
    * uncached lineage both jobs of an operator read. `schema` is the
    * input schema plus the LongType `outs`.
    */
  private final case class RangeSorted(spark: SparkSession,
                                       rows: RDD[InternalRow],
                                       schema: StructType, width: Int)

  private def rangeSort(df: DataFrame, sortCols: Seq[Column],
                        partitions: Int, outs: Seq[String],
                        nullable: Boolean): RangeSorted = {
    val spark = df.sparkSession
    val p = if (partitions > 0) partitions
    else spark.sessionState.conf.numShufflePartitions
    val sorted = df.repartitionByRange(p, sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
    RangeSorted(spark, sorted.queryExecution.toRdd, StructType(
      sorted.schema.fields ++ outs.map(StructField(_, LongType, nullable))),
      outs.length)
  }

  /** Job 2 of every operator here: re-scan each range partition, where
    * `scan(i)` builds partition i's per-row writer of the appended slots.
    * The slots ride in a reused mutable row joined onto the input row.
    */
  private def appendScan(s: RangeSorted)(
      scan: Int => (InternalRow, InternalRow) => Unit): DataFrame = {
    val schema = s.schema // the task closure must not capture `s`
    val width = s.width
    val rdd = s.rows.mapPartitionsWithIndex { (i, it) =>
      val write = scan(i)
      val extra = new SpecificInternalRow(Seq.fill(width)(LongType))
      val joined = new JoinedRow
      val proj = UnsafeProjection.create(schema)
      it.map { row =>
        write(row, extra)
        proj(joined(row, extra)): InternalRow
      }
    }
    GraftShim.internalCreateDataFrame(s.spark, rdd, schema)
  }

  /** Field index of `name`, which must be LongType; `need` leads the
    * failure message.
    */
  private def longField(df: DataFrame, name: String, need: String): Int = {
    val i = df.schema.fieldIndex(name)
    require(df.schema(i).dataType == LongType,
      s"$need; $name is ${df.schema(i).dataType}")
    i
  }

  /** Range-sort `df` on `sortCols`, then append `out` = the inclusive
    * prefix fold of `step(row)` under the commutative-associative monoid
    * `(zero, op)` in sort order. Returns the appended DataFrame and the
    * grand fold (free — it falls out of the per-partition stats job).
    * `step`/`op` must be cheap and deterministic. The prefix-scan
    * distribution recipe is monoid-generic: job 1 folds each partition,
    * the driver prefix-folds the p partials into per-partition seeds,
    * job 2 re-scans each partition from its seed.
    */
  private def scanAppendFold(df: DataFrame, sortCols: Seq[Column],
                             out: String, partitions: Int, zero: Long,
                             step: InternalRow => Long,
                             op: (Long, Long) => Long): (DataFrame, Long) = {
    val sorted = rangeSort(df, sortCols, partitions, Seq(out),
      nullable = false)
    // job 1: per-partition folds -> per-partition seed values in range
    // order (p longs to the driver — the only global state)
    val stats = sorted.rows
      .mapPartitionsWithIndex((i, it) =>
        Iterator((i, it.foldLeft(zero)((acc, r) => op(acc, step(r))))))
      .collect().sortBy(_._1).map(_._2)
    val offsets = stats.scanLeft(zero)(op)
    val appended = appendScan(sorted) { i =>
      var acc = offsets(i)
      (row, extra) => {
        acc = op(acc, step(row))
        extra.setLong(0, acc)
      }
    }
    (appended, stats.foldLeft(zero)(op))
  }

  /** [[scanAppendFold]] under the (0, +) monoid: running totals. */
  private def scanAppend(df: DataFrame, sortCols: Seq[Column], out: String,
                         partitions: Int,
                         step: InternalRow => Long): (DataFrame, Long) =
    scanAppendFold(df, sortCols, out, partitions, 0L, step, _ + _)

  /** [[scanAppend]] counting rows: 1-based global row numbers. */
  private def numbered(df: DataFrame, sortCols: Seq[Column], out: String,
                       partitions: Int): (DataFrame, Long) =
    scanAppend(df, sortCols, out, partitions, _ => 1L)

  /** One per-key operator as a fold: the state is a fixed-width
    * `Array[Long]` starting at `identity`; `add` folds one row in place;
    * `combine(a, b)` is the state of run a followed by run b — associative,
    * called only by the driver; `emit` writes the appended slots, before
    * `add` when `emitFirst` (the exclusive forms). No allocation per row.
    */
  private final case class KeyFold(
      identity: Array[Long],
      add: (Array[Long], InternalRow) => Unit,
      combine: (Array[Long], Array[Long]) => Array[Long],
      emit: (Array[Long], InternalRow) => Unit,
      emitFirst: Boolean = false)

  /** Run `fold` (built from the value columns' indices) over the (key,
    * ts, tieCols) range order, appending `outs`: the boundary stitch of
    * the object doc. `op` names the operator in the LongType checks.
    */
  private def perKeyFold(df: DataFrame, op: String, keyCol: String,
                         tsCol: String, valueCols: Seq[String],
                         tieCols: Seq[Column], outs: Seq[String],
                         nullable: Boolean, partitions: Int)(
                         fold: Array[Int] => KeyFold): DataFrame = {
    requireFresh(df, outs: _*)
    val need = s"$op needs LongType columns"
    val ki = longField(df, keyCol, need)
    longField(df, tsCol, need)
    val f = fold(valueCols.map(longField(df, _, need)).toArray)
    val sorted = rangeSort(df, col(keyCol) +: col(tsCol) +: tieCols,
      partitions, outs, nullable)
    // job 1: per non-empty partition — first key, last key, and the
    // state of the last key's run within the partition
    val stats = sorted.rows.mapPartitionsWithIndex { (i, it) =>
      var seen = false
      var fk = 0L; var lk = 0L
      val st = f.identity.clone()
      it.foreach { r =>
        val k = r.getLong(ki)
        if (!seen) { fk = k; seen = true }
        else if (k != lk) System.arraycopy(f.identity, 0, st, 0, st.length)
        lk = k
        f.add(st, r)
      }
      Iterator((i, if (seen) Some((fk, lk, st)) else None))
    }.collect().sortBy(_._1).map(_._2)
    // driver: carries(i) = the (key, state) carried into partition i
    val carries = stats.scanLeft(Option.empty[(Long, Array[Long])]) {
      case (carry, None) => carry
      case (Some((ck, cst)), Some((fk, lk, st))) if ck == fk && lk == fk =>
        Some((lk, f.combine(cst, st)))
      case (_, Some((_, lk, st))) => Some((lk, st))
    }
    // job 2: per-partition re-scan seeded with the carry
    appendScan(sorted) { i =>
      var curSet = carries(i).isDefined
      var curKey = carries(i).fold(0L)(_._1)
      val st = carries(i).fold(f.identity)(_._2).clone()
      (row, extra) => {
        val k = row.getLong(ki)
        if (!curSet || k != curKey) {
          curKey = k; curSet = true
          System.arraycopy(f.identity, 0, st, 0, st.length)
        }
        if (f.emitFirst) f.emit(st, extra)
        f.add(st, row)
        if (!f.emitFirst) f.emit(st, extra)
      }
    }
  }

  /** The nullable folds' emit: state slot 0 when slot 1 (has a value)
    * is set, else null.
    */
  private val emitIfSet: (Array[Long], InternalRow) => Unit =
    (st, o) => if (st(1) != 0L) o.setLong(0, st(0)) else o.setNullAt(0)

  /** Reject inputs that already carry an output / internal working column
    * name: the append would otherwise produce a duplicate or ambiguous
    * column and fail far from the call site (or, worse, silently resolve
    * to the wrong one in a downstream select). Fail-at-call-site, the
    * [[graft.engine.Skew.saltedJoin]] style.
    */
  private[ext] def requireFresh(df: DataFrame, names: String*): Unit = {
    val clash = names.filter(df.columns.contains)
    require(clash.isEmpty,
      s"input already contains reserved column(s) ${clash.mkString(", ")}" +
        " — rename them (or pass a different `out`) before calling")
  }

  /** Append a 1-based global row number in the total order of `sortCols`.
    * Scales: no single-partition window; ordering work is a range shuffle.
    */
  def withRowNumber(df: DataFrame, sortCols: Seq[Column],
                    out: String = "rn", partitions: Int = 0): DataFrame = {
    requireFresh(df, out)
    numbered(df, sortCols, out, partitions)._1
  }

  /** Append an inclusive running total of the LongType column `valueCol`
    * in the total order of `sortCols` — same semantics as
    * `sum(valueCol).over(Window.orderBy(sortCols))` but scalable (see
    * object doc). This is the primitive behind corpus-order sequence
    * packing ([[Packing.chunkSpans]]), where a 100 TB corpus needs a
    * running token count no single executor could hold.
    *
    * Nulls in `valueCol` count as 0 (SQL SUM ignores them). `sortCols`
    * must form a total order (unique tiebreaker), as with
    * [[withRowNumber]].
    */
  def withRunningTotal(df: DataFrame, sortCols: Seq[Column], valueCol: String,
                       out: String = "running_total",
                       partitions: Int = 0): DataFrame = {
    requireFresh(df, out)
    val vi = longField(df, valueCol,
      "withRunningTotal needs a LongType value column")
    scanAppend(df, sortCols, out, partitions,
      r => if (r.isNullAt(vi)) 0L else r.getLong(vi))._1
  }

  /** Append an inclusive running MAXIMUM of the LongType column
    * `valueCol` in the total order of `sortCols` — the semantics of
    * `max(valueCol).over(Window.orderBy(sortCols))`, distributed by the
    * same monoid prefix-scan as [[withRunningTotal]] (max is
    * commutative-associative, so the per-partition-fold + driver-seed
    * recipe applies unchanged). The primitive behind dominance /
    * frontier analyses ([[Analytics.skyline2D]]): "best value seen so
    * far in sort order" with no single-partition window.
    *
    * Nulls in `valueCol` are ignored (SQL MAX); rows before the first
    * non-null value carry `Long.MinValue` — filter on it if the leading
    * prefix matters (the appended column is non-nullable by
    * construction).
    */
  def withRunningMax(df: DataFrame, sortCols: Seq[Column], valueCol: String,
                     out: String = "running_max",
                     partitions: Int = 0): DataFrame = {
    requireFresh(df, out)
    val vi = longField(df, valueCol,
      "withRunningMax needs a LongType value column")
    scanAppendFold(df, sortCols, out, partitions, Long.MinValue,
      r => if (r.isNullAt(vi)) Long.MinValue else r.getLong(vi),
      math.max)._1
  }

  /** Gap sessionization over a total order, hot-key-safe: append a
    * 1-based GLOBAL session id in (key, ts, tieCols) order, incrementing
    * whenever the key changes or the time since the same key's previous
    * event exceeds `gap` (strictly; an event exactly `gap` after the
    * previous one continues the session).
    *
    * The standard formulation — `lag`/`sum` over
    * `Window.partitionBy(key).orderBy(ts)` (q38) — buffers and sorts
    * each key's whole timeline in one task, so a hot key (a bot account
    * with half the event log) becomes the straggler no config can fix.
    * Here the timeline is range-partitioned on (key, ts, tie) as for the
    * per-key operators (object doc), but the ids count breaks GLOBALLY,
    * so the stitch is the [[withRowNumber]] recipe: per partition, job 1
    * reports the boundary rows (first/last key and timestamp) plus the
    * count of interior session breaks; the driver resolves each
    * partition-boundary break and prefix-sums break counts into
    * per-partition session-id offsets (2p longs of global state); job 2
    * re-scans and assigns ids.
    *
    * `keyCol`/`tsCol` must be non-null LongType (hash or dictionary-
    * encode other key types; convert timestamps with `unix_micros`);
    * (key, ts, tieCols) must be a total order. Session ids are dense,
    * global, and deterministic: numbering follows the range order, so
    * key k's sessions all precede key k+1's.
    */
  def withSessionId(df: DataFrame, keyCol: String, tsCol: String, gap: Long,
                    tieCols: Seq[Column], out: String = "session_id",
                    partitions: Int = 0): DataFrame = {
    requireFresh(df, out)
    require(gap >= 0, s"gap must be >= 0, got $gap")
    val ki = longField(df, keyCol,
      "withSessionId needs a LongType key column")
    val ti = longField(df, tsCol,
      "withSessionId needs a LongType time column")
    val sorted = rangeSort(df, col(keyCol) +: col(tsCol) +: tieCols,
      partitions, Seq(out), nullable = false)
    // job 1: per-partition boundary rows + interior break count. The
    // break status of each partition's FIRST row depends on the previous
    // partition's last row, which only the driver sees — everything else
    // is partition-local.
    val stats = sorted.rows.mapPartitionsWithIndex { (i, it) =>
      var seen = false
      var fk = 0L; var ft = 0L; var pk = 0L; var pt = 0L; var inner = 0L
      it.foreach { r =>
        val k = r.getLong(ki); val t = r.getLong(ti)
        if (!seen) { fk = k; ft = t; seen = true }
        else if (k != pk || t - pt > gap) inner += 1
        pk = k; pt = t
      }
      Iterator((i, seen, fk, ft, pk, pt, inner))
    }.collect().sortBy(_._1)
    // driver: resolve boundary breaks in range order, prefix-sum break
    // counts into 1-based session-id offsets
    val firstBreak = Array.ofDim[Boolean](stats.length)
    val offsets = Array.ofDim[Long](stats.length)
    var acc = 0L
    var prev: Option[(Long, Long)] = None // last (key, ts) so far
    for (((_, seen, fk, ft, lk, lt, inner), i) <- stats.zipWithIndex) {
      offsets(i) = acc
      if (seen) {
        val fb = prev match {
          case None => true // very first event starts session 1
          case Some((pk2, pt2)) => fk != pk2 || ft - pt2 > gap
        }
        firstBreak(i) = fb
        acc += inner + (if (fb) 1L else 0L)
        prev = Some((lk, lt))
      }
    }
    // job 2: per-partition re-scan assigning ids from the offset
    appendScan(sorted) { i =>
      var sid = offsets(i)
      var seen = false
      var pk = 0L; var pt = 0L
      (row, extra) => {
        val k = row.getLong(ki); val t = row.getLong(ti)
        val brk =
          if (!seen) firstBreak(i)
          else k != pk || t - pt > gap
        if (brk) sid += 1
        seen = true; pk = k; pt = t
        extra.setLong(0, sid)
      }
    }
  }

  /** Distributed fill-forward (last observation carried forward): append
    * `out` = the most recent non-null `valueCol` of the SAME key at or
    * before each row in (key, ts, tieCols) order; rows before a key's
    * first observation stay null. Same semantics as
    * `last(value, ignoreNulls).over(Window.partitionBy(key).orderBy(ts))`
    * — and the same hot-key problem: a sensor/user emitting half the
    * rows serializes its whole timeline into one window task. A per-key
    * fold (object doc) whose state is (last non-null, seen one);
    * `valueCol` nullable LongType.
    */
  def withFillForward(df: DataFrame, keyCol: String, tsCol: String,
                      valueCol: String, tieCols: Seq[Column],
                      out: String = "filled",
                      partitions: Int = 0): DataFrame =
    perKeyFold(df, "withFillForward", keyCol, tsCol, Seq(valueCol), tieCols,
        Seq(out), nullable = true, partitions) { case Array(vi) =>
      KeyFold(Array(0L, 0L),
        (st, r) => if (!r.isNullAt(vi)) { st(0) = r.getLong(vi); st(1) = 1L },
        (a, b) => if (b(1) != 0L) b else a,
        emitIfSet)
    }

  /** Exact GLOBAL median of a LongType column at any scale — the order
    * statistic `percentile(value, 0.5)` computes by buffering all values
    * in one aggregation buffer, done distributed instead: global row
    * numbers over (value, tiebreakers) by the range-shuffle recipe, then
    * the mean of the two middle order statistics (one row for odd n —
    * the mean degenerates to the value itself; integer inputs put the
    * even-n midpoint exactly on the .5 grid, so the double is
    * engine-portable). Returns one row: (n, median).
    *
    * `tieCols` must make (value, tieCols) a total order — the
    * [[withRowNumber]] contract. Cost: the range shuffle plus the
    * p-longs stats job, a filtered scan for 2 rows, and a 2-row
    * aggregate — nothing ever holds more than a partition.
    */
  def medianOfLong(df: DataFrame, valueCol: String,
                   tieCols: Seq[Column]): DataFrame = {
    requireFresh(df, "__graft_rn")
    longField(df, valueCol, "medianOfLong needs a LongType value column")
    val (rn, n) = numbered(df, col(valueCol) +: tieCols, "__graft_rn", 0)
    require(n > 0, "medianOfLong needs a non-empty input")
    val lo = (n + 1) / 2
    val hi = (n + 2) / 2
    rn.filter(col("__graft_rn") === lo || col("__graft_rn") === hi)
      .agg(count(lit(1)).as("__k"), sum(col(valueCol)).as("__s"))
      .select(lit(n).as("n"),
        (col("__s").cast("double") / col("__k")).as("median"))
  }

  /** Per-key inclusive running total, hot-key-safe: append `out` = the
    * sum of `valueCol` over the SAME key's rows at or before each row in
    * (key, ts, tieCols) order — the
    * `sum(v).over(Window.partitionBy(key).orderBy(ts))` semantics
    * without the hot-key single-task sort: [[withRunningTotalsPerKey]]
    * with one column. Combined with
    * [[graft.ext.AsofJoin.leftAsofBig]] this gives rolling-window
    * aggregates (rolling = T(t) − T(t−W) via an as-of probe) at any key
    * skew. `valueCol` LongType, nulls count as 0 (SQL SUM).
    */
  def withRunningTotalPerKey(df: DataFrame, keyCol: String, tsCol: String,
                             valueCol: String, tieCols: Seq[Column],
                             out: String = "running_total",
                             partitions: Int = 0): DataFrame =
    sumsPerKey(df, "withRunningTotalPerKey", keyCol, tsCol, Seq(valueCol),
      tieCols, Seq(out), partitions)

  /** Multi-column variant of [[withRunningTotalPerKey]]: append one
    * inclusive per-key running total PER entry of `valueCols` (out
    * column `outs(j)` totals `valueCols(j)`) in a SINGLE range
    * shuffle + sort + two-job stitch. An operator needing several
    * running measures over the same (key, ts, tie) order — e.g. a
    * running value AND a running rank — pays one ordered pass instead
    * of one per measure; the measured difference on the 10⁸-row
    * pareto_hot_group shape is a 1.30 → ~1.0 per-row ratio (each
    * extra stitch re-sorts the whole input). LongType values, nulls
    * count 0.
    */
  def withRunningTotalsPerKey(df: DataFrame, keyCol: String, tsCol: String,
                              valueCols: Seq[String], tieCols: Seq[Column],
                              outs: Seq[String],
                              partitions: Int = 0): DataFrame = {
    require(valueCols.nonEmpty && valueCols.length == outs.length,
      s"valueCols/outs must align, got $valueCols vs $outs")
    sumsPerKey(df, "withRunningTotalsPerKey", keyCol, tsCol, valueCols,
      tieCols, outs, partitions)
  }

  /** The per-key sum fold: one running total per value column. */
  private def sumsPerKey(df: DataFrame, op: String, keyCol: String,
                         tsCol: String, valueCols: Seq[String],
                         tieCols: Seq[Column], outs: Seq[String],
                         partitions: Int): DataFrame =
    perKeyFold(df, op, keyCol, tsCol, valueCols, tieCols, outs,
        nullable = false, partitions) { vis =>
      val m = vis.length
      KeyFold(Array.ofDim[Long](m),
        (st, r) => {
          var j = 0
          while (j < m) {
            if (!r.isNullAt(vis(j))) st(j) += r.getLong(vis(j))
            j += 1
          }
        },
        (a, b) => Array.tabulate(m)(j => a(j) + b(j)),
        (st, o) => {
          var j = 0
          while (j < m) { o.setLong(j, st(j)); j += 1 }
        })
    }

  /** Per-key LAG(1), hot-key-safe: append `out` = the IMMEDIATELY
    * previous row's `valueCol` within the same key in (key, ts, tieCols)
    * order, null for each key's first row — the
    * `lag(value, 1).over(Window.partitionBy(key).orderBy(ts))` window-nav
    * semantics without the hot-key single-task sort. A per-key fold
    * (object doc) whose state is the last row seen, emitted before the
    * current row is added. Unlike fill-forward the carried value may
    * itself be null — lag of a null is null, not the previous non-null.
    * `valueCol` nullable LongType.
    */
  def withLagPerKey(df: DataFrame, keyCol: String, tsCol: String,
                    valueCol: String, tieCols: Seq[Column],
                    out: String = "lagged",
                    partitions: Int = 0): DataFrame =
    perKeyFold(df, "withLagPerKey", keyCol, tsCol, Seq(valueCol), tieCols,
        Seq(out), nullable = true, partitions) { case Array(vi) =>
      // (value, value non-null, seen a row)
      KeyFold(Array(0L, 0L, 0L),
        (st, r) => {
          val isNull = r.isNullAt(vi)
          st(0) = if (isNull) 0L else r.getLong(vi)
          st(1) = if (isNull) 0L else 1L
          st(2) = 1L
        },
        (a, b) => if (b(2) != 0L) b else a,
        emitIfSet, emitFirst = true)
    }

  /** Per-key running MAX over a total order, hot-key-safe: append `out` =
    * the maximum of `valueCol` over the same key's rows up to (and, when
    * `inclusive`, including) the current row in (key, ts, tieCols) order —
    * `max(value).over(Window.partitionBy(key).orderBy(ts)
    * [.rowsBetween(unboundedPreceding, -1)])` without the hot-key
    * single-task sort, as a per-key fold (object doc).
    *
    * The EXCLUSIVE mode (`inclusive = false`) is the interval-merge
    * primitive: a new merged segment starts exactly when a row's start
    * exceeds the max end of every EARLIER interval of its key
    * ([[graft.ext.TimeSeries.intervalCoverage]]). `out` is nullable —
    * null while the (exclusive) prefix holds no non-null value, matching
    * the SQL window frame's empty-frame null. Nulls in `valueCol` are
    * ignored (SQL MAX).
    */
  def withRunningMaxPerKey(df: DataFrame, keyCol: String, tsCol: String,
                           valueCol: String, tieCols: Seq[Column],
                           out: String = "running_max",
                           inclusive: Boolean = true,
                           partitions: Int = 0): DataFrame =
    perKeyFold(df, "withRunningMaxPerKey", keyCol, tsCol, Seq(valueCol),
        tieCols, Seq(out), nullable = true, partitions) { case Array(vi) =>
      // (max, seen a non-null) — Long has no clean -inf sentinel
      KeyFold(Array(0L, 0L),
        (st, r) => if (!r.isNullAt(vi)) {
          val v = r.getLong(vi)
          st(0) = if (st(1) != 0L) math.max(st(0), v) else v
          st(1) = 1L
        },
        (a, b) =>
          if (a(1) == 0L) b
          else if (b(1) == 0L) a
          else Array(math.max(a(0), b(0)), 1L),
        emitIfSet, emitFirst = !inclusive)
    }

  /** Per-group percent rank (feature normalization to [0, 1]),
    * hot-group-safe: `out` = (rank − 1)/(n − 1) with rank = the row's
    * 1-based position in (group, value, tieCols) order — the
    * `percent_rank()` shape with ROW_NUMBER tie semantics (ties broken
    * by `tieCols`, so every row gets a distinct rank and the result is
    * deterministic — SQL `percent_rank()`'s shared-rank ties are
    * whatever the engine's RANK says, which is why the oracle mirrors
    * the row-number formulation, not the builtin). Single-row groups
    * normalize to 0. One global [[withRowNumber]] pass + a broadcast of
    * |groups| (lo, n) rows — a group with half the input shuffles by
    * unique rank, never into one task.
    */
  def withGroupPercentRank(df: DataFrame, groupCol: String,
                           valueCol: String, tieCols: Seq[Column],
                           out: String = "pct"): DataFrame = {
    requireFresh(df, out, "__graft_rn", "__graft_lo", "__graft_n")
    val rn = withRowNumber(df,
      col(groupCol) +: col(valueCol) +: tieCols, "__graft_rn")
    val bounds = rn.groupBy(groupCol)
      .agg(min(col("__graft_rn")).as("__graft_lo"),
        count(lit(1)).as("__graft_n"))
    rn.join(broadcast(bounds), Seq(groupCol))
      .withColumn(out, when(col("__graft_n") > 1L,
        (col("__graft_rn") - col("__graft_lo")).cast("double") /
          (col("__graft_n") - 1L).cast("double")).otherwise(0.0))
      .drop("__graft_rn", "__graft_lo", "__graft_n")
  }

  /** Exact PER-GROUP WEIGHTED median, hot-group-safe: the smallest value
    * v in the group with cumulative weight(≤v) ≥ half the group's total
    * weight — the importance-weighted percentile a curation pipeline
    * needs when rows carry sampling/quality weights ("the median token
    * length, weighted by how often we'll actually train on the
    * document"). Rank definition (lower weighted median), not an
    * interpolation, so the result is an actual data value and
    * bit-portable; the half-total comparison is doubled
    * (2·W_i ≥ T) to stay in exact integers.
    *
    * Shape: ONE [[withRunningTotalPerKey]] pass ordered by (key, value,
    * tie) accumulates the weights (boundary-stitch — a hot group never
    * sorts in one task), a combinable per-key total joins back, and the
    * qualifying rows reduce by min(value). `keyCol`/`valueCol`/
    * `weightCol` LongType, weights ≥ 0 with positive group totals;
    * (key, value, tieCols) a total order.
    */
  def groupWeightedMedian(df: DataFrame, keyCol: String, valueCol: String,
                          weightCol: String,
                          tieCols: Seq[Column]): DataFrame = {
    requireFresh(df, "__graft_cw")
    val cum = withRunningTotalPerKey(df, keyCol, valueCol, weightCol,
      tieCols, out = "__graft_cw")
    val totals = cum.groupBy(keyCol)
      .agg(count(lit(1)).as("n"), sum(col(weightCol)).as("w_total"))
    cum.join(totals, Seq(keyCol))
      .filter(col("__graft_cw") * 2L >= col("w_total"))
      .groupBy(keyCol)
      .agg(min(col("n")).as("n"), min(col("w_total")).as("w_total"),
        min(col(valueCol)).as("w_median"))
  }

  /** Exact PER-GROUP median of a LongType column, hot-group-safe.
    *
    * The direct routes both break under skew: `percentile(v, 0.5)` per
    * group buffers a whole group's values in one aggregation buffer, and
    * a rank window (`row_number over partitionBy(grp) orderBy v`) sorts
    * a whole group in one task — a group holding half the input is a
    * single-task straggler either way. Distributed instead via GLOBAL
    * ranks: range-sort on (group, value, tie) and number rows with
    * [[withRowNumber]] (groups are contiguous in the total order, so a
    * group's rows occupy the global rank interval [lo, lo+n)); a
    * combinable aggregate yields each group's `lo` and `n`; the two
    * middle order statistics sit at KNOWN global ranks, so picking them
    * is an equi-join ON THE RANK — unique and uniformly distributed, so
    * the hot group's rows shuffle evenly instead of onto one reducer.
    * The median is the mean of the (one or two) picked values — integer
    * inputs put the even-n midpoint exactly on the .5 grid, so the
    * double is engine-portable ([[medianOfLong]]'s argument, per group).
    *
    * Returns (groupCol, n, median). `(group, value, tieCols)` must be a
    * total order.
    */
  def groupMedianOfLong(df: DataFrame, groupCol: String, valueCol: String,
                        tieCols: Seq[Column]): DataFrame = {
    requireFresh(df, "__rn", "__lo", "n")
    longField(df, valueCol, "groupMedianOfLong needs a LongType value column")
    val rn = withRowNumber(df,
      col(groupCol) +: col(valueCol) +: tieCols, "__rn")
    val bounds = rn.groupBy(groupCol)
      .agg(min(col("__rn")).as("__lo"), count(lit(1)).as("n"))
    // global ranks of the group's middle order statistics (1 row for odd
    // n — the two middles coincide and distinct() folds them)
    val picks = bounds.select(col(groupCol), col("n"),
      explode(array(expr("__lo + (n - 1) div 2"),
        expr("__lo + n div 2"))).as("__rn"))
      .distinct()
    // pin the pick join: both sides straddle AQE's runtime broadcast
    // threshold at bench scale, so the BHJ build-side choice races run
    // to run — and the losing choice broadcasts the CORPUS-shaped
    // ranked side (observed via q234's recurring fp flip). Shuffle-hash
    // building on the ≤ 2-rows-per-group picks side is the documented
    // shape ("rows shuffle by unique rank"): deterministic, and the
    // build stays narrow at any corpus size (the q118 discipline).
    picks.hint("shuffle_hash")
      .join(rn.select(col("__rn"), col(valueCol)), "__rn")
      .groupBy(groupCol)
      .agg(min(col("n")).as("n"),
        (sum(col(valueCol)).cast("double") / count(lit(1))).as("median"))
  }

  /** Exact PER-GROUP discrete quantile of a LongType column,
    * hot-group-safe — [[groupMedianOfLong]]'s machinery generalized to
    * any percentile (the p95/p99 latency- or length-distribution
    * feature): global ranks over the (group, value, tie) total order, a
    * combinable (lo, n) aggregate per group, then ONE equi-join on the
    * picked global rank `lo + ((n-1)*pPct) div 100` — the 0-based
    * lower-interpolation order statistic, exact in integers, no window,
    * no per-group buffering. A group holding half the input costs the
    * same as any other: its rows shuffle by unique rank, not by group.
    *
    * Returns (groupCol, n, <out> BIGINT — the picked value, making the
    * result bit-portable where an interpolated double would not be).
    */
  def groupQuantileOfLong(df: DataFrame, groupCol: String,
                          valueCol: String, pPct: Int,
                          tieCols: Seq[Column],
                          out: String = "q"): DataFrame = {
    require(pPct >= 0 && pPct <= 100,
      s"pPct must be in [0, 100], got $pPct")
    requireFresh(df, out, "__rn", "__lo", "n")
    longField(df, valueCol,
      "groupQuantileOfLong needs a LongType value column")
    val rn = withRowNumber(df,
      col(groupCol) +: col(valueCol) +: tieCols, "__rn")
    val picks = rn.groupBy(groupCol)
      .agg(min(col("__rn")).as("__lo"), count(lit(1)).as("n"))
      .select(col(groupCol), col("n"),
        expr(s"__lo + ((n - 1) * $pPct) div 100").as("__rn"))
    // same build-side pin as groupMedianOfLong (one pick row per group)
    picks.hint("shuffle_hash")
      .join(rn.select(col("__rn"), col(valueCol)), "__rn")
      .select(col(groupCol), col("n"), col(valueCol).as(out))
  }

  /** Exact NTILE(k) over a total order, same semantics as
    * `ntile(k).over(Window.orderBy(sortCols))`: with n rows, the first
    * n % k buckets get one extra row. Distributed (no single-partition
    * window); costs one extra count job over the input.
    */
  def withNtile(df: DataFrame, k: Int, sortCols: Seq[Column],
                out: String = "bucket", partitions: Int = 0): DataFrame = {
    requireFresh(df, out, "__graft_rn")
    require(k > 0, s"ntile bucket count must be positive, got $k")
    val (rn, n) = numbered(df, sortCols, "__graft_rn", partitions)
    val base = n / k
    val rem = n % k
    val cut = rem * (base + 1)
    // `div` = exact integer division on longs (Column./ would go double)
    rn.withColumn(out,
      when(col("__graft_rn") <= cut,
        expr(s"(__graft_rn - 1) div ${base + 1} + 1"))
        .otherwise(expr(
          s"$rem + (__graft_rn - 1 - $cut) div ${math.max(base, 1L)} + 1"))
        .cast("long"))
      .drop("__graft_rn")
  }
}
