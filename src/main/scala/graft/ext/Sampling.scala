package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Portable.hash60

/** Deterministic sampling and splitting for training-data pipelines.
  *
  * Everything here derives from the content key's md5 hash, never from
  * `rand()`: assignments are reproducible across runs, partitionings,
  * engines (the DuckDB oracle verifies them), and — critically — across
  * RE-RUNS OVER GROWING DATA: a document keeps its train/val/test
  * assignment when the corpus is re-snapshotted, which random splits
  * cannot guarantee without persisting state.
  */
object Sampling {

  /** Uniform bucket in [0, buckets) from the key column's content. */
  def hashBucket(key: Column, buckets: Int = 10000): Column =
    pmod(hash60(key.cast("string")), lit(buckets))

  /** Named splits by cumulative fraction over the hash space, e.g.
    * Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1). Fractions are exact
    * over the bucket space (80/10/10 => buckets [0,8000), [8000,9000),
    * [9000,10000)); actual row proportions converge by key-hash
    * uniformity.
    */
  def splitAssign(key: Column, splits: Seq[(String, Double)],
                  buckets: Int = 10000): Column = {
    require(math.abs(splits.map(_._2).sum - 1.0) < 1e-9,
      "split fractions must sum to 1")
    val b = hashBucket(key, buckets)
    val cuts = splits.scanLeft(0.0) { case (acc, (_, f)) => acc + f }.tail
    splits.zip(cuts).init.foldRight(lit(splits.last._1): Column) {
      case (((name, _), cut), acc) =>
        when(b < math.round(cut * buckets), name).otherwise(acc)
    }
  }

  /** Deterministic fractional sample: keep rows whose key hashes below the
    * fraction cut. Same key => same decision, forever.
    */
  def sampleByHash(df: DataFrame, key: Column, fraction: Double,
                   buckets: Int = 10000): DataFrame =
    df.filter(hashBucket(key, buckets) < math.round(fraction * buckets))

  /** Stratified sampling: a different keep-fraction per stratum value
    * (class rebalancing — downsample the majority class, keep the rare
    * one whole). Same content-hash determinism as [[sampleByHash]]: no
    * rand(), assignments survive re-runs over grown data. Strata not in
    * `fractions` keep `default`.
    */
  def stratifiedSample(df: DataFrame, strata: Column, key: Column,
                       fractions: Map[String, Double],
                       default: Double = 0.0,
                       buckets: Int = 10000): DataFrame = {
    val cut = fractions.foldLeft(
      lit(math.round(default * buckets)): Column) {
      case (acc, (s, f)) =>
        when(strata === s, lit(math.round(f * buckets))).otherwise(acc)
    }
    df.filter(hashBucket(key, buckets) < cut)
  }

  /** Per-row weighted sampling: keep each row with probability `weight`
    * (a column in [0,1] — e.g. a quality score), decided by the key's
    * content hash. The decision is deterministic per key, so re-runs over
    * grown data keep prior selections, and the DuckDB oracle reproduces
    * it exactly. `floor` (not cast) maps the weight to the bucket space:
    * double->int casts round half-up in some engines and truncate in
    * others, which would flip rows at the boundary.
    */
  def sampleByWeight(df: DataFrame, key: Column, weight: Column,
                     buckets: Int = 1000000): DataFrame =
    df.filter(hashBucket(key, buckets) < floor(weight * buckets))

  /** Class-balanced cap: keep at most `n` rows per group, chosen by a
    * deterministic (orderCol, tie) order. `orderCol` ties are broken by
    * a hash of the whole row, so the kept set is stable across
    * runs/partitionings even for non-unique order columns.
    *
    * Window-free since round 13 (this was the library's last per-key
    * window with unbounded-chain exposure): the plan is a two-level
    * bounded cap, the same exactness argument as
    * [[graft.functions.TopKFunctions.topkPerGroup]] — per-group top-n of
    * a union is the top-n of the parts' top-ns.
    *
    *  1. PARTIAL: one `mapPartitions` scan keeps, per group seen in the
    *     partition, only its n smallest rows by (order, tie) in a bounded
    *     heap (state ≤ min(groups-in-partition, `maxCombinerGroups`) × n
    *     rows; overflow FLUSHES the buffers and restarts — flushed
    *     partials re-cap downstream like another partition's, and a row a
    *     full heap discarded can never re-enter the global top-n because
    *     the n better rows it lost to were emitted).
    *  2. FINAL: hash-repartition on the group, sort WITHIN each
    *     partition by (group, order, tie) — a partition now holds ≤ n ×
    *     upstream-partitions rows per group, so no hot-group straggler —
    *     and stream-count the first n of each group run with O(1) state.
    *
    * A group holding half the corpus therefore never sorts in one task
    * (the old row_number window did exactly that; AQE splits skewed
    * joins, never window partitions). `orderCol` must be an atomic
    * orderable type (numeric, string, boolean, date/timestamp, decimal —
    * what a window `orderBy` accepts); kept rows are exact, arbitrary
    * only under full (order, hash-tie) collisions, as before. For
    * LongType group/order columns [[capPerGroupBig]] (boundary-stitch
    * running rank) remains the alternative with rank-value output.
    */
  def capPerGroup(df: DataFrame, groupCol: String, orderCol: String,
                  n: Int, maxCombinerGroups: Int = 1 << 15): DataFrame = {
    require(n >= 0, s"cap must be >= 0, got $n")
    require(maxCombinerGroups >= 1,
      s"maxCombinerGroups must be >= 1, got $maxCombinerGroups")
    val outCols = df.columns.toSeq
    if (n == 0) return df.limit(0)
    val tie = "__graft_cap_tie"
    val tieBreak = pmod(hash(outCols.map(col): _*), lit(1 << 30))
      .cast("long")
    val work = df.withColumn(tie, tieBreak)
    val schema = work.schema
    val gIdx = schema.fieldIndex(groupCol)
    val oIdx = schema.fieldIndex(orderCol)
    val tIdx = schema.fieldIndex(tie)
    // nulls-first ascending on the order value (window orderBy default),
    // then the hash tie; external Row values of every atomic Spark type
    // implement Comparable
    def cmpOrd(a: Any, b: Any): Int = (a, b) match {
      case (null, null) => 0
      case (null, _) => -1
      case (_, null) => 1
      case (x, y) => x.asInstanceOf[Comparable[Any]].compareTo(y)
    }
    // larger (order, tie) = evicted first
    val worstFirst = new Ordering[org.apache.spark.sql.Row] {
      def compare(x: org.apache.spark.sql.Row,
                  y: org.apache.spark.sql.Row): Int = {
        val c = cmpOrd(x.get(oIdx), y.get(oIdx))
        if (c != 0) c else java.lang.Long.compare(x.getLong(tIdx), y.getLong(tIdx))
      }
    }
    val enc = org.apache.spark.sql.Encoders.row(schema)
    val partial = work.mapPartitions { it =>
      val acc = scala.collection.mutable.HashMap
        .empty[Any, scala.collection.mutable.PriorityQueue[org.apache.spark.sql.Row]]
      def drain(): Iterator[org.apache.spark.sql.Row] = {
        val out = acc.values.toArray
        acc.clear()
        out.iterator.flatMap(_.iterator)
      }
      val batches = it.flatMap { r =>
        val g = r.get(gIdx)
        val flush = !acc.contains(g) && acc.size >= maxCombinerGroups
        val pre = if (flush) drain() else Iterator.empty
        val heap = acc.getOrElseUpdate(g,
          scala.collection.mutable.PriorityQueue.empty(worstFirst))
        if (heap.size < n) heap.enqueue(r)
        else if (worstFirst.compare(r, heap.head) < 0) {
          heap.dequeue(); heap.enqueue(r)
        }
        pre
      }
      batches ++ new Iterator[org.apache.spark.sql.Row] {
        private var inner: Iterator[org.apache.spark.sql.Row] = null
        private def tail = { if (inner == null) inner = drain(); inner }
        def hasNext: Boolean = tail.hasNext
        def next(): org.apache.spark.sql.Row = tail.next()
      }
    }(enc)
    val capped = partial
      .repartition(col(groupCol))
      .sortWithinPartitions(col(groupCol), col(orderCol), col(tie))
      .mapPartitions { it =>
        var curGroup: Any = null
        var started = false
        var kept = 0
        it.filter { r =>
          val g = r.get(gIdx)
          if (!started || !java.util.Objects.equals(g, curGroup)) {
            started = true; curGroup = g; kept = 0
          }
          kept += 1
          kept <= n
        }
      }(enc)
    capped.select(outCols.map(col): _*)
  }

  /** Hot-group-safe exact per-group cap: keep the first `n` rows of
    * each group in (group, order, tie) order — [[capPerGroup]]'s
    * semantics without its per-group window. Rank-within-group is the
    * inclusive running COUNT from
    * [[GlobalOrder.withRunningTotalPerKey]]'s range shuffle +
    * per-partition boundary stats + O(p) driver stitch, so a group
    * holding half the corpus spreads over the range partitions instead
    * of sorting in one task. Requires LongType group/order columns (the
    * stitch contract); `tieCols` must make (group, order, tie) a total
    * order or the kept set is not well-defined.
    */
  def capPerGroupBig(df: DataFrame, groupCol: String, orderCol: String,
                     n: Int, tieCols: Seq[Column]): DataFrame = {
    require(n >= 0, s"cap must be >= 0, got $n")
    GlobalOrder.withRunningTotalPerKey(
        df.withColumn("__graft_one", lit(1L)), groupCol, orderCol,
        "__graft_one", tieCols, out = "__graft_rank")
      .filter(col("__graft_rank") <= n)
      .drop("__graft_one", "__graft_rank")
  }

  /** Token-budget greedy selection (the corpus-curation step after
    * scoring: "take the best documents until the token budget is
    * spent"): rows are taken in `sortCols` order, accumulating the
    * LongType `tokensCol`, and a row is kept while the INCLUSIVE running
    * total stays ≤ `budget` — i.e. the maximal score-ordered prefix that
    * fits. Equivalent to filtering on
    * `sum(tokens).over(Window.orderBy(sortCols)) <= budget`, but built on
    * [[GlobalOrder.withRunningTotal]]'s range-partitioned prefix scan, so
    * no single executor ever holds the global order. `sortCols` must
    * include a unique tiebreaker or the selected set is not well-defined.
    */
  def selectWithinBudget(df: DataFrame, sortCols: Seq[Column],
                         tokensCol: String, budget: Long,
                         out: String = "running_tokens"): DataFrame =
    GlobalOrder.withRunningTotal(df, sortCols, tokensCol, out)
      .filter(col(out) <= budget)

  /** Deterministic epoch shuffle: a 1-based global position for every
    * row in the pseudo-random order keyed by md5("epoch<e>:" + key) —
    * the training-data ordering primitive ("shuffle the corpus
    * differently every epoch, identically on every engine and re-run").
    * Each epoch is an independent permutation (the seed is baked into
    * the hash input); the position comes from
    * [[GlobalOrder.withRowNumber]]'s range shuffle + O(p) stitch, so no
    * single executor ever holds the global order — the same recipe that
    * makes [[Packing]] corpus-order-safe. Hash ties (rare but possible)
    * are broken by the key itself, keeping the order total.
    */
  def epochOrder(df: DataFrame, key: Column, epoch: Int,
                 out: String = "shuffle_pos"): DataFrame = {
    val ek = "__graft_epoch_key"
    GlobalOrder.withRowNumber(
        df.withColumn(ek, hash60(concat(lit(s"epoch$epoch:"),
          key.cast("string")))),
        Seq(col(ek), key), out)
      .drop(ek)
  }

  /** Greedy max-coverage slice selection (facility-location-lite data
    * mixing): pick `steps` slices one at a time, each maximizing the
    * count of NOT-yet-covered elements (distinct grams, topics, users)
    * — the classic submodular-coverage greedy with its (1 − 1/e)
    * guarantee, the principled answer to "which k sources buy the most
    * vocabulary". Ties break (gain DESC, slice ASC), making the
    * selection a total order and therefore engine-portable.
    *
    * Scale: each step is one anti-join of the (slice, elem) incidence
    * against the covered-element set plus one combinable count — the
    * driver holds only the ≤ `steps` picks (an O(steps) model read, the
    * [[Stats.pcaPowerModel]] discipline), never element sets. `steps`
    * is the job multiplier; keep it ≤ ~20. Fails loud when no remaining
    * slice adds coverage (picking past saturation is a caller bug).
    * Returns (step, slice, gain, cum_coverage).
    */
  def greedyCoverage(df: DataFrame, sliceCol: String, elemCol: String,
                     steps: Int): DataFrame = {
    require(steps >= 1 && steps <= 64,
      s"steps must be in [1, 64], got $steps")
    val spark = df.sparkSession
    import spark.implicits._
    Checkpoints.scoped { scope =>
      val g = scope.cache(df.select(
        col(sliceCol).cast("string").as("__slice"),
        col(elemCol).as("__e")).distinct())
      val picks = scala.collection.mutable.ListBuffer
        .empty[(Long, String, Long, Long)]
      var cum = 0L
      for (step <- 1 to steps) {
        val taken = picks.map(_._2).toSeq
        val remaining =
          if (taken.isEmpty) g
          else g.filter(!col("__slice")
            .isin(taken.map(_.asInstanceOf[Any]): _*))
        val uncovered =
          if (taken.isEmpty) remaining
          else remaining.join(
            g.filter(col("__slice")
                .isin(taken.map(_.asInstanceOf[Any]): _*))
              .select(col("__e")).distinct(),
            Seq("__e"), "left_anti")
        val best = uncovered.groupBy(col("__slice"))
          .agg(count(lit(1)).as("__gain"))
          .orderBy(col("__gain").desc, col("__slice"))
          .limit(1).as[(String, Long)].collect()
        require(best.nonEmpty,
          s"greedyCoverage: no remaining slice adds coverage at step " +
            s"$step of $steps — the corpus saturated early")
        cum += best.head._2
        picks += ((step.toLong, best.head._1, best.head._2, cum))
      }
      spark.createDataset(picks.toSeq)
        .toDF("step", "slice", "gain", "cum_coverage")
    }
  }
}
