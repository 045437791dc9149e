package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Portable

/** Training/inference ordering operators: reproducible corpus shuffling
  * and length-bucketed token-capped batching.
  *
  * A training run needs its corpus in a SHUFFLED but REPRODUCIBLE order —
  * "shuffle" as a property of the data, not of the job: re-running the
  * pipeline (on any cluster layout) must yield byte-identical order, or
  * checkpoint resume and ablation comparisons break. Random() is exactly
  * wrong; ordering by a content hash is exactly right.
  *
  * Inference batching wants the opposite of packing: group SIMILAR-length
  * sequences so a batch's padding waste is bounded, then cap each batch's
  * total tokens. Bucketing by length band and chunking within the bucket
  * is the standard compromise.
  */
object Batching {

  /** Deterministic corpus shuffle: position = rank of the md5-derived
    * hash of `idCol` (ties broken by id). Scalable global numbering via
    * [[GlobalOrder.withRowNumber]] (range shuffle + offsets — never a
    * single-partition window); the hash makes the order pseudorandom yet
    * identical on every engine, cluster layout, and rerun. `salt` varies
    * the permutation across epochs without touching the data.
    */
  def deterministicShuffle(df: DataFrame, idCol: Column, salt: Int = 0,
                           out: String = "position"): DataFrame =
    GlobalOrder.withRowNumber(
      df.withColumn("__shuffle_key",
        Portable.hash60(salt, idCol.cast("string"))),
      Seq(col("__shuffle_key"), idCol), out)
      .drop("__shuffle_key")

  /** Length-bucketed batching: rows are banded by `size_bucket` =
    * len div bandWidth, ordered within the band by (len, id), and cut
    * into batches at every `capTokens` of cumulative tokens (the
    * fixed-chunk relaxation of greedy capacity packing, same as
    * [[Packing.chunkSpans]]: a batch holds the rows STARTING in its
    * token chunk, so its total is < capTokens + the band's max row
    * length — with bandWidth <= the padding budget that bound is tight
    * enough for inference scheduling, and the rule stays a pure column
    * program both engines agree on bit-for-bit).
    *
    * HOT-BAND SAFETY: a per-band window would sort a band's whole row
    * set in one task, and real corpora concentrate length (a
    * uniform-length corpus is ONE band). Bands are contiguous in the
    * (size_bucket, len, id) GLOBAL order, so the within-band numbers
    * derive from two [[GlobalOrder]] range-shuffle scans instead: the
    * global inclusive running total and global row number, minus each
    * band's offsets (a combinable per-band aggregate, broadcast back —
    * one row per band). Bit-identical to the window formulation
    * (asserted in Round9Suite) with no task ever holding more than a range
    * partition; the `batch_hot_band` decade shape measured the
    * all-rows-one-band adversary at ratio 0.91 (SURVEY.md).
    */
  def lengthBucketedBatches(df: DataFrame, idCol: Column, lenCol: Column,
                            bandWidth: Long, capTokens: Long): DataFrame = {
    require(bandWidth > 0 && capTokens > 0,
      s"bandWidth/capTokens must be positive, got $bandWidth/$capTokens")
    val banded = df
      .withColumn("__len", lenCol.cast("long"))
      .withColumn("size_bucket", expr(s"__len div $bandWidth"))
    val order = Seq(col("size_bucket"), col("__len"), idCol)
    val cum = GlobalOrder.withRunningTotal(banded, order, "__len", "__gcum")
    val rn = GlobalOrder.withRowNumber(cum, order, "__grn")
    // per-band offsets: the first row's (gcum - len) is the total BEFORE
    // the band, its grn the band's first global row number
    val offs = rn.groupBy("size_bucket").agg(
      min(col("__gcum") - col("__len")).as("__coff"),
      min(col("__grn")).as("__roff"))
    rn.join(broadcast(offs), "size_bucket")
      // `div` = exact integer division (Column./ would round-trip double)
      .withColumn("batch_in_bucket",
        expr(s"(__gcum - __coff - __len) div $capTokens"))
      .withColumn("pos_in_bucket",
        (col("__grn") - col("__roff") + 1L).cast("long"))
      .select(df.columns.map(col) ++ Seq(col("size_bucket"),
        col("batch_in_bucket"), col("pos_in_bucket")): _*)
  }
}
