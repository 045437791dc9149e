package graft.ext

import scala.collection.mutable
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** Block-storage release for `localCheckpoint`'d DataFrames, and the one
  * lifecycle every iterative operator runs its loop in.
  *
  * `Dataset.unpersist()` goes through the CacheManager, which only knows
  * about `persist()`'d queries — on a checkpointed DataFrame it is a
  * silent NO-OP (verified: `getPersistentRDDs` still lists the blocks
  * after it). The blocks are held by the RDD inside the plan's LogicalRDD
  * leaf, so freeing them means unpersisting THAT RDD.
  *
  * [[scoped]] owns that bookkeeping for the loops in [[Graph]] and
  * [[DedupGroups]]. Its guarantee:
  *  - loop invariants persisted through the scope are unpersisted when
  *    the scope exits, normally or by an exception;
  *  - generations checkpointed through the scope are eager
  *    `localCheckpoint`s, recorded by their RDD;
  *  - [[Scope.release]] frees a recorded generation as soon as the loop
  *    rotates past it;
  *  - on normal exit every recorded generation that is not a leaf of the
  *    returned frame is released, and on an exception all of them are;
  *  - it never releases a frame it did not create: the caller's inputs
  *    stay pinned however they were built.
  * What the returned frame still pins is the caller's to free, with
  * [[release]], once consumed.
  */
object Checkpoints {

  /** Unpersist the checkpointed RDD(s) backing `df`. The DataFrame must
    * not be used afterwards: `localCheckpoint` truncated its lineage, so
    * the rows cannot be recomputed once the blocks are gone. No-op for
    * plans without a LogicalRDD leaf.
    */
  def release(df: DataFrame): Unit =
    checkpointRdds(df).foreach(_.unpersist(blocking = false))

  private def checkpointRdds(df: DataFrame): Seq[RDD[_]] =
    df.queryExecution.analyzed.collectLeaves().collect {
      case l: LogicalRDD => l.rdd
    }

  /** Run one iterative operator's loop inside a [[Scope]] and return its
    * result; see the object scaladoc for what the scope releases when.
    */
  def scoped(body: Scope => DataFrame): DataFrame = {
    val scope = new Scope
    val out =
      try body(scope)
      catch { case t: Throwable => scope.close(keep = Set.empty); throw t }
    scope.close(keep = checkpointRdds(out).map(_.id).toSet)
    out
  }

  /** The frames one loop pinned: persisted invariants and checkpointed
    * generations.
    */
  final class Scope private[Checkpoints] () {
    private val invariants = mutable.ArrayBuffer.empty[DataFrame]
    private val generations = mutable.LinkedHashMap.empty[Int, RDD[_]]

    /** `df.persist()`, unpersisted when the scope exits. */
    def persist(df: DataFrame): DataFrame = {
      invariants += df.persist()
      df
    }

    /** Eager `localCheckpoint` of `df` at the default storage level. */
    def checkpoint(df: DataFrame): DataFrame = record(df.localCheckpoint())

    /** Eager `localCheckpoint` of `df` at storage level `level`. */
    def checkpoint(df: DataFrame, level: StorageLevel): DataFrame =
      record(df.localCheckpoint(true, level))

    /** Free what this scope pinned for `df` — an invariant from
      * [[persist]] or the generation(s) from [[checkpoint]] it reads —
      * once the loop has rotated past it. Releasing twice, or releasing
      * a frame the scope did not pin, is a no-op.
      */
    def release(df: DataFrame): Unit = {
      val i = invariants.indexWhere(_ eq df)
      if (i >= 0) invariants.remove(i).unpersist()
      else checkpointRdds(df).foreach(r =>
        generations.remove(r.id).foreach(_.unpersist(blocking = false)))
    }

    private def record(cp: DataFrame): DataFrame = {
      checkpointRdds(cp).foreach(r => generations(r.id) = r)
      cp
    }

    private[Checkpoints] def close(keep: Set[Int]): Unit = {
      invariants.foreach(_.unpersist())
      invariants.clear()
      generations.valuesIterator.filterNot(r => keep(r.id))
        .foreach(_.unpersist(blocking = false))
      generations.clear()
    }
  }
}
