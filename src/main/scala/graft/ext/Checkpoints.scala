package graft.ext

import scala.collection.mutable
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The one pin lifecycle: every `localCheckpoint` and `cache` an
  * operator or query takes runs through a [[Checkpoints.Scope]], which
  * frees it.
  *
  * `Dataset.unpersist()` goes through the CacheManager, which only knows
  * about `persist()`'d queries — on a checkpointed DataFrame it is a
  * silent NO-OP (verified: `getPersistentRDDs` still lists the blocks
  * after it). The blocks are held by the RDD inside the plan's LogicalRDD
  * leaf, so freeing them means unpersisting THAT RDD.
  *
  * [[scoped]] runs a body inside a scope. Its guarantee:
  *  - frames cached through the scope are unpersisted when the scope
  *    exits, normally or by an exception;
  *  - frames checkpointed through the scope are eager `localCheckpoint`s,
  *    recorded by their RDD;
  *  - [[Scope.release]] frees a recorded frame as soon as the body is
  *    done with it (a loop rotating past a generation);
  *  - on normal exit a `DataFrame` result keeps the recorded checkpoints
  *    that are leaves of its plan and every other one is released; any
  *    other result keeps nothing; on an exception all are released;
  *  - it never releases a frame it did not create: the caller's inputs
  *    stay pinned however they were built.
  * What a returned frame still pins is the caller's to free, with
  * [[release]], once consumed; Bench and Verify do so for every query.
  */
object Checkpoints {

  /** Unpersist the checkpointed RDD(s) backing `df`. The DataFrame must
    * not be used afterwards: `localCheckpoint` truncated its lineage, so
    * the rows cannot be recomputed once the blocks are gone. No-op for
    * plans without a LogicalRDD leaf.
    */
  def release(df: DataFrame): Unit =
    checkpointRdds(df).foreach(_.unpersist(blocking = false))

  /** Each checkpointed RDD under `df` once, however many leaves read it
    * (q292's union reads one 31 times).
    */
  private def checkpointRdds(df: Dataset[_]): Seq[RDD[_]] =
    df.queryExecution.analyzed.collectLeaves().collect {
      case l: LogicalRDD => l.rdd
    }.distinct

  /** Run `body` inside a [[Scope]] and return its result; see the object
    * scaladoc for what the scope releases when.
    */
  def scoped[A](body: Scope => A): A = {
    val scope = new Scope
    val out =
      try body(scope)
      catch { case t: Throwable => scope.close(keep = Set.empty); throw t }
    scope.close(keep = out match {
      case ds: Dataset[_] => checkpointRdds(ds).map(_.id).toSet
      case _ => Set.empty
    })
    out
  }

  /** The frames one body pinned: cached invariants and checkpointed
    * generations.
    */
  final class Scope private[Checkpoints] () {
    private val invariants = mutable.ArrayBuffer.empty[DataFrame]
    private val generations = mutable.LinkedHashMap.empty[Int, RDD[_]]

    /** `df.cache()`, unpersisted when the scope exits. */
    def cache(df: DataFrame): DataFrame = {
      invariants += df.cache()
      df
    }

    /** Eager `localCheckpoint` of `df` at the default storage level. */
    def checkpoint(df: DataFrame): DataFrame = record(df.localCheckpoint())

    /** Eager `localCheckpoint` of `df` at storage level `level`. */
    def checkpoint(df: DataFrame, level: StorageLevel): DataFrame =
      record(df.localCheckpoint(true, level))

    /** Free what this scope pinned for `df` — an invariant from
      * [[cache]] or the generation(s) from [[checkpoint]] it reads —
      * once the body is done with it. Releasing twice, or releasing
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
