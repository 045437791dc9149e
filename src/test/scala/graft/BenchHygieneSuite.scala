package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ext.{Checkpoints, DedupGroups, Graph}

/** Bench must not accumulate pinned checkpoint blocks across queries:
  * q65/q123/q141/q143 each return (or retain) one checkpointed generation
  * per run by documented contract, and a 3-sweep bench would pin ~12 dead
  * tables if the timing loop never released them. These specs run each
  * pinning operator through the exact Bench measurement path (materialize
  * the optimized plan, then `Checkpoints.release` the returned frame) and
  * assert the persistent-RDD map ends where it started.
  */
class BenchHygieneSuite extends SparkSpec {
  import spark.implicits._

  /** Bench.once minus the clock: materialize, then release. */
  private def benchOnce(df: DataFrame): Unit = {
    df.queryExecution.toRdd.foreach(_ => ())
    Checkpoints.release(df)
  }

  private def chainEdges(n: Int): DataFrame =
    (0 until n).filter(_ % 8 != 7).map(i => (i.toLong, i + 1L))
      .toDF("doc_a", "doc_b")

  describe("Bench checkpoint hygiene") {
    it("releases every pinning operator back to a clean session") {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      // q65 shape: connected components
      benchOnce(DedupGroups.connectedComponents(chainEdges(64), maxIter = 12)
        .orderBy("id"))
      // q123 shape: pagerank (release via the generic leaf walk, the
      // Bench path)
      val e = chainEdges(64).select(col("doc_a").as("src"),
        col("doc_b").as("dst"))
      benchOnce(Graph.pagerankInt(e, iterations = 3).orderBy("node"))
      // q141 shape: keep-best representatives over CC labels
      val pairs = chainEdges(64)
      val scores = (0 to 64).map(i => (i.toLong, (i % 7).toLong))
        .toDF("doc_id", "score")
      benchOnce(DedupGroups.keepBestPerComponent(pairs, scores)
        .orderBy("component"))
      // q143 shape: k-core peeling
      benchOnce(Graph.kcoreRounds(e, k = 1, rounds = 2).orderBy("node"))
      val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
      assert(leaked.isEmpty,
        s"bench-path release must leave no pinned blocks, leaked: $leaked")
    }

    it("release is a no-op for plans without a checkpoint leaf") {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      benchOnce(spark.range(100).groupBy((col("id") % 3).as("k"))
        .agg(count(lit(1)).as("n")))
      assert((spark.sparkContext.getPersistentRDDs.keySet -- before).isEmpty)
    }
  }

  describe("Bench prev-artifact hygiene") {
    it("warns loudly when the prev artifact's query count disagrees") {
      // stale prev (r17's near-miss: 371-query r15 artifact under a
      // 375-query registry) must produce a warning
      assert(Bench.prevCountWarning(371, 375).isDefined)
      // a prev artifact can never have MORE queries than the registry
      assert(Bench.prevCountWarning(380, 375).isDefined)
      // matching counts and the no-prev-file case are silent
      assert(Bench.prevCountWarning(375, 375).isEmpty)
      assert(Bench.prevCountWarning(0, 375).isEmpty)
    }
  }

  describe("StallMeter") {
    it("reports ~zero gap over an idle window and a nonneg run max") {
      StallMeter.start()
      StallMeter.mark()
      Thread.sleep(400)
      // an unstalled 400 ms window must not register seconds of freeze
      assert(StallMeter.gapSec() < 2.0)
      assert(StallMeter.runMaxGapSec() >= 0.0)
    }
  }
}
