package graft

import scala.util.hashing.MurmurHash3

/** Tier-1 slice of the query registry: the graph queries, the
  * connected-component queries, the other queries that pin through
  * [[graft.ext.Checkpoints.scoped]] and the IVF/PQ vector queries, run
  * through [[SparkEntry.run]] at sf0.001 on the shared test session. Each
  * query must give the same order-insensitive row hash on two runs, and
  * once `SparkEntry.run` has released what it pinned (the Bench path) it
  * must leave no persistent RDD and no cached relation behind. The vector
  * queries must also compile every generated class: a whole-stage codegen
  * compile that fails falls back to interpreted execution on every run
  * without failing the query, so only the log shows it.
  *
  * The tables are perfbench's copy of the seed-42 sf0.001 set, which is
  * byte-identical to the set the oracle is checked on.
  */
class GraphRegistrySuite extends SparkSpec {

  private val sfDir = "perfbench/data/sf0.001"

  private val graphQueries = Seq("q123_pagerank", "q133_triangles",
    "q143_kcore", "q156_seeded_pagerank", "q158_label_propagation",
    "q183_bfs_hops", "q202_sssp", "q226_weighted_pagerank",
    "q259_local_clustering")

  private val componentQueries = Seq("q65_dedup_groups",
    "q141_dedup_keep_best", "q149_leakage_free_split",
    "q212_entity_resolution", "q293_dedup_cluster_census",
    "q367_winnow_components")

  /** Queries that reach a scoped pin outside the graph and CC loops: a
    * query-level checkpoint (q188, q200, q208, q267) or an operator's
    * (the q118 census, basketLift, ksDriftBins, trainCodebooks,
    * greedyCoverage, bpeTrain, KMeans.lloyd, Pca, Perceptron,
    * bpeTrainBatched).
    */
  private val scopedPinQueries = Seq("q118_jaccard_prefix",
    "q188_scd2_merge", "q190_basket_lift", "q200_streaming_mv_refresh",
    "q208_streaming_durable_mv", "q267_hits", "q292_ks_drift",
    "q315_pq_error", "q317_greedy_coverage", "q354_bpe_train",
    "q356_kmeans_centroids", "q361_pca_component", "q364_perceptron_train",
    "q378_bpe_train_batched")

  /** Queries on the IVF assignment and probe ([[graft.ext.IvfIndex]]) and
    * the PQ encode and ADC ([[graft.ext.Pq]]).
    */
  private val vectorQueries = Seq("q64_ann_ivf", "q72_ann_ivf_matrix",
    "q99_semdedup", "q129_cell_representatives", "q194_label_confusion",
    "q315_pq_error", "q316_pq_adc", "q318_ivf_pq", "q319_pq_recall",
    "q336_ivf_adc_residual")

  private val nanosConf = "spark.sql.legacy.parquet.nanosAsLong"

  /** One run: collect, release, and hash the rows in any order. */
  private def runOnce(name: String): Int =
    SparkEntry.run(spark, sfDir, name)(df =>
      MurmurHash3.unorderedHash(df.collect().map(_.toString)))

  for ((group, names) <- Seq("graph" -> graphQueries,
      "connected-component" -> componentQueries,
      "scoped-pin" -> scopedPinQueries, "vector" -> vectorQueries);
      name <- names)
    describe(s"registry $group query $name") {
      it("is deterministic and releases everything it pins") {
        // the events readers turn nanosAsLong on for the session; put it
        // back so later suites see the session as they left it
        val nanos = spark.conf.getOption(nanosConf)
        try {
          val rddsBefore = spark.sparkContext.getPersistentRDDs.keySet
          val cachedBefore = cachedEntries
          val first = runOnce(name)
          assert(runOnce(name) == first, "two runs hashed differently")
          val leaked =
            spark.sparkContext.getPersistentRDDs.keySet -- rddsBefore
          assert(leaked.isEmpty, s"persistent RDDs left behind: $leaked")
          assert(cachedEntries == cachedBefore,
            "cached relations left behind")
        } finally nanos match {
          case Some(v) => spark.conf.set(nanosConf, v)
          case None => spark.conf.unset(nanosConf)
        }
      }
    }

  describe("registry vector queries") {
    it("compile every generated class") {
      import org.apache.logging.log4j.LogManager
      import org.apache.logging.log4j.core.{LogEvent, Logger}
      import org.apache.logging.log4j.core.appender.AbstractAppender
      import org.apache.logging.log4j.core.config.Property
      val failed = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val capture = new AbstractAppender("graft-codegen-capture", null, null,
          true, Property.EMPTY_ARRAY) {
        override def append(e: LogEvent): Unit = {
          val msg = e.getMessage.getFormattedMessage
          if (msg.contains("Failed to compile the generated Java code"))
            failed.add(msg)
        }
      }
      capture.start()
      // start the session first: its start-up reconfigures log4j, which
      // would drop an appender added before it
      spark.sparkContext
      val loggers = Seq(
        "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator",
        "org.apache.spark.sql.execution.WholeStageCodegenExec")
        .map(LogManager.getLogger(_).asInstanceOf[Logger])
      loggers.foreach(_.addAppender(capture))
      try {
        val bad = vectorQueries.filter { name =>
          val before = failed.size
          runOnce(name)
          failed.size > before
        }
        assert(bad.isEmpty, s"whole-stage codegen failed to compile for $bad")
      } finally {
        loggers.foreach(_.removeAppender(capture))
        capture.stop()
      }
    }
  }
}
