package graft.ext

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import graft.SparkSpec

/** [[Checkpoints.scoped]] is the one place a pin is taken and freed. */
class CheckpointsSuite extends SparkSpec {

  private val home = Paths.get("src/main/scala/graft/ext/Checkpoints.scala")

  private def mainSources: Seq[Path] = {
    val walk = Files.walk(Paths.get("src/main"))
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  /** Source files under the `roots`, other than Checkpoints itself, whose
    * text matches `pattern`, and the number of matches in each.
    */
  private def offenders(pattern: String, roots: String*): Map[String, Int] =
    mainSources.filter(p => p != home && roots.exists(r => p.startsWith(r)))
      .flatMap { p =>
        val n = pattern.r.findAllMatchIn(Files.readString(p)).size
        if (n == 0) None else Some(p.toString -> n)
      }.toMap

  describe("the pin lifecycle") {
    it("takes every checkpoint and cache in ext/Checkpoints.scala") {
      assert(mainSources.contains(home))
      val found = offenders("""\.localCheckpoint\(|\.cache\(\)|\.persist\(""",
        "src/main")
      assert(found.isEmpty, "pin through Checkpoints.scoped instead: " +
        found.mkString(", "))
    }

    it("leaves no hand-written release in ext/ or queries/") {
      val found = offenders("""Checkpoints\.release|\.unpersist\(""",
        "src/main/scala/graft/ext", "src/main/scala/graft/queries")
      assert(found.isEmpty, "let the scope free it instead: " +
        found.mkString(", "))
    }
  }

  describe("Checkpoints.release") {
    it("unpersists a checkpoint once however many leaves read it") {
      import org.apache.spark.scheduler.{SparkListener, SparkListenerUnpersistRDD}
      import org.apache.spark.sql.graftshim.BusDrain
      val df = Checkpoints.scoped { scope =>
        val cp = scope.checkpoint(spark.range(10).toDF("id"))
        cp.union(cp).union(cp)
      }
      val unpersists = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
      val listener = new SparkListener {
        override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit =
          unpersists.add(e.rddId)
      }
      BusDrain.drain(spark.sparkContext)
      spark.sparkContext.addSparkListener(listener)
      try {
        Checkpoints.release(df)
        BusDrain.drain(spark.sparkContext)
      } finally spark.sparkContext.removeSparkListener(listener)
      assert(unpersists.size == 1, s"unpersisted $unpersists")
    }
  }

  describe("an operator that throws after pinning") {
    it("Pq.trainCodebooks leaves no cached sample when a fit throws") {
      val s = spark
      import s.implicits._
      val corpus = (1 to 8).map(i => (i.toLong, Array.fill(4)(i.toFloat)))
        .toDF("vec_id", "embedding")
      val cachedBefore = cachedEntries
      // Spark ML's KMeans requires k > 1
      intercept[IllegalArgumentException] {
        Pq.trainCodebooks(spark, corpus, dim = 4, m = 2, k = 1)
      }
      assert(cachedEntries == cachedBefore, "the training sample stayed cached")
    }

    it("Dedup.jaccardPairsAuto releases its census when the prefix branch throws") {
      val s = spark
      import s.implicits._
      val docs = (1 to 6).map(i =>
        (i.toLong, "alpha beta gamma delta epsilon zeta eta theta"))
        .toDF("doc_id", "text")
      val before = spark.sparkContext.getPersistentRDDs.keySet
      // any shared shingle makes the tiny budget pick the prefix branch,
      // which rejects the threshold only after the census is pinned
      intercept[IllegalArgumentException] {
        Dedup.jaccardPairsAuto(docs, threshold = 1.5, passBudget = 1e-9)
      }
      val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
      assert(leaked.isEmpty, s"the throw path must release, leaked $leaked")
    }
  }
}
