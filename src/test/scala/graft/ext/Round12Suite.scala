package graft.ext

import graft.SparkSpec
import graft.engine.Warehouse
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class Round12Suite extends SparkSpec {
  import spark.implicits._

  describe("Warehouse.durableAdditiveMvFold") {
    // the additive-schema contract: the batch carries the summands. The
    // file stream source lists FILES in its directory (no recursion), so
    // the single part file is moved up as a flat file.
    def additive(dir: java.nio.file.Path, name: String,
                 rows: Seq[(String, Long)]): Unit = {
      val scratch = tempDir("mv_scratch")
      rows.map { case (t, v) => (t, 1L, v) }
        .toDF("event_type", "n", "vc_sum")
        .coalesce(1).write.mode("overwrite").parquet(scratch.toString)
      import scala.jdk.CollectionConverters._
      val part = java.nio.file.Files.list(scratch).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      java.nio.file.Files.move(part, dir.resolve(name),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }

    it("survives a restart from the checkpoint without double-counting") {
      val inDir = tempDir("mv_in"); val ck = tempDir("mv_ck")
      val mv = tempDir("mv_out")
      val aSchema = StructType(Seq(
        StructField("event_type", StringType),
        StructField("n", LongType), StructField("vc_sum", LongType)))
      def run(): Unit = {
        val q = spark.readStream.schema(aSchema)
          .option("maxFilesPerTrigger", "1")
          .parquet(inDir.toString)
          .writeStream
          .option("checkpointLocation", ck.toString)
          .foreachBatch(Warehouse.durableAdditiveMvFold(mv.toString,
            Seq("event_type"), Seq("n", "vc_sum"), Some("n")) _)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      additive(inDir, "a.parquet",
        Seq(("click", 10L), ("click", 20L), ("view", 5L)))
      run() // first lifetime: folds file A, then the query STOPS —
      // the kill-between-batches restart case by construction
      val afterA = Warehouse.readDurableMv(spark, mv.toString).get
        .as[(String, Long, Long)].collect().sortBy(_._1).toSeq
      assert(afterA == Seq(("click", 2L, 30L), ("view", 1L, 5L)))

      additive(inDir, "b.parquet", Seq(("click", 7L), ("buy", 100L)))
      run() // restart from the SAME checkpoint: only B may fold — the
      // source's offset log must not re-apply A, and the fold must
      // continue from the committed generation
      val afterB = Warehouse.readDurableMv(spark, mv.toString).get
        .as[(String, Long, Long)].collect().sortBy(_._1).toSeq
      assert(afterB == Seq(("buy", 1L, 100L), ("click", 3L, 37L),
        ("view", 1L, 5L)))
    }

    it("skips a re-delivered batchId (at-least-once -> exactly-once)") {
      val mv = tempDir("mv_redeliver")
      val fold = Warehouse.durableAdditiveMvFold(mv.toString,
        Seq("event_type"), Seq("n", "vc_sum"), Some("n")) _
      val b0 = Seq(("click", 1L, 10L)).toDF("event_type", "n", "vc_sum")
      fold(b0, 0L)
      // crash-after-commit re-delivery: same batchId arrives again
      // (possibly with identical content) — the guard must no-op
      fold(b0, 0L)
      fold(Seq(("click", 1L, 99L)).toDF("event_type", "n", "vc_sum"), 0L)
      val got = Warehouse.readDurableMv(spark, mv.toString).get
        .as[(String, Long, Long)].collect().toSeq
      assert(got == Seq(("click", 1L, 10L)))
      // the next batchId folds normally
      fold(Seq(("click", 2L, 30L)).toDF("event_type", "n", "vc_sum"), 1L)
      val got2 = Warehouse.readDurableMv(spark, mv.toString).get
        .as[(String, Long, Long)].collect().toSeq
      assert(got2 == Seq(("click", 3L, 40L)))
    }

    it("re-folds a crashed half-write of the SAME batch from the old " +
       "generation (crash between write and commit)") {
      val mv = tempDir("mv_crash")
      val fold = Warehouse.durableAdditiveMvFold(mv.toString,
        Seq("event_type"), Seq("n", "vc_sum"), Some("n")) _
      fold(Seq(("click", 1L, 10L)).toDF("event_type", "n", "vc_sum"), 0L)
      // simulate the crash window: gen-1 exists on disk but _committed
      // still points at gen-0 (steps 3..4 of the protocol interrupted)
      Seq(("garbage", 9L, 9L)).toDF("event_type", "n", "vc_sum")
        .write.mode("overwrite")
        .parquet(java.nio.file.Paths.get(mv.toString, "gen-1").toString)
      // the re-delivered batch 1 must fold from the COMMITTED gen-0,
      // overwriting the half-written gen-1
      fold(Seq(("view", 1L, 5L)).toDF("event_type", "n", "vc_sum"), 1L)
      val got = Warehouse.readDurableMv(spark, mv.toString).get
        .as[(String, Long, Long)].collect().sortBy(_._1).toSeq
      assert(got == Seq(("click", 1L, 10L), ("view", 1L, 5L)))
    }
  }

  describe("Round11Queries.labelCentroids cache invalidation") {
    it("observes a fresh model after the embeddings table is regenerated") {
      val dir = tempDir("centroids")
      def writeEmb(values: Seq[(Long, Seq[Float])]): Unit = {
        values.toDF("label", "embedding").coalesce(1)
          .write.mode("overwrite")
          .parquet(dir.resolve("embeddings.parquet").toString)
        // mtime granularity on some filesystems is 1 s; force distinct
        // fingerprints the way a driver-side regeneration (seconds
        // apart) would naturally have them
        import scala.jdk.CollectionConverters._
        val walk = java.nio.file.Files.walk(dir.resolve("embeddings.parquet"))
        try walk.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
          .foreach { p =>
            java.nio.file.Files.setLastModifiedTime(p,
              java.nio.file.attribute.FileTime.fromMillis(
                System.nanoTime() / 1000))
          }
        finally walk.close()
      }
      writeEmb(Seq((0L, Seq(1f, 0f)), (1L, Seq(0f, 1f))))
      val (l1, c1) = graft.queries.Round11Queries.labelCentroids(
        spark, dir.toString)
      assert(l1 == Seq(0L, 1L))
      assert(c1.head.head == 1.0)
      writeEmb(Seq((0L, Seq(3f, 0f)), (1L, Seq(0f, 5f))))
      val (_, c2) = graft.queries.Round11Queries.labelCentroids(
        spark, dir.toString)
      assert(c2.head.head == 3.0) // stale cache would still say 1.0
      assert(c2(1)(1) == 5.0)
    }
  }

  describe("GlobalOrder.withRunningMaxPerKey") {
    it("matches the window-max semantics, inclusive and exclusive") {
      // key 1: values 5, 3, 7, null, 6 in ts order; key 2: null, 4
      val df = Seq(
        (1L, 10L, Some(5L)), (1L, 20L, Some(3L)), (1L, 30L, Some(7L)),
        (1L, 40L, None), (1L, 50L, Some(6L)),
        (2L, 10L, None), (2L, 20L, Some(4L))
      ).toDF("k", "ts", "v")
      val incl = GlobalOrder.withRunningMaxPerKey(df, "k", "ts", "v",
          Seq.empty, out = "m")
        .select("k", "ts", "m").as[(Long, Long, Option[Long])]
        .collect().sortBy(r => (r._1, r._2)).toSeq
      assert(incl == Seq(
        (1L, 10L, Some(5L)), (1L, 20L, Some(5L)), (1L, 30L, Some(7L)),
        (1L, 40L, Some(7L)), (1L, 50L, Some(7L)),
        (2L, 10L, None), (2L, 20L, Some(4L))))
      val excl = GlobalOrder.withRunningMaxPerKey(df, "k", "ts", "v",
          Seq.empty, out = "m", inclusive = false)
        .select("k", "ts", "m").as[(Long, Long, Option[Long])]
        .collect().sortBy(r => (r._1, r._2)).toSeq
      assert(excl == Seq(
        (1L, 10L, None), (1L, 20L, Some(5L)), (1L, 30L, Some(5L)),
        (1L, 40L, Some(7L)), (1L, 50L, Some(7L)),
        (2L, 10L, None), (2L, 20L, None)))
    }

    it("threads the carry across many tiny partitions (hot key)") {
      // one key spanning every partition: partitions = 8 over 30 rows
      val rows = (1 to 30).map(i => (1L, i.toLong, Some(i.toLong % 7)))
      val df = rows.toDF("k", "ts", "v")
      val got = GlobalOrder.withRunningMaxPerKey(df, "k", "ts", "v",
          Seq.empty, out = "m", inclusive = false, partitions = 8)
        .select("ts", "m").as[(Long, Option[Long])]
        .collect().sortBy(_._1).toSeq
      val want = rows.map(_._2).sorted.map { ts =>
        val prev = rows.filter(_._2 < ts).flatMap(_._3)
        (ts, if (prev.isEmpty) None else Some(prev.max))
      }
      assert(got == want)
    }
  }

  describe("TimeSeries.intervalCoverage") {
    it("merges overlapping, nested, and touching intervals exactly") {
      val iv = Seq(
        // key 1: [0,10) [5,8) nested, [10,15) touching -> one segment
        // [0,15); [20,25) separate -> covered 20, 2 segments
        (1L, 0L, 10L), (1L, 5L, 8L), (1L, 10L, 15L), (1L, 20L, 25L),
        // key 2: identical starts, later end wins: [0,3) [0,7) -> 7
        (2L, 0L, 3L), (2L, 0L, 7L),
        // key 3: single interval
        (3L, 100L, 101L)
      ).toDF("k", "s", "e")
      val got = TimeSeries.intervalCoverage(iv, "k", "s", "e")
        .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
      assert(got == Seq((1L, 20L, 2L), (2L, 7L, 1L), (3L, 1L, 1L)))
    }
  }

  describe("Graph.ssspHops") {
    it("finds cheapest routes, not fewest hops, within the budget") {
      // 1 -> 3 direct costs 10; 1 -> 2 -> 3 costs 2 + 3 = 5 (2 hops)
      // 3 -> 4 costs 1; unreachable 9
      val edges = Seq((1L, 3L, 10L), (1L, 2L, 2L), (2L, 3L, 3L),
        (3L, 4L, 1L), (9L, 9L, 1L)).toDF("src", "dst", "w")
      val seeds = Seq(1L).toDF("node")
      val got3 = Graph.ssspHops(edges, seeds, maxIter = 3)
        .as[(Long, Long)].collect().sorted.toSeq
      assert(got3 == Seq((1L, 0L), (2L, 2L), (3L, 5L), (4L, 6L)))
      // with only 1 hop allowed the expensive direct edge wins
      val got1 = Graph.ssspHops(edges, seeds, maxIter = 1)
        .as[(Long, Long)].collect().sorted.toSeq
      assert(got1 == Seq((1L, 0L), (2L, 2L), (3L, 10L)))
    }

    it("multi-seed minimum and early exit on a settled graph") {
      val edges = Seq((1L, 2L, 5L), (7L, 2L, 1L)).toDF("src", "dst", "w")
      val got = Graph.ssspHops(edges, Seq(1L, 7L).toDF("node"),
          maxIter = 10)
        .as[(Long, Long)].collect().sorted.toSeq
      assert(got == Seq((1L, 0L), (2L, 1L), (7L, 0L)))
    }
  }

  describe("Stats.groupLinFit") {
    it("recovers an exact line and nulls degenerate groups") {
      val df = Seq(
        ("a", 0L, 3L), ("a", 1L, 5L), ("a", 2L, 7L), ("a", 3L, 9L),
        ("b", 4L, 1L), // n = 1 -> null fit
        ("c", 2L, 8L), ("c", 2L, 9L) // zero x-variance -> null fit
      ).toDF("g", "x", "y")
      val got = Stats.groupLinFit(df, "g", col("x"), col("y"))
        .as[(String, Long, Option[Double], Option[Double], Option[Double])]
        .collect().sortBy(_._1).toSeq
      assert(got.head == (("a", 4L, Some(2.0), Some(3.0), Some(1.0))))
      assert(got(1) == (("b", 1L, None, None, None)))
      assert(got(2) == (("c", 2L, None, None, None)))
    }
  }

  describe("Stats.cusumPeak") {
    it("matches the hand-computed scan peak") {
      // key 1: values 1,1,5,5 -> T=12, n=4
      // S_i = 1,2,7,12; dev_i = |S_i*4 - i*12| = |4-12|=8, |8-24|=16,
      // |28-36|=8, |48-48|=0 -> peak 16/4 = 4.0
      val df = Seq((1L, 1L, 1L), (1L, 2L, 1L), (1L, 3L, 5L), (1L, 4L, 5L),
        (2L, 1L, 9L)).toDF("k", "ts", "v")
      val got = Stats.cusumPeak(df, "k", "ts", "v", Seq.empty)
        .as[(Long, Long, Double)].collect().sortBy(_._1).toSeq
      assert(got == Seq((1L, 4L, 4.0), (2L, 1L, 0.0)))
    }
  }

  describe("Audits.benfordAudit") {
    it("counts leading digits and applies the injected constants") {
      val df = Seq(("t", 123L), ("t", 19L), ("t", 2L), ("t", 0L),
        ("t", -5L), ("u", 900L)).toDF("g", "v")
      val got = graft.engine.Audits.benfordAudit(df, "g", col("v"))
        .select("g", "digit", "n_total", "n", "benford_p")
        .as[(String, Long, Long, Long, Double)]
        .collect().sortBy(r => (r._1, r._2)).toSeq
      // zero and negative excluded; t has digits 1 (x2), 2 (x1)
      assert(got == Seq(
        ("t", 1L, 3L, 2L, math.log10(2.0)),
        ("t", 2L, 3L, 1L, math.log10(1.5)),
        ("u", 9L, 1L, 1L, math.log10(10.0 / 9))))
    }
  }

  describe("Profile.keySkew") {
    it("profiles the hot key, p99 rank pick, and skew ratio") {
      // counts: k=1 -> 6 rows, k=2..5 -> 1 row each; n_keys=5, n_rows=10
      // ascending counts (1,1,1,1,6); p99 rank = ceil(4.95) = 5 -> 6
      val df = (Seq.fill(6)(1L) ++ Seq(2L, 3L, 4L, 5L)).toDF("k")
      val got = Profile.keySkew(df, "k")
        .as[(Long, Long, Long, Long, Double, Double, String)]
        .collect().toSeq
      assert(got == Seq((10L, 5L, 6L, 6L, 2.0, 3.0, "1")))
    }
  }

  describe("Warehouse.sessionMerge") {
    it("merge ≡ rebuild: extends the open last session, keeps earlier " +
       "ones, stands new sessions and keys alone") {
      val gap = 10L
      def sess(df: org.apache.spark.sql.DataFrame) =
        Warehouse.sessionTable(df, "user_id", "tsu", gap,
          Seq(col("event_id")))
      val all = Seq(
        (1L, 100L, 1L), (1L, 105L, 2L), // session A: 100-105
        (1L, 200L, 3L), // session B: 200-200 (the open last)
        (2L, 50L, 4L)
      ).toDF("user_id", "tsu", "event_id")
      // delta: 205 and 212 chain onto B (within gap of the end AND of
      // each other); 300 opens a new session; user 2 far later; user 3
      // is a new key
      val delta = Seq((1L, 205L, 5L), (1L, 212L, 6L), (1L, 300L, 7L),
        (2L, 100L, 8L), (3L, 7L, 9L)).toDF("user_id", "tsu", "event_id")
      val merged = Warehouse.sessionMerge(sess(all), delta, "user_id",
          "tsu", gap, Seq(col("event_id")))
        .as[(Long, Long, Long, Long)].collect()
        .sortBy(r => (r._1, r._2)).toSeq
      val rebuilt = sess(all.unionByName(delta))
        .as[(Long, Long, Long, Long)].collect()
        .sortBy(r => (r._1, r._2)).toSeq
      assert(merged == rebuilt)
      assert(merged.contains((1L, 200L, 212L, 3L))) // B absorbed 205+212
      assert(merged.contains((1L, 300L, 300L, 1L)))
      assert(merged.contains((3L, 7L, 7L, 1L)))
    }

    it("fails loud on delta events at or before the standing end") {
      val gap = 10L
      val standing = Warehouse.sessionTable(
        Seq((1L, 100L, 1L), (1L, 200L, 2L)).toDF("user_id", "tsu",
          "event_id"), "user_id", "tsu", gap, Seq(col("event_id")))
      val late = Seq((1L, 150L, 3L)).toDF("user_id", "tsu", "event_id")
      val ex = intercept[IllegalArgumentException] {
        Warehouse.sessionMerge(standing, late, "user_id", "tsu", gap,
          Seq(col("event_id")))
      }
      assert(ex.getMessage.contains("sessionMerge contract"))
      assert(ex.getMessage.contains("[1]"))
    }
  }

  describe("Stats.madOutliers") {
    it("matches hand-computed median/MAD and shrugs off a huge outlier") {
      // group a: values 1..7 plus 10^9 -> n=8, sorted medians (4+5)/2=4.5
      // dev2 = |2v - 9|: 7,5,3,1,1,3,5, (2e9-9); sorted: 1,1,3,3,5,5,7,big
      // -> m2 = (3+5)/2 = 4 -> mad = 2.0; outliers: dev2 > 3*4=12 -> only
      // the big row
      val rows = (1L to 7L).map(v => ("a", v * 10, v)) :+
        (("a", 80L, 1000000000L))
      val df = rows.toDF("g", "id", "v")
      val got = Stats.madOutliers(df, "g", "v", Seq(col("id")))
        .as[(String, Long, Double, Double, Long)].collect().toSeq
      assert(got == Seq(("a", 8L, 4.5, 2.0, 1L)))
    }
  }

  describe("Stats.groupGini") {
    it("is 0 for equal values, known value for a concentrated group") {
      // b: (1,1,1,1) -> G = 0; c: (0,0,0,4):
      // six = 1*0+2*0+3*0+4*4 = 16, sx = 4, n = 4
      // G = (2*16 - 5*4)/(4*4) = 12/16 = 0.75
      val df = (Seq(("b", 1L, 1L), ("b", 2L, 1L), ("b", 3L, 1L),
        ("b", 4L, 1L), ("c", 1L, 0L), ("c", 2L, 0L), ("c", 3L, 0L),
        ("c", 4L, 4L), ("z", 1L, 0L))).toDF("g", "id", "v")
      val got = Stats.groupGini(df, "g", "v", Seq(col("id")))
        .as[(String, Long, Option[Double])].collect().sortBy(_._1).toSeq
      assert(got == Seq(("b", 4L, Some(0.0)), ("c", 4L, Some(0.75)),
        ("z", 1L, None))) // zero-total group -> null
    }
  }

  describe("Stats.laggedPearson") {
    it("is +1 on a linear series and pairs only existing indices") {
      // x_t = t: lag-1 pairs (t, t-1) for t=2..5 -> perfectly linear
      val df = (1L to 5L).map(t => ("a", t, t)).toDF("g", "i", "x")
      val got = Stats.laggedPearson(df, "g", "i", "x", Seq(1, 4, 9))
        .as[(String, Long, Long, Option[Double])]
        .collect().sortBy(_._2).toSeq
      assert(got.head._2 == 1L && got.head._3 == 4L)
      assert(math.abs(got.head._4.get - 1.0) < 1e-12)
      assert(got(1) == (("a", 4L, 1L, None))) // single pair -> null rho
      assert(got.size == 2) // lag 9 has no pairs at all
    }
  }

  describe("GlobalOrder.groupWeightedMedian") {
    it("picks the smallest value reaching half the total weight") {
      // key 1: (v=10,w=1) (v=20,w=2) (v=30,w=1): T=4, cum 1,3,4 ->
      // first 2*cum>=4 at v=20; key 2: all weight on the last value
      val df = Seq((1L, 10L, 1L, 1L), (1L, 20L, 2L, 2L), (1L, 30L, 1L, 3L),
        (2L, 5L, 0L, 4L), (2L, 7L, 9L, 5L)).toDF("k", "v", "w", "id")
      val got = GlobalOrder.groupWeightedMedian(df, "k", "v", "w",
          Seq(col("id")))
        .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
      assert(got == Seq((1L, 3L, 4L, 20L), (2L, 2L, 9L, 7L)))
    }
  }

  describe("Analytics.nearestEventWithin") {
    it("picks the closer side, earlier on ties, null outside tolerance") {
      val a = Seq((1L, 100L), (1L, 200L), (1L, 300L), (2L, 50L))
        .toDF("k", "tsu")
      // k=1 refs: 90 and 103 (100 -> forward 103 at d3 beats 90 at d10);
      // 195 and 205 (200 -> TIE d5 -> earlier 195); 300 -> nothing
      // within ±20; k=2: exact equal 50 -> distance 0 backward
      val b = Seq((1L, 90L), (1L, 103L), (1L, 195L), (1L, 205L),
        (1L, 400L), (2L, 50L)).toDF("k", "tsu")
      val got = Analytics.nearestEventWithin(a, b, "k", "tsu", 20L,
          "near", "dist")
        .select("k", "tsu", "near", "dist")
        .as[(Long, Long, Option[Long], Option[Long])]
        .collect().sortBy(r => (r._1, r._2)).toSeq
      assert(got == Seq(
        (1L, 100L, Some(103L), Some(3L)),
        (1L, 200L, Some(195L), Some(5L)),
        (1L, 300L, None, None),
        (2L, 50L, Some(50L), Some(0L))))
    }
  }

  describe("Graph.bfsHops byte-based broadcast threshold") {
    it("is correct with string keys on BOTH sides of the byte cutoff") {
      val edges = Seq(("a", "b"), ("b", "c"), ("a", "d"), ("d", "c"),
        ("c", "e")).toDF("src", "dst")
      val seeds = Seq("a").toDF("node")
      val want = Seq(("a", 0L), ("b", 1L), ("c", 2L), ("d", 1L), ("e", 3L))
      // broadcast branch (default 64 MB >> frontier)
      val g1 = Graph.bfsHops(edges, seeds, maxDepth = 5)
        .as[(String, Long)].collect().sorted.toSeq
      assert(g1 == want)
      // shuffle-hash branch (1-byte cap: every frontier exceeds it)
      val g2 = Graph.bfsHops(edges, seeds, maxDepth = 5, broadcastBytes = 1L)
        .as[(String, Long)].collect().sorted.toSeq
      assert(g2 == want)
    }
  }
}
