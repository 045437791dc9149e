package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

class Round7Suite extends SparkSpec {
  import spark.implicits._

  describe("Dedup.editDistancePairs blockCap") {
    val docs = Seq(
      (1L, "en", "aaaa one"), (2L, "en", "aaaa two"), (3L, "en", "aaaa six"),
      (4L, "en", "bbbb one"), (5L, "en", "bbbb one!")
    ).toDF("doc_id", "lang", "text")

    it("prunes over-cap blocks before the self-join") {
      // block 'aaaa' has 3 docs > cap 2 -> all its pairs dropped; block
      // 'bbbb' (2 docs) survives
      val got = Dedup.editDistancePairs(docs, prefixLen = 4, cmpLen = 60,
        maxDist = 5, blockCap = 2)
        .as[(Long, Long, Long)].collect().toSet
      assert(got == Set((4L, 5L, 1L)))
    }

    it("default cap keeps exact semantics (every block joins)") {
      val capped = Dedup.editDistancePairs(docs, 4, 60, 5, Int.MaxValue)
        .as[(Long, Long, Long)].collect().toSet
      assert(capped.contains((1L, 2L, 3L)) && capped.contains((4L, 5L, 1L)))
    }

    it("at-cap blocks are kept (strictly-greater pruning)") {
      val got = Dedup.editDistancePairs(docs, 4, 60, 5, blockCap = 3)
        .as[(Long, Long, Long)].collect().toSet
      // 'aaaa' has exactly 3 docs = cap -> kept
      assert(got.exists(_._1 == 1L))
    }
  }

  describe("TextAnalysis.gramNovelty") {
    it("counts first-occurrence grams by min doc_id") {
      val docs = Seq(
        (1L, "a b c d"),        // grams: "a b c", "b c d" -> both novel
        (2L, "a b c e"),        // "a b c" seen (doc 1), "b c e" novel
        (3L, "a b c d")         // both grams seen
      ).toDF("doc_id", "text")
      val full = TextAnalysis.gramNovelty(docs, 3)
        .as[(Long, Long, Long)].collect()
        .map(r => r._1 -> (r._2, r._3)).toMap
      assert(full(1L) == ((2L, 2L)))
      assert(full(2L) == ((2L, 1L)))
      assert(full(3L) == ((2L, 0L)))
    }

    it("plans the first-occurrence as a partial aggregate, not a window") {
      val docs = Seq((1L, "a b c d")).toDF("doc_id", "text")
      val plan = TextAnalysis.gramNovelty(docs, 3)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("Window"),
        s"hot-gram straggler shape resurfaced:\n$plan")
      assert(plan.contains("HashAggregate"), plan)
    }
  }

  describe("Stats.robustStats approx escape hatch") {
    val df = Seq(("g", 1L), ("g", 2L), ("g", 3L), ("g", 4L), ("g", 100L),
      ("h", 10L), ("h", 20L), ("h", 30L)).toDF("grp", "c")

    it("exact = false matches exact results when the sketch is lossless") {
      // GK with accuracy >> n returns true order statistics
      val ex = Stats.robustStats(df, "grp", col("c"))
        .orderBy("grp").collect().map(_.toSeq)
      val ap = Stats.robustStats(df, "grp", col("c"), exact = false)
        .orderBy("grp").collect().map(_.toSeq)
      // approx_percentile returns an ELEMENT (no interpolation): for the
      // odd-sized groups the medians agree exactly; for even-sized the
      // element is one of the two middle values — assert within one grid
      // step of the interpolated exact value
      ex.zip(ap).foreach { case (e, a) =>
        assert(e(0) == a(0) && e(1) == a(1))
        assert(math.abs(e(2).asInstanceOf[Double] -
          a(2).asInstanceOf[Double]) <= 0.5 + 1e-9, s"$e vs $a")
        assert(math.abs(e(3).asInstanceOf[Double] -
          a(3).asInstanceOf[Double]) <= 1.0 + 1e-9, s"$e vs $a")
      }
    }

    it("both variants share one schema") {
      val ex = Stats.robustStats(df, "grp", col("c"))
      val ap = Stats.robustStats(df, "grp", col("c"), exact = false)
      assert(ex.schema == ap.schema)
    }
  }

  describe("Dedup.jaccardPairsPrefix") {
    it("equals the exact inverted-index join on a randomized corpus") {
      // 40 docs over a tiny vocabulary => plenty of shared shingles,
      // deterministic via seeded Random
      val rnd = new scala.util.Random(7)
      val vocab = Vector("a", "b", "c", "d", "e", "f", "g", "h")
      val docs = (1L to 40L).map { id =>
        val len = 4 + rnd.nextInt(8)
        (id, Seq.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }.toDF("doc_id", "text")
      for (t <- Seq(0.3, 0.5, 0.8)) {
        val exact = Dedup.jaccardPairs(docs, t)
          .as[(Long, Long, Double)].collect().toSet
        val pref = Dedup.jaccardPairsPrefix(docs, t)
          .as[(Long, Long, Double)].collect().toSet
        assert(pref == exact, s"threshold $t: prefix filter lost/added pairs")
      }
    }

    it("keeps a boilerplate-heavy pair only via its rare shingles") {
      val docs = Seq(
        (1L, "x y z p q r"),   // shingles: "x y z","y z p","z p q","p q r"
        (2L, "x y z p q s"),   // shares 3 of its 4 ("p q s" differs)
        (3L, "q r s t u v")
      ).toDF("doc_id", "text")
      val got = Dedup.jaccardPairsPrefix(docs, 0.3)
        .as[(Long, Long, Double)].collect().toSet
      assert(got.map(p => (p._1, p._2)) == Set((1L, 2L)))
      assert(math.abs(got.head._3 - 3.0 / 5.0) < 1e-12)
    }
  }

  describe("Dedup.containmentPairs") {
    it("flags asymmetric containment that Jaccard misses") {
      // doc 1's shingles are a strict subset of doc 2's
      val docs = Seq(
        (1L, "a b c d"),                 // grams: "a b c", "b c d"
        (2L, "a b c d e f g h i j k l")  // contains both + 8 more
      ).toDF("doc_id", "text")
      val got = Dedup.containmentPairs(docs, 0.9)
        .as[(Long, Long, Double, Double)].collect()
      assert(got.length == 1)
      val (a, b, cab, cba) = got.head
      assert((a, b) == ((1L, 2L)))
      assert(cab == 1.0)               // all of doc 1 inside doc 2
      assert(math.abs(cba - 0.2) < 1e-12)  // 2 of doc 2's 10 grams
      // and Jaccard would NOT pair them at the same threshold
      assert(Dedup.jaccardPairs(docs, 0.9).count() == 0)
    }
  }

  describe("Round7Queries.q120 reconciliation") {
    it("classifies added/removed/kept with deterministic arg-extremes") {
      val dir = "/root/testdata/sf0.001"
      val rows = graft.queries.Round7Queries
        .queries("q120_full_outer_reconcile")(spark, dir)
        .collect()
      assert(rows.map(_.getString(0)).toSeq == Seq("added", "kept", "removed"))
      val o = spark.read.parquet(s"$dir/orders.parquet")
      val even = o.filter(col("o_orderkey") % 2 === 0).count()
      val third = o.filter(col("o_orderkey") % 3 === 0).count()
      val both = o.filter(col("o_orderkey") % 6 === 0).count()
      val byStatus = rows.map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(byStatus("kept") == both)
      assert(byStatus("removed") == even - both)
      assert(byStatus("added") == third - both)
    }
  }

  describe("Dedup.chunkDupStats") {
    it("counts cross-document shared chunks and flags heavy sharers") {
      val docs = Seq(
        (1L, "a b c d"), // 2-token chunks: [a b], [c d]
        (2L, "a b x y"), // shares [a b] with doc 1
        (3L, "p q r s")  // nothing shared
      ).toDF("doc_id", "text")
      val got = Dedup.chunkDupStats(docs, window = 2, maxSharedFrac = 0.5)
        .as[(Long, Long, Long, Double, Boolean)].collect()
        .map(r => r._1 -> r).toMap
      assert(got(1L) == ((1L, 2L, 1L, 0.5, false))) // 0.5 not < 0.5
      assert(got(2L) == ((2L, 2L, 1L, 0.5, false)))
      assert(got(3L) == ((3L, 2L, 0L, 0.0, true)))
    }

    it("within-document repeats alone are not shared chunks") {
      val docs = Seq((1L, "a b a b")).toDF("doc_id", "text")
      val r = Dedup.chunkDupStats(docs, 2, 0.5)
        .as[(Long, Long, Long, Double, Boolean)].collect().head
      // both chunks are [a b] but chunk_df counts DISTINCT docs = 1
      assert(r._3 == 0L && r._5)
    }
  }

  describe("GlobalOrder.medianOfLong") {
    it("picks the middle order statistic for odd counts") {
      val odd = Seq(5L, 1L, 9L, 3L, 7L).zipWithIndex
        .map { case (v, i) => (v, i.toLong) }.toDF("v", "id")
      val r = GlobalOrder.medianOfLong(odd, "v", Seq(col("id")))
        .as[(Long, Double)].collect().head
      assert(r == ((5L, 5.0)))
    }

    it("averages the two middle order statistics for even counts") {
      val even = Seq(4L, 1L, 3L, 2L).zipWithIndex
        .map { case (v, i) => (v, i.toLong) }.toDF("v", "id")
      val r = GlobalOrder.medianOfLong(even, "v", Seq(col("id")))
        .as[(Long, Double)].collect().head
      assert(r == ((4L, 2.5)))
    }
  }

  describe("Drift.frequencyDrift") {
    it("reports exact per-bucket terms and marks new buckets") {
      val cur = Seq(1, 1, 2, 3).toDF("b") // 1->2, 2->1, 3->1 of 4
      val ref = Seq(1, 2, 2, 2).toDF("b") // 1->1, 2->3 of 4
      val got = Drift.frequencyDrift(cur, ref, col("b"))
        .orderBy("bucket").collect()
      assert(got.length == 3)
      val b1 = got(0); val b2 = got(1); val b3 = got(2)
      assert(b1.getLong(1) == 2 && b1.getLong(2) == 1)
      assert(math.abs(b1.getDouble(5) - 0.25) < 1e-15)       // |0.5-0.25|
      assert(math.abs(b1.getDouble(6) - 0.25) < 1e-15)       // 0.0625/0.25
      assert(math.abs(b2.getDouble(6) - 0.25 / 0.75) < 1e-15)
      // bucket 3 is NEW (absent from ref): chi2 is null, not infinity
      assert(b3.getLong(2) == 0 && b3.isNullAt(6))
      assert(math.abs(b3.getDouble(5) - 0.25) < 1e-15)
    }
  }

  describe("Graph.pagerankInt") {
    it("matches hand-computed integer ranks on a 3-node graph") {
      // a→b, a→c, b→a: outdeg(a)=2, outdeg(b)=1, c dangling
      val edges = Seq(("a", "b"), ("a", "c"), ("b", "a"))
        .toDF("src", "dst")
      val got = Graph.pagerankInt(edges, 3)
        .as[(String, Long)].collect().toMap
      // r1: a=150000+850000, b=c=150000+85*500000/100
      // r2: a=150000+85*575000//100=638750, b=c=575000
      // r3: a=638750, b=c=150000+(85*(638750 div 2)) div 100=421468
      assert(got == Map("a" -> 638750L, "b" -> 421468L, "c" -> 421468L))
    }

    it("rotates intermediate checkpoints and Checkpoints.release frees the last") {
      // compare RDD-id SETS, not sizes: the ContextCleaner reaps earlier
      // tests' unreferenced checkpoints on GC, so absolute counts race
      val edges = Seq(("a", "b"), ("b", "a")).toDF("src", "dst")
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val ranks = Graph.pagerankInt(edges, 3)
      ranks.collect() // consume, then release
      // in-loop rotation must go through Checkpoints.release —
      // Dataset.unpersist() is a CacheManager no-op on checkpointed
      // frames, so the naive rotation pins one generation per iteration
      val pinned = spark.sparkContext.getPersistentRDDs.keySet -- before
      assert(pinned.size == 1,
        s"exactly the final rank checkpoint should be pinned, got $pinned")
      Checkpoints.release(ranks)
      assert((spark.sparkContext.getPersistentRDDs.keySet & pinned).isEmpty,
        "Checkpoints.release must unpin the checkpoint blocks")
    }

    it("total rank mass never exceeds the starting mass") {
      val edges = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"))
        .toDF("src", "dst")
      val total = Graph.pagerankInt(edges, 4)
        .agg(sum("rank")).as[Long].collect().head
      // integer truncation only ever DROPS mass vs the ideal 3e6
      assert(total <= 3L * Graph.Scale && total > 2L * Graph.Scale)
    }

    // a cycle, a fork, a self-loop and a dangling node
    def mixedGraph = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("a", "d"),
      ("d", "d"), ("b", "e")).toDF("src", "dst")

    def ranksOf(df: org.apache.spark.sql.DataFrame): Map[String, Long] = {
      val got = df.as[(String, Long)].collect().toMap
      Checkpoints.release(df)
      got
    }

    it("weighted: matches hand-computed integer ranks on a 3-node graph") {
      // a→b w=1, a→c w=3, b→a w=2: Σw(a)=4, Σw(b)=2, c dangling;
      // share = (rank · w) div Σw(src), rank = 150000 + (85·Σshare) div 100
      val edges = Seq(("a", "b", 1L), ("a", "c", 3L), ("b", "a", 2L))
        .toDF("src", "dst", "w")
      // r1: a=150000+850000, b=150000+85*250000/100, c=150000+85*750000/100
      // r2: a=150000+85*362500/100=458125, b=362500, c=787500
      // r3: b=150000+(85*(458125 div 4)) div 100=247351,
      //     c=150000+(85*(458125*3 div 4)) div 100=442054, a=458125
      assert(ranksOf(Graph.pagerankWeightedInt(edges, 3)) ==
        Map("a" -> 458125L, "b" -> 247351L, "c" -> 442054L))
    }

    it("weighted with uniform weights equals the unweighted ranks") {
      val plain = ranksOf(Graph.pagerankInt(mixedGraph, 4))
      assert(ranksOf(Graph.pagerankWeightedInt(
        mixedGraph.withColumn("w", lit(1L)), 4)) == plain)
    }

    it("personalized with every node seeded equals the unweighted ranks") {
      val e = mixedGraph
      val every = e.select(col("src").as("n")).union(e.select("dst"))
      val plain = ranksOf(Graph.pagerankInt(e, 4, dampingPct = 70))
      assert(ranksOf(Graph.personalizedPagerankInt(e, every, 4,
        dampingPct = 70)) == plain)
    }
  }

  describe("DedupGroups.connectedComponents checkpoint rotation") {
    it("pins only the final label table; Checkpoints.release frees it") {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
        .toDF("doc_a", "doc_b") // a chain -> multiple propagation rounds
      val labels = DedupGroups.connectedComponents(pairs)
      assert(labels.select("component").distinct().count() == 1)
      val pinned = spark.sparkContext.getPersistentRDDs.keySet -- before
      assert(pinned.size == 1,
        s"intermediate rounds' checkpoints must be released in the loop, got $pinned")
      Checkpoints.release(labels)
      assert((spark.sparkContext.getPersistentRDDs.keySet & pinned).isEmpty)
    }

    it("releases every round's checkpoint when it does not converge") {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val chain = (1L to 6L).map(i => (i, i + 1L)).toDF("doc_a", "doc_b")
      intercept[IllegalStateException] {
        DedupGroups.connectedComponents(chain, maxIter = 1)
      }
      val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
      assert(leaked.isEmpty, s"the throw path must release, leaked $leaked")
    }

    it("never releases the caller's checkpointed pairs") {
      val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (7L, 8L))
        .toDF("doc_a", "doc_b").localCheckpoint()
      val labels = DedupGroups.connectedComponents(pairs)
      assert(labels.count() == 6)
      Checkpoints.release(labels)
      assert(pairs.count() == 4)
      Checkpoints.release(pairs)
    }
  }

  describe("Warehouse partitioned layout") {
    it("pruned reads plan PartitionFilters on the partition column") {
      val tmp = tempDir("r7_part")
      val li = spark.read
          .parquet("/root/testdata/sf0.001/lineitem.parquet")
          .select("l_orderkey", "l_returnflag", "l_quantity")
      graft.engine.Warehouse.writePartitioned(li, s"$tmp/li",
        "l_returnflag")
      val q = spark.read.parquet(s"$tmp/li")
        .filter(col("l_returnflag") === "R")
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters") &&
        plan.matches("(?s).*PartitionFilters: \\[[^\\]]*l_returnflag[^\\]]*\\].*"),
        s"expected a pushed partition filter in:\n$plan")
      // and the pruned read matches the plain filter
      assert(q.count() == li.filter(col("l_returnflag") === "R").count())
    }
  }

  describe("EventStream.slidingCounts fan-out edges") {
    it("assigns a slide-boundary event to exactly 4 windows, end-exclusive") {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import graft.streaming.EventStream
      implicit val sc = spark.sqlContext
      val src = MemoryStream[EventStream.Event]
      // ts sits EXACTLY on a 15-min slide boundary: the 1h/15min windows
      // containing it are starts 09:30..10:15 — the window ENDING at
      // 10:15 must exclude it (end-exclusive), the one STARTING at 10:15
      // must include it.
      src.addData(EventStream.Event(1L,
        java.sql.Timestamp.valueOf("2026-01-01 10:15:00"), 1L, "click", 2.0))
      val out = EventStream.runToMemory(
        EventStream.slidingCounts(src.toDF()), "sliding_edge_test")
      val starts = out.orderBy("window_start").collect()
        .map(_.getAs[java.sql.Timestamp]("window_start").toString).toSeq
      assert(starts == Seq("2026-01-01 09:30:00.0", "2026-01-01 09:45:00.0",
        "2026-01-01 10:00:00.0", "2026-01-01 10:15:00.0"))
      assert(out.collect().forall(r =>
        r.getAs[Long]("n") == 1L && r.getAs[Double]("value_sum") == 2.0))
    }
  }

  describe("PERMISSIVE corrupt-record accounting (q128 shape)") {
    it("routes a schema-drift line (valid JSON, wrong type) to _corrupt") {
      val tmp = tempDir("r8_jsonl")
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$tmp/data.json"),
        """{"l_orderkey": 1, "l_quantity": 2.5}
          |{"l_orderkey": "not-a-number", "l_quantity": 3.0}
          |{broken
          |""".stripMargin)
      val read = spark.read
        .schema("l_orderkey BIGINT, l_quantity DOUBLE, _corrupt STRING")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .json(tmp.toString)
      val rows = read.collect()
      assert(rows.length == 3)
      // drifted line: parses as JSON but fails the BIGINT cast -> raw
      // text lands in _corrupt (counted bad, never silently dropped or
      // half-parsed into the aggregate)
      val bad = rows.filter(r => !r.isNullAt(2))
      assert(bad.length == 2)
      assert(bad.exists(_.getString(2).contains("not-a-number")))
      assert(bad.exists(_.getString(2).contains("{broken")))
      val good = rows.filter(_.isNullAt(2))
      assert(good.length == 1 && good.head.getLong(0) == 1L &&
        good.head.getDouble(1) == 2.5)
    }
  }

  describe("IvfIndex.cellRepresentatives") {
    // centroid 0 at origin, centroid 1 far away: ids 3 and 5 are BOTH at
    // dist²=1 from centroid 0 — the deterministic tiebreak must pick the
    // lower vec_id.
    def model = {
      val corpus = Seq(
        (5L, Seq(1.0, 0.0)), (3L, Seq(0.0, 1.0)), (9L, Seq(0.5, 0.5)),
        (2L, Seq(10.0, 10.0))
      ).toDF("vec_id", "embedding")
      IvfIndex.fromCentroids(spark, corpus,
        Seq(Seq(0.0, 0.0), Seq(10.0, 10.0)))
    }

    it("breaks distance ties by the lower vec_id") {
      val got = IvfIndex.cellRepresentatives(model)
        .as[(Long, Long, Long, Double)].collect().toSeq
      // cell 0: ids {3,5,9}; 9 is closest (0.5) -> rep 9; cell 1: only 2
      assert(got == Seq((0L, 3L, 9L, 0.5), (1L, 1L, 2L, 0.0)))
      // force the tie: drop vector 9 so 3 and 5 tie at dist²=1
      val tied = IvfIndex.cellRepresentatives(
        model.copy(assigned = model.assigned.filter(col("vec_id") =!= 9L)))
        .as[(Long, Long, Long, Double)].collect().toSeq
      assert(tied.head == ((0L, 2L, 3L, 1.0)))
    }

    it("plans the per-cell argmin as a partial aggregate, not a window") {
      val plan = IvfIndex.cellRepresentatives(model)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("Window"),
        s"hot-cell straggler shape resurfaced:\n$plan")
      assert(plan.contains("Aggregate"), plan)
    }
  }

  describe("Round7Queries.q116 bucketed-join parity") {
    it("bucketed aggregate equals the plain-join aggregate") {
      val dir = "/root/testdata/sf0.001"
      val got = graft.queries.Round7Queries
        .queries("q116_bucketed_join")(spark, dir)
        .collect().map(_.toSeq)
      val li = spark.read.parquet(s"$dir/lineitem.parquet")
      val ord = spark.read.parquet(s"$dir/orders.parquet")
      val want = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          sum(Stats.cents(col("l_extendedprice"))).as("price_cents"),
          round(sum("l_quantity"), 2).as("qty"))
        .orderBy("o_orderpriority")
        .collect().map(_.toSeq)
      assert(got.toSeq == want.toSeq)
    }
  }
}
