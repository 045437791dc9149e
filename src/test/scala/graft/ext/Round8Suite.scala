package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

class Round8Suite extends SparkSpec {
  import spark.implicits._

  describe("TextAnalysis.bm25Terms") {
    val docs = Seq((1L, "a b a"), (2L, "b c")).toDF("doc_id", "text")

    it("matches the hand-computed odds-idf formula") {
      val got = TextAnalysis.bm25Terms(docs, Seq("a", "c"))
        .as[(Long, String, Long, Long, Long, Double)].collect()
        .map(r => (r._1, r._2) -> r).toMap
      assert(got.keySet == Set((1L, "a"), (2L, "c")))
      // N=2, total=5: doc 1 "a": tf=2, dl=3, df=1
      val idf = (2.0 - 1.0 + 0.5) / (1.0 + 0.5)
      val want = idf * (2.0 * 2.2) /
        (2.0 + 1.2 * (0.25 + 0.75 * (3.0 * 2.0 / 5.0)))
      val (_, _, tf, dl, df, score) = got((1L, "a"))
      assert((tf, dl, df) == ((2L, 3L, 1L)))
      assert(math.abs(score - want) < 1e-15, s"$score vs $want")
    }

    it("only query terms appear, non-matching docs drop out") {
      val got = TextAnalysis.bm25Terms(docs, Seq("z"))
      assert(got.count() == 0)
    }
  }

  describe("TextAnalysis.tokenDiversity") {
    it("collision is 1 for one repeated token, 1/n for all-distinct") {
      val docs = Seq((1L, "a a a a"), (2L, "a b c d")).toDF("doc_id", "text")
      val got = TextAnalysis.tokenDiversity(docs)
        .as[(Long, Long, Long, Long, Double)].collect()
        .map(r => r._1 -> r).toMap
      assert(got(1L) == ((1L, 4L, 1L, 16L, 1.0)))
      assert(got(2L) == ((2L, 4L, 4L, 4L, 0.25)))
    }
  }

  describe("TextAnalysis.tokenRarity") {
    it("buckets df by binary magnitude, exactly") {
      // df(a)=3 -> bin "11" -> 2 bits; df(b)=1 -> 1 bit
      val docs = Seq((1L, "a"), (2L, "a"), (3L, "a b")).toDF("doc_id", "text")
      val got = TextAnalysis.tokenRarity(docs)
        .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
      assert(got(1L) == ((1L, 1L, 2L, 2.0)))
      assert(got(3L) == ((3L, 2L, 3L, 1.5)))
    }
  }

  describe("Graph.triangleCount") {
    it("counts K4 as 4 triangles, chains as 0") {
      val k4 = Seq((1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4))
        .toDF("src", "dst")
      assert(Graph.triangleCount(k4).as[Long].collect().head == 4L)
      val chain = Seq((1, 2), (2, 3), (3, 4)).toDF("src", "dst")
      assert(Graph.triangleCount(chain).as[Long].collect().head == 0L)
    }

    it("ignores duplicate, reversed, and self edges") {
      val messy = Seq((1, 2), (2, 1), (2, 3), (3, 1), (1, 1), (2, 3))
        .toDF("src", "dst")
      assert(Graph.triangleCount(messy).as[Long].collect().head == 1L)
    }

    it("a star hub yields no triangles (orientation bounds the wedges)") {
      val star = (2 to 40).map(i => (1, i)).toDF("src", "dst")
      assert(Graph.triangleCount(star).as[Long].collect().head == 0L)
    }
  }

  describe("Dedup.minhashEstimateVsExact") {
    it("estimates 1.0 for identical docs and tracks exact Jaccard") {
      val docs = Seq(
        (1L, "one two three four five six seven"),
        (2L, "one two three four five six seven"),   // identical to 1
        (3L, "one two three four five nine ten"),    // near-dup of 1
        (4L, "totally different text with no shared shingles here")
      ).toDF("doc_id", "text")
      val got = Dedup.minhashEstimateVsExact(docs)
        .as[(Long, Long, Long, Double, Double, Double)].collect()
        .map(r => (r._1, r._2) -> r).toMap
      val identical = got((1L, 2L))
      assert(identical._3 == 16L && identical._4 == 1.0 &&
        identical._5 == 1.0 && identical._6 == 0.0)
      // candidates never include the unrelated doc
      assert(!got.keySet.exists { case (a, b) => a == 4L || b == 4L })
      // estimate stays a valid probability and error is |est - exact|
      got.values.foreach { r =>
        assert(r._4 >= 0.0 && r._4 <= 1.0)
        assert(math.abs(r._6 - math.abs(r._4 - r._5)) < 1e-6)
      }
    }
  }

  describe("Warehouse.applyChangelog") {
    it("applies latest-version semantics: upsert, delete, resurrect") {
      val base = Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("k", "v")
      val changes = Seq(
        (2L, 1L, "U", 21L), (2L, 2L, "D", 0L),              // 2: deleted
        (3L, 1L, "D", 0L), (3L, 2L, "U", 33L),              // 3: resurrected
        (9L, 1L, "I", 99L)                                  // 9: new key
      ).toDF("k", "version", "op", "v")
      val got = graft.engine.Warehouse
        .applyChangelog(base, changes, "k", "version", "op", Seq("v"))
        .as[(Long, Long)].collect().toSet
      assert(got == Set((1L, 10L), (3L, 33L), (9L, 99L)))
    }
  }

  describe("ZOrder") {
    it("interleaves bits exactly") {
      // x=0b101 (bits 0,2 -> positions 0,4), y=0b011 (bits 0,1 -> 1,3)
      val got = Seq((5L, 3L)).toDF("x", "y")
        .select(ZOrder.zValue(col("x"), col("y"), 4).as("z"))
        .as[Long].collect().head
      assert(got == ((1L << 0) | (1L << 4) | (1L << 1) | (1L << 3)))
    }

    it("writes range-disjoint z-spans per file (the skipping property)") {
      val tmp = tempDir("r8_zorder")
      val df = spark.range(20000).select(
        (col("id") % 512).as("x"), ((col("id") * 7) % 512).as("y"))
      ZOrder.writeZOrdered(df, s"$tmp/z", col("x"), col("y"),
        bits = 9, partitions = 8)
      val spans = spark.read.parquet(s"$tmp/z")
        .groupBy(input_file_name().as("f"))
        .agg(min("z").as("lo"), max("z").as("hi"))
        .orderBy("lo")
        .as[(String, Long, Long)].collect()
      assert(spans.length == 8)
      spans.sliding(2).foreach {
        case Array(a, b) => assert(a._3 < b._2,
          s"overlapping file z-spans: $a vs $b")
        case _ =>
      }
      // layout is result-invisible
      assert(spark.read.parquet(s"$tmp/z").count() == 20000)
    }
  }

  describe("Graph.kcoreRounds") {
    it("peels a pendant chain off a K4 core") {
      // K4 on {1,2,3,4} + chain 4-5-6: at k=3 the chain peels (node 5
      // loses 6 in round 1, then 4 loses nothing — deg(4)=3 survives)
      val edges = (Seq((1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)) ++
        Seq((4, 5), (5, 6))).toDF("src", "dst")
      val got = Graph.kcoreRounds(edges, 3, 3)
        .as[(Int, Long)].collect().toMap
      assert(got == Map(1 -> 3L, 2 -> 3L, 3 -> 3L, 4 -> 3L))
    }

    it("peeling cascades across rounds") {
      // chain 1-2-3-4 at k=2: ends peel first, interior follows —
      // after 2+ rounds nothing survives
      val chain = Seq((1, 2), (2, 3), (3, 4)).toDF("src", "dst")
      assert(Graph.kcoreRounds(chain, 2, 1).count() == 2) // interior survives r1
      assert(Graph.kcoreRounds(chain, 2, 3).count() == 0)
    }
  }

  describe("TimeSeries.maxConcurrency") {
    it("sweeps overlapping intervals to the per-bucket max") {
      val iv = Seq((1L, 0L, 10L), (2L, 5L, 15L), (3L, 10L, 20L))
        .toDF("id", "s", "e")
      val got = TimeSeries.maxConcurrency(iv, col("s"), col("e"),
        bucketWidth = 100L, Seq(col("id")))
        .as[(Long, Long, Long, Long)].collect()
      // one bucket: 6 events, max 2 concurrent, first reached at t=5
      assert(got.toSeq == Seq((0L, 6L, 2L, 5L)))
    }

    it("an interval ending at t closes before one opening at t") {
      val iv = Seq((1L, 0L, 5L), (2L, 5L, 10L)).toDF("id", "s", "e")
      val got = TimeSeries.maxConcurrency(iv, col("s"), col("e"),
        bucketWidth = 100L, Seq(col("id")))
        .as[(Long, Long, Long, Long)].collect()
      assert(got.head._3 == 1L, "end-exclusive semantics")
    }
  }

  describe("Dedup.boundaryPairs") {
    it("pairs a tail with the matching head, never with itself") {
      val docs = Seq(
        (1L, "w x y z a b c d"),
        (2L, "a b c d q r s t"),
        (3L, "short one")
      ).toDF("doc_id", "text")
      val got = Dedup.boundaryPairs(docs, k = 4)
        .as[(Long, Long)].collect().toSet
      assert(got == Set((1L, 2L)))
    }

    it("bndCap drops a boilerplate boundary but keeps genuine splits") {
      // five docs ending in one shared footer (and one starting with it):
      // the hot boundary has 6 occurrences; cap 5 drops every pair it
      // would generate while the unrelated split pair survives
      val footer = "f1 f2 f3 f4"
      val docs = (1L to 5L).map(i => (i, s"u$i x y z $footer")) ++ Seq(
        (6L, s"$footer tail goes here"),
        (7L, "w x y z a b c d"),
        (8L, "a b c d q r s t")
      )
      val capped = Dedup.boundaryPairs(docs.toDF("doc_id", "text"), k = 4,
        bndCap = 5).as[(Long, Long)].collect().toSet
      assert(capped == Set((7L, 8L)))
      // uncapped, the footer boundary pairs each of docs 1-5 with doc 6
      val full = Dedup.boundaryPairs(docs.toDF("doc_id", "text"), k = 4)
        .as[(Long, Long)].collect().toSet
      assert(full == Set((7L, 8L)) ++ (1L to 5L).map((_, 6L)))
    }
  }

  describe("Graph.cooccurrenceEdges") {
    it("emits per-group ordered pairs and drops over-cap groups") {
      val events = Seq(
        (10L, 1L), (10L, 2L), (10L, 3L), (10L, 2L), // dup event collapses
        (20L, 4L), (20L, 5L),
        (30L, 6L), (30L, 7L), (30L, 8L), (30L, 9L) // 4 items > cap 3
      ).toDF("grp", "item")
      val got = Graph.cooccurrenceEdges(events, "grp", "item",
        maxPerGroup = 3).as[(Long, Long)].collect().toSet
      assert(got == Set((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L)))
    }

    it("keeps one parallel edge per shared group for weighted uses") {
      val events = Seq((1L, 7L), (1L, 8L), (2L, 7L), (2L, 8L))
        .toDF("grp", "item")
      val got = Graph.cooccurrenceEdges(events, "grp", "item", 8)
        .as[(Long, Long)].collect().toSeq
      assert(got == Seq((7L, 8L), (7L, 8L)))
    }
  }

  describe("Dedup.normalizedDedupStats") {
    it("counts identities that fold together only after normalization") {
      val docs = Seq(
        (1L, "Hello, World!"), (2L, "hello world"), (3L, "unique")
      ).toDF("doc_id", "text")
      val got = Dedup.normalizedDedupStats(docs)
        .as[(Long, Long, Long, Long)].collect().head
      assert(got == ((3L, 3L, 2L, 1L)))
    }
  }

  describe("TopKFunctions.topkPerGroup (native bounded aggregate)") {
    import graft.functions.TopKFunctions

    it("reproduces row_number semantics including ties") {
      val df = Seq(("g", 10L, 3L), ("g", 10L, 1L), ("g", 9L, 2L),
        ("g", 11L, 4L), ("h", 5L, 9L))
        .toDF("grp", "k", "id")
      val got = TopKFunctions.topkPerGroup(df, Seq(col("grp")),
        col("k"), col("id"), 3)
        .orderBy("grp", "rnk")
        .as[(String, Long, Long, Long)].collect().toSeq
      // (key DESC, id ASC): 11 first, then the 10-tie resolves to id 1
      assert(got == Seq(("g", 1L, 11L, 4L), ("g", 2L, 10L, 1L),
        ("g", 3L, 10L, 3L), ("h", 1L, 5L, 9L)))
    }

    it("groups smaller than k emit their full ranking") {
      val df = Seq(("g", 1L, 1L), ("g", 2L, 2L)).toDF("grp", "k", "id")
      assert(TopKFunctions.topkPerGroup(df, Seq(col("grp")),
        col("k"), col("id"), 10).count() == 2)
    }

    it("survives the prune path and is partitioning-independent") {
      // one hot group with 50k rows >> the 4k scratch: exercises
      // sort-and-prune repeatedly AND partial-merge across partitions
      val big = spark.range(50000).select(lit("hot").as("grp"),
        pmod(col("id") * 37, lit(1000)).as("k"), col("id").as("id"))
      val a = TopKFunctions.topkPerGroup(big, Seq(col("grp")),
        col("k"), col("id"), 7).orderBy("rnk")
        .as[(String, Long, Long, Long)].collect().toSeq
      val b = TopKFunctions.topkPerGroup(big.repartition(13),
        Seq(col("grp")), col("k"), col("id"), 7).orderBy("rnk")
        .as[(String, Long, Long, Long)].collect().toSeq
      assert(a == b)
      assert(a.length == 7 && a.head._3 == 999L)
      // max key 999 hit by many ids -> lowest id wins rank 1
      val minIdAt999 = (0L until 50000L).filter(i => i * 37 % 1000 == 999).min
      assert(a.head._4 == minIdAt999)
    }

    it("plans as a partial aggregate, not a window") {
      val df = Seq(("g", 1L, 1L)).toDF("grp", "k", "id")
      val plan = TopKFunctions.topkPerGroup(df, Seq(col("grp")),
        col("k"), col("id"), 3).queryExecution.executedPlan.toString
      assert(!plan.contains("Window"), plan)
      assert(plan.contains("Aggregate"), plan)
    }
  }

  describe("Decontaminate.contaminatedBloom") {
    it("is result-identical to the exact broadcast path") {
      val docs = (1L to 60L).map { i =>
        val tail = if (i % 5 == 0) "shared bench trigram here" else s"tail $i x"
        (i, s"doc $i body $tail")
      }.toDF("doc_id", "text")
      val corpus = docs.filter(col("doc_id") % 10 =!= 0)
      val bench = docs.filter(col("doc_id") % 10 === 0)
      val exact = Decontaminate.contaminated(corpus, bench,
        col("doc_id"), col("text"), 3)
        .as[(Long, Long)].collect().toSet
      val bloom = Decontaminate.contaminatedBloom(corpus, bench,
        col("doc_id"), col("text"), 3, expectedBenchGrams = 1000L)
        .as[(Long, Long)].collect().toSet
      assert(bloom == exact)
      assert(exact.nonEmpty, "fixture must actually contaminate")
    }
  }

  describe("SparseSim.tfidfCosinePairs") {
    it("scores identical docs at 1.0 and disjoint docs not at all") {
      val docs = Seq(
        (1L, "alpha beta gamma"), (2L, "alpha beta gamma"),
        (3L, "delta epsilon zeta")
      ).toDF("doc_id", "text")
      val got = SparseSim.tfidfCosinePairs(docs, 3L, 0.5)
        .as[(Long, Long, Long, Double)].collect()
      assert(got.map(r => (r._1, r._2)).toSet == Set((1L, 2L)))
      assert(got.head._4 == 1.0)
    }

    it("dfCap drops pairs whose only shared terms are corpus-universal") {
      // "the" appears in all 4 docs (df=4 > cap 3); docs 1/2 share only it
      val docs = Seq(
        (1L, "the aaa"), (2L, "the bbb"),
        (3L, "the ccc shared"), (4L, "the ddd shared")
      ).toDF("doc_id", "text")
      val got = SparseSim.tfidfCosinePairs(docs, 4L, 0.01, dfCap = 3L)
        .as[(Long, Long, Long, Double)].collect()
        .map(r => (r._1, r._2)).toSet
      assert(got == Set((3L, 4L)), s"got $got")
    }

    it("dot products stay exact over ALL shared terms of a candidate") {
      // candidate found via rare term "xyz"; the capped "the" must still
      // contribute to the dot product (exactness of scores)
      val docs = Seq(
        (1L, "the xyz"), (2L, "the xyz"), (3L, "the q"), (4L, "the r")
      ).toDF("doc_id", "text")
      val got = SparseSim.tfidfCosinePairs(docs, 4L, 0.5, dfCap = 3L)
        .as[(Long, Long, Long, Double)].collect()
      assert(got.map(r => (r._1, r._2)).toSeq == Seq((1L, 2L)))
      // identical docs: cosine exactly 1 even with the capped term in
      // the norm — proves it entered both dot and norms
      assert(got.head._4 == 1.0)
    }
  }

  describe("DedupGroups.keepBestPerComponent") {
    it("keeps the highest score, ties to the lowest id") {
      val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("doc_a", "doc_b")
      val scores = Seq((1L, 5L), (2L, 9L), (3L, 9L), (7L, 4L), (8L, 2L))
        .toDF("doc_id", "score")
      val got = DedupGroups.keepBestPerComponent(pairs, scores)
        .as[(Long, Long, Long, Long)].collect().toSet
      // component 1: {1,2,3}, best score 9 tied between 2 and 3 -> 2
      assert(got == Set((1L, 3L, 2L, 9L), (7L, 2L, 7L, 4L)))
    }

    it("releases the component labels when building the result throws") {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val pairs = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
      val noScore = Seq((1L, 5L)).toDF("doc_id", "quality")
      intercept[org.apache.spark.sql.AnalysisException] {
        DedupGroups.keepBestPerComponent(pairs, noScore)
      }
      val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
      assert(leaked.isEmpty, s"the throw path must release, leaked $leaked")
    }
  }

  describe("Dedup.minhashCandidatesIncremental") {
    it("finds incoming-vs-existing pairs and never existing-vs-existing") {
      val mk = (id: Long, tail: String) =>
        (id, s"one two three four five six seven eight nine $tail")
      val docs = Seq(
        mk(1L, "ten"), mk(2L, "ten"),   // existing near-dups of each other
        mk(7L, "ten"),                  // incoming near-dup of 1 and 2
        (8L, "completely different words with no overlap at all here now")
      ).toDF("doc_id", "text")
      val got = Dedup.minhashCandidatesIncremental(
        docs.filter(col("doc_id") >= 7), docs.filter(col("doc_id") < 7))
        .as[(Long, Long, Long)].collect()
      assert(got.map(r => (r._1, r._2)).toSet == Set((7L, 1L), (7L, 2L)))
      // and the signatures match the batch operator's banding exactly
      val full = Dedup.minhashCandidates(docs)
        .as[(Long, Long, Long)].collect()
        .map(r => ((r._1, r._2), r._3)).toMap
      got.foreach { case (in, ex, nb) =>
        assert(full((math.min(in, ex), math.max(in, ex))) == nb)
      }
    }
  }

  describe("Stats.minMaxScaleMicro") {
    it("scales to exact micro-units with floor division") {
      val df = Seq(("g", 10L), ("g", 20L), ("g", 30L), ("h", 7L))
        .toDF("grp", "c")
      val got = Stats.minMaxScaleMicro(df, "grp", col("c"))
        .orderBy("grp", "c")
        .select("grp", "c", "scaled_micro")
        .collect()
      assert(got(0).getLong(2) == 0L)
      assert(got(1).getLong(2) == 500000L)
      assert(got(2).getLong(2) == 1000000L)
      // degenerate group: null, not a divide-by-zero
      assert(got(3).isNullAt(2))
    }
  }
}
