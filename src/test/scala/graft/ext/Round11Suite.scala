package graft.ext

import graft.SparkSpec
import graft.engine.Warehouse
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class Round11Suite extends SparkSpec {
  import spark.implicits._

  describe("Graph.bfsHops") {
    it("finds minimum hop distances, not path counts, and stops early") {
      // diamond + tail: 1->2, 1->3, 2->4, 3->4, 4->5; two paths reach 4
      // but it appears once at its MIN depth; 9 is unreachable
      val edges = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L), (4L, 5L),
        (9L, 9L)).toDF("src", "dst")
      val hops = Graph.bfsHops(edges, Seq(1L).toDF("node"), maxDepth = 10)
      val got = hops.as[(Long, Long)].collect().sorted.toSeq
      assert(got == Seq((1L, 0L), (2L, 1L), (3L, 1L), (4L, 2L), (5L, 3L)))
      Checkpoints.release(hops)
    }

    it("pins only its answer's generations once the frontier empties") {
      // depth 2 finds nothing new; that empty generation is not part of
      // the answer, so releasing the answer must leave nothing pinned
      val edges = Seq((1L, 2L)).toDF("src", "dst")
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val hops = Graph.bfsHops(edges, Seq(1L).toDF("node"), maxDepth = 5)
      assert(hops.count() == 2)
      Checkpoints.release(hops)
      val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
      assert(leaked.isEmpty, s"generations left pinned: $leaked")
    }

    it("respects the depth budget and multi-seed minimum") {
      val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (7L, 3L))
        .toDF("src", "dst")
      val got = Graph.bfsHops(edges, Seq(1L, 7L).toDF("node"), maxDepth = 2)
        .as[(Long, Long)].collect().sorted.toSeq
      // 3 is reached at depth 1 via seed 7 (not 2 via seed 1); 4 at 2;
      // nothing past depth 2
      assert(got == Seq((1L, 0L), (2L, 1L), (3L, 1L), (4L, 2L), (7L, 0L)))
    }
  }

  describe("Analytics.nextEventWithin") {
    it("is strictly-after and window-inclusive") {
      val a = Seq((1L, 100L, 1L), (1L, 200L, 2L), (2L, 50L, 3L))
        .toDF("k", "ts", "id")
      // b at exactly a's ts must NOT match (strict); b at ts+window must
      val b = Seq((1L, 100L), (1L, 210L), (2L, 60L), (2L, 61L))
        .toDF("k", "ts")
      val got = Analytics.nextEventWithin(a, b, "k", "ts", windowUs = 10L,
          out = "nxt")
        .select("k", "ts", "nxt")
        .as[(Long, Long, Option[Long])].collect().sorted.toSeq
      assert(got == Seq(
        (1L, 100L, None),        // next b is 210, outside the 10us window
        (1L, 200L, Some(210L)),  // exactly at ts+window: included
        (2L, 50L, Some(60L))))   // earliest of the two in-window bs
    }
  }

  describe("Analytics.linearAttribution") {
    it("splits exactly, excludes the conversion instant, includes the lookback edge") {
      val touches = Seq(
        (1L, 90L, "x"), (1L, 95L, "y"), (1L, 100L, "z"), // 100 == conv ts: out
        (1L, 80L, "x"),                                  // == cts-20: included
        (2L, 10L, "x")                                   // other key
      ).toDF("u", "ts", "ch")
      val convs = Seq((1L, 100L, 7L, 10L)).toDF("cu", "cts", "cid", "rev")
      val got = Analytics.linearAttribution(touches, convs, "u", "ts", "ch",
          "cu", "cts", "cid", "rev", lookbackUs = 20L, binUs = 16L)
        .as[(String, Long, Long)].collect().sorted.toSeq
      // 3 touches share rev=10 -> 10 div 3 = 3 each (remainder dropped)
      assert(got == Seq(("x", 2L, 6L), ("y", 1L, 3L)))
    }
  }

  describe("Stats.welchT") {
    it("matches a hand-computed Welch statistic and nulls degenerate cohorts") {
      // group g: A = {1,2,3} (mean 2, var 1), B = {5,7} (mean 6, var 2)
      // t = (2-6)/sqrt(1/3 + 2/2) = -4/sqrt(4/3)
      val df = Seq(
        ("g", 0L, 1L), ("g", 2L, 2L), ("g", 4L, 3L),
        ("g", 1L, 5L), ("g", 3L, 7L),
        ("h", 0L, 1L), ("h", 1L, 9L) // n_a = 1: t must be null
      ).toDF("grp", "u", "x")
      val got = Stats.welchT(df, "grp", col("u") % 2 === 0, col("x"))
        .select("grp", "n_a", "n_b", "t")
        .as[(String, Long, Long, Option[Double])].collect()
        .sortBy(_._1).toSeq
      assert(got.head._1 == "g" && got.head._2 == 3L && got.head._3 == 2L)
      val t = got.head._4.get
      assert(math.abs(t - (-4.0 / math.sqrt(4.0 / 3.0))) < 1e-12)
      assert(got(1) == (("h", 1L, 1L, None)))
    }
  }

  describe("Warehouse.scd2Merge") {
    def hist(changes: DataFrame) =
      Warehouse.scd2HistoryBig(changes, "k", "ver", Seq("attr"))
    def norm(df: DataFrame) =
      df.select("k", "attr", "valid_from", "valid_to", "is_current")
        .as[(Long, String, Long, Option[Long], Boolean)]
        .collect().sortBy(r => (r._1, r._3)).toSeq

    it("append delta ≡ full rebuild, untouched keys pass through") {
      val standing = Seq((1L, 10L, "a"), (1L, 20L, "b"), (2L, 10L, "z"))
        .toDF("k", "ver", "attr")
      val delta = Seq((1L, 30L, "b"), (1L, 40L, "c"), (3L, 5L, "n"))
        .toDF("k", "ver", "attr") // 30 is a no-change dup; 3 is a new key
      val got = norm(Warehouse.scd2Merge(hist(standing), delta, "k", "ver",
        Seq("attr")))
      val want = norm(hist(standing.unionByName(delta)))
      assert(got == want)
      assert(want.contains((2L, "z", 10L, None, true)))
      assert(want.contains((3L, "n", 5L, None, true)))
    }

    it("backfill-before-first delta ≡ full rebuild") {
      val standing = Seq((1L, 10L, "a"), (1L, 20L, "b")).toDF("k", "ver", "attr")
      val delta = Seq((1L, 5L, "a")).toDF("k", "ver", "attr") // absorbs v10
      val got = norm(Warehouse.scd2Merge(hist(standing), delta, "k", "ver",
        Seq("attr")))
      assert(got == norm(hist(standing.unionByName(delta))))
      assert(got.head == ((1L, "a", 5L, Some(20L), false)))
    }

    it("pins the contract: an INTERIOR insert diverges from a rebuild") {
      // standing stream 10:a, 20:a (dropped as no-change), 30:b; interior
      // delta 15:b would have made 20:a a change point in a full rebuild —
      // that row is unrecoverable from the history, so merge must differ
      // (detector disabled here to observe the divergence it exists to
      // prevent)
      val stream = Seq((1L, 10L, "a"), (1L, 20L, "a"), (1L, 30L, "b"))
        .toDF("k", "ver", "attr")
      val delta = Seq((1L, 15L, "b")).toDF("k", "ver", "attr")
      val merged = norm(Warehouse.scd2Merge(hist(stream), delta, "k", "ver",
        Seq("attr"), enforceSpanContract = false))
      val rebuilt = norm(hist(stream.unionByName(delta)))
      assert(rebuilt.map(_._3) == Seq(10L, 15L, 20L, 30L)) // 20:a reopens
      // the history lost 20:a, so the replay sees 10:a, 15:b, 30:b and
      // additionally drops 30:b as a no-change behind the insert
      assert(merged.map(_._3) == Seq(10L, 15L))
    }

    it("fails loud BY DEFAULT on an interior delta, naming the keys") {
      val stream = Seq((1L, 10L, "a"), (1L, 20L, "a"), (1L, 30L, "b"),
        (2L, 10L, "x"), (2L, 40L, "y"))
        .toDF("k", "ver", "attr")
      val delta = Seq((1L, 15L, "b"), (2L, 50L, "z"), (3L, 7L, "n"))
        .toDF("k", "ver", "attr") // only key 1 is interior
      val ex = intercept[IllegalArgumentException] {
        Warehouse.scd2Merge(hist(stream), delta, "k", "ver", Seq("attr"))
      }
      assert(ex.getMessage.contains("span contract"))
      assert(ex.getMessage.contains("[1]")) // names the offending key
      // the compliant subset still merges exactly under the default
      val ok = delta.filter(col("k") =!= 1L)
      val got = norm(Warehouse.scd2Merge(hist(stream), ok, "k", "ver",
        Seq("attr")))
      assert(got == norm(hist(stream.unionByName(ok))))
    }

    it("default detector admits boundary versions (uniqueness aside)") {
      // strictly-outside min/max both pass; a delta AT the span edge is
      // a (key, version)-uniqueness problem, not a span problem, and is
      // out of the detector's scope
      val stream = Seq((1L, 10L, "a"), (1L, 30L, "b")).toDF("k", "ver", "attr")
      val delta = Seq((1L, 5L, "z"), (1L, 40L, "c")).toDF("k", "ver", "attr")
      val got = norm(Warehouse.scd2Merge(hist(stream), delta, "k", "ver",
        Seq("attr")))
      assert(got == norm(hist(stream.unionByName(delta))))
    }
  }

  describe("TextAnalysis.bpeMergeStep") {
    it("picks the top distinct-halves pair with a total tiebreak") {
      // "a b" x3 (inside doc 1 and 2); "b a" x2; "c c" x4 but same-halves
      // pairs are excluded; ties impossible here
      val docs = Seq(
        (1L, "a b a b"), (2L, "a b"), (3L, "c c c c c")
      ).toDF("doc_id", "text")
      val got = TextAnalysis.bpeMergeStep(docs)
        .select("doc_id", "n_tokens", "n_merges", "n_tokens_after", "pair",
          "pair_n")
        .as[(Long, Long, Long, Long, String, Long)].collect().sorted.toSeq
      assert(got == Seq(
        (1L, 4L, 2L, 2L, "a b", 3L),
        (2L, 2L, 1L, 1L, "a b", 3L),
        (3L, 5L, 0L, 5L, "a b", 3L)))
    }

    it("yields a null pair on a corpus with only same-token adjacency") {
      val docs = Seq((1L, "x x x"), (2L, "y")).toDF("doc_id", "text")
      val got = TextAnalysis.bpeMergeStep(docs)
        .select("doc_id", "n_merges", "pair")
        .as[(Long, Long, Option[String])].collect().sorted.toSeq
      assert(got == Seq((1L, 0L, None), (2L, 0L, None)))
    }
  }

  describe("Analytics.audienceOverlap") {
    it("counts exact overlaps and sizes from deduplicated membership") {
      val df = Seq(
        ("a", 1L), ("a", 1L), ("a", 2L), ("b", 2L), ("b", 3L), ("c", 9L)
      ).toDF("g", "e")
      val got = Analytics.audienceOverlap(df, "g", "e")
        .select("grp_a", "grp_b", "n_common", "n_a", "n_b", "jaccard")
        .as[(String, String, Long, Long, Long, Double)]
        .collect().sorted.toSeq
      // duplicate (a,1) must not inflate n_a; disjoint pairs are absent
      assert(got == Seq(("a", "b", 1L, 2L, 2L, 1.0 / 3.0)))
    }
  }

  describe("Quantize.randomProjection") {
    it("applies the deterministic sign matrix with fixed-order folding") {
      val s = Quantize.signMatrix("rp", 3, 2)
      val df = Seq((1L, Seq(1.0f, 2.0f, 4.0f))).toDF("vec_id", "embedding")
      val got = Quantize.randomProjection(df, col("embedding"), 3, 2)
        .select("p0", "p1").as[(Double, Double)].collect().head
      val scale = 1.0 / math.sqrt(2.0)
      def expect(j: Int) =
        (0 until 3).map(i => s(i)(j) * Seq(1.0, 2.0, 4.0)(i)).sum * scale
      assert(got == ((expect(0), expect(1))))
      // same seed => same matrix across calls (the oracle contract)
      assert(Quantize.signMatrix("rp", 3, 2).map(_.toSeq).toSeq ==
        s.map(_.toSeq).toSeq)
    }
  }

  describe("Warehouse.deleteKeys") {
    it("removes exactly the tombstoned keys, dedup-safe") {
      val base = Seq((1L, "a"), (2L, "b"), (2L, "c"), (3L, "d"))
        .toDF("k", "v")
      val tomb = Seq(2L, 2L, 9L).toDF("tk")
      val got = Warehouse.deleteKeys(base, tomb, "k", "tk")
        .as[(Long, String)].collect().sorted.toSeq
      assert(got == Seq((1L, "a"), (3L, "d")))
    }
  }

  describe("Analytics.rrfFuse2") {
    it("treats a missing id as contributing zero from that side") {
      val a = Seq((1L, 1L), (2L, 2L)).toDF("id", "rn")
      val b = Seq((2L, 1L), (3L, 2L)).toDF("id", "rn")
      val got = Analytics.rrfFuse2(a, b, "id", "rn", k = 10)
        .select("id", "rrf").as[(Long, Double)].collect().sorted.toSeq
      assert(got == Seq(
        (1L, 1.0 / 11), (2L, 1.0 / 12 + 1.0 / 11), (3L, 1.0 / 12)))
    }
  }

  describe("Audits.fdViolations") {
    it("separates holding from violated FDs and is null-safe") {
      val df = Seq(
        (1L, Some("a")), (1L, Some("a")),          // 1 -> a (holds, dup rows)
        (2L, Some("a")), (2L, Some("b")),          // 2 -> {a, b} (violated)
        (3L, None), (3L, Some("x")), (3L, None)    // null is a variant
      ).toDF("k", "v")
      val got = graft.engine.Audits
        .fdViolations(df, Seq(("k", "v")))
        .as[(String, Long, Long, Long)].collect().toSeq
      assert(got == Seq(("k -> v", 3L, 2L, 2L)))
    }
  }

  describe("Stats.halfLifeScore") {
    it("buckets exponents exactly, clamps at maxK, excludes the future") {
      // ref = 1000, half-life 100: ages 0,100,250 -> k 0,1,2; age 10000
      // clamps to maxK=3; ts 1500 (future) excluded entirely
      val df = Seq(
        (1L, 1000L, 800L), (1L, 900L, 400L), (1L, 750L, 400L),
        (1L, -9000L, 1600L), (1L, 1500L, 999L),
        (2L, 1000L, 10L)
      ).toDF("u", "ts", "vc")
      val got = Stats.halfLifeScore(df, "u", "ts", col("vc"),
          refUs = 1000L, halfLifeUs = 100L, maxK = 3)
        .as[(Long, Long, Double)].collect().sortBy(_._1).toSeq
      // user 1: 800*1 + 400*0.5 + 400*0.25 + 1600*0.125 = 1300.0 exactly
      assert(got == Seq((1L, 4L, 1300.0), (2L, 1L, 10.0)))
    }
  }

  describe("Analytics.basketLift") {
    it("drops over-wide baskets before pairing and keeps ratios consistent") {
      // basket 1 {x,y}, basket 2 {x,y}, basket 3 {x,y,z,w} dropped at cap 3
      val df = Seq(
        (1L, "x"), (1L, "y"), (2L, "x"), (2L, "y"),
        (3L, "x"), (3L, "y"), (3L, "z"), (3L, "w")
      ).toDF("b", "i")
      val got = Analytics.basketLift(df, "b", "i", maxPerBasket = 3,
          minPairBaskets = 1L)
        .select("item_a", "item_b", "n_ab", "n_a", "n_b", "n_baskets",
          "confidence", "lift")
        .as[(String, String, Long, Long, Long, Long, Double, Double)]
        .collect().sorted.toSeq
      assert(got == Seq(("x", "y", 2L, 2L, 2L, 2L, 1.0, 1.0)))
    }
  }
}
