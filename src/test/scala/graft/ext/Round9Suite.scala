package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

class Round9Suite extends SparkSpec {
  import spark.implicits._

  describe("GlobalOrder.withSessionId") {
    it("numbers gap sessions globally in (key, ts) order") {
      val ev = Seq(
        (1L, 0L, 100L), (1L, 10L, 101L), (1L, 25L, 102L),
        (2L, 5L, 103L), (2L, 100L, 104L)
      ).toDF("user_id", "tsu", "event_id")
      // partitions=3 forces partition-boundary stitching on 5 rows
      val got = GlobalOrder
        .withSessionId(ev, "user_id", "tsu", gap = 10L,
          Seq(col("event_id")), partitions = 3)
        .select("event_id", "session_id")
        .as[(Long, Long)].collect().toMap
      // u1: [0,10] one session (gap exactly 10 continues), 25 breaks;
      // u2: both events break (new key, then gap 95)
      assert(got == Map(100L -> 1L, 101L -> 1L, 102L -> 2L,
        103L -> 3L, 104L -> 4L))
    }

    it("matches the window formulation on a skewed timeline") {
      // 300 events, half on one hot user — the shape the range-shuffle
      // path exists for; ids must equal the per-user-window + global-
      // running-sum formulation exactly
      val ev = spark.range(300).select(
        when(col("id") % 2 === 0, lit(0L))
          .otherwise(col("id") % 7L).as("user_id"),
        (pmod(hash(col("id")), lit(1000)).cast("long") * 3L).as("tsu"),
        col("id").as("event_id"))
      val got = GlobalOrder
        .withSessionId(ev, "user_id", "tsu", gap = 50L,
          Seq(col("event_id")), partitions = 5)
        .select("event_id", "session_id")
        .as[(Long, Long)].collect().toMap
      val byUser = Window.partitionBy("user_id").orderBy("tsu", "event_id")
      val glob = Window.orderBy("user_id", "tsu", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val want = ev
        .withColumn("brk",
          when(lag(col("tsu"), 1).over(byUser).isNull ||
            col("tsu") - lag(col("tsu"), 1).over(byUser) > 50L, 1L)
            .otherwise(0L))
        .withColumn("sid", sum("brk").over(glob))
        .select("event_id", "sid")
        .as[(Long, Long)].collect().toMap
      assert(got == want)
    }

    it("rejects non-long key/time columns") {
      val ev = Seq((1, 2L, 3L)).toDF("user_id", "tsu", "event_id")
      assertThrows[IllegalArgumentException] {
        GlobalOrder.withSessionId(ev, "user_id", "tsu", 10L,
          Seq(col("event_id")))
      }
    }
  }

  describe("GlobalOrder.withFillForward") {
    it("carries the last non-null per key across partition boundaries") {
      val ev = Seq(
        (1L, 0L, 100L, Some(7L)), (1L, 10L, 101L, None),
        (1L, 20L, 102L, None), (1L, 30L, 103L, Some(9L)),
        (1L, 40L, 104L, None),
        (2L, 5L, 105L, None), // leading null stays null
        (2L, 15L, 106L, Some(3L)), (2L, 25L, 107L, None)
      ).toDF("user_id", "tsu", "event_id", "v")
      val got = GlobalOrder
        .withFillForward(ev, "user_id", "tsu", "v", Seq(col("event_id")),
          partitions = 4)
        .select("event_id", "filled")
        .as[(Long, Option[Long])].collect().toMap
      assert(got == Map(100L -> Some(7L), 101L -> Some(7L),
        102L -> Some(7L), 103L -> Some(9L), 104L -> Some(9L),
        105L -> None, 106L -> Some(3L), 107L -> Some(3L)))
    }

    it("matches the window formulation on a skewed sparse timeline") {
      // half the events on one hot user, ~10% non-null observations
      val ev = spark.range(400).select(
        when(col("id") % 2 === 0, lit(0L))
          .otherwise(col("id") % 5L).as("user_id"),
        (pmod(hash(col("id")), lit(1000)).cast("long") * 3L).as("tsu"),
        col("id").as("event_id"),
        when(col("id") % 10 === 3, col("id")).as("v"))
      val got = GlobalOrder
        .withFillForward(ev, "user_id", "tsu", "v", Seq(col("event_id")),
          partitions = 7)
        .select("event_id", "filled")
        .as[(Long, Option[Long])].collect().toMap
      val byUser = Window.partitionBy("user_id").orderBy("tsu", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val want = ev
        .withColumn("filled", last(col("v"), ignoreNulls = true).over(byUser))
        .select("event_id", "filled")
        .as[(Long, Option[Long])].collect().toMap
      assert(got == want)
    }
  }

  describe("GlobalOrder.groupMedianOfLong") {
    it("matches exact percentile(0.5) per group, odd and even counts") {
      val rows = spark.range(501).select(
        when(col("id") % 2 === 0, lit("hot")) // 251 rows (odd count)
          .otherwise(concat(lit("g"), (col("id") % 5).cast("string")))
          .as("grp"),
        pmod(hash(col("id")), lit(10000)).cast("long").as("v"),
        col("id").as("uid"))
      val got = GlobalOrder
        .groupMedianOfLong(rows, "grp", "v", Seq(col("uid")))
        .select("grp", "n", "median")
        .as[(String, Long, Double)].collect().toSet
      val want = rows.groupBy("grp")
        .agg(count(lit(1)).as("n"),
          expr("percentile(v, 0.5)").as("median"))
        .select("grp", "n", "median")
        .as[(String, Long, Double)].collect().toSet
      assert(got == want && want.size == 6)
    }
  }

  describe("GlobalOrder.withRunningTotalPerKey") {
    it("matches the per-key window running sum under skew") {
      val rows = spark.range(400).select(
        when(col("id") % 2 === 0, lit(0L))
          .otherwise(col("id") % 7L).as("k"),
        col("id").as("t"),
        when(col("id") % 11 === 0, lit(null).cast("long"))
          .otherwise(col("id") % 97L).as("v"))
      val got = GlobalOrder
        .withRunningTotalPerKey(rows, "k", "t", "v", Seq.empty,
          partitions = 6)
        .select("t", "running_total")
        .as[(Long, Long)].collect().toMap
      val w = Window.partitionBy("k").orderBy("t")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val want = rows
        .withColumn("rt", coalesce(sum("v").over(w), lit(0L)))
        .select("t", "rt").as[(Long, Long)].collect().toMap
      assert(got == want)
    }
  }

  describe("rolling distinct via interval sweep (q154 decomposition)") {
    it("matches the brute-force windowed distinct count under skew") {
      val W = 6L
      // 600 (type, user, day) events: half on one hot (type, user)
      val ed = spark.range(600).select(
        (col("id") % 3L).as("etype_id"),
        when(col("id") % 2 === 0, lit(0L))
          .otherwise(col("id") % 11L).as("user_id"),
        (pmod(hash(col("id")), lit(40)).cast("long")).as("day"))
        .distinct()
      val runs = ed.groupBy("etype_id", "user_id")
        .agg(sort_array(collect_set(col("day"))).as("ds"))
      val starts = runs.select(col("etype_id"),
        explode(filter(col("ds"),
          (d, i) => i === 0 || d > get(col("ds"), i - 1) + W)).as("day"),
        lit(1L).as("delta"))
      val ends = runs.select(col("etype_id"),
        explode(transform(filter(col("ds"),
            (d, i) => i === size(col("ds")) - 1 ||
              get(col("ds"), i + 1) > d + W),
          d => d + W + 1)).as("day"),
        lit(-1L).as("delta"))
      val deltas = starts.union(ends)
        .groupBy("etype_id", "day").agg(sum("delta").as("delta"))
      val cover = GlobalOrder.withRunningTotalPerKey(deltas, "etype_id",
        "day", "delta", Seq.empty, out = "cover", partitions = 5)
      val probes = ed.select("etype_id", "day").distinct()
      val got = AsofJoin.leftAsofBig(probes,
          cover.select(col("etype_id"), col("day").as("ref_day"),
            col("cover")),
          "etype_id", "day", "ref_day", "cover")
        .select(col("etype_id"), col("day"),
          coalesce(col("cover"), lit(0L)).as("wau"))
        .as[(Long, Long, Long)].collect().toSet
      val want = probes.as("d")
        .join(ed.as("e"), col("e.etype_id") === col("d.etype_id") &&
          col("e.day").between(col("d.day") - W, col("d.day")))
        .groupBy(col("d.etype_id"), col("d.day"))
        .agg(countDistinct(col("e.user_id")).as("wau"))
        .as[(Long, Long, Long)].collect().toSet
      assert(got == want)
    }
  }

  describe("AsofJoin.leftAsofBig") {
    it("matches the window-based leftAsof, inclusive ties and misses") {
      val left = spark.range(200).select(
        (col("id") % 4L).as("k"), (col("id") * 7L % 300L).as("t"),
        col("id").as("payload"))
      val right = spark.range(60).select(
        (col("id") % 4L).as("k"), (col("id") * 13L % 300L).as("rt"))
        .distinct()
        .withColumn("v", col("rt") * 100L + col("k"))
      val got = AsofJoin.leftAsofBig(left, right, "k", "t", "rt", "v")
        .select("k", "t", "payload", "v")
        .as[(Long, Long, Long, Option[Long])].collect().sorted.toSeq
      val want = AsofJoin.leftAsof(left, right, "k", "t", "rt", Seq("v"))
        .select("k", "t", "payload", "v")
        .as[(Long, Long, Long, Option[Long])].collect().sorted.toSeq
      assert(got == want && want.exists(_._4.isEmpty)
        && want.exists(_._4.nonEmpty))
    }
  }

  describe("Batching.lengthBucketedBatches (range-shuffle rewrite)") {
    it("matches the per-band window formulation bit-for-bit") {
      val df = spark.range(300).select(col("id"),
        (pmod(hash(col("id")), lit(200)).cast("long") + 1L).as("len"))
      val got = Batching.lengthBucketedBatches(df, col("id"), col("len"),
        bandWidth = 64L, capTokens = 256L)
        .select("id", "size_bucket", "batch_in_bucket", "pos_in_bucket")
        .as[(Long, Long, Long, Long)].collect().toSet
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("size_bucket").orderBy(col("__len"), col("id"))
      val want = df
        .withColumn("__len", col("len"))
        .withColumn("size_bucket", expr("__len div 64"))
        .withColumn("__cum", sum(col("__len")).over(w))
        .withColumn("batch_in_bucket", expr("(__cum - __len) div 256"))
        .withColumn("pos_in_bucket", row_number().over(w).cast("long"))
        .select("id", "size_bucket", "batch_in_bucket", "pos_in_bucket")
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(got == want)
    }
  }

  describe("round-9 plan shapes") {
    it("timeline and median operators plan no per-key Window") {
      // the contract these operators exist for: no WindowExec anywhere,
      // at any key skew — the work is range shuffles + aggregates/joins
      val ev = spark.range(50).select(
        (col("id") % 3L).as("user_id"), col("id").as("tsu"),
        col("id").as("event_id"), when(col("id") % 5 === 0, col("id")).as("v"))
      val plans = Seq(
        GlobalOrder.withSessionId(ev, "user_id", "tsu", 10L,
          Seq(col("event_id"))),
        GlobalOrder.withFillForward(ev, "user_id", "tsu", "v",
          Seq(col("event_id"))),
        GlobalOrder.groupMedianOfLong(
          ev.select(col("user_id"), col("tsu"), col("event_id")),
          "user_id", "tsu", Seq(col("event_id"))),
        GlobalOrder.groupQuantileOfLong(
          ev.select(col("user_id"), col("tsu"), col("event_id")),
          "user_id", "tsu", 95, Seq(col("event_id"))),
        GlobalOrder.withRunningTotalPerKey(
          ev.select(col("user_id"), col("tsu"),
            coalesce(col("v"), lit(0L)).as("v")),
          "user_id", "tsu", "v", Seq.empty),
        GlobalOrder.withLagPerKey(ev, "user_id", "tsu", "v",
          Seq(col("event_id"))),
        Sampling.capPerGroupBig(
          ev.select(col("user_id"), col("tsu"), col("event_id")),
          "user_id", "tsu", 3, Seq(col("event_id"))),
        AsofJoin.leftAsofBig(
          ev.select(col("user_id"), col("tsu")),
          ev.select(col("user_id"), col("tsu").as("rt"),
            col("event_id").as("rv")),
          "user_id", "tsu", "rt", "rv"))
        .map(_.queryExecution.executedPlan.toString)
      plans.foreach(p => assert(!p.contains("Window"),
        s"expected a window-free plan, got:\n$p"))
    }
  }

  describe("RangeJoin.intervalOverlap") {
    it("emits each overlapping pair exactly once regardless of bin span") {
      // intervals spanning several shared bins must not duplicate; the
      // brute-force quadratic join is the semantics oracle
      val l = spark.range(40).select(col("id").as("lid"),
        (col("id") * 7L % 100L).as("ls"))
        .withColumn("le", col("ls") + (col("lid") % 30L) + 1L)
      val r = spark.range(25).select(col("id").as("rid"),
        (col("id") * 11L % 90L).as("rs"))
        .withColumn("re", col("rs") + (col("rid") % 40L) + 1L)
      val got = RangeJoin.intervalOverlap(l, r, "ls", "le", "rs", "re",
        binUs = 8L)
        .select("lid", "rid").as[(Long, Long)].collect().sorted.toSeq
      val want = l.join(r, col("ls") < col("re") && col("rs") < col("le"))
        .select("lid", "rid").as[(Long, Long)].collect().sorted.toSeq
      assert(got == want && want.nonEmpty)
      assert(got.distinct == got)
    }
  }

  describe("GlobalOrder.groupQuantileOfLong") {
    it("matches the rank-window formulation on a skewed input") {
      // 400 rows, half in one hot group; ties on value forced by %50
      val rows = spark.range(400).select(
        when(col("id") % 2 === 0, lit(0L)).otherwise(col("id") % 7L)
          .as("grp"),
        (col("id") % 50L).as("v"), col("id").as("uid"))
      for (p <- Seq(0, 50, 95, 100)) {
        val got = GlobalOrder
          .groupQuantileOfLong(rows, "grp", "v", p, Seq(col("uid")))
          .as[(Long, Long, Long)].collect().toSet
        val w = Window.partitionBy("grp").orderBy(col("v"), col("uid"))
        val want = rows
          .withColumn("rn", row_number().over(w).cast("long"))
          .withColumn("n", count(lit(1))
            .over(Window.partitionBy("grp")))
          .filter(col("rn") === expr(s"((n - 1) * $p) div 100") + 1L)
          .select(col("grp"), col("n"), col("v"))
          .as[(Long, Long, Long)].collect().toSet
        assert(got == want, s"p=$p")
        // p=0 is the min, p=100 the max — sanity-pin the endpoints
        if (p == 0 || p == 100) {
          val ext = rows.groupBy("grp")
            .agg((if (p == 0) min("v") else max("v")).as("x"))
            .as[(Long, Long)].collect().toMap
          got.foreach { case (g, _, v) => assert(v == ext(g)) }
        }
      }
    }
  }

  describe("Sampling.capPerGroupBig") {
    it("matches the window formulation under a hot group") {
      val rows = spark.range(500).select(
        when(col("id") % 2 === 0, lit(0L)).otherwise(col("id") % 9L)
          .as("grp"),
        (col("id") % 40L).as("ord"), col("id").as("uid"))
      val got = Sampling.capPerGroupBig(rows, "grp", "ord", 7,
          Seq(col("uid")))
        .as[(Long, Long, Long)].collect().toSet
      val w = Window.partitionBy("grp").orderBy(col("ord"), col("uid"))
      val want = rows.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 7).drop("rn")
        .as[(Long, Long, Long)].collect().toSet
      assert(got == want && want.nonEmpty)
    }
  }

  describe("Warehouse.scd2HistoryBig") {
    it("matches the window oracle bit-for-bit, null attrs included") {
      import graft.engine.Warehouse
      // hot key 0 carries half the versions; attr nulls exercise the
      // <=> change test (null -> null must NOT open a new interval)
      val changes = spark.range(400).select(
        when(col("id") % 2 === 0, lit(0L)).otherwise(col("id") % 5L)
          .as("k"),
        col("id").as("ver"),
        when(col("id") % 7 === 0, lit(null).cast("string"))
          .otherwise(concat(lit("v"), (col("id") % 3L).cast("string")))
          .as("attr"))
      val cols = Seq("k", "attr", "valid_from", "valid_to", "is_current")
      val got = Warehouse.scd2HistoryBig(changes, "k", "ver", Seq("attr"))
        .select(cols.head, cols.tail: _*)
        .as[(Long, Option[String], Long, Option[Long], Boolean)]
        .collect().toSet
      val want = Scd2WindowOracle(changes, "k", "ver", Seq("attr"))
        .select(cols.head, cols.tail: _*)
        .as[(Long, Option[String], Long, Option[Long], Boolean)]
        .collect().toSet
      assert(got == want && want.size > 10)
      // and the Big build must plan no Window at all
      val plan = Warehouse.scd2HistoryBig(changes, "k", "ver", Seq("attr"))
        .queryExecution.executedPlan.toString
      assert(!plan.contains("Window"))
    }
  }

  describe("Skew.saltedLeftAnti") {
    it("matches a plain left_anti under a corpus-universal key") {
      import graft.engine.Skew
      val large = spark.range(500).select(col("id"),
        when(col("id") % 2 === 0, lit("hot")) // half the rows, one key
          .otherwise(concat(lit("k"), col("id"))).as("k"))
      val keys = Seq("hot", "k3", "k777", "absent").toDF("k")
      val got = Skew.saltedLeftAnti(large, keys, "k", f = 7)
        .select("id").as[Long].collect().sorted.toSeq
      val want = large.join(keys, Seq("k"), "left_anti")
        .select("id").as[Long].collect().sorted.toSeq
      assert(got == want && want.nonEmpty && want.size < 500)
    }
  }

  describe("TextAnalysis.dedupSegments") {
    it("removes cross-document segments and reassembles in order") {
      // K=2 segments; "x y" is shared by docs 1 and 2 (boilerplate),
      // doc 3 is ENTIRELY boilerplate, doc 4 repeats a segment only
      // WITHIN itself (must survive: df counts distinct docs)
      val docs = Seq(
        (1L, "a b x y c d"),
        (2L, "x y e f"),
        (3L, "x y"),
        (4L, "g h g h")
      ).toDF("doc_id", "text")
      val got = TextAnalysis.dedupSegments(docs, segTokens = 2,
          minDocs = 2, saltF = 3)
        .orderBy("doc_id")
        .as[(Long, String, Long, Long)].collect().toSeq
      assert(got == Seq(
        (1L, "a b c d", 2L, 1L),
        (2L, "e f", 1L, 1L),
        (3L, "", 0L, 1L),
        (4L, "g h g h", 2L, 0L)))
    }

    it("keeps everything when no segment crosses the minDocs bar") {
      val docs = Seq((1L, "a b c"), (2L, "d e f")).toDF("doc_id", "text")
      val got = TextAnalysis.dedupSegments(docs, segTokens = 3,
          minDocs = 2)
        .orderBy("doc_id")
        .as[(Long, String, Long, Long)].collect().toSeq
      assert(got == Seq((1L, "a b c", 1L, 0L), (2L, "d e f", 1L, 0L)))
    }

    it("plans no Window and no per-corpus countDistinct") {
      val docs = Seq((1L, "a b c d")).toDF("doc_id", "text")
      val plan = TextAnalysis.dedupSegments(docs, 2, 2)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("Window"))
      // df must be pair-distinct + count, never a distinct-aggregate
      // keyed by the (hotable) segment hash
      assert(!plan.toLowerCase.contains("count(distinct"))
    }
  }

  describe("Graph.labelPropagation") {
    it("spreads labels synchronously with clamped seeds and lex ties") {
      // a(X), b(Y) seeded; c hears both (tie -> lex-min X); d hears
      // only c, so it stays null in round 1 (synchronous: round 1
      // reads round 0) and adopts c's X in round 2; b->a must NOT
      // relabel the clamped seed a
      val edges = Seq(("a", "c"), ("b", "c"), ("c", "d"), ("b", "a"))
        .toDF("src", "dst")
      val seeds = Seq(("a", "X"), ("b", "Y")).toDF("node", "label")
      val r1 = Graph.labelPropagation(edges, seeds, rounds = 1)
        .as[(String, Option[String])].collect().toMap
      assert(r1 == Map("a" -> Some("X"), "b" -> Some("Y"),
        "c" -> Some("X"), "d" -> None))
      val r2 = Graph.labelPropagation(edges, seeds, rounds = 2)
        .as[(String, Option[String])].collect().toMap
      assert(r2("d").contains("X") && r2("a").contains("X"))
      Checkpoints.release(
        Graph.labelPropagation(edges, seeds, rounds = 1))
    }

    it("majority count beats lexicographic order") {
      // two Z voters vs one A voter: count wins, lex only breaks ties
      val edges = Seq(("p", "m"), ("q", "m"), ("r", "m"))
        .toDF("src", "dst")
      val seeds = Seq(("p", "Z"), ("q", "Z"), ("r", "A"))
        .toDF("node", "label")
      val got = Graph.labelPropagation(edges, seeds, rounds = 1)
        .as[(String, Option[String])].collect().toMap
      assert(got("m").contains("Z"))
    }

    it("rotates checkpoints and plans no Window") {
      val edges = Seq(("a", "b"), ("b", "c")).toDF("src", "dst")
      val seeds = Seq(("a", "X")).toDF("node", "label")
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val out = Graph.labelPropagation(edges, seeds, rounds = 3)
      assert(!out.queryExecution.executedPlan.toString.contains("Window"))
      out.collect()
      val pinned = spark.sparkContext.getPersistentRDDs.keySet -- before
      assert(pinned.size == 1,
        s"exactly the final label checkpoint should be pinned, got $pinned")
      Checkpoints.release(out)
      assert((spark.sparkContext.getPersistentRDDs.keySet & pinned).isEmpty)
    }
  }

  describe("Graph.personalizedPagerankInt") {
    it("matches hand-computed seeded ranks on a 3-node graph") {
      // a→b, b→a, b→c; seeds={a}. outdeg(a)=1, outdeg(b)=2, c dangling
      val edges = Seq(("a", "b"), ("b", "a"), ("b", "c"))
        .toDF("src", "dst")
      val seeds = Seq("a").toDF("node")
      val got = Graph.personalizedPagerankInt(edges, seeds, iterations = 2)
        .as[(String, Long)].collect().toMap
      // r0: a=1000000, b=c=0
      // r1: a=150000 (seed base, no inbound), b=850000, c=0
      // r2: a=150000+85*(850000 div 2) div 100=511250,
      //     b=85*150000 div 100=127500, c=85*425000 div 100=361250
      assert(got == Map("a" -> 511250L, "b" -> 127500L, "c" -> 361250L))
      Checkpoints.release(
        Graph.personalizedPagerankInt(edges, seeds, iterations = 1))
    }

    it("gives zero rank to nodes unreachable from the seed set") {
      // two components; seeding only the first must leave the second
      // at exactly 0 in every iteration (no global teleport mass)
      val edges = Seq(("a", "b"), ("b", "a"), ("x", "y"), ("y", "x"))
        .toDF("src", "dst")
      val ranks = Graph.personalizedPagerankInt(
        edges, Seq("a").toDF("n"), iterations = 4)
      val byNode = ranks.as[(String, Long)].collect().toMap
      assert(byNode("x") == 0L && byNode("y") == 0L)
      assert(byNode("a") > 0L && byNode("b") > 0L)
      Checkpoints.release(ranks)
    }

    it("rotates checkpoints; Checkpoints.release frees the final one") {
      val edges = Seq(("a", "b"), ("b", "a")).toDF("src", "dst")
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val ranks = Graph.personalizedPagerankInt(
        edges, Seq("a").toDF("n"), iterations = 3)
      ranks.collect()
      val pinned = spark.sparkContext.getPersistentRDDs.keySet -- before
      assert(pinned.size == 1,
        s"exactly the final rank checkpoint should be pinned, got $pinned")
      Checkpoints.release(ranks)
      assert((spark.sparkContext.getPersistentRDDs.keySet & pinned).isEmpty)
    }

    it("total mass never exceeds |seeds| times the starting mass") {
      val edges = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"))
        .toDF("src", "dst")
      val ranks = Graph.personalizedPagerankInt(
        edges, Seq("a", "b").toDF("n"), iterations = 4)
      val total = ranks.agg(sum("rank")).as[Long].collect().head
      assert(total <= 2L * Graph.Scale && total > Graph.Scale)
      Checkpoints.release(ranks)
    }
  }
}
