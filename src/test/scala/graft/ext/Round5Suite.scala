package graft.ext

import org.apache.spark.sql.Row
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Round-5 operators: running totals / sequence packing, decontamination,
  * repetition scoring, PII scrubbing, weighted sampling, JSONL source.
  */
class Round5Suite extends SparkSpec {
  import spark.implicits._

  describe("GlobalOrder.withRunningTotal") {
    it("matches the single-partition window running sum") {
      val df = (1 to 500).map(i => (i.toLong, ((i * 37) % 11).toLong))
        .toDF("id", "v")
      val got = GlobalOrder
        .withRunningTotal(df, Seq(col("id")), "v", "rt", partitions = 7)
        .select("id", "rt").as[(Long, Long)].collect().toMap
      val want = df.withColumn("rt",
        sum("v").over(Window.orderBy("id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select("id", "rt").as[(Long, Long)].collect().toMap
      assert(got == want)
    }

    it("treats nulls as zero, like SQL SUM") {
      val df = Seq((1L, Some(5L)), (2L, None), (3L, Some(2L)))
        .toDF("id", "v")
      val got = GlobalOrder.withRunningTotal(df, Seq(col("id")), "v", "rt")
        .select("id", "rt").as[(Long, Long)].collect().toMap
      assert(got == Map(1L -> 5L, 2L -> 5L, 3L -> 7L))
    }
  }

  describe("Packing.chunkSpans") {
    it("chunk spans tile the token stream exactly") {
      val docs = (1 to 200).map(i => (i.toLong, ((i * 13) % 40) + 1))
        .toDF("doc_id", "toks")
      val spans = Packing
        .chunkSpans(docs, col("toks"), Seq(col("doc_id")), 64)
        .select("doc_id", "n_tokens", "chunk_first", "chunk_last",
          "n_chunks")
        .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1)
      // sequential reference: walk the corpus in order, track offsets
      var cum = 0L
      spans.foreach { case (_, n, first, last, nc) =>
        assert(first == cum / 64)
        assert(last == (cum + n - 1) / 64)
        assert(nc == last - first + 1)
        cum += n
      }
      // consecutive docs abut: next first chunk is in [last, last + 1]
      spans.sliding(2).foreach {
        case Array((_, _, _, aLast, _), (_, _, bFirst, _, _)) =>
          assert(bFirst == aLast || bFirst == aLast + 1)
        case _ =>
      }
    }

    it("empty documents span zero chunks") {
      val docs = Seq((1L, 10), (2L, 0), (3L, 5)).toDF("doc_id", "toks")
      val m = Packing.chunkSpans(docs, col("toks"), Seq(col("doc_id")), 8)
        .select("doc_id", "n_chunks").as[(Long, Long)].collect().toMap
      assert(m(2L) == 0L && m(1L) == 2L && m(3L) == 1L)
    }
  }

  describe("Decontaminate") {
    val bench = Seq((100L, "the quick brown fox jumps")).toDF("id", "text")
    val corpus = Seq(
      (1L, "a quick brown fox ran away"), // shares "quick brown fox"
      (2L, "totally unrelated words here"),
      (3L, "the quick brown fox jumps again")) // shares 3 grams
      .toDF("id", "text")

    it("flags docs sharing an n-gram and counts distinct overlaps") {
      val hits = Decontaminate
        .contaminated(corpus, bench, col("id"), col("text"), 3)
        .as[(Long, Long)].collect().toMap
      assert(hits == Map(1L -> 1L, 3L -> 3L))
    }

    it("docs shorter than n contribute nothing") {
      val tiny = Seq((9L, "quick brown")).toDF("id", "text")
      assert(Decontaminate.ngramHashes(tiny, col("id"), col("text"), 3)
        .count() == 0)
    }
  }

  describe("TextAnalysis.repetition") {
    it("scores duplicated n-grams and handles short docs") {
      val docs = Seq(
        (1L, "a b a b a b"), // bigrams: 5 total, 2 distinct
        (2L, "w x y z"),     // all distinct
        (3L, "solo"))        // too short for any gram
        .toDF("doc_id", "text")
      val r = TextAnalysis.repetition(docs)
        .select("doc_id", "n_grams2", "n_uniq2", "dup_frac2", "n_grams3",
          "n_uniq3")
        .as[(Long, Long, Long, Double, Long, Long)].collect()
        .map(x => x._1 -> x).toMap
      assert(r(1L) == ((1L, 5L, 2L, 0.6, 4L, 2L)))
      assert(r(2L)._4 == 0.0 && r(2L)._2 == 3L)
      assert(r(3L) == ((3L, 0L, 0L, 0.0, 0L, 0L)))
    }
  }

  describe("TextAnalysis.piiScrub") {
    it("redacts emails before digit runs and counts both") {
      val docs = Seq(
        (1L, "mail bob99999@corp.example.org and ref 123456 now"),
        (2L, "no pii at all"),
        (3L, "digits 0042 only"))
        .toDF("doc_id", "text")
      val r = TextAnalysis.piiScrub(docs, col("text"))
        .as[(Long, Long, Long, String)].collect()
        .map(x => x._1 -> x).toMap
      // the email's own digits must not count as a digit run
      assert(r(1L)._2 == 1L && r(1L)._3 == 1L)
      assert(r(2L)._2 == 0L && r(2L)._3 == 0L)
      assert(r(3L)._2 == 0L && r(3L)._3 == 1L)
      // md5 of the fully scrubbed text, computed off-Spark
      val scrubbed = "mail <EMAIL> and ref <NUM> now"
      val want = java.security.MessageDigest.getInstance("MD5")
        .digest(scrubbed.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      assert(r(1L)._4 == want)
    }
  }

  describe("Sampling.sampleByWeight") {
    it("weight 0 drops all, weight 1 keeps all, proportions track weight") {
      val df = (1 to 4000).map(_.toLong).toDF("id")
      assert(Sampling.sampleByWeight(df, col("id"), lit(0.0)).count() == 0)
      assert(Sampling.sampleByWeight(df, col("id"), lit(1.0)).count()
        == 4000)
      val frac =
        Sampling.sampleByWeight(df, col("id"), lit(0.3)).count() / 4000.0
      assert(math.abs(frac - 0.3) < 0.03, s"got $frac")
    }

    it("is deterministic per key") {
      val df = (1 to 100).map(_.toLong).toDF("id")
      val a = Sampling.sampleByWeight(df, col("id"), lit(0.5))
        .as[Long].collect().sorted.toSeq
      val b = Sampling.sampleByWeight(df, col("id"), lit(0.5))
        .as[Long].collect().sorted.toSeq
      assert(a == b && a.nonEmpty)
    }
  }

  describe("Dedup.incrementalNew") {
    it("keeps min-id per digest and drops digests already in existing") {
      val incoming = Seq(
        (10L, "aaa"), (12L, "aaa"), // within-batch dup -> keep 10
        (11L, "bbb"),               // already in existing -> dropped
        (13L, "ccc"))               // genuinely new
        .toDF("doc_id", "text")
      val existing = Seq((1L, "bbb"), (2L, "zzz")).toDF("doc_id", "text")
      val kept = Dedup.incrementalNew(incoming, existing)
        .select("doc_id").as[Long].collect().sorted.toSeq
      assert(kept == Seq(10L, 13L))
    }
  }

  describe("Mixture.withAllocation") {
    it("largest-remainder allocation sums exactly to the budget") {
      val per = Seq(("a", 1L), ("b", 1L), ("c", 1L)).toDF("src", "w")
      val m = Mixture.withAllocation(per, "src", "w", 100L)
        .select("src", "alloc").as[(String, Long)].collect().toMap
      // 100/3 = 33.33..; equal remainders -> leftover to first by name
      assert(m.values.sum == 100L)
      assert(m == Map("a" -> 34L, "b" -> 33L, "c" -> 33L))
    }

    it("proportional weights allocate proportionally") {
      val per = Seq(("a", 3L), ("b", 1L)).toDF("src", "w")
      val m = Mixture.withAllocation(per, "src", "w", 1000L)
        .select("src", "alloc").as[(String, Long)].collect().toMap
      assert(m == Map("a" -> 750L, "b" -> 250L))
    }

    it("remainders go to the largest fractional parts") {
      // weights 5,3,2 over budget 7: exact 3.5, 2.1, 1.4 -> base 3,2,1
      // (sum 6); the one leftover unit goes to 'a' (rem .5)
      val per = Seq(("a", 5L), ("b", 3L), ("c", 2L)).toDF("src", "w")
      val m = Mixture.withAllocation(per, "src", "w", 7L)
        .select("src", "alloc").as[(String, Long)].collect().toMap
      assert(m == Map("a" -> 4L, "b" -> 2L, "c" -> 1L))
    }

    it("all-zero weights short-circuit to zero allocations, not NaN") {
      val per = Seq(("a", 0L), ("b", 0L)).toDF("src", "w")
      val m = Mixture.withAllocation(per, "src", "w", 100L)
        .select("src", "alloc").as[(String, Long)].collect().toMap
      assert(m == Map("a" -> 0L, "b" -> 0L))
    }
  }

  describe("Warehouse.upsertLatest") {
    it("keeps the highest version per key and passes through new keys") {
      val base = Seq((1L, 1L, "a"), (2L, 1L, "b")).toDF("k", "version", "v")
      val updates = Seq((2L, 2L, "b2"), (3L, 1L, "c"))
        .toDF("k", "version", "v")
      val got = graft.engine.Warehouse
        .upsertLatest(base, updates, "k", "version")
        .as[(Long, Long, String)].collect().sortBy(_._1).toSeq
      assert(got == Seq((1L, 1L, "a"), (2L, 2L, "b2"), (3L, 1L, "c")))
    }
  }

  describe("Readers.jsonl") {
    it("round-trips records through newline-delimited JSON") {
      val tmp = tempDir("jsonl_spec")
        .toString
      val src = Seq((1L, "with \"quotes\" and\ttabs"), (2L, "plain"))
        .toDF("id", "s")
      src.write.mode("overwrite").json(tmp)
      val back = graft.engine.Readers
        .jsonl(spark, tmp, "id BIGINT, s STRING")
        .as[(Long, String)].collect().sortBy(_._1).toSeq
      assert(back == Seq((1L, "with \"quotes\" and\ttabs"), (2L, "plain")))
    }
  }
}
