package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

class Round6Suite extends SparkSpec {
  import spark.implicits._

  describe("Dedup.editDistancePairs") {
    it("pairs same-block docs within maxDist and drops the rest") {
      val docs = Seq(
        (1L, "en", "alpha beta gamma"),
        (2L, "en", "alpha beta gamme"),  // dist 1 from doc 1
        (3L, "en", "alpha XXXX YYYY"),   // same block, dist > 2
        (4L, "de", "alpha beta gamma"),  // other lang -> other block
        (5L, "en", "omega beta gamma")   // other prefix -> other block
      ).toDF("doc_id", "lang", "text")
      val got = Dedup.editDistancePairs(docs, prefixLen = 4, cmpLen = 60,
        maxDist = 2)
        .as[(Long, Long, Long)].collect().toSet
      assert(got == Set((1L, 2L, 1L)))
    }

    it("distance 0 pairs (exact dupes) survive the threshold filter") {
      val docs = Seq(
        (1L, "en", "same text"), (2L, "en", "same text"))
        .toDF("doc_id", "lang", "text")
      val got = Dedup.editDistancePairs(docs, 4, 60, 1)
        .as[(Long, Long, Long)].collect().toSet
      assert(got == Set((1L, 2L, 0L)))
    }
  }

  describe("Stats") {
    it("momentStats reproduces hand-computed sample moments") {
      // x = 1,2,3,4 ; y = 2,4,6,8 (cents already): corr exactly 1
      val df = Seq(("g", 1L, 2L), ("g", 2L, 4L), ("g", 3L, 6L),
        ("g", 4L, 8L)).toDF("grp", "x", "y")
      val r = Stats.momentStats(df, "grp", col("x"), col("y"))
        .select("n", "sx", "sy", "covar", "stddev_x", "stddev_y", "corr")
        .as[(Long, Long, Long, Double, Double, Double, Double)]
        .collect().head
      assert(r._1 == 4L && r._2 == 10L && r._3 == 20L)
      // sample covar of (1..4, 2..8) = 10/3; var_x = 5/3
      assert(math.abs(r._4 - 10.0 / 3) < 1e-12)
      assert(math.abs(r._5 - math.sqrt(5.0 / 3)) < 1e-12)
      assert(math.abs(r._7 - 1.0) < 1e-12)
    }

    it("cents rounds half-up via floor(x*100+0.5)") {
      val df = Seq(1.005, 2.004, -0.5).toDF("v")
      val got = df.select(Stats.cents(col("v"))).as[Long].collect().toSeq
      // 1.005*100 = 100.49999... in binary -> floors to 100; 2.004 -> 200
      assert(got == Seq(100L, 200L, -50L))
    }

    it("momentStats yields nulls for degenerate groups, not ANSI errors") {
      val df = Seq(("single", 5L, 7L), ("const", 3L, 5L), ("const", 3L, 9L))
        .toDF("grp", "x", "y")
      val rows = Stats.momentStats(df, "grp", col("x"), col("y"))
        .collect().map(r => r.getString(0) -> r).toMap
      // n=1: no sample moments at all
      assert(rows("single").isNullAt(4) && rows("single").isNullAt(7))
      // constant x: stddev_x = 0 (defined), corr undefined -> null
      assert(rows("const").getDouble(5) == 0.0)
      assert(rows("const").isNullAt(7))
    }

    it("momentStats is pairwise-complete over null measures") {
      val df = Seq(("g", Some(1L), Some(2L)), ("g", None, Some(100L)),
        ("g", Some(3L), Some(6L))).toDF("grp", "x", "y")
      val r = Stats.momentStats(df, "grp", col("x"), col("y"))
        .select("n", "sx", "sy").as[(Long, Long, Long)].collect().head
      // the null-x row is excluded from n AND from sy (else moments skew)
      assert(r == ((2L, 4L, 8L)))
    }

    it("withZScore yields null z / false flag for constant groups") {
      val df = Seq((1L, "c", 5L), (2L, "c", 5L), (3L, "c", 5L))
        .toDF("id", "grp", "x")
      val out = Stats.withZScore(df, "grp", col("x"), 3.0)
        .select("id", "z", "is_outlier").collect()
      assert(out.forall(_.isNullAt(1)))
      assert(out.forall(!_.getBoolean(2)))
    }

    it("withZScore flags the outlier and nothing else") {
      val vals = Seq.fill(20)(100L) :+ 1000L
      val df = vals.zipWithIndex
        .map { case (v, i) => (i.toLong, "t", v) }
        .toDF("id", "grp", "x")
      val out = Stats.withZScore(df, "grp", col("x"), 3.0)
        .select("id", "is_outlier").as[(Long, Boolean)].collect().toMap
      assert(out(20L))
      assert((0L until 20L).forall(!out(_)))
    }
  }

  describe("TimeSeries.gapFillDaily") {
    it("densifies each key's span and zero-fills silent days") {
      val df = Seq((1L, 10L, 100L), (1L, 13L, 200L), (2L, 5L, 50L))
        .toDF("k", "d", "vc")
      val got = TimeSeries.gapFillDaily(df, "k", col("d"), col("vc"))
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(got == Set(
        (1L, 10L, 1L, 100L), (1L, 11L, 0L, 0L), (1L, 12L, 0L, 0L),
        (1L, 13L, 1L, 200L), (2L, 5L, 1L, 50L)))
    }
  }

  describe("Profile.profile") {
    it("reports nulls, distincts, and stringified min/max per column") {
      val df = Seq((Some(1L), "a"), (None, "b"), (Some(3L), "b"))
        .toDF("num", "s")
      val got = Profile.profile(df, Seq("num", "s"))
        .as[(String, Long, Long, Long, String, String)]
        .collect().map(r => r._1 -> r).toMap
      assert(got("num") == ("num", 3L, 1L, 2L, "1", "3"))
      assert(got("s") == ("s", 3L, 0L, 2L, "a", "b"))
    }
  }

  describe("Quantize") {
    it("withInt8 maps max|x| to ±127 and zero vectors to zeros") {
      val df = Seq(
        (1L, Seq(2.0f, -4.0f, 1.0f)),
        (2L, Seq(0.0f, 0.0f, 0.0f))
      ).toDF("vec_id", "embedding")
      val got = Quantize.withInt8(df, col("embedding"), "q")
        .select("vec_id", "q")
        .as[(Long, Seq[Long])].collect().toMap
      assert(got(1L) == Seq(64L, -127L, 32L)) // floor(x*31.75+0.5)
      assert(got(2L) == Seq(0L, 0L, 0L))
    }

    it("intDot is the exact integer dot product") {
      val df = Seq((Seq(1L, -2L, 3L), Seq(4L, 5L, 6L))).toDF("a", "b")
      val got = df.select(Quantize.intDot(col("a"), col("b")))
        .as[Long].collect().head
      assert(got == 4L - 10L + 18L)
    }

    it("knnInt8 ranks by integer dot with id tiebreak") {
      val emb = Seq(
        (0L, Seq(1.0f, 0.0f)),
        (1L, Seq(1.0f, 0.0f)),  // qdot 127*127
        (2L, Seq(0.5f, 0.0f)),  // same direction -> same int8 -> tie with 1
        (3L, Seq(0.0f, 1.0f))   // orthogonal
      ).toDF("vec_id", "embedding")
      val got = Quantize.knnInt8(emb.filter(col("vec_id") === 0), emb, 3)
        .select("neighbor_id", "rnk").as[(Long, Long)].collect().toSet
      assert(got == Set((1L, 1L), (2L, 2L), (3L, 3L)))
    }
  }

  describe("round-6 review edge cases") {
    it("normalizeColumns never emits duplicate names (suffix collision)") {
      val df = Seq((1, 2, 3)).toDF("a", "A ", "a_1")
      val cols = graft.engine.Readers.normalizeColumns(df).columns.toSeq
      assert(cols == Seq("a", "a_1", "a_1_1"))
      assert(cols.distinct.size == cols.size)
    }

    it("cmsBounds gives a null key trivially-true flags, not NULL") {
      val df = Seq(Some(1L), None, Some(1L)).toDF("k")
      val rows = Sketches.cmsBounds(df, "k", 0.01, 0.99, 1)
        .select("n_exact", "lower_ok", "upper_ok")
        .as[(Long, Long, Long)].collect().toSet
      assert(rows == Set((2L, 1L, 1L), (1L, 1L, 1L)))
    }

    it("langId labels null text 'und', not the otherwise branch") {
      val df = Seq((1L, null: String), (2L, "the of and is a"))
        .toDF("doc_id", "text")
      val got = TextAnalysis.langId(df)
        .select("doc_id", "lang_pred").as[(Long, String)].collect().toMap
      assert(got(1L) == "und" && got(2L) == "en")
    }

    it("quality scores empty text 0 alnum instead of dividing by zero") {
      val df = Seq((1L, ""), (2L, "plain text here")).toDF("doc_id", "text")
      val got = TextAnalysis.quality(df)
        .select("doc_id", "alnum_ratio").as[(Long, Double)].collect().toMap
      assert(got(1L) == 0.0 && got(2L) > 0.0)
    }

    it("slidingChunks rejects stride > window (silent coverage gaps)") {
      val df = Seq((1L, "a b c")).toDF("doc_id", "text")
      intercept[IllegalArgumentException] {
        TextAnalysis.slidingChunks(df, window = 32, stride = 64)
      }
    }

    it("saltedJoin rejects a non-positive fan-out at the call site") {
      val df = Seq((1L, "x")).toDF("k", "v")
      intercept[IllegalArgumentException] {
        graft.engine.Skew.saltedJoin(df, df, "k", 0)
      }
    }
  }

  describe("Sketches.cmsBounds") {
    it("CMS estimates stay within [exact, exact + eps*N]") {
      val df = ((1L to 50L) ++ Seq.fill(100)(7L)).toDF("k")
      val rows = Sketches.cmsBounds(df, "k", eps = 0.01,
        confidence = 0.99, seed = 7)
        .as[(Long, Long, Long, Long)].collect()
      assert(rows.length == 50)
      assert(rows.forall(r => r._3 == 1L && r._4 == 1L))
      assert(rows.find(_._1 == 7L).get._2 == 101L)
    }
  }

  describe("Readers.parquetMerged / Skew.heavyKeys") {
    it("merges evolving schemas by name, null-filling old files") {
      val tmp = tempDir("evo_test")
      Seq((1L, 10.0)).toDF("k", "v").write.parquet(s"$tmp/v1")
      Seq((2L, 20.0, "x")).toDF("k", "v", "tag")
        .write.parquet(s"$tmp/v2")
      val got = graft.engine.Readers
        .parquetMerged(spark, Seq(s"$tmp/v1", s"$tmp/v2"))
        .select("k", "v", "tag").as[(Long, Double, Option[String])]
        .collect().sortBy(_._1).toSeq
      assert(got == Seq((1L, 10.0, None), (2L, 20.0, Some("x"))))
    }

    it("heavyKeys returns only keys past the threshold") {
      val df = (Seq.fill(5)(1L) ++ Seq.fill(2)(2L) ++ Seq(3L)).toDF("k")
      val got = graft.engine.Skew.heavyKeys(df, "k", 2L)
        .as[(Long, Long)].collect().toMap
      assert(got == Map(1L -> 5L))
    }
  }

  describe("TextAnalysis.slidingChunks") {
    it("emits overlapping windows with stable md5 identities") {
      val docs = Seq((1L, (1 to 10).map(i => s"t$i").mkString(" ")))
        .toDF("doc_id", "text")
      val got = TextAnalysis.slidingChunks(docs, window = 4, stride = 3)
        .select("chunk_idx", "chunk_tokens", "chunk_md5")
        .as[(Long, Long, String)].collect().sortBy(_._1).toSeq
      // starts 1,4,7,10 -> windows t1-t4, t4-t7, t7-t10, t10
      assert(got.map(c => (c._1, c._2)) ==
        Seq((0L, 4L), (1L, 4L), (2L, 4L), (3L, 1L)))
      def m(s: String) = {
        val d = java.security.MessageDigest.getInstance("MD5")
          .digest(s.getBytes("UTF-8"))
        d.map("%02x".format(_)).mkString
      }
      assert(got(0)._3 == m("t1 t2 t3 t4"))
      assert(got(3)._3 == m("t10"))
    }
  }

  describe("Batching") {
    it("deterministicShuffle is a reproducible permutation, not id order") {
      val df = (1L to 100L).toDF("doc_id")
      def run() = Batching.deterministicShuffle(df, col("doc_id"))
        .as[(Long, Long)].collect().sortBy(_._1).toSeq
      val a = run()
      assert(a.map(_._2).sorted == (1L to 100L)) // a permutation
      assert(a.map(_._1) != a.sortBy(_._2).map(_._1)) // not identity order
      assert(a == run()) // byte-identical on rerun
    }

    it("different salts give different permutations") {
      val df = (1L to 50L).toDF("doc_id")
      val s0 = Batching.deterministicShuffle(df, col("doc_id"), salt = 0)
        .as[(Long, Long)].collect().sortBy(_._1).map(_._2).toSeq
      val s1 = Batching.deterministicShuffle(df, col("doc_id"), salt = 1)
        .as[(Long, Long)].collect().sortBy(_._1).map(_._2).toSeq
      assert(s0 != s1)
    }

    it("lengthBucketedBatches bands by length and chunks at the cap") {
      // lens 10,12 -> bucket 0; 35,36,37 -> bucket 1 (band 32)
      val df = Seq((1L, 10L), (2L, 12L), (3L, 35L), (4L, 36L), (5L, 37L))
        .toDF("id", "len")
      val got = Batching.lengthBucketedBatches(df, col("id"), col("len"),
        bandWidth = 32L, capTokens = 70L)
        .select("id", "size_bucket", "batch_in_bucket", "pos_in_bucket")
        .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
      assert(got(1L) == ((1L, 0L, 0L, 1L)))
      assert(got(2L) == ((2L, 0L, 0L, 2L)))
      // bucket 1 cum: 35, 71, 108 -> starts 0, 35, 71 -> batches 0, 0, 1
      assert(got(3L) == ((3L, 1L, 0L, 1L)))
      assert(got(4L) == ((4L, 1L, 0L, 2L)))
      assert(got(5L) == ((5L, 1L, 1L, 3L)))
    }
  }

  describe("BloomJoin.prefilteredJoin") {
    it("matches the plain join exactly (no false negatives survive)") {
      val probe = (1L to 1000L).map(i => (i, i * 10)).toDF("k", "v")
      val build = (1L to 1000L by 7).map(i => (i, s"d$i")).toDF("k", "d")
      val got = BloomJoin.prefilteredJoin(probe, build, "k", 200L)
        .select("k", "v", "d").as[(Long, Long, String)].collect().toSet
      val plain = probe.join(build, Seq("k"))
        .select("k", "v", "d").as[(Long, Long, String)].collect().toSet
      assert(got == plain && got.size == build.count())
    }

    it("the probe prunes rows before the join") {
      val probe = (1L to 1000L).toDF("k")
      val build = Seq(1L, 2L, 3L).toDF("k")
      val bf = build.stat.bloomFilter("k", 10L, 0.01)
      val pruned = probe
        .filter(graft.functions.BloomFunctions
          .mightContainLong(col("k"), bf))
        .count()
      // 3 true members + at most a handful of false positives at 1% fpp
      assert(pruned >= 3 && pruned < 50)
    }
  }

  describe("SemDedup.semanticDedup") {
    it("drops the higher-id member of a near-dup pair within a cell") {
      val emb = Seq(
        (1L, Seq(1.0f, 0.0f)),
        (2L, Seq(0.99f, 0.01f)),  // near-dup of 1, same cell
        (3L, Seq(-1.0f, 0.0f)),   // other cell
        (4L, Seq(0.0f, 1.0f))     // same-ish region as nothing
      ).toDF("vec_id", "embedding")
      val centroids = Seq(Seq(1.0, 0.0), Seq(-1.0, 0.0))
      val got = SemDedup.semanticDedup(spark, emb, centroids, 0.9)
        .select("vec_id", "kept").as[(Long, Boolean)].collect().toMap
      assert(got == Map(1L -> true, 2L -> false, 3L -> true, 4L -> true))
    }
  }
}
