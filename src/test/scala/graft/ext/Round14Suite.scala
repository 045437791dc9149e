package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

class Round14Suite extends SparkSpec {
  import spark.implicits._

  describe("Dedup size-compatibility prune (threshold boundary)") {
    // The prune drops candidate pairs where t·|A| > |B| or t·|B| > |A|
    // BEFORE verification; its result-invisibility claim hinges on the
    // double product t·n behaving monotonically against the final
    // double jaccard >= t filter exactly AT the boundary. Pin it with
    // J exactly = t: |A| = 5, |B| = 4, B ⊂ A → J = 4/5 = 0.8.
    it("keeps a pair whose jaccard equals the threshold exactly") {
      val docs = Seq(
        (1L, "a b c d e f g"), // 5 distinct 3-gram shingles
        (2L, "a b c d e f")    // 4 shingles, all shared → J = 0.8
      ).toDF("doc_id", "text")
      val plain = Dedup.jaccardPairs(docs, 0.8)
        .as[(Long, Long, Double)].collect().toSet
      val pref = Dedup.jaccardPairsPrefix(docs, 0.8)
        .as[(Long, Long, Double)].collect().toSet
      assert(plain == Set((1L, 2L, 0.8)))
      assert(pref == plain, "prefix+prune lost the exact-boundary pair")
    }

    it("prunes a size-incompatible pair identically in both branches") {
      // |A| = 10, |B| = 4 ⊂ A: max possible J = 4/10 < 0.8, so the
      // prune may drop it pre-verification — and the final filter
      // would anyway: both branches must return empty.
      val docs = Seq(
        (1L, "a b c d e f g h i j k l"), // 10 shingles
        (2L, "a b c d e f")              // 4 shingles, subset
      ).toDF("doc_id", "text")
      assert(Dedup.jaccardPairs(docs, 0.8).count() == 0L)
      assert(Dedup.jaccardPairsPrefix(docs, 0.8).count() == 0L)
    }

    it("agrees with the plain join at thresholds landing ON ratios") {
      // randomized corpus, thresholds chosen to collide with exact
      // small-integer jaccard ratios (1/2, 2/3, 3/4) so boundary pairs
      // actually occur
      val rnd = new scala.util.Random(14)
      val vocab = Vector("a", "b", "c", "d", "e", "f")
      val docs = (1L to 30L).map { id =>
        val len = 4 + rnd.nextInt(6)
        (id, Seq.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }.toDF("doc_id", "text")
      for (t <- Seq(0.5, 2.0 / 3.0, 0.75)) {
        val exact = Dedup.jaccardPairs(docs, t)
          .as[(Long, Long, Double)].collect().toSet
        val pref = Dedup.jaccardPairsPrefix(docs, t)
          .as[(Long, Long, Double)].collect().toSet
        assert(pref == exact, s"threshold $t: prune changed the result")
      }
    }
  }

  describe("Similarity.kCenterSeeds saturation") {
    it("fails loud when k exceeds the distinct vector count") {
      val corpus = Seq(
        (1L, Seq(0.0f, 0.0f)),
        (2L, Seq(1.0f, 1.0f)),
        (3L, Seq(0.0f, 0.0f)) // duplicate of vec 1
      ).toDF("vec_id", "embedding")
      val e = intercept[IllegalArgumentException] {
        Similarity.kCenterSeeds(corpus, 3).collect()
      }
      assert(e.getMessage.contains("distinct vector count"))
    }

    it("still selects k distinct-vector seeds when they exist") {
      val corpus = Seq(
        (1L, Seq(0.0f, 0.0f)),
        (2L, Seq(1.0f, 1.0f)),
        (3L, Seq(0.0f, 0.0f)), // duplicate — never needed for k=2
        (4L, Seq(5.0f, 5.0f))
      ).toDF("vec_id", "embedding")
      val got = Similarity.kCenterSeeds(corpus, 2)
        .as[(Long, Long, Long)].collect().sortBy(_._1).toList
      // seed = lowest vec_id (1), then farthest = vec 4 at d2 = 50
      assert(got == List((1L, 1L, 0L), (2L, 4L, 50000000L)))
    }
  }

  describe("Pq chunked query batches") {
    val model = Pq.Model(Seq(
      Seq(Seq(0.0, 0.0), Seq(10.0, 10.0)),
      Seq(Seq(0.0, 0.0), Seq(10.0, 10.0))), dim = 4)

    def corpus = (1L to 40L).map { i =>
      (i, Seq((i % 11).toFloat, (i % 7).toFloat,
        (i % 5).toFloat, (i % 3).toFloat))
    }.toDF("vec_id", "embedding")

    it("adcKnn chunked == unchunked (cap forcing many batches)") {
      val q = corpus.filter(col("vec_id") <= 9L)
      val codes = Pq.encode(corpus, model)
      val full = Pq.adcKnn(q, codes, model, 5)
        .as[(Long, Long, Long, Long)].collect().toSet
      // 4 LUT rows per query, 9 queries → cap 8 forces 5 batches
      val chunked = Pq.adcKnn(q, codes, model, 5, maxLutRows = 8L)
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(chunked == full)
    }

    it("ivfPqKnn chunked == unchunked") {
      val cents = Seq(Seq(1.0, 1.0, 1.0, 1.0), Seq(10.0, 6.0, 4.0, 2.0))
      val q = corpus.filter(col("vec_id") <= 6L)
      val full = Pq.ivfPqKnn(corpus, q, cents, model, 3, 2)
        .as[(Long, Long, Long, Long)].collect().toSet
      val chunked = Pq.ivfPqKnn(corpus, q, cents, model, 3, 2,
          maxLutRows = 4L)
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(chunked == full)
    }

    it("rejects a budget too small for even one query") {
      val q = corpus.filter(col("vec_id") === 1L)
      val e = intercept[IllegalArgumentException] {
        Pq.adcKnn(q, Pq.encode(corpus, model), model, 3, maxLutRows = 3L)
      }
      assert(e.getMessage.contains("cannot hold even one query"))
    }

    it("packed encode emits the same codes as the literal projection") {
      val lit2 = Pq.encode(corpus, model)
        .select(col("vec_id"), col("code0"), col("code1"))
        .as[(Long, Long, Long)].collect().toSet
      val packed = Pq.encodePacked(corpus, model)
        .select(col("vec_id"), element_at(col("codes"), 1).as("c0"),
          element_at(col("codes"), 2).as("c1"))
        .as[(Long, Long, Long)].collect().toSet
      assert(packed == lit2)
    }

    it("packed ADC reproduces the literal ADC ranking and distances") {
      val q = corpus.filter(col("vec_id") <= 5L)
      val viaLit = Pq.adcKnn(q, Pq.encode(corpus, model), model, 4)
        .as[(Long, Long, Long, Long)].collect().toSet
      val viaPacked = Pq.adcKnnPacked(q, Pq.encodePacked(corpus, model),
          model, 4)
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(viaPacked == viaLit)
    }

    it("packed ADC chunked == unchunked") {
      val q = corpus.filter(col("vec_id") <= 9L)
      val codes = Pq.encodePacked(corpus, model)
      val full = Pq.adcKnnPacked(q, codes, model, 5)
        .as[(Long, Long, Long, Long)].collect().toSet
      val chunked = Pq.adcKnnPacked(q, codes, model, 5, maxLutRows = 8L)
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(chunked == full)
    }

    it("residual IVFADC chunked == unchunked and beats raw-code error") {
      val cents = Seq(Seq(1.0, 1.0, 1.0, 1.0), Seq(10.0, 6.0, 4.0, 2.0))
      val q = corpus.filter(col("vec_id") <= 6L)
      val full = Pq.ivfAdcResidualKnn(corpus, q, cents, model, 3, 2)
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(full.nonEmpty)
      // per-query LUT = nProbe * m * k = 2*2*2 = 8 rows -> cap 16
      // forces multiple batches
      val chunked = Pq.ivfAdcResidualKnn(corpus, q, cents, model, 3, 2,
          maxLutRows = 16L)
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(chunked == full)
    }

    it("variance-balanced permutation is a valid balanced permutation") {
      val vecs = (1L to 100L).map { i =>
        // dim 8: variances descend with j (scale shrinks), so the
        // snake should pair high-variance with low-variance dims
        (i, Seq.tabulate(8)(j =>
          (((i * 31 + j * 17) % 13).toFloat / (j + 1))))
      }.toDF("vec_id", "embedding")
      val perm = Pq.varianceBalancedPerm(vecs, 8, 4)
      assert(perm.sorted == (0 until 8))
      // snake at m=4: round 1 deals (b0..b3), round 2 reversed — the
      // top-variance dim and the bottom-variance dim land together
      val buckets = perm.grouped(2).toSeq
      assert(buckets.size == 4 && buckets.forall(_.size == 2))
      val got = Pq.permuteVec(col("embedding").cast("array<double>"),
        perm)
      val first = vecs.select(got.as("p"))
        .as[Seq[Double]].collect().head
      val orig = vecs.as[(Long, Seq[Float])].collect().head._2
      assert(first == perm.map(j => orig(j).toDouble))
    }

    it("model parquet roundtrip is exact") {
      val path = tempDir("pq_rt_").resolve("m").toString
      Pq.saveModel(spark, model, path)
      val back = Pq.loadModel(spark, path)
      assert(back == model)
    }

    it("local Lloyd trainer is deterministic and k-complete") {
      val vecs = (1L to 200L).map { i =>
        (i, Seq.tabulate(4)(j => ((i * 31 + j * 17) % 13).toFloat))
      }.toDF("vec_id", "embedding")
      val a = Pq.trainCodebooksLocal(spark, vecs, 4, 2, 8)
      val b = Pq.trainCodebooksLocal(spark, vecs, 4, 2, 8)
      assert(a == b, "two fits over the same data differ")
      assert(a.books.size == 2 && a.books.forall(_.size == 8))
      assert(a.books.forall(_.forall(_.size == 2)))
    }
  }

  describe("Dedup incremental gram-stats merge") {
    it("merge of randomized shards == full-corpus recompute") {
      val rnd = new scala.util.Random(141)
      val vocab = Vector("a", "b", "c", "d", "e")
      val docs = (1L to 60L).map { id =>
        val len = 3 + rnd.nextInt(12)
        (id, Seq.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }.toDF("doc_id", "text")
      for (l <- Seq(2, 3); nShards <- Seq(2, 3)) {
        val shards = (0 until nShards).map(i =>
          docs.filter(pmod(col("doc_id"), lit(nShards)) === i))
        val merged = Dedup.mergeGramStats(
          shards.map(Dedup.gramStats(_, l)))
        val viaMerge = Dedup.duplicatedSpansFromStats(docs, merged, l)
          .as[(Long, Long, Long, Long, Double)].collect().toSet
        val full = Dedup.duplicatedSpans(docs, l)
          .as[(Long, Long, Long, Long, Double)].collect().toSet
        assert(viaMerge == full, s"L=$l, $nShards shards: merge drifted")
      }
    }

    it("merged owners equal full-corpus owners (provenance seam)") {
      val docs = Seq(
        (5L, "x y z w"), (2L, "x y z q"), (9L, "x y z w")
      ).toDF("doc_id", "text")
      val shards = Seq(docs.filter(col("doc_id") < 5L),
        docs.filter(col("doc_id") >= 5L))
      val merged = Dedup.mergeGramStats(shards.map(Dedup.gramStats(_, 3)))
        .as[(Long, Long, Long)].collect().toSet
      val full = Dedup.gramStats(docs, 3)
        .as[(Long, Long, Long)].collect().toSet
      assert(merged == full)
    }
  }

  describe("TextAnalysis.termChi2 decimal cross-product") {
    it("matches the hand-computed chi-square on a tiny corpus") {
      val docs = Seq(
        (1L, "x x y", true),
        (2L, "x z", false),
        (3L, "z z z", false)
      ).toDF("doc_id", "text", "tgt")
      val got = TextAnalysis.termChi2(docs, col("tgt"))
        .as[(String, Long, Long, Option[Double])].collect()
        .map(r => r._1 -> r).toMap
      // totals: n1 = 3 (target tokens), n2 = 5
      // term x: k1=2, k2=1 → diff = 2*(5-1) - 1*(3-2) = 7
      //   chi2 = 8 * 49 / (3*5*3*5) = 392/225
      val x = got("x")
      assert(x._2 == 2L && x._3 == 1L)
      assert(math.abs(x._4.get - 392.0 / 225.0) < 1e-12)
      // term z: k1=0, k2=4 → diff = 0 - 4*3 = -12
      //   chi2 = 8 * 144 / (3*5*4*4) = 1152/240
      val z = got("z")
      assert(math.abs(z._4.get - 1152.0 / 240.0) < 1e-12)
    }
  }
}
