package graft.ext

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Behavior tests for the training-data-pipeline operators: known-answer
  * Jaccard, MinHash candidate generation, SimHash stability, cosine math,
  * and LSH recall against the brute-force baseline.
  */
class ExtSuite extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog"),
    (1L, "the quick brown fox jumps over the lazy cat"), // near-dup of 0
    (2L, "completely different words appear in this one"),
    (3L, "the quick brown fox jumps over the lazy dog")  // exact dup of 0
  ).toDF("doc_id", "text")

  describe("Dedup.exactGroups") {
    it("groups identical texts") {
      val g = Dedup.exactGroups(docs).filter(col("n_docs") > 1).collect()
      assert(g.length == 1)
      assert(g(0).getAs[Long]("n_docs") == 2L)
      assert(g(0).getAs[Long]("keep_doc_id") == 0L)
    }
  }

  describe("Dedup.jaccardPairs") {
    it("computes exact n-gram jaccard") {
      val pairs = Dedup.jaccardPairs(docs, 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      assert(pairs((0L, 3L)) == 1.0) // exact dup
      // docs 0/1: 7 shingles each, 6 shared -> 6/8
      assert(math.abs(pairs((0L, 1L)) - 6.0 / 8.0) < 1e-12)
      assert(!pairs.contains((0L, 2L)))
    }
  }

  describe("Dedup.jaccardPairs with dfCap") {
    // one boilerplate shingle ("aaa bbb ccc") shared by ALL docs plus a
    // genuine near-dup pair that also shares rare shingles
    val hot = Seq(
      (0L, "aaa bbb ccc x0 y0 z0"),
      (1L, "aaa bbb ccc x1 y1 z1"),
      (2L, "aaa bbb ccc x2 y2 z2"),
      (3L, "aaa bbb ccc x3 y3 z3"),
      (4L, "aaa bbb ccc shared tail words"),
      (5L, "aaa bbb ccc shared tail words extra")
    ).toDF("doc_id", "text")

    it("prunes hot shingles: pairs whose only overlap is boilerplate vanish") {
      // every doc shares "aaa bbb ccc" -> uncapped emits all 15 pairs as
      // candidates; capped at df<=2 only the genuinely-overlapping pair
      // (4,5) survives candidate generation
      val capped = Dedup.jaccardPairs(hot, 0.0, dfCap = 2)
        .select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(capped == Set((4L, 5L)))
    }
    it("keeps FULL shingle counts, so capped jaccard only underestimates") {
      val exact = Dedup.jaccardPairs(hot, 0.0)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      val capped = Dedup.jaccardPairs(hot, 0.0, dfCap = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      for ((k, v) <- capped) assert(v <= exact(k) + 1e-12, s"pair $k")
      // docs 4/5: |A|=4, |B|=5 shingles, intersection 4 exact -> 4/5;
      // pruning drops only the df-6 boilerplate shingle -> intersection 3
      // over the SAME full denominators -> 3/6
      assert(math.abs(exact((4L, 5L)) - 4.0 / 5.0) < 1e-12)
      assert(math.abs(capped((4L, 5L)) - 3.0 / 6.0) < 1e-12)
    }
    it("dfCap default is exact (no pruning)") {
      val a = Dedup.jaccardPairs(docs, 0.5).collect().length
      val b = Dedup.jaccardPairs(docs, 0.5, dfCap = Int.MaxValue).collect().length
      assert(a == b)
    }
  }

  describe("Dedup.minhashCandidates") {
    it("surfaces exact and near duplicates as candidates") {
      val cand = Dedup.minhashCandidates(docs)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(cand.contains((0L, 3L))) // identical signature -> all bands
      assert(!cand.contains((0L, 2L)))
    }
  }

  describe("Dedup.simhash") {
    it("gives identical signatures to identical token sets") {
      val sig = Dedup.simhash(docs).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(sig(0L) == sig(3L))
      assert(sig(0L) != sig(2L))
    }
    it("finds low-hamming pairs via banding") {
      val pairs = Dedup.simhashPairs(docs, maxDist = 60)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
      assert(pairs((0L, 3L)) == 0)
    }
  }

  describe("Similarity.cosine") {
    it("matches hand-computed values") {
      val df = Seq((Array(1.0, 0.0), Array(0.0, 1.0)),
        (Array(1.0, 2.0), Array(2.0, 4.0))).toDF("a", "b")
      val r = df.select(Similarity.cosine(col("a"), col("b"))).as[Double].collect()
      assert(math.abs(r(0)) < 1e-12)
      assert(math.abs(r(1) - 1.0) < 1e-12)
    }
  }

  describe("Similarity.knnLsh recall vs brute force") {
    it("recovers most true neighbors at sf0.001") {
      val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      val q = emb.filter(col("vec_id") < 5)
      val brute = Similarity.knnBrute(q, emb, 3).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val lsh = Similarity.knnLsh(q, emb, 3, planes = 2, dim = 64).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val recall = (brute & lsh).size.toDouble / brute.size
      // random near-orthogonal vectors are a worst case for LSH; with 2
      // planes (4 buckets) expect a meaningful fraction, not perfection
      assert(recall >= 0.2, s"recall=$recall")
    }
  }

  describe("IvfIndex recall vs brute force") {
    it("probing half the cells recovers most true neighbors") {
      val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      val q = emb.filter(col("vec_id") < 5)
      val brute = Similarity.knnBrute(q, emb, 3).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val model = IvfIndex.build(spark, emb, nCells = 8)
      val ivf = IvfIndex.knn(model, q, 3, nProbe = 4).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val recall = (brute & ivf).size.toDouble / brute.size
      assert(recall >= 0.4, s"recall=$recall")
    }
  }

  describe("IvfIndex.fromCentroids large-cell-count fallback") {
    it("NearestCentroid assignment == driver-side argmin at nCells=2048") {
      val corpus = spark.range(300).select(col("id").as("vec_id"),
        transform(sequence(lit(0), lit(3)), j =>
          (pmod(hash(col("id"), j), lit(1000)) / 500.0 - 1.0).cast("float"))
          .as("embedding"))
      val cents = Seq.tabulate(2048)(i =>
        Seq.tabulate(4)(j => (((i * 31 + j * 17) % 97) / 97.0) - 0.5))
      val got = IvfIndex.fromCentroids(spark, corpus, cents)
        .assigned.select("vec_id", "cell").collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      // d² = v·v − 2·v·c + c·c folded left to right, ties to the lowest cell
      def dot(x: Seq[Double], y: Seq[Double]): Double =
        x.zip(y).foldLeft(0.0) { case (a, (p, q)) => a + p * q }
      val want = corpus.as[(Long, Seq[Float])].collect().map { case (id, e) =>
        val v = e.map(_.toDouble)
        val d2 = cents.map(c => dot(v, v) - 2.0 * dot(v, c) + dot(c, c))
        id -> d2.indices.reduceLeft((b, i) => if (d2(i) < d2(b)) i else b)
      }.toMap
      assert(got == want)
    }
    it("NearestCentroid is null-safe") {
      val df = Seq(Tuple1(Option(Seq(1.0, 0.0))), Tuple1(None))
        .toDF("v").select(col("v").cast("array<double>").as("v"))
      val cents = Seq(Seq(0.0, 1.0), Seq(1.0, 0.0))
      val got = df.select(graft.functions.VectorFunctions
        .nearestCentroid(col("v"), cents).as("cell")).collect()
      assert(got(0).getInt(0) == 1)  // matches the second centroid exactly
      assert(got(1).isNullAt(0))     // null vector -> null cell, no NPE
      // Pq.encode takes its codes from the same kind of kernel: a null
      // vector gets null codes and a null error
      val pq = Pq.Model(Seq(Seq(Seq(0.0), Seq(1.0)), Seq(Seq(0.0), Seq(1.0))),
        dim = 2)
      val enc = Pq.encode(Seq((1L, Option(Seq(1.0f, 0.0f))), (2L, None))
        .toDF("vec_id", "embedding"), pq).orderBy("vec_id").collect()
      assert(enc(0).toSeq == Seq(1L, 1L, 0L, 0L))
      assert(enc(1).toSeq == Seq(2L, null, null, null))
    }
  }

  describe("TextAnalysis") {
    it("counts tokens both ways") {
      val t = TextAnalysis.tokenCounts(Seq((1L, "ab cd, ef!")).toDF("doc_id", "text"))
        .collect()(0)
      assert(t.getAs[Long]("n_tokens_ws") == 3L)
      assert(t.getAs[Long]("n_tokens_re") == 5L) // ab, cd, ",", ef, "!"
    }
    it("predicts language by stopword votes with fixed priority") {
      val d = Seq(
        (1L, "the cat is on the mat"),
        (2L, "el gato que duerme y la casa"),
        (3L, "xyzzy plugh")).toDF("doc_id", "text")
      val p = TextAnalysis.langId(d).collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("lang_pred")).toMap
      assert(p(1L) == "en"); assert(p(2L) == "es"); assert(p(3L) == "und")
    }
    it("fingerprints are order-insensitive on the token set") {
      val d = Seq((1L, "b a c"), (2L, "c b a"), (3L, "a b d"))
        .toDF("doc_id", "text")
      val fp = TextAnalysis.fingerprint(d).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(fp(1L) == fp(2L))
      assert(fp(1L) != fp(3L))
    }
  }

  describe("AsofJoin.leftAsof") {
    it("matches latest right row at-or-before, inclusive on ties") {
      val left = Seq((1L, 10L, "p1"), (1L, 25L, "p2"), (2L, 5L, "p3"))
        .toDF("k", "t", "tag")
      val right = Seq((1L, 10L, 100L), (1L, 20L, 200L), (3L, 1L, 300L))
        .toDF("k", "rt", "v")
      val got = AsofJoin.leftAsof(left, right, "k", "t", "rt", Seq("v"))
        .collect()
        .map(r => (r.getAs[Long]("k"), r.getAs[Long]("t")) ->
          Option(r.getAs[Any]("v")))
        .toMap
      assert(got((1L, 10L)) == Some(100L)) // tie: rt == t counts (<=)
      assert(got((1L, 25L)) == Some(200L)) // latest of {10, 20}
      assert(got((2L, 5L)) == None)        // key with no right rows
    }
    it("keeps all left columns and ignores future right rows") {
      val left = Seq((7L, 100L, 1.5)).toDF("k", "t", "x")
      val right = Seq((7L, 101L, 9L)).toDF("k", "rt", "v")
      val rows = AsofJoin.leftAsof(left, right, "k", "t", "rt", Seq("v"))
        .collect()
      assert(rows.length == 1)
      assert(rows(0).getAs[Double]("x") == 1.5)
      assert(rows(0).isNullAt(rows(0).fieldIndex("v"))) // right is AFTER left
    }
  }

  describe("RangeJoin.pointInInterval") {
    it("matches the naive range join on unaligned/overlapping intervals") {
      val pts = (0L until 200L).map(i => (i, i * 37 % 1000)).toDF("pid", "t")
      val ivs = Seq((100L, 1L, 250L), (101L, 240L, 900L), (102L, 50L, 51L),
        (103L, 500L, 500L), /* empty */ (104L, 999L, 2000L))
        .toDF("iid", "s", "e")
      for (bin <- Seq(1L, 64L, 1000L, 5000L)) {
        val got = RangeJoin.pointInInterval(pts, ivs, "t", "s", "e", bin)
          .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        val want = pts.join(ivs, col("t") >= col("s") && col("t") < col("e"))
          .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(got == want, s"bin=$bin")
      }
    }
  }

  describe("GlobalOrder") {
    // non-trivial sizes including n % k != 0 and n < k
    for ((n, k) <- Seq((97, 10), (100, 10), (5, 10), (64, 7))) {
      it(s"ntile($k) over $n rows matches the single-partition window") {
        val df = spark.range(n).select(
          (col("id") * 7919 % 101).as("v"), col("id"))
        val viaWindow = df.select(col("v"), col("id"),
          ntile(k).over(org.apache.spark.sql.expressions.Window
            .orderBy("v", "id")).cast("long").as("b"))
          .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
        val viaGlobal = GlobalOrder
          .withNtile(df, k, Seq(col("v"), col("id")), "b", partitions = 4)
          .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
        assert(viaGlobal == viaWindow)
      }
    }
    it("row numbers are a contiguous 1..n permutation in sort order") {
      val df = spark.range(1000).select((col("id") * 31 % 997).as("v"), col("id"))
      val rn = GlobalOrder.withRowNumber(df, Seq(col("v"), col("id")),
        "rn", partitions = 8).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(rn.map(_._3).sorted.toSeq == (1L to 1000L))
      // rn order == (v, id) lexicographic order
      assert(rn.sortBy(_._3).map(t => (t._1, t._2)).toSeq ==
        rn.map(t => (t._1, t._2)).sortBy(identity).toSeq)
    }
  }
}
