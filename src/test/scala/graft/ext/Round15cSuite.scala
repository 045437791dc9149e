package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Round-15 third batch: the full-corpus exact-integer Lloyd trainer and
  * the BPE fertility apply-side, each against a from-scratch driver
  * oracle (no Spark arithmetic reused).
  */
class Round15cSuite extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private def embeddings = spark.read.parquet(s"$sf/embeddings.parquet")

  /** Driver-side reference Lloyd on the micro grid, mirroring the
    * documented contract: lowest-vec_id init, exact L2² argmin with
    * ties to the lower cid, floor(mean) update, emptied clusters keep
    * their grid.
    */
  private def refLloyd(vecs: Seq[(Long, Vector[Long])], k: Int,
                       iters: Int): Vector[Vector[Long]] = {
    def d2(a: Vector[Long], b: Vector[Long]): Long =
      a.zip(b).foldLeft(0L) { case (acc, (x, y)) =>
        acc + (x - y) * (x - y)
      }
    def assign(cents: Vector[Vector[Long]]): Map[Long, Int] =
      vecs.map { case (id, v) =>
        id -> cents.zipWithIndex
          .minBy { case (c, cid) => (d2(v, c), cid) }._2
      }.toMap
    var cents = vecs.sortBy(_._1).take(k).map(_._2).toVector
    for (_ <- 1 to iters) {
      val a = assign(cents)
      cents = cents.zipWithIndex.map { case (prev, cid) =>
        val members = vecs.filter { case (id, _) => a(id) == cid }
        if (members.isEmpty) prev
        else prev.indices.map { j =>
          val s = members.map(_._2(j)).sum
          val n = members.size.toLong
          // floor division (Scala / truncates toward zero)
          Math.floorDiv(s, n)
        }.toVector
      }
    }
    cents
  }

  private def microVecs: Seq[(Long, Vector[Long])] =
    embeddings.select(col("vec_id"),
        col("embedding").cast("array<double>"))
      .as[(Long, Seq[Double])].collect().toSeq
      .map { case (id, v) =>
        id -> v.map(x => math.floor(x * 1e6 + 0.5).toLong).toVector
      }

  describe("KMeans.lloyd") {
    it("matches a from-scratch driver Lloyd on the micro grid") {
      val got = KMeans.lloyd(embeddings, 4, 3)
      val want = refLloyd(microVecs, 4, 3)
      assert(got.map(_._1) == Seq(0, 1, 2, 3))
      for ((cid, cm) <- got) assert(cm.toVector == want(cid),
        s"centroid $cid diverged")
    }

    it("is deterministic across repartitioned input") {
      val a = KMeans.lloyd(embeddings, 3, 2)
      val b = KMeans.lloyd(embeddings.repartition(7), 3, 2)
      assert(a == b)
    }
  }

  describe("KMeans.assign") {
    it("census matches the driver recompute under the learned grid") {
      val vecs = microVecs
      val cents = KMeans.lloyd(embeddings, 4, 3)
      val got = KMeans.assign(embeddings, cents)
        .groupBy("cid")
        .agg(count(lit(1)).as("n"), sum("d2").as("inertia"))
        .as[(Long, Long, Long)].collect().toSet
      def d2(a: Vector[Long], b: Seq[Long]): Long =
        a.zip(b).foldLeft(0L) { case (acc, (x, y)) =>
          acc + (x - y) * (x - y)
        }
      val want = vecs
        .map { case (_, v) =>
          cents.map { case (cid, cm) => (d2(v, cm), cid.toLong) }.min
        }
        .groupBy(_._2)
        .map { case (cid, rows) =>
          (cid, rows.size.toLong, rows.map(_._1).sum)
        }.toSet
      assert(got == want)
    }
  }

  describe("Winnow") {
    it("census matches a from-scratch driver winnower") {
      val docs = spark.read.parquet(s"$sf/documents.parquet")
        .filter(col("doc_id") < 50)
      val (n, w) = (3, 4)
      val got = Winnow.census(docs, n, w)
        .as[(Long, Long, Long, Long, Long)].collect().toSeq.sortBy(_._1)
      def hash60(s: String): Long = {
        val d = java.security.MessageDigest.getInstance("MD5")
          .digest(s.getBytes("UTF-8"))
        java.lang.Long.parseLong(
          d.take(8).map(b => f"$b%02x").mkString.take(15), 16)
      }
      val want = docs.select("doc_id", "text").as[(Long, String)]
        .collect().toSeq.flatMap { case (id, text) =>
          val words = text.trim.split("\\s+").toSeq
          val grams = if (words.size >= n)
            words.sliding(n).map(_.mkString(" ")).toVector
          else Vector()
          val h = grams.map(hash60)
          val fps = (if (h.size >= w) h.sliding(w).map(_.min).toVector
          else if (h.nonEmpty) Vector(h.min) else Vector()).distinct
          if (grams.isEmpty) None
          else Some((id, grams.size.toLong, fps.size.toLong,
            fps.min, fps.max))
        }.sortBy(_._1)
      assert(got == want)
    }

    it("guarantees a shared fingerprint for a planted contiguous overlap") {
      // overlap of w + n - 1 = 6 grams needs 8 shared words in a row
      val shared = "alpha beta gamma delta epsilon zeta eta theta"
      val docs = Seq(
        (1L, s"one two three $shared four five six seven eight nine"),
        (2L, s"red blue green yellow $shared purple orange pink brown"),
        (3L, "totally unrelated words with nothing in common here at all"))
        .toDF("doc_id", "text")
      val pairs = Winnow.overlapPairs(docs, 3, 4, 1, 50)
        .as[(Long, Long, Long)].collect().toSeq
      assert(pairs.exists(p => p._1 == 1L && p._2 == 2L))
      assert(!pairs.exists(p => p._2 == 3L))
    }
  }

  describe("WinnowKernel.windowMins") {
    it("matches the naive per-window minimum on random arrays") {
      val rnd = new scala.util.Random(15)
      val cases = (0 to 40).map(n => Seq.fill(n)(rnd.nextLong()))
      for (w <- Seq(1, 2, 4, 7); h <- cases) {
        val got = graft.functions.WinnowKernel.windowMins(h.toArray, w).toSeq
        val want =
          if (h.isEmpty) Seq()
          else if (h.size < w) Seq(h.min)
          else h.sliding(w).map(_.min).toSeq
        assert(got == want, s"n=${h.size} w=$w")
      }
    }
  }

  describe("Pca.topComponent") {
    it("matches a from-scratch BigInt power iteration") {
      val emb = embeddings.filter(col("vec_id") < 100)
      val (gotMu, gotV) = Pca.topComponent(emb, 3)
      // driver oracle in exact BigInt arithmetic
      val vecs = emb.select(col("vec_id"),
          col("embedding").cast("array<double>"))
        .as[(Long, Seq[Double])].collect().sortBy(_._1)
        .map { case (id, v) =>
          id -> v.map(x => BigInt(math.floor(x * 1e6 + 0.5).toLong)).toVector
        }
      val n = BigInt(vecs.length)
      val d = vecs.head._2.length
      val sc = BigInt(1000000)
      val mu = (0 until d).map { j =>
        val s = vecs.map(_._2(j)).sum
        (s + n * sc) / n - sc
      }.toVector
      val xs = vecs.map { case (_, v) =>
        v.zip(mu).map { case (a, b) => a - b }
      }
      var v = xs.head
      for (_ <- 1 to 3) {
        val ys = xs.map(x => x.zip(v).map { case (a, b) => a * b }.sum)
        val z = (0 until d).map(j =>
          xs.zip(ys).map { case (x, y) => x(j) * y }.sum).toVector
        val mx = z.map(_.abs).max
        v = z.map(zd => (zd * sc + mx * sc) / mx - sc)
      }
      assert(gotMu == mu.map(_.toLong))
      assert(gotV == v.map(_.toLong))
      assert(gotV.map(math.abs).max == 1000000L)
    }
  }

  describe("LangModel.knBigram") {
    it("matches a from-scratch KN recompute and normalizes exactly") {
      val docs = Seq(
        (1L, "the cat sat on the mat"),
        (2L, "the dog sat on the log"),
        (3L, "a cat and a dog and a bird"),
        (4L, "the bird sat on the cat")).toDF("doc_id", "text")
      val got = LangModel.knBigram(docs, 1L)
        .as[(String, String, Long, Long, Long)].collect().toSeq.sorted
      // driver oracle
      val bg = docs.as[(Long, String)].collect().toSeq.flatMap {
        case (_, t) =>
          val w = t.trim.split("\\s+").filter(_.matches("^[a-z0-9]+$"))
          w.sliding(2).collect { case Array(a, b) => (a, b) }
      }
      val cvw = bg.groupBy(identity).map { case (p, v) =>
        p -> v.size.toLong
      }
      val cv = cvw.groupBy(_._1._1).map { case (a, m) =>
        a -> m.values.sum
      }
      val n1p = cvw.groupBy(_._1._1).map { case (a, m) => a -> m.size.toLong }
      val n1r = cvw.groupBy(_._1._2).map { case (b, m) => b -> m.size.toLong }
      val npp = cvw.size.toLong
      val want = cvw.toSeq.map { case ((a, b), c) =>
        (a, b, c, (4 * c - 3) * npp + 3 * n1p(a) * n1r(b),
          4 * cv(a) * npp)
      }.sorted
      assert(got == want)
      // exact normalization: over the FULL vocab (unseen pairs
      // contribute 3·n1p(v)·n1r(w)), Σ_w num(v, w) = den(v)
      val vocabN1r = n1r.values.sum // Σ_w n1r(w) = npp
      assert(vocabN1r == npp)
      for ((v, cvv) <- cv) {
        val seen = cvw.collect { case ((a, b), c) if a == v =>
          (4 * c - 3) * npp + 3 * n1p(v) * n1r(b)
        }.sum
        val unseenN1r = npp - cvw.collect {
          case ((a, b), _) if a == v => n1r(b)
        }.sum
        val total = seen + 3 * n1p(v) * unseenN1r
        assert(total == 4 * cvv * npp, s"normalization broke for '$v'")
      }
    }
  }

  describe("Perceptron.train") {
    it("matches a from-scratch BigInt batch perceptron") {
      val emb = embeddings.filter(col("vec_id") < 120)
      val got = Perceptron.train(emb, 5, 3)
      // driver oracle
      val data = emb.select(col("vec_id"),
          col("embedding").cast("array<double>"), col("label"))
        .as[(Long, Seq[Double], Int)].collect()
        .map { case (_, v, l) =>
          (v.map(x => math.floor(x * 1e6 + 0.5).toLong).toVector,
            if (l < 5) 1L else -1L)
        }
      var w = Vector.fill(64)(0L)
      val want = (1 to 3).map { e =>
        val miscl = data.filter { case (x, y) =>
          y * x.zip(w).map { case (a, b) => a * b }.sum <= 0
        }
        val g = (0 until 64).map(j => miscl.map { case (x, y) => y * x(j) }.sum)
        w = w.zip(g).map { case (a, b) => a + b }
        (e, w.toSeq, miscl.length.toLong)
      }
      assert(got.map(t => (t._1, t._2, t._3)) == want)
    }

    it("confusion census matches the driver recompute") {
      val emb = embeddings.filter(col("vec_id") < 120)
      val w = Perceptron.train(emb, 5, 2).last._2
      val got = Perceptron.confusion(emb, 5, w)
        .as[(Long, Long, Long)].collect().toSet
      val data = emb.select(col("embedding").cast("array<double>"),
          col("label")).as[(Seq[Double], Int)].collect()
        .map { case (v, l) =>
          (v.map(x => math.floor(x * 1e6 + 0.5).toLong), if (l < 5) 1L else -1L)
        }
      val want = data.map { case (x, y) =>
        (y, x.zip(w).map { case (a, b) => a * b }.sum.sign.toLong)
      }.groupBy(identity).map { case ((y, p), v) => (y, p, v.length.toLong) }
        .toSet
      assert(got == want)
    }
  }

  describe("MisraGriesLong") {
    it("summary always contains every key with count > n/k") {
      val rnd = new scala.util.Random(37)
      for (trial <- 1 to 5; k <- Seq(4, 16)) {
        // zipf-ish stream: a few hot keys + a long tail
        val stream = Seq.fill(3000) {
          if (rnd.nextInt(3) == 0) rnd.nextInt(3).toLong
          else rnd.nextInt(500).toLong + 100L
        }
        val n = stream.size.toLong
        val exact = stream.groupBy(identity)
          .map { case (key, v) => key -> v.size.toLong }
        val heavy = exact.filter { case (_, c) => c * k > n }.keySet
        val got = stream.toDF("h").repartition(7)
          .agg(graft.functions.MgFunctions.misraGries(col("h"), k).as("s"))
          .selectExpr("explode(s) AS e").select("e.key", "e.cnt")
          .as[(Long, Long)].collect()
        val cands = got.map(_._1).toSet
        assert(got.length <= k - 1, s"trial $trial k=$k over capacity")
        assert(heavy.subsetOf(cands),
          s"trial $trial k=$k missed ${heavy -- cands}")
        // counter never overestimates, underestimates by at most n/k
        for ((key, c) <- got) {
          assert(c <= exact(key), s"overestimate for $key")
          assert(exact(key) - c <= n / k, s"error bound broken for $key")
        }
      }
    }

    it("weighted add keeps the MG guarantee (direct buffer exercise)") {
      // the w > 1 decrement path is unreachable through update()
      // (always w = 1) — exercise it directly so the merge-path
      // generalization carries its own test, not just a proof sketch
      val rnd = new scala.util.Random(91)
      for (trial <- 1 to 20) {
        val k = 2 + rnd.nextInt(8)
        val ops = Seq.fill(200)(
          (rnd.nextInt(12).toLong, 1L + rnd.nextInt(9)))
        val buf = new graft.functions.MgBuffer(k)
        ops.foreach { case (key, w) => buf.add(key, w) }
        val n = ops.map(_._2).sum
        val exact = ops.groupBy(_._1)
          .map { case (key, v) => key -> v.map(_._2).sum }
        val got = buf.entries.toMap
        assert(got.size <= k - 1, s"trial $trial k=$k over capacity")
        val heavy = exact.filter { case (_, c) => c * k > n }.keySet
        assert(heavy.subsetOf(got.keySet),
          s"trial $trial k=$k missed ${heavy -- got.keySet}")
        for ((key, c) <- got) {
          assert(c <= exact(key), s"trial $trial overestimate for $key")
          assert(exact(key) - c <= n / k,
            s"trial $trial error bound broken for $key")
        }
      }
    }
  }

  describe("RandomProjection") {
    it("projection matches a driver recompute and preserves norms in expectation") {
      val emb = embeddings.filter(col("vec_id") < 60)
      val k = 16
      val got = RandomProjection.project(emb, k)
        .as[(Long, Seq[Long])].collect().toMap
      val signs = RandomProjection.signMatrix(64, k)
      val vecs = emb.select(col("vec_id"),
          col("embedding").cast("array<double>"))
        .as[(Long, Seq[Double])].collect()
        .map { case (id, v) =>
          id -> v.map(x => math.floor(x * 1e6 + 0.5).toLong)
        }
      for ((id, m) <- vecs) {
        val want = signs.map(row =>
          row.zip(m).map { case (s, x) => s * x }.sum)
        assert(got(id) == want, s"vec $id")
      }
      // E[|z|^2] = k * |x|^2: check the corpus-level ratio is within 2x
      val num = vecs.map { case (id, _) =>
        got(id).map(z => BigInt(z) * BigInt(z)).sum
      }.sum
      val den = vecs.map { case (_, m) =>
        m.map(x => BigInt(x) * BigInt(x)).sum
      }.sum * k
      val ratio = BigDecimal(num) / BigDecimal(den)
      assert(ratio > 0.5 && ratio < 2.0, s"JL ratio off: $ratio")
    }
  }

  describe("Pca.debiasedKnn") {
    it("matches a from-scratch BigInt debiased re-rank") {
      val emb = embeddings.filter(col("vec_id") < 80)
      val (mu, v) = Pca.topComponent(emb, 2)
      val got = Pca.debiasedKnn(emb, mu, v, 5, 3)
        .as[(Long, Long, Long, Long)].collect().toSeq.sorted
      // driver oracle in BigInt
      val vecs = emb.select(col("vec_id"),
          col("embedding").cast("array<double>"))
        .as[(Long, Seq[Double])].collect().sortBy(_._1)
        .map { case (id, vv) =>
          id -> vv.map(x => BigInt(math.floor(x * 1e6 + 0.5).toLong))
            .zip(mu.map(BigInt(_))).map { case (a, b) => a - b }.toVector
        }
      val vB = v.map(BigInt(_)).toVector
      val vv = vB.map(x => x * x).sum
      val ys = vecs.map { case (id, x) =>
        id -> x.zip(vB).map { case (a, b) => a * b }.sum
      }.toMap
      val xsM = vecs.toMap
      val big = BigInt("20000000000000000000000000000")
      val want = (0L until 3L).flatMap { q =>
        vecs.filter(_._1 != q).map { case (id, x) =>
          val dot = x.zip(xsM(q)).map { case (a, b) => a * b }.sum
          val score = dot * vv - ys(id) * ys(q)
          val s10 = (score + big) / BigInt(10000000000L) -
            BigInt(2000000000000000000L)
          (q, id, s10.toLong)
        }.sortBy { case (_, id, s) => (-s, id) }.take(5).zipWithIndex
          .map { case ((qq, id, s), i) => (qq, (i + 1).toLong, id, s) }
      }.sorted
      assert(got == want)
    }
  }

  describe("TextAnalysis.bpeFertility") {
    it("matches a from-scratch apply + census on a synthetic corpus") {
      val docs = Seq(
        (1L, "lower lower lowest newer!", "en"),
        (2L, "low low lowest newer new", "en"),
        (3L, "bajo bajando bajos bajo", "es"),
        (4L, "newer lower wide", "en")).toDF("doc_id", "text", "lang")
      val merges = Seq(("l", "o"), ("lo", "w"), ("e", "r"), ("low", "er"))
      val got = TextAnalysis.bpeFertility(docs, merges)
        .as[(String, Long, Long, Long, Double, Double)]
        .collect().toSeq.sortBy(_._1)
      // independent oracle: apply merges to each clean occurrence via
      // plain left-to-right symbol scanning (no string replace)
      def pieces(w: String): Long = {
        var syms = w.map(_.toString).toVector
        for ((a, b) <- merges) {
          val out = scala.collection.mutable.ArrayBuffer.empty[String]
          var i = 0
          while (i < syms.length) {
            if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
              out += a + b; i += 2
            } else { out += syms(i); i += 1 }
          }
          syms = out.toVector
        }
        syms.length.toLong
      }
      val occ = docs.as[(Long, String, String)].collect()
        .flatMap { case (_, text, lang) =>
          text.trim.split("\\s+").filter(_.matches("^[a-z0-9]+$"))
            .map(w => (lang, w))
        }
      val want = occ.groupBy(_._1).map { case (lang, ws) =>
        val nPieces = ws.map(x => pieces(x._2)).sum
        val nChars = ws.map(_._2.length.toLong).sum
        (lang, ws.length.toLong, nPieces, nChars,
          nPieces.toDouble / ws.length, nChars.toDouble / nPieces)
      }.toSeq.sortBy(_._1)
      assert(got == want)
    }
  }
}
