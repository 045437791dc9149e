package graft.ext

import graft.SparkSpec
import graft.functions.{BpeKernel, BpeVocab}
import org.apache.spark.unsafe.types.UTF8String

/** Round-18 batch: production-vocabulary corpus-level BPE — the greedy
  * linear encode kernel against hand-checked merges, the batched
  * trainer against an independent in-test reference implementation of
  * the contract, and the kernel against the per-merge fold path.
  */
class Round18Suite extends SparkSpec {
  import spark.implicits._

  private def seg(merges: Seq[(String, String)], s: String): String =
    BpeKernel.segment(BpeVocab(merges), UTF8String.fromString(s)).toString

  describe("BpeKernel.segment (greedy linear encode)") {
    it("applies the lowest rank first, all occurrences per pass") {
      // ranks: 1 (a,b), 2 (ab,c)
      val m = Seq(("a", "b"), ("ab", "c"))
      assert(seg(m, "abcab") == "abc ab")
      assert(seg(m, "ababab") == "ab ab ab")
      // (a,b) everywhere before (ab,c) anywhere
      assert(seg(m, "abcabc") == "abc abc")
      assert(seg(m, "cba") == "c b a")
    }

    it("merges across the '_' word boundary (SentencePiece shape)") {
      val m = Seq(("a", "_"), ("a_", "b"))
      assert(seg(m, "a_b_a") == "a_b _ a")
      assert(seg(m, "a_a_a_") == "a_ a_ a_")
    }

    it("rank order decides between overlapping candidates") {
      // (b,c) outranks (a,b): 'abc' -> a + bc, never ab + c
      val m = Seq(("b", "c"), ("a", "b"))
      assert(seg(m, "abc") == "a bc")
      // flipped ranks -> the other segmentation
      assert(seg(m.reverse, "abc") == "ab c")
    }

    it("a re-learned pair resolves at its LOWEST rank") {
      // (x,y) appears at rank 1 and again at rank 3; rank-1 must win
      // over the rank-2 pair (y,z) wherever both are present
      val m = Seq(("x", "y"), ("y", "z"), ("x", "y"))
      assert(seg(m, "xyz") == "xy z")
    }

    it("handles empty, single-char, and no-merge inputs") {
      val m = Seq(("a", "b"))
      assert(seg(m, "") == "")
      assert(seg(m, "q") == "q")
      assert(seg(m, "zzz") == "z z z")
    }

    it("equals the per-merge replace fold for a chain vocabulary") {
      // the fold path (q376's segOf): state folds through each merge's
      // literal replace in rank order — for a constituents-before-use
      // vocabulary the greedy kernel must produce the same pieces
      val m = Seq(("p", "l"), ("a", "y"), ("pl", "ay"), ("l", "a"))
      def fold(w: String): String = {
        var st = "|" + w.map(c => s"$c|").mkString
        for ((a, b) <- m) st = st.replace(s"|$a|$b|", s"|$a$b|")
        st.stripPrefix("|").stripSuffix("|").replace("|", " ")
      }
      for (w <- Seq("play", "plaza", "lap", "alay", "pla", "playa"))
        assert(seg(m, w) == fold(w), s"word $w")
    }

    it("merges back-to-back runs exhaustively where the fold leaves a residue") {
      // '|'-state replace occurrences of one pair SHARE their flanking
      // delimiter, so a single replace pass ('playplay' under (pl,ay))
      // merges only the first of two back-to-back occurrences — the
      // fold path stops there ('play pl ay'); the greedy kernel and the
      // recursive oracle both re-apply until the pair is gone, the
      // production-tokenizer semantics
      val m = Seq(("p", "l"), ("a", "y"), ("pl", "ay"))
      assert(seg(m, "playplay") == "play play")
      var st = "|p|l|a|y|p|l|a|y|"
      for ((a, b) <- m) st = st.replace(s"|$a|$b|", s"|$a$b|")
      assert(st == "|play|pl|ay|") // the fold residue, pinned
    }
  }

  /** Independent reference implementation of the batched-training
    * contract (census -> top-cands candidates -> greedy symbol-disjoint
    * selection with merged-string reservation -> batch replace).
    */
  private def refTrain(norms: Seq[String], stages: Int, batch: Int,
                       cands: Int): Seq[(Long, Long, String, String, String, Long)] = {
    var states = norms.filter(_.nonEmpty)
      .map(n => "|" + n.map(c => s"$c|").mkString)
      .groupBy(identity).map { case (s, g) => (s, g.size.toLong) }
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, String, String, String, Long)]
    for (stage <- 1 to stages) {
      val census = scala.collection.mutable.HashMap
        .empty[(String, String), Long]
      for ((st, cnt) <- states) {
        val sy = st.stripPrefix("|").stripSuffix("|").split('|')
        for (i <- 0 until sy.length - 1 if sy(i) != sy(i + 1))
          census((sy(i), sy(i + 1))) =
            census.getOrElse((sy(i), sy(i + 1)), 0L) + cnt
      }
      val cand = census.toSeq
        .sortBy { case ((a, b), c) => (-c, a, b) }.take(cands)
      val used = scala.collection.mutable.HashSet.empty[String]
      val sel = scala.collection.mutable.ArrayBuffer
        .empty[(String, String, Long)]
      for (((a, b), c) <- cand if sel.length < batch)
        if (!used.contains(a) && !used.contains(b)) {
          sel += ((a, b, c)); used ++= Seq(a, b, a + b)
        }
      sel.foreach { case (a, b, c) =>
        out += ((out.length + 1L, stage.toLong, a, b, a + b, c))
      }
      states = states.toSeq.map { case (st, cnt) =>
        (sel.foldLeft(st) { case (s, (a, b, _)) =>
          s.replace(s"|$a|$b|", s"|$a$b|")
        }, cnt)
      }.groupBy(_._1).map { case (s, g) => (s, g.map(_._2).sum) }
    }
    out.toSeq
  }

  describe("TextAnalysis.bpeTrainBatched") {
    val docs = Seq(
      (1L, "the fast key the fast door"),
      (2L, "fast key fast key the"),
      (3L, "door the door key"),
      (4L, "THE !! 42"),
      (5L, "keyed doors faster the fastest")
    ).toDF("doc_id", "text")
    val norms = Seq(
      "the_fast_key_the_fast_door", "fast_key_fast_key_the",
      "door_the_door_key", "42", "keyed_doors_faster_the_fastest")

    it("matches the independent reference stage by stage") {
      val got = TextAnalysis.bpeTrainBatched(docs, stages = 4, batch = 4,
          cands = 64)
        .orderBy("rank")
        .as[(Long, Long, String, String, String, Long)].collect().toSeq
      assert(got == refTrain(norms, 4, 4, 64))
      assert(got.nonEmpty && got.map(_._1) == (1L to got.length).toSeq)
    }

    it("selected pairs within a stage are symbol-disjoint and reserve merged strings") {
      val got = TextAnalysis.bpeTrainBatched(docs, stages = 3, batch = 8,
          cands = 64)
        .as[(Long, Long, String, String, String, Long)].collect().toSeq
      for ((_, grp) <- got.groupBy(_._2)) {
        val used = scala.collection.mutable.HashSet.empty[String]
        for ((_, _, a, b, merged, _) <- grp.sortBy(_._1)) {
          assert(!used.contains(a) && !used.contains(b),
            s"stage batch reused a symbol: ($a, $b) vs $used")
          used ++= Seq(a, b, merged)
        }
      }
    }

    it("the greedy kernel under the learned vocabulary reproduces the trained states") {
      // encode each normalized doc with the learned merges; every piece
      // sequence must concatenate back to the normalized input
      val merges = TextAnalysis.bpeTrainBatched(docs, 4, 4, 64)
        .orderBy("rank").select("left_sym", "right_sym")
        .as[(String, String)].collect().toSeq
      for (n <- norms) {
        val pieces = seg(merges, n)
        assert(pieces.replace(" ", "") == n, s"lossy encode of $n")
      }
    }
  }

  describe("VecPermute and the batch-LUT ADC (the q338 fix)") {
    import org.apache.spark.sql.functions._

    it("VecPermute equals the element_at Column phrasing") {
      val vecs = Seq((1L, Seq(1.0f, 2.5f, -3.0f, 4.0f)),
        (2L, Seq(0.0f, -1.0f, 7.25f, 9.5f)))
        .toDF("vec_id", "embedding")
      val perm = Seq(2, 0, 3, 1)
      val fast = vecs.select(col("vec_id"),
        graft.functions.PqFunctions.vecPermute(
          col("embedding").cast("array<double>"), perm).as("p"))
        .as[(Long, Seq[Double])].collect().toMap
      val ref = vecs.select(col("vec_id"),
        array(perm.map(j => element_at(
          col("embedding").cast("array<double>"), j + 1)): _*).as("p"))
        .as[(Long, Seq[Double])].collect().toMap
      assert(fast == ref)
    }

    it("VecPermute throws on an out-of-range index") {
      val vecs = Seq((1L, Seq(1.0, 2.0))).toDF("vec_id", "embedding")
      val bad = vecs.select(graft.functions.PqFunctions.vecPermute(
        col("embedding"), Seq(0, 5)))
      assertThrows[Exception](bad.collect())
    }

    it("adcKnnPacked (batch-LUT plan) matches a driver-side ADC reference") {
      val books = Seq.tabulate(2)(s => Seq.tabulate(4)(c =>
        Seq.tabulate(2)(j => (c * 3 + j + s).toDouble)))
      val model = Pq.Model(books, dim = 4)
      val rows = (0L until 40L).map(i => (i,
        Seq.tabulate(4)(j => ((i * 7 + j * 5) % 11).toDouble)))
      val vecs = rows.toDF("vec_id", "embedding")
      val fast = Pq.adcKnnPacked(vecs.filter(col("vec_id") < 3),
          Pq.encodePacked(vecs, model), model, 5)
        .select("query_id", "rnk", "neighbor_id", "dist_micro")
        .as[(Long, Long, Long, Long)].collect().sorted.toSeq
      // the same ADC semantics in plain Scala: d² = v·v − 2·v·c + c·c
      // folded left to right, nearest code ties to the lowest, distance
      // Σ_s ⌊d²·10⁶ + ½⌋, top 5 by (distance, vec_id) without the query
      def dot(x: Seq[Double], y: Seq[Double]): Double =
        x.zip(y).foldLeft(0.0) { case (a, (p, q)) => a + p * q }
      def d2(v: Seq[Double], s: Int, c: Seq[Double]): Double = {
        val x = v.slice(2 * s, 2 * s + 2)
        dot(x, x) - 2.0 * dot(x, c) + dot(c, c)
      }
      val codes = rows.map { case (id, v) =>
        id -> books.indices.map(s => books(s).indices.reduceLeft((b, c) =>
          if (d2(v, s, books(s)(c)) < d2(v, s, books(s)(b))) c else b))
      }.toMap
      val ref = rows.take(3).flatMap { case (q, qv) =>
        rows.collect { case (id, _) if id != q =>
          (books.indices.map(s => math.floor(
            d2(qv, s, books(s)(codes(id)(s))) * 1e6 + 0.5).toLong).sum, id)
        }.sorted.take(5).zipWithIndex.map { case ((d, id), r) =>
          (q, r + 1L, id, d)
        }
      }.sorted
      assert(fast == ref)
    }

    it("batch-LUT ADC returns an empty frame for an empty query set") {
      val books = Seq.tabulate(2)(s => Seq.tabulate(2)(c =>
        Seq.tabulate(2)(j => (c + j + s).toDouble)))
      val model = Pq.Model(books, dim = 4)
      val vecs = (0L until 10L).map(i => (i, Seq(1.0, 2.0, 3.0, 4.0)))
        .toDF("vec_id", "embedding")
      val out = Pq.adcKnnPacked(vecs.filter(col("vec_id") < 0),
        Pq.encodePacked(vecs, model), model, 3)
      assert(out.count() == 0)
      assert(out.columns.toSeq ==
        Seq("query_id", "rnk", "neighbor_id", "dist_micro"))
    }
  }

  describe("TextAnalysis.bpeEncodeCorpus") {
    it("n_pieces reconciles with the pieces string; empty docs keep a row") {
      val docs = Seq(
        (1L, "ab ab ba"), (2L, "!! ??"), (3L, "b a ab")
      ).toDF("doc_id", "text")
      val out = TextAnalysis.bpeEncodeCorpus(docs, Seq(("a", "b")))
        .orderBy("doc_id").as[(Long, Long, String)].collect()
      assert(out(1) == ((2L, 0L, "")))
      for ((_, n, pieces) <- out) {
        val np = if (pieces.isEmpty) 0 else pieces.split(" ").length
        assert(n == np)
      }
      // norm 'ab_ab_ba': (a,b) merges the two 'ab's and the final 'b a'
      // stays split
      assert(out(0)._3 == "ab _ ab _ b a")
    }
  }
}
