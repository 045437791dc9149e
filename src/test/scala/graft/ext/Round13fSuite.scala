package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

class Round13fSuite extends SparkSpec {
  import spark.implicits._

  // hand-built model: dim 4, m=2 subspaces of 2 dims, 2 codes each
  private val model = Pq.Model(Seq(
    Seq(Seq(0.0, 0.0), Seq(10.0, 10.0)),
    Seq(Seq(0.0, 0.0), Seq(10.0, 10.0))), dim = 4)

  private def corpus = Seq(
    (1L, Seq(0.0f, 0.0f, 0.0f, 0.0f)),
    (2L, Seq(10.0f, 10.0f, 10.0f, 10.0f)),
    (3L, Seq(0.0f, 0.0f, 10.0f, 10.0f)),
    (4L, Seq(1.0f, 0.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")

  describe("Pq.encode") {
    it("assigns per-subspace nearest codes and exact micro error") {
      val got = Pq.encode(corpus, model)
        .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toList
      // v4 = [1,0,0,0]: code0 -> d2 1 vs 181 -> code 0, err 1.0
      assert(got == List((1L, 0L, 0L, 0L), (2L, 1L, 1L, 0L),
        (3L, 0L, 1L, 0L), (4L, 0L, 0L, 1000000L)))
    }

    it("breaks distance ties toward the lower code") {
      val mid = Seq((9L, Seq(5.0f, 5.0f, 0.0f, 0.0f)))
        .toDF("vec_id", "embedding")
      val r = Pq.encode(mid, model)
        .as[(Long, Long, Long, Long)].collect().head
      assert(r._2 == 0L) // equidistant 50/50 -> code 0
    }
  }

  describe("Pq.adcKnnPacked") {
    it("ranks corpus codes by exact integer lookup distances") {
      val q = Seq((100L, Seq(0.0f, 0.0f, 0.0f, 0.0f)))
        .toDF("vec_id", "embedding")
      val got = Pq.adcKnnPacked(q, Pq.encodePacked(corpus, model), model, 3)
        .as[(Long, Long, Long, Long)].collect().sortBy(_._2).toList
      // dists: v1 (0,0)->0; v4 (0,0)->0 (code-identical); v3 -> 200e6;
      // v2 -> 400e6. tie v1/v4 breaks on vec_id asc
      assert(got == List((100L, 1L, 1L, 0L), (100L, 2L, 4L, 0L),
        (100L, 3L, 3L, 200000000L)))
    }

    it("excludes the query itself when ids collide") {
      val q = corpus.filter(col("vec_id") === 1L)
      val ids = Pq.adcKnnPacked(q, Pq.encodePacked(corpus, model), model, 4)
        .as[(Long, Long, Long, Long)].collect().map(_._3).toSet
      assert(!ids.contains(1L) && ids == Set(2L, 3L, 4L))
    }
  }

  describe("Pq.ivfPqKnn") {
    it("prunes to probed cells and ranks by ADC with vec_id ties") {
      // cells: c0=[1,1,1,1] holds v1,v3,v4; c1=[10,10,0,0] holds v2.
      // query [0,0,5,5] probes c0 only (cosine .707 vs 0) at nProbe=1;
      // ADC dist is 50e6 for all three candidates -> vec_id order
      val cents = Seq(Seq(1.0, 1.0, 1.0, 1.0), Seq(10.0, 10.0, 0.0, 0.0))
      val q = Seq((100L, Seq(0.0f, 0.0f, 5.0f, 5.0f)))
        .toDF("vec_id", "embedding")
      val got = Pq.ivfPqKnn(corpus, q, cents, model, 3, nProbe = 1)
        .as[(Long, Long, Long, Long)].collect().sortBy(_._2).toList
      assert(got == List(
        (100L, 1L, 1L, 50000000L),
        (100L, 2L, 3L, 50000000L),
        (100L, 3L, 4L, 50000000L)))
    }
  }

  describe("Sampling.greedyCoverage") {
    it("selects slices by exact marginal gain with total tie order") {
      val inc = Seq(
        ("A", 1L), ("A", 2L), ("A", 3L),
        ("B", 3L), ("B", 4L), ("B", 5L),
        ("C", 5L), ("C", 6L)).toDF("s", "e")
      val got = Sampling.greedyCoverage(inc, "s", "e", 3)
        .as[(Long, String, Long, Long)].collect().sortBy(_._1).toList
      // step1: A and B tie at 3 -> A; step2: B adds {4,5}; step3: C {6}
      assert(got == List((1L, "A", 3L, 3L), (2L, "B", 2L, 5L),
        (3L, "C", 1L, 6L)))
    }

    it("fails loud past saturation") {
      val inc = Seq(("A", 1L), ("B", 1L)).toDF("s", "e")
      val e = intercept[Exception] {
        Sampling.greedyCoverage(inc, "s", "e", 2)
      }
      assert(e.getMessage.contains("saturated"))
    }
  }
}
