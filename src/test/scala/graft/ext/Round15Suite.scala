package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Round-15 unit coverage: the PQ model content-hash guard (save/load
  * integrity + the stamped serving mismatch arm), the ≤ 32-byte gated
  * config's machinery, and restart-recovery for the streaming gram-stats
  * seam (kill-restart ≡ uninterrupted ≡ batch).
  */
class Round15Suite extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private def embeddings = spark.read.parquet(s"$sf/embeddings.parquet")

  private def tmp(prefix: String): String =
    tempDir(prefix).resolve("t").toString

  describe("Pq.modelHash") {
    it("separates models and ignores nothing") {
      val a = Pq.trainCodebooksLocal(spark, embeddings, 64, 8, 4)
      val b = Pq.trainCodebooksLocal(spark, embeddings, 64, 8, 8)
      assert(Pq.modelHash(a) == Pq.modelHash(a))
      assert(Pq.modelHash(a) != Pq.modelHash(b))
      // a single-double perturbation flips the hash
      val tweaked = a.copy(books = a.books.updated(0,
        a.books(0).updated(0, a.books(0)(0).updated(0,
          a.books(0)(0)(0) + 1e-9))))
      assert(Pq.modelHash(a) != Pq.modelHash(tweaked))
    }
  }

  describe("Pq.saveModel / loadModel integrity") {
    it("round-trips hash-identically and rejects a tampered table") {
      val model = Pq.trainCodebooksLocal(spark, embeddings, 64, 8, 4)
      val path = tmp("r15_model_")
      Pq.saveModel(spark, model, path)
      val reloaded = Pq.loadModel(spark, path)
      assert(Pq.modelHash(reloaded) == Pq.modelHash(model))
      assert(reloaded == model)
      // tamper: rewrite one centroid component, keep the stored hash
      val bad = tmp("r15_model_bad_")
      spark.read.parquet(path)
        .withColumn("cv", when(col("s") === 0 && col("code") === 0,
          array((0 until 8).map(j =>
            element_at(col("cv"), j + 1) + lit(0.5)): _*))
          .otherwise(col("cv")))
        .write.mode("overwrite").parquet(bad)
      val e = intercept[IllegalArgumentException](Pq.loadModel(spark, bad))
      assert(e.getMessage.contains("content hash"))
    }
  }

  describe("Pq.adcKnnPackedChecked (stamped serving)") {
    it("is result-invisible when models match") {
      val model = Pq.trainCodebooksLocal(spark, embeddings, 64, 8, 4)
      val q = embeddings.filter(col("vec_id") < 3)
      val plain = Pq.adcKnnPacked(q, Pq.encodePacked(embeddings, model),
        model, 5).orderBy("query_id", "rnk").collect().toSeq
      val checked = Pq.adcKnnPackedChecked(q,
        Pq.encodePackedStamped(embeddings, model), model, 5)
        .orderBy("query_id", "rnk").collect().toSeq
      assert(checked == plain)
    }

    it("fails loud when codes were encoded under a different model") {
      val served = Pq.trainCodebooksLocal(spark, embeddings, 64, 8, 4)
      val other = Pq.trainCodebooksLocal(spark, embeddings, 64, 8, 8)
      val q = embeddings.filter(col("vec_id") < 3)
      // same SHAPE is not required for the stamp to catch it, but use a
      // same-dim model so only the hash can tell them apart
      val e = intercept[Exception] {
        Pq.adcKnnPackedChecked(q,
          Pq.encodePackedStamped(embeddings, other), served, 5)
          .collect()
      }
      def messages(t: Throwable): Seq[String] =
        if (t == null) Nil
        else Option(t.getMessage).toSeq ++ messages(t.getCause)
      assert(messages(e).exists(_.contains("PQ model mismatch")))
    }
  }

  describe("streaming gram-stats restart recovery (q349 seam)") {
    it("kill-restart census equals uninterrupted and batch recompute") {
      val restart = graft.queries.Round15Queries
        .queries("q349_stream_gram_restart")(spark, sf)
        .as[(Long, Long, Long)].collect().toSeq
      // batch oracle: full recompute with doubled counts (two arrivals
      // of the same file)
      val docs = spark.read.parquet(s"$sf/documents.parquet")
      val batch = Dedup.gramStats(docs.select(col("doc_id"), col("text")), 8)
        .select((col("cnt") * 2).as("cnt"), col("owner"))
        .groupBy("cnt")
        .agg(count(lit(1)).as("n_grams"), sum(col("owner")).as("owner_sum"))
        .orderBy("cnt")
        .as[(Long, Long, Long)].collect().toSeq
      assert(restart == batch)
      // uninterrupted single-run equivalence is q343's gate; equality to
      // the same batch oracle closes kill-restart ≡ uninterrupted ≡ batch
    }
  }
}
