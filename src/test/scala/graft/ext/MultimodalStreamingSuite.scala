package graft.ext

import java.sql.Timestamp
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.streaming.EventStream

class MultimodalStreamingSuite extends SparkSpec {
  import spark.implicits._

  private def media = {
    val rows = Seq(
      Row(1L, "image", "imgbytes-1".getBytes("UTF-8"), Row(8, 8, null, null)),
      Row(2L, "image", "imgbytes-2".getBytes("UTF-8"), Row(16, 16, null, null)),
      Row(3L, "video", "vidbytes-3".getBytes("UTF-8"), Row(64, 64, null, 10))
    )
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), Multimodal.mediaSchema)
  }

  describe("Multimodal plumbing (stubbed codec)") {
    it("decodes per-partition with a stable schema") {
      val s = Multimodal.decodeStats(media)
      assert(s.schema.fieldNames.toSeq ==
        Seq("media_id", "kind", "n_bytes", "mean_r", "mean_g", "mean_b"))
      val r = s.orderBy("media_id").collect()
      assert(r.length == 3)
      assert(r(0).getAs[Int]("n_bytes") == 10)
      val mr = r(0).getAs[Double]("mean_r")
      assert(mr >= 0.0 && mr <= 1.0)
    }
    it("is deterministic and partitioning-independent") {
      val a = Multimodal.featureExtract(media).orderBy("media_id").collect()
      val b = Multimodal.featureExtract(media.repartition(7))
        .orderBy("media_id").collect()
      assert(a.map(_.getSeq[Float](1)).toSeq == b.map(_.getSeq[Float](1)).toSeq)
      assert(a(0).getSeq[Float](1).length == 64)
    }
    it("feeds embeddings straight into Similarity knn") {
      val emb = Multimodal.featureExtract(media)
        .withColumnRenamed("media_id", "vec_id")
      val knn = Similarity.knnBrute(emb.filter(col("vec_id") === 1), emb, 2)
      assert(knn.count() == 2)
    }
    it("samples every k-th video frame via column fan-out") {
      val f = Multimodal.sampleFrames(media, everyK = 3)
      assert(f.select("frame_idx").as[Int].collect().sorted.toSeq == Seq(0, 3, 6, 9))
    }
    it("resize keeps the media schema (composable)") {
      val r = Multimodal.resize(media, 32, 32)
      assert(r.schema == Multimodal.mediaSchema)
      assert(r.select("meta.width").as[Int].collect().forall(_ == 32))
    }
  }

  describe("EventStream (MemoryStream micro-batches)") {
    def ev(id: Long, t: String, uid: Long, typ: String, v: Double) =
      EventStream.Event(id, Timestamp.valueOf(t), uid, typ, v)

    it("computes watermarked hourly windows") {
      implicit val sc = spark.sqlContext
      val src = MemoryStream[EventStream.Event]
      src.addData(
        ev(1, "2026-01-01 10:05:00", 1, "click", 1.0),
        ev(2, "2026-01-01 10:55:00", 2, "click", 2.0),
        ev(3, "2026-01-01 11:01:00", 1, "view", 5.0))
      val out = EventStream.runToMemory(
        EventStream.hourlyCounts(src.toDF()), "hourly_test")
      val rows = out.orderBy("window_start", "event_type").collect()
      assert(rows.length == 2)
      assert(rows(0).getAs[Long]("n") == 2L)
      assert(rows(0).getAs[Double]("value_sum") == 3.0)
    }

    it("fuses events into 30-minute-gap sessions") {
      implicit val sc = spark.sqlContext
      val src = MemoryStream[EventStream.Event]
      src.addData(
        ev(1, "2026-01-01 10:00:00", 7, "click", 1.0),
        ev(2, "2026-01-01 10:10:00", 7, "click", 1.0), // same session
        ev(3, "2026-01-01 12:00:00", 7, "click", 1.0)) // new session
      val out = EventStream.runToMemory(
        EventStream.userSessions(src.toDF()), "sessions_test")
      assert(out.count() == 2)
      assert(out.orderBy("session_start").collect()(0)
        .getAs[Long]("n_events") == 2L)
    }

    it("enriches micro-batches from a static dimension (left join)") {
      implicit val sc = spark.sqlContext
      import spark.implicits._
      val src = MemoryStream[EventStream.Event]
      src.addData(
        ev(1, "2026-01-01 10:00:00", 1, "click", 1.0),
        ev(2, "2026-01-01 10:01:00", 9, "view", 2.0)) // no dim row
      val dim = Seq((1L, "gold")).toDF("user_id", "segment")
      val out = EventStream.runToMemory(
        EventStream.enrich(src.toDF(), dim, "user_id")
          .select("event_id", "segment"),
        "enrich_test", org.apache.spark.sql.streaming.OutputMode.Append())
      val rows = out.orderBy("event_id").collect()
      assert(rows.map(_.getAs[String]("segment")).toSeq ==
        Seq("gold", null))
    }

    it("drops duplicate event ids within the watermark") {
      implicit val sc = spark.sqlContext
      val src = MemoryStream[EventStream.Event]
      src.addData(
        ev(1, "2026-01-01 10:00:00", 1, "click", 1.0),
        ev(1, "2026-01-01 10:00:00", 1, "click", 1.0), // dup id
        ev(2, "2026-01-01 10:01:00", 1, "view", 2.0))
      val out = EventStream.runToMemory(
        EventStream.dedupedEvents(src.toDF()), "dedup_test",
        org.apache.spark.sql.streaming.OutputMode.Append())
      assert(out.count() == 2)
    }

    it("sinks micro-batches to a parquet warehouse dir") {
      implicit val sc = spark.sqlContext
      val dir = tempDir("graft_stream")
      val src = MemoryStream[EventStream.Event]
      src.addData(ev(1, "2026-01-01 10:00:00", 1, "click", 1.0),
        ev(2, "2026-01-01 10:05:00", 2, "view", 2.0))
      val q = EventStream.toParquetWarehouse(src.toDF(),
        s"$dir/out", s"$dir/ckpt")
      q.awaitTermination()
      assert(spark.read.parquet(s"$dir/out").count() == 2)
    }

    it("keeps custom per-user state across micro-batches") {
      implicit val sc = spark.sqlContext
      val src = MemoryStream[EventStream.Event]
      val q = EventStream.runningUserTotals(src.toDS()).writeStream
        .format("memory").queryName("running_test")
        .outputMode("update").start()
      src.addData(ev(1, "2026-01-01 10:00:00", 1, "click", 1.0))
      q.processAllAvailable()
      src.addData(ev(2, "2026-01-01 10:01:00", 1, "click", 2.5))
      q.processAllAvailable()
      val last = spark.table("running_test")
        .filter(col("user_id") === 1).orderBy(desc("n_events")).collect()(0)
      q.stop()
      assert(last.getAs[Long]("n_events") == 2L)
      assert(last.getAs[Double]("value_sum") == 3.5)
    }

    it("evicts throttle state once the watermark passes last-seen + gap") {
      implicit val sc = spark.sqlContext
      def ping(id: Long, uid: Long, t: String) = {
        val ts = Timestamp.valueOf(t)
        EventStream.Ping(uid, ts.getTime * 1000L, id, ts)
      }
      val src = MemoryStream[EventStream.Ping]
      val q = EventStream
        .throttledPings(src.toDS(), gapUs = 5000000L,
          watermarkDelay = "1 second")
        .toDF().writeStream.format("memory")
        .queryName("throttle_evict_test").outputMode("append").start()
      def stateRows: Long =
        q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      src.addData(ping(1, 1, "2026-01-01 10:00:00"),
        ping(2, 2, "2026-01-01 10:00:01"))
      q.processAllAvailable()
      val after1 = stateRows // users 1 and 2 hold state
      // two hours later: the next batches' watermark sails past
      // (last-seen + gap) for users 1 and 2 — their state must go
      src.addData(ping(3, 3, "2026-01-01 12:00:00"))
      q.processAllAvailable()
      src.addData(ping(4, 4, "2026-01-01 12:30:00"))
      q.processAllAvailable()
      src.addData(ping(5, 5, "2026-01-01 13:00:00"))
      q.processAllAvailable()
      val afterEvict = stateRows
      val kept = spark.table("throttle_evict_test").count()
      q.stop()
      assert(after1 == 2L, s"expected 2 state rows, got $after1")
      // without eviction this would be 5 (one LastSeen per user ever)
      assert(afterEvict < 5L,
        s"state grew with lifetime users: $afterEvict rows")
      assert(kept == 5L) // far-apart events all open bursts
    }
  }
}
