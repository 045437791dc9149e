package graft.engine

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions.lit
import graft.SparkSpec

/** End-to-end pipeline + tenancy tests (SURVEY.md §5.3): synthetic CSVs per
  * industry -> ingest -> stg/fct warehouse -> budget report, plus the
  * service-layer guards (auth, filename gate, atomic failure cleanup).
  */
class PipelineSuite extends SparkSpec {

  private val frozen = lit("2020-01-01 00:00:00").cast("timestamp")

  private val usersJson =
    """{
      |  "LA_Office": {"password": "%s", "industry_type": "corporate"},
      |  "NJ_Edu": {"password": "%s", "industry_type": "education"}
      |}""".stripMargin.format(
      Tenancy.sha256Hex("secret1"), Tenancy.sha256Hex("secret2"))
  private val users = Tenancy.parseUsersJson(usersJson)

  describe("Tenancy") {
    it("parses users.json shape") {
      assert(users.map(_.clientId) == Seq("LA_Office", "NJ_Edu"))
      assert(users.head.industryType == "corporate")
    }
    it("authenticates by sha256 of trimmed password") {
      assert(Tenancy.authenticate(users, "LA_Office", " secret1 ").isRight)
      assert(Tenancy.authenticate(users, "LA_Office", "wrong").isLeft)
      assert(Tenancy.authenticate(users, "nobody", "x").isLeft)
    }
    it("gates filenames on the industry keyword, case-insensitive") {
      val t = users.head
      assert(Tenancy.validateFilename(t, "CORPORATE_la_2013.csv").isRight)
      assert(Tenancy.validateFilename(t, "payroll.csv").isLeft)
    }
    it("rejects path-traversal filenames everywhere they are resolved") {
      val t = users.head
      assert(Tenancy.validateFilename(t, "../corporate.csv").isLeft)
      assert(Tenancy.validateFilename(t, "a/corporate.csv").isLeft)
      assert(Tenancy.validateFilename(t, ".corporate.csv").isLeft)
      val base = java.nio.file.Paths.get("/tmp/x")
      assertThrows[IllegalArgumentException](
        Tenancy.rawPath(base, t, "../../b/Raw/corporate.csv"))
      assertThrows[IllegalArgumentException](
        Tenancy.uploadWarehouseName(t, "../corporate"))
    }
    it("derives the per-upload warehouse name") {
      assert(Tenancy.uploadWarehouseName(users.head, "corporate_x.csv") ==
        "LA_Office_corporate_corporate_x")
    }
  }

  describe("ingest end-to-end (corporate)") {
    val storage = tempDir("graft_test")
    val csv = storage.resolve("corporate_src.csv")
    Files.write(csv,
      ("""Row ID,Year,Department Title,Job Class Title,Employment Type,Base Pay,Overtime Pay,Longevity Bonus Pay,Average Benefit Cost
         |1,2013,Police,Officer,FT,"$75,253.12","$1,024.00",,"$18,000.50"
         |2,2013,Fire,Chief,FT,"$100,000.00","$30,000.00","$5,000.00",$0.00
         |3,2013,Lib,Clerk,PT,$50.00,,,
         |""".stripMargin).getBytes("UTF-8"))

    it("builds stg+fct and serves the contract report") {
      val built = Pipeline.ingest(spark, storage, users, "LA_Office",
        "secret1", "corporate_2013.csv", csv, frozen)
      val fct = built("corporate.fct_corporate")
      assert(fct.count() == 3)
      val report = Reports.budgetReport(fct).collect()
      assert(report.head.getAs[String]("job_title") == "Chief")
      assert(report.head.getAs[Double]("total_budget") == 135000.0)
      // raw backup landed in the Raw zone (S5)
      assert(Files.exists(storage.resolve("LA_Office/Raw/corporate_2013.csv")))
      // warehouse layout: Clean/<upload>/<model>/
      assert(Files.exists(storage.resolve(
        "LA_Office/Clean/LA_Office_corporate_corporate_2013/corporate.fct_corporate")))
    }
    it("rejects bad credentials and gated filenames") {
      assertThrows[IllegalArgumentException](Pipeline.ingest(spark, storage,
        users, "LA_Office", "nope", "corporate_2013.csv", csv, frozen))
      assertThrows[IllegalArgumentException](Pipeline.ingest(spark, storage,
        users, "LA_Office", "secret1", "education_2013.csv", csv, frozen))
    }
    it("cleans up the temp warehouse on failure and keeps the old build") {
      val warehouse = storage.resolve(
        "LA_Office/Clean/LA_Office_corporate_corporate_2013")
      val before = Files.exists(warehouse)
      assert(before)
      val boom = Pipeline.ModelSpec("x.boom", Nil,
        (_, _) => throw new RuntimeException("boom"))
      assertThrows[RuntimeException](
        Pipeline.materialize(spark, Seq(boom), warehouse))
      assert(Files.exists(warehouse)) // previous build intact
      // no .tmp-*/.old-* siblings left behind
      import scala.jdk.CollectionConverters._
      val stream = Files.list(warehouse.getParent)
      val leftovers =
        try stream.iterator().asScala.map(_.getFileName.toString)
          .filter(n => n.contains(".tmp-") || n.contains(".old-")).toSeq
        finally stream.close()
      assert(leftovers.isEmpty, s"leftover temp dirs: $leftovers")
    }

    it("sweeps stale crashed-build scratch but not fresh scratch") {
      val warehouse = storage.resolve(
        "LA_Office/Clean/LA_Office_corporate_corporate_2013")
      val name = warehouse.getFileName.toString
      val stale = warehouse.resolveSibling(s".$name.tmp-dead1234")
      val fresh = warehouse.resolveSibling(s".$name.old-live5678")
      Files.createDirectories(stale)
      Files.createDirectories(fresh)
      // age the stale dir past the sweep cutoff; leave fresh current
      Files.setLastModifiedTime(stale, java.nio.file.attribute.FileTime
        .fromMillis(System.currentTimeMillis() - 2 * 60 * 60 * 1000L))
      val ok = Pipeline.ModelSpec("x.ok", Nil,
        (s, _) => { import s.implicits._; Seq(1).toDF("a") })
      Pipeline.materialize(spark, Seq(ok), warehouse)
      assert(!Files.exists(stale), "stale scratch should be swept")
      assert(Files.exists(fresh),
        "recent scratch (possibly a concurrent build) must survive")
      Files.delete(fresh)
    }
  }

  describe("model DAG") {
    it("orders dependencies topologically") {
      val specs = Pipeline.industryModels("education", "/dev/null")
      val names = Pipeline.topoOrder(specs.reverse).map(_.name)
      assert(names == Seq("education.stg_education", "education.fct_education"))
    }
    it("detects cycles") {
      val a = Pipeline.ModelSpec("a", Seq("b"), (_, _) => null)
      val b = Pipeline.ModelSpec("b", Seq("a"), (_, _) => null)
      assertThrows[IllegalArgumentException](Pipeline.topoOrder(Seq(a, b)))
    }
  }

  describe("a live path's read/write lock") {
    it("is one lock per path while held or awaited, and no entry once released") {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      val base = tempDir("graft_lock")
      val live = Files.createDirectory(base.resolve("wh"))
      Files.createDirectory(base.resolve("x"))
      val tmp = Files.createDirectory(base.resolve(".wh.tmp-new"))
      Files.writeString(tmp.resolve("marker"), "new")
      val key = live.toAbsolutePath.normalize
      def holders = Option(Pipeline.liveLocks.get(key)).fold(0)(_._2)
      val swap = Pipeline.reading(live) {
        assert(holders == 1)
        // the same path spelled another way: the swap waits on this read
        val f = Future(Pipeline.swapIn(tmp, base.resolve("x/../wh")))
        val deadline = System.nanoTime + 30.seconds.toNanos
        while (holders < 2) {
          assert(System.nanoTime < deadline, "the swap never took the lock")
          Thread.sleep(10)
        }
        Thread.sleep(200)
        assert(!f.isCompleted && !Files.exists(live.resolve("marker")))
        // a nested read of the path reuses the held lock
        assert(Pipeline.reading(live)(holders) == 3)
        f
      }
      Await.result(swap, 30.seconds)
      assert(Files.readString(live.resolve("marker")) == "new")
      assert(!Pipeline.liveLocks.containsKey(key))
    }
  }
}
