package graft.engine

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.SparkSpec

class AuditsCompactSuite extends SparkSpec {
  import spark.implicits._

  describe("Audits") {
    val df = Seq(
      ("Officer", 100.0, "FT"),
      ("Officer", -5.0, "FT"),   // negative amount
      (null, 50.0, "XX"),        // null job, bad type
      ("Chief", 500.0, "PT")
    ).toDF("job_title", "total_amount", "employment_type")

    it("reports every violation with counts in one pass") {
      val failures = Audits.run(df, Seq(
        Audits.NotNull("job_title"),
        Audits.Unique("job_title"),
        Audits.AcceptedValues("employment_type", Seq("FT", "PT")),
        Audits.Expression("total_amount_non_negative", col("total_amount") >= 0)))
      val byName = failures.map(f => f.audit -> f.violations).toMap
      assert(byName(Audits.NotNull("job_title").name) == 1L)
      assert(byName("unique(job_title)") == 1L) // Officer twice
      assert(byName("accepted_values(employment_type)") == 1L)
      assert(byName("total_amount_non_negative") == 1L)
    }
    it("passes clean data silently and enforce throws on dirty data") {
      val clean = Seq(("A", 1.0)).toDF("job_title", "total_amount")
      Audits.enforce(clean, Audits.contractAudits) // no throw
      assertThrows[IllegalStateException](
        Audits.enforce(df, Audits.contractAudits))
    }
    it("a failing model audit aborts materialization before the swap") {
      val wh = tempDir("graft_audit").resolve("w")
      val bad = Pipeline.ModelSpec("m.bad", Nil,
        (s, _) => { import s.implicits._
          Seq((null.asInstanceOf[String], 1.0)).toDF("job_title", "total_amount") },
        audits = Audits.contractAudits)
      assertThrows[IllegalStateException](
        Pipeline.materialize(spark, Seq(bad), wh))
      assert(!Files.exists(wh)) // never went live
    }
    it("audits attach to the production ingest path per model name") {
      val storage = tempDir("graft_audit_ingest")
      val users = Tenancy.parseUsersJson(
        s"""{"T": {"password": "${Tenancy.sha256Hex("p")}", "industry_type": "corporate"}}""")
      val csv = storage.resolve("src.csv")
      // negative overtime makes total_amount < base -> passes; use a
      // negative base to violate total_amount_non_negative
      Files.write(csv,
        ("Row ID,Year,Department Title,Job Class Title,Employment Type,Base Pay,Overtime Pay,Longevity Bonus Pay,Average Benefit Cost\n" +
          "1,2013,D,J,FT,-$100.00,,,\n").getBytes("UTF-8"))
      assertThrows[IllegalStateException](
        Pipeline.ingest(spark, storage, users, "T", "p", "corporate_a.csv",
          csv, org.apache.spark.sql.functions.current_timestamp(),
          audits = Map("corporate.fct_corporate" -> Audits.contractAudits)))
      // and without audits the same upload succeeds (reference parity)
      val built = Pipeline.ingest(spark, storage, users, "T", "p",
        "corporate_a.csv", csv)
      assert(built("corporate.fct_corporate").count() == 1)
    }
  }

  /** Files actually read by the scan (post-pruning), via the numFiles
    * metric after execution.
    */
  private def scanNumFiles(df: org.apache.spark.sql.DataFrame): Long = {
    df.collect()
    val scans = df.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    scans.map(_.metrics("numFiles").value).sum
  }

  private def parquetFileCount(dir: java.nio.file.Path): Long = {
    val w = Files.walk(dir)
    try w.filter(_.toString.endsWith(".parquet")).count()
    finally w.close()
  }

  describe("Warehouse.writePartitioned") {
    it("prunes partitions at planning time for partition-column filters") {
      val dir = tempDir("graft_part").resolve("events")
      val prevNanos = spark.conf.getOption("spark.sql.legacy.parquet.nanosAsLong")
      try {
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        Warehouse.writePartitioned(ev, dir.toString, "event_type")
        val q = spark.read.parquet(dir.toString)
          .filter(col("event_type") === "purchase")
        // a NON-EMPTY PartitionFilters clause naming the partition column
        // (FileSourceScanExec always prints the key, so presence alone
        // proves nothing)
        val scan = q.queryExecution.executedPlan.toString
        val pf = "PartitionFilters: \\[([^\\]]*)\\]".r
          .findFirstMatchIn(scan).map(_.group(1)).getOrElse("")
        assert(pf.contains("event_type"), s"no partition pruning in:\n$scan")
        // and fewer files are actually READ than exist (numFiles metric is
        // post-pruning; Dataset.inputFiles is pre-pruning and useless here)
        assert(q.count() ==
          ev.filter(col("event_type") === "purchase").count())
        assert(scanNumFiles(q) < parquetFileCount(dir),
          s"scan read all ${parquetFileCount(dir)} files")
      } finally prevNanos match {
        case Some(v) => spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", v)
        case None => spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
      }
    }
    it("compacting a partitioned dir preserves the layout") {
      val dir = tempDir("graft_part2").resolve("t")
      import spark.implicits._
      val df = (1 to 1000).map(i => (s"k${i % 3}", i)).toDF("part", "v")
        .repartition(10)
      Warehouse.writePartitioned(df, dir.toString, "part")
      Warehouse.compact(spark, dir.toString)
      val back = spark.read.parquet(dir.toString)
      assert(back.count() == 1000)
      // layout survived: partition dirs still exist, pruning still works
      assert(Files.isDirectory(dir.resolve("part=k1")))
      val q = back.filter(col("part") === "k1")
      assert(q.count() == 334) // i % 3 == 1 for i in 1..1000
      assert(scanNumFiles(q) < parquetFileCount(dir))
      assert(back.schema("part").dataType.typeName == "string")
    }
  }

  describe("Warehouse.compact") {
    it("rewrites many small files into few, preserving data") {
      val dir = tempDir("graft_compact").resolve("t")
      spark.range(10000).selectExpr("id", "id * 2 as v")
        .repartition(40) // 40 tiny files
        .write.parquet(dir.toString)
      def parquetFiles = {
        val w = Files.walk(dir)
        try w.filter(_.toString.endsWith(".parquet")).count()
        finally w.close()
      }
      assert(parquetFiles >= 40)
      Warehouse.compact(spark, dir.toString)
      assert(parquetFiles <= 2)
      val after = spark.read.parquet(dir.toString)
      assert(after.count() == 10000)
      assert(after.agg(sum("v")).as[Long].collect()(0) == 10000L * 9999)
    }

    it("is a no-op on a dir with no parquet bytes") {
      val dir = tempDir("graft_compact_empty").resolve("t")
      Files.createDirectories(dir)
      Files.write(dir.resolve("_SUCCESS"), Array.emptyByteArray)
      Warehouse.compact(spark, dir.toString) // must not throw
      assert(Files.exists(dir.resolve("_SUCCESS")))
    }
  }
}
