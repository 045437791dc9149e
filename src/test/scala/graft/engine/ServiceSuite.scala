package graft.engine

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.graftshim.ArrowBridge
import scala.jdk.CollectionConverters._
import graft.SparkSpec

/** Facade tests covering all three industries end-to-end through the
  * service API (upload -> report/export/list), i.e. the reference's four
  * Flight entry points.
  */
class ServiceSuite extends SparkSpec {

  private val frozen = lit("2020-01-01 00:00:00").cast("timestamp")
  private val storage = tempDir("graft_svc")
  private val users = Tenancy.parseUsersJson(
    """{
      |  "LA": {"password": "%s", "industry_type": "corporate"},
      |  "NJ": {"password": "%s", "industry_type": "education"},
      |  "US": {"password": "%s", "industry_type": "hospital"}
      |}""".stripMargin.format(
      Tenancy.sha256Hex("p1"), Tenancy.sha256Hex("p2"), Tenancy.sha256Hex("p3")))

  private def svc = new GraftService(SparkSpec.session, storage, users, frozen)

  /** The corporate CSV header (FIXTURES.md A1). */
  private val header = "Row ID,Year,Department Title,Job Class Title," +
    "Employment Type,Base Pay,Overtime Pay,Longevity Bonus Pay," +
    "Average Benefit Cost"

  private def writeCsv(name: String, content: String) = {
    val p = storage.resolve(name)
    Files.write(p, content.stripMargin.getBytes("UTF-8"))
    p
  }

  private val la = users.find(_.clientId == "LA").get

  /** Corporate upload rows (job title, base pay in dollars) as the CSV a
    * tenant sends, and as the Arrow batches of the same cells.
    */
  private def corporateCsv(name: String, rows: Seq[(String, Int)]) =
    writeCsv(name, (header +: rows.zipWithIndex.map { case ((title, pay), i) =>
      s"${i + 1},2013,D,$title,FT,$$$pay.00,,,"
    }).mkString("", "\n", "\n"))

  private def corporateArrow(rows: Seq[(String, Int)]): Array[Array[Byte]] = {
    import spark.implicits._
    ArrowBridge.toArrowBatches(rows.zipWithIndex.map { case ((title, pay), i) =>
      (s"${i + 1}", "2013", "D", title, "FT", s"$$$pay.00", "", "", "")
    }.toDF(header.split(","): _*))
  }

  /** An fct audit every row violates: the build aborts before its swap. */
  private val failingFctAudit = Map("corporate.fct_corporate" ->
    Seq(Audits.Expression("never", lit(false))))

  private def warehouse(filename: String) =
    Tenancy.cleanDir(storage, la, filename)

  private def storedReport(filename: String): Array[Array[Byte]] = {
    val bytes = Files.readAllBytes(
      warehouse(filename).resolve(Pipeline.BudgetReportFile))
    ArrowBridge.readFramed(new java.io.ByteArrayInputStream(bytes), bytes.length)
  }

  /** Waits until the running overwrite `upload` of `wh` has its fct in
    * its scratch build beside the warehouse, and a little longer: all it
    * has left is the swap.
    */
  private def awaitScratchBuild(wh: java.nio.file.Path,
                                upload: scala.concurrent.Future[_]): Unit = {
    def built: Boolean = {
      val ls = Files.list(wh.getParent)
      try ls.iterator().asScala.exists { p =>
        p.getFileName.toString.startsWith(s".${wh.getFileName}.tmp-") &&
          Files.exists(p.resolve("corporate.fct_corporate/_SUCCESS"))
      } finally ls.close()
    }
    val deadline = System.nanoTime +
      java.util.concurrent.TimeUnit.SECONDS.toNanos(120)
    while (!built) {
      assert(System.nanoTime < deadline && !upload.isCompleted,
        "the overwrite never finished its build")
      Thread.sleep(10)
    }
    Thread.sleep(200)
  }

  private def rows(batches: Array[Array[Byte]]): Seq[Seq[Any]] =
    ArrowBridge.fromArrowBatches(spark, batches).collect().map(_.toSeq).toSeq

  /** A fresh computation of the report over the live fct. */
  private def freshRows(filename: String): Seq[Seq[Any]] =
    Reports.budgetReport(spark.read.parquet(
      warehouse(filename).resolve("corporate.fct_corporate").toString))
      .collect().map(_.toSeq).toSeq

  it("serves corporate upload -> report -> export -> list") {
    val csv = writeCsv("c.csv",
      """Row ID,Year,Department Title,Job Class Title,Employment Type,Base Pay,Overtime Pay,Longevity Bonus Pay,Average Benefit Cost
        |1,2013,Police,Officer,FT,"$10,000.00",$500.00,,$100.00
        |2,2013,Police,Officer,FT,"$20,000.00",,,
        |3,2013,Fire,Chief,FT,"$30,000.00","$10,000.00",,
        |""")
    svc.upload("LA", "p1", "corporate_a.csv", csv)
    val report =
      svc.budgetReport("LA", "p1", "corporate_a.csv", saveCopy = true)(_.collect())
    assert(report.map(_.getAs[String]("job_title")).toSeq == Seq("Chief", "Officer"))
    assert(report(1).getAs[Long]("total_employee") == 2L)
    val export = svc.fullExport("LA", "p1", "corporate_a.csv")(_.collect())
    assert(export.length == 3)
    assert(export.head.getAs[String]("job_title") == "Chief")
    val (raw, clean) = svc.listFiles("LA", "p1")
    assert(raw == Seq("corporate_a.csv"))
    assert(clean == Seq("LA_corporate_corporate_a"))
    // S8 archive landed as a single CSV part in Downloads
    val dl = storage.resolve("LA/Downloads/corporate_a_summary")
    assert(Files.list(dl).iterator().asScala.exists(_.toString.endsWith(".csv")))
  }

  it("serves education with fte/seniority semantics intact") {
    val csv = writeCsv("e.csv",
      """last_name,first_name,district,school,primary_job,fte,experience_total,certificate,salary
        |Smith,Ann,Newark,Lincoln,Teacher,,17,Std,64000
        |Lee,Bo,Newark,Lincoln,Aide,0.5,3,Std,30000
        |""")
    svc.upload("NJ", "p2", "education_b.csv", csv)
    val export = svc.fullExport("NJ", "p2", "education_b.csv")(_.collect())
    val smith = export.find(_.getAs[String]("job_title") == "Teacher").get
    assert(smith.getAs[String]("employment_status") == "Full Time") // fte null -> 1.0
    assert(smith.getAs[Double]("total_amount") == 64000 * 1.05)     // 17y bonus
  }

  it("serves hospital through header normalization") {
    val csv = writeCsv("h.csv",
      """Provider Name,Provider City,Provider State,DRG Definition, Total Discharges , Average Total Payments ,Average Medicare Payments
        |General,LA,CA,DRG X,10,1000.5,800.0
        |Mercy,SF,CA,DRG Y,5,2000.0,1500.0
        |""")
    svc.upload("US", "p3", "hospital_c.csv", csv)
    val report = svc.budgetReport("US", "p3", "hospital_c.csv")(_.collect())
    assert(report.head.getAs[String]("job_title") == "DRG X") // 10*1000.5 > 5*2000
    assert(report.head.getAs[Double]("total_budget") == 10005.0)
  }

  it("runs tenant uploads concurrently (no global mutex — M6 dropped)") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val csvA = writeCsv("conc_a.csv",
      """Row ID,Year,Department Title,Job Class Title,Employment Type,Base Pay,Overtime Pay,Longevity Bonus Pay,Average Benefit Cost
        |1,2013,D,JobA,FT,$100.00,,,
        |""")
    val csvB = writeCsv("conc_b.csv",
      """last_name,first_name,district,school,primary_job,fte,experience_total,certificate,salary
        |Roe,Jay,Camden,North,JobB,1.0,2,Std,40000
        |""")
    val fa = Future(svc.upload("LA", "p1", "corporate_conc.csv", csvA))
    val fb = Future(svc.upload("NJ", "p2", "education_conc.csv", csvB))
    val (ra, rb) = (Await.result(fa, 120.seconds), Await.result(fb, 120.seconds))
    assert(ra("corporate.fct_corporate").count() == 1)
    assert(rb("education.fct_education").count() == 1)
    // each landed in its own warehouse, untouched by the other
    assert(svc.budgetReport("LA", "p1", "corporate_conc.csv")(_.collect())(0)
      .getAs[String]("job_title") == "JobA")
    assert(svc.budgetReport("NJ", "p2", "education_conc.csv")(_.collect())(0)
      .getAs[String]("job_title") == "JobB")
  }

  it("round-trips the Arrow wire format (S4 upload / S7 result stream)") {
    import org.apache.spark.sql.graftshim.ArrowBridge
    val spark = SparkSpec.session
    import spark.implicits._
    // pure bridge round-trip preserves data
    val df = Seq((1L, "a", 1.5), (2L, "b", 2.5)).toDF("k", "s", "v")
    val back = ArrowBridge.fromArrowBatches(spark, ArrowBridge.toArrowBatches(df))
    assert(back.orderBy("k").collect().map(_.toSeq).toSeq ==
      df.orderBy("k").collect().map(_.toSeq).toSeq)
    // empty round-trip keeps the schema (at least one empty batch ships)
    val empty = ArrowBridge.fromArrowBatches(spark,
      ArrowBridge.toArrowBatches(df.limit(0)))
    assert(empty.count() == 0 && empty.schema == df.schema)
    // maxRecordsPerBatch caps records, not bytes: 5 rows / cap 2 -> 3 batches
    val five = spark.range(5).coalesce(1).toDF("k")
    assert(ArrowBridge.toArrowBatches(five, maxRecordsPerBatch = 2).length == 3)

    // service: upload via Arrow batches, read the report back as Arrow
    val raw = Seq(
      ("1", "2013", "Ops", "Analyst", "FT", "$1,000.00", "", "", ""),
      ("2", "2013", "Ops", "Analyst", "FT", "$2,000.00", "", "", ""))
      .toDF("Row ID", "Year", "Department Title", "Job Class Title",
        "Employment Type", "Base Pay", "Overtime Pay", "Longevity Bonus Pay",
        "Average Benefit Cost")
    svc.uploadArrow("LA", "p1", "corporate_arrow.csv",
      ArrowBridge.toArrowBatches(raw))
    val report = ArrowBridge.fromArrowBatches(spark,
      svc.budgetReportArrow("LA", "p1", "corporate_arrow.csv"))
    val row = report.collect()(0)
    assert(row.getAs[String]("job_title") == "Analyst")
    assert(row.getAs[Long]("total_employee") == 2L)
    assert(row.getAs[Double]("total_budget") == 3000.0)
  }

  it("streams Arrow batches lazily for full exports (bounded driver memory)") {
    import org.apache.spark.sql.graftshim.ArrowBridge
    val spark = SparkSpec.session
    // 4 partitions, batch cap 10 -> every partition yields multiple batches;
    // the iterator must deliver the same bytes the collecting path does
    val df = spark.range(100).repartition(4).toDF("k")
    val streamed = ArrowBridge.toArrowBatchIterator(df, maxRecordsPerBatch = 10)
    val back = ArrowBridge.fromArrowBatches(spark, streamed.toArray)
    assert(back.agg(org.apache.spark.sql.functions.sum("k")).collect()(0)
      .getLong(0) == 4950L)
    assert(back.count() == 100)
    // zero-row export still ships a schema-bearing batch
    val empty = ArrowBridge.toArrowBatchIterator(df.limit(0)).toArray
    assert(empty.length == 1)
    assert(ArrowBridge.fromArrowBatches(spark, empty).schema == df.schema)
    // laziness: building the iterator must not materialize the batches —
    // pulling the head leaves the rest of the stream unconsumed
    val it = ArrowBridge.toArrowBatchIterator(df, maxRecordsPerBatch = 10)
    assert(it.next().nonEmpty && it.hasNext)
  }

  it("serves the four entry points over a real socket (HTTP Arrow binding)") {
    import java.io.{DataInputStream, DataOutputStream, EOFException}
    import java.net.{HttpURLConnection, URI}
    import org.apache.spark.sql.graftshim.ArrowBridge
    val spark = SparkSpec.session
    import spark.implicits._

    val http = new GraftHttpServer(svc)
    val port = http.start()
    def conn(path: String, method: String,
             auth: (String, String) = ("LA", "p1")): HttpURLConnection = {
      val c = new URI(s"http://127.0.0.1:$port$path").toURL
        .openConnection().asInstanceOf[HttpURLConnection]
      c.setRequestMethod(method)
      c.setRequestProperty("X-Graft-Client", auth._1)
      c.setRequestProperty("X-Graft-Password", auth._2)
      c
    }
    def readFrames(in: java.io.InputStream): Array[Array[Byte]] = {
      val d = new DataInputStream(in)
      val out = Array.newBuilder[Array[Byte]]
      try {
        while (true) {
          val buf = new Array[Byte](d.readInt())
          d.readFully(buf); out += buf
        }
      } catch { case _: EOFException => () }
      out.result()
    }
    try {
      // do_put: upload Arrow batches over the wire
      val raw = Seq(
        ("1", "2013", "Ops", "Analyst", "FT", "$1,500.00", "", "", ""),
        ("2", "2013", "Ops", "Analyst", "FT", "$2,500.00", "", "", ""))
        .toDF("Row ID", "Year", "Department Title", "Job Class Title",
          "Employment Type", "Base Pay", "Overtime Pay", "Longevity Bonus Pay",
          "Average Benefit Cost")
      val put = conn("/files/corporate_http.csv", "PUT")
      put.setDoOutput(true)
      val body = new DataOutputStream(put.getOutputStream)
      ArrowBridge.toArrowBatches(raw).foreach { b =>
        body.writeInt(b.length); body.write(b)
      }
      body.close()
      assert(put.getResponseCode == 200)

      // do_get get_budget_report: Arrow batches back over the wire
      val rep = conn("/files/corporate_http.csv/report", "GET")
      val report = ArrowBridge.fromArrowBatches(
        spark, readFrames(rep.getInputStream))
      val row = report.collect()(0)
      assert(row.getAs[String]("job_title") == "Analyst")
      assert(row.getAs[Double]("total_budget") == 4000.0)

      // do_get get_full_clean: streamed (chunked) full export
      val exp = conn("/files/corporate_http.csv/export", "GET")
      val export = ArrowBridge.fromArrowBatches(
        spark, readFrames(exp.getInputStream))
      assert(export.count() == 2)

      // do_action list_files
      val ls = conn("/files", "GET")
      val listing = new String(ls.getInputStream.readAllBytes(), "UTF-8")
      assert(listing.contains("raw/corporate_http.csv"))

      // uniform auth failure over the wire
      val bad = conn("/files", "GET", auth = ("LA", "wrong"))
      assert(bad.getResponseCode == 401)
      // a file never uploaded is not found, for a report and an export
      assert(conn("/files/nope.csv/report", "GET").getResponseCode == 404)
      assert(conn("/files/nope.csv/export", "GET").getResponseCode == 404)
    } finally http.stop()
  }

  it("reports on the new fct after an overwrite upload of the same filename") {
    def upload(src: String, rows: Seq[(String, Int)]): Unit =
      svc.upload("LA", "p1", "corporate_swap.csv", corporateCsv(src, rows))
    def totals(rows: Array[org.apache.spark.sql.Row]): (Long, Double) =
      (rows.map(_.getAs[Long]("total_employee")).sum,
        rows.map(_.getAs[Double]("total_budget")).sum)
    upload("swap_1.csv", Seq("A" -> 100, "A" -> 200, "B" -> 300))
    val before = svc.budgetReport("LA", "p1", "corporate_swap.csv")(_.collect())
    assert(totals(before) == ((3L, 600.0)))
    upload("swap_2.csv",
      Seq("C" -> 1000, "D" -> 2000, "D" -> 3000, "E" -> 10, "C" -> 5))
    val after = svc.budgetReport("LA", "p1", "corporate_swap.csv")(_.collect())
    assert(after.map(_.toSeq).toSeq == freshRows("corporate_swap.csv"))
    assert(totals(after) == ((5L, 6015.0)))
    assert(after.map(_.getAs[String]("job_title")).toSeq ==
      Seq("D", "C", "E"))
  }

  it("runs the actions of a report and an export on one build while a same-name overwrite waits") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val filename = "corporate_scoped.csv"
    val wh = warehouse(filename)
    val s = svc
    s.upload("LA", "p1", filename,
      corporateCsv("scoped_1.csv", Seq("A" -> 100, "B" -> 200, "A" -> 50)))
    val old = freshRows(filename)
    val overwrite = s.fullExport("LA", "p1", filename) { export =>
      s.budgetReport("LA", "p1", filename) { report =>
        val f = Future(s.upload("LA", "p1", filename,
          corporateCsv("scoped_2.csv", Seq("C" -> 5, "D" -> 6))))
        awaitScratchBuild(wh, f)
        // the new build is finished: the actions still read the old one
        assert(export.count() == 3)
        assert(report.collect().map(_.toSeq).toSeq == old)
        assert(!f.isCompleted)
        f
      }
    }
    Await.result(overwrite, 120.seconds)
    assert(s.fullExport("LA", "p1", filename)(_.count()) == 2)
    assert(s.budgetReport("LA", "p1", filename)(
      _.collect().map(_.toSeq).toSeq) == freshRows(filename))
  }

  describe("the budget report stored with each build") {
    it("is computed and stored by the first request, and read by the next with no Spark job") {
      val filename = "corporate_stored.csv"
      svc.upload("LA", "p1", filename,
        corporateCsv("stored.csv", Seq("A" -> 100, "B" -> 300, "A" -> 50)))
      val stored = warehouse(filename).resolve(Pipeline.BudgetReportFile)
      // the build ran its model writes and nothing else
      assert(!Files.exists(stored))
      val s = svc
      var first: Array[Array[Byte]] = null
      assert(jobsDuring {
        first = s.budgetReportArrow("LA", "p1", filename)
      } > 0)
      assert(rows(first) == freshRows(filename))
      assert(rows(storedReport(filename)) == rows(first))
      var second: Array[Array[Byte]] = null
      assert(jobsDuring {
        second = s.budgetReportArrow("LA", "p1", filename)
      } == 0)
      assert(rows(second) == rows(first))
    }

    it("holds exactly the rows of its live fct, CSV and Arrow uploads alike") {
      // tied totals: A, B and C all sum to 300, F and G to 10
      val first = Seq("B" -> 300, "A" -> 100, "C" -> 300, "A" -> 200, "D" -> 50)
      val second = Seq("G" -> 10, "E" -> 10, "F" -> 10, "E" -> 5)
      def check(filename: String, titles: Seq[String]): Unit = {
        // a new build goes live with no report: the last one's went with it
        assert(!Files.exists(
          warehouse(filename).resolve(Pipeline.BudgetReportFile)))
        val answered = rows(svc.budgetReportArrow("LA", "p1", filename))
        val stored = rows(storedReport(filename))
        assert(stored == freshRows(filename))
        assert(stored.map(_.head) == titles)
        assert(answered == stored)
      }
      val (csv, arrow) = ("corporate_csvstore.csv", "corporate_arrowstore.csv")
      svc.upload("LA", "p1", csv, corporateCsv("store_1.csv", first))
      check(csv, Seq("A", "B", "C", "D"))
      svc.upload("LA", "p1", csv, corporateCsv("store_2.csv", second))
      check(csv, Seq("E", "F", "G"))
      svc.uploadArrow("LA", "p1", arrow, corporateArrow(first))
      check(arrow, Seq("A", "B", "C", "D"))
      svc.uploadArrow("LA", "p1", arrow, corporateArrow(second))
      check(arrow, Seq("E", "F", "G"))
    }

    it("is computed when the warehouse holds no stored copy") {
      val filename = "corporate_nostore.csv"
      svc.upload("LA", "p1", filename,
        corporateCsv("nostore.csv", Seq("A" -> 100, "B" -> 100, "C" -> 7)))
      val stored = rows(svc.budgetReportArrow("LA", "p1", filename))
      Files.delete(warehouse(filename).resolve(Pipeline.BudgetReportFile))
      val s = svc
      var answer: Array[Array[Byte]] = null
      assert(jobsDuring {
        answer = s.budgetReportArrow("LA", "p1", filename)
      } > 0)
      assert(rows(answer) == stored)
      assert(rows(storedReport(filename)) == stored)
      // a filename never uploaded has neither: NOT_FOUND, not a computation
      assert(intercept[NoSuchElementException](
        svc.budgetReportArrow("LA", "p1", "corporate_never.csv"))
        .getMessage == "NOT_FOUND")
    }

    it("stays the old build's, paired with the old fct, when an fct audit fails") {
      val filename = "corporate_audited.csv"
      svc.upload("LA", "p1", filename,
        corporateCsv("audited_1.csv", Seq("A" -> 100, "B" -> 200)))
      val old = rows(svc.budgetReportArrow("LA", "p1", filename))
      intercept[IllegalStateException](Pipeline.ingest(spark, storage, users,
        "LA", "p1", filename,
        corporateCsv("audited_2.csv", Seq("C" -> 5, "D" -> 6, "D" -> 7)),
        frozen, failingFctAudit))
      assert(rows(svc.budgetReportArrow("LA", "p1", filename)) == old)
      assert(freshRows(filename) == old)
    }

    it("is read only after authentication") {
      import java.net.{HttpURLConnection, URI}
      val filename = "corporate_authfirst.csv"
      svc.upload("LA", "p1", filename,
        corporateCsv("authfirst.csv", Seq("A" -> 100)))
      // an unreadable stored copy: reading it fails with an I/O error
      val stored = warehouse(filename).resolve(Pipeline.BudgetReportFile)
      Files.createDirectory(stored)
      assert(intercept[IllegalArgumentException](
        svc.budgetReportArrow("LA", "wrong", filename))
        .getMessage == "AUTHENTICATION_FAILED")
      val http = new GraftHttpServer(svc)
      val port = http.start()
      def status(password: String): Int = {
        val c = new URI(s"http://127.0.0.1:$port/files/$filename/report")
          .toURL.openConnection().asInstanceOf[HttpURLConnection]
        c.setRequestProperty("X-Graft-Client", "LA")
        c.setRequestProperty("X-Graft-Password", password)
        c.getResponseCode
      }
      try {
        assert(status("wrong") == 401)
        assert(status("p1") == 500) // the right password does read it
      } finally http.stop()
    }

    it("answers a damaged stored copy with INTERNAL_ERROR, not a client error") {
      import java.net.{HttpURLConnection, URI}
      val filename = "corporate_damaged.csv"
      svc.upload("LA", "p1", filename,
        corporateCsv("damaged.csv", Seq("A" -> 100, "B" -> 200)))
      svc.budgetReportArrow("LA", "p1", filename)
      val stored = warehouse(filename).resolve(Pipeline.BudgetReportFile)
      val bytes = Files.readAllBytes(stored)
      val http = new GraftHttpServer(svc)
      val port = http.start()
      def answer(): (Int, String) = {
        val c = new URI(s"http://127.0.0.1:$port/files/$filename/report")
          .toURL.openConnection().asInstanceOf[HttpURLConnection]
        c.setRequestProperty("X-Graft-Client", "LA")
        c.setRequestProperty("X-Graft-Password", "p1")
        val code = c.getResponseCode
        (code, new String(c.getErrorStream.readAllBytes(), "UTF-8"))
      }
      try {
        // cut after the first frame header: the frame runs past the file
        Files.write(stored, bytes.take(4))
        val (cut, cutBody) = answer()
        assert(cut == 500 && cutBody.startsWith("INTERNAL_ERROR "), cutBody)
        // a negative frame length
        Files.write(stored, Array[Byte](-1, -1, -1, -1) ++ bytes.drop(4))
        val (neg, negBody) = answer()
        assert(neg == 500 && negBody.startsWith("INTERNAL_ERROR "), negBody)
      } finally http.stop()
    }

    it("is one build's whole report while overwrite uploads race it") {
      import java.util.concurrent.ConcurrentLinkedQueue
      import java.util.concurrent.atomic.AtomicBoolean
      val filename = "corporate_race.csv"
      // build k: employees 2 + k, budget 107 * k + k
      val builds = (1 to 3).map(k =>
        Seq("A" -> 100 * k, "B" -> 7 * k) ++ Seq.fill(k)("C" -> 1))
      def sums(r: Seq[Seq[Any]]): (Long, Double) =
        (r.map(_(1).asInstanceOf[Long]).sum, r.map(_(2).asInstanceOf[Double]).sum)
      val expected = builds.map(b => (b.size.toLong, b.map(_._2).sum.toDouble))
      svc.upload("LA", "p1", filename, corporateCsv("race_0.csv", builds(0)))
      // the reader spins, so reads land between a swap's two renames; it
      // keeps an answer only when it differs from the one before
      val answers = new ConcurrentLinkedQueue[Either[String, Seq[Seq[Byte]]]]()
      val stop = new AtomicBoolean(false)
      val s = svc
      // two readers, so a build's first report is often computed by one
      // while the other reads what it stored, and a swap lands mid-compute
      val readers = (1 to 2).map(_ => new Thread(() => {
        var last = Array.empty[AnyRef]
        while (!stop.get)
          try {
            val b: Array[AnyRef] = s.budgetReportArrow("LA", "p1", filename)
              .map(f => f: AnyRef)
            if (!java.util.Arrays.deepEquals(b, last)) {
              answers.add(Right(b.map(_.asInstanceOf[Array[Byte]].toSeq).toSeq))
              last = b
            }
          } catch { case e: Throwable => answers.add(Left(String.valueOf(e))) }
      }))
      readers.foreach(_.start())
      try (1 to 6).foreach(i => s.upload("LA", "p1", filename,
        corporateCsv(s"race_$i.csv", builds(i % 3))))
      finally { stop.set(true); readers.foreach(_.join()) }
      // no report computed from an older build was stored over the live one
      assert(rows(s.budgetReportArrow("LA", "p1", filename)) ==
        freshRows(filename))
      assert(rows(storedReport(filename)) == freshRows(filename))
      val got = answers.asScala.toSeq
      // the first build went live before the reader started: every answer
      // is some build's report, never NOT_FOUND
      val errors = got.collect { case Left(e) => e }
      assert(errors.isEmpty, s"answers that are no build's report: $errors")
      val seen = got.collect { case Right(b) => b }.distinct
        .map(b => sums(rows(b.map(_.toArray).toArray)))
      assert(seen.forall(expected.contains),
        s"an answer matches no build: $seen, builds $expected")
      assert(seen.distinct.size > 1, s"the reader saw one build only: $seen")
    }

    it("is the old build's while a read holds off a finished overwrite, and goes with it at the swap") {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      val filename = "corporate_held.csv"
      val wh = warehouse(filename)
      val s = svc
      s.upload("LA", "p1", filename,
        corporateCsv("held_1.csv", Seq("A" -> 100, "B" -> 200)))
      val old = freshRows(filename)
      val overwrite = Pipeline.reading(wh) {
        val f = Future(s.upload("LA", "p1", filename,
          corporateCsv("held_2.csv", Seq("C" -> 5, "D" -> 6, "D" -> 7))))
        awaitScratchBuild(wh, f)
        // built but not live: the old build's report, stored now, and rows
        assert(rows(s.budgetReportArrow("LA", "p1", filename)) == old)
        assert(rows(storedReport(filename)) == old)
        assert(s.fullExport("LA", "p1", filename)(_.count()) == 2)
        assert(!f.isCompleted)
        f
      }
      Await.result(overwrite, 120.seconds)
      // the report stored during the hold went with its build
      assert(!Files.exists(wh.resolve(Pipeline.BudgetReportFile)))
      val fresh = freshRows(filename)
      assert(fresh != old)
      assert(rows(s.budgetReportArrow("LA", "p1", filename)) == fresh)
      assert(rows(storedReport(filename)) == fresh)
    }
  }

  it("streams one build's whole export to clients racing same-name uploads over HTTP") {
    import java.io.{DataInputStream, DataOutputStream, EOFException}
    import java.net.{HttpURLConnection, URI}
    import java.util.concurrent.ConcurrentLinkedQueue
    import java.util.concurrent.atomic.AtomicBoolean
    val filename = "corporate_exportrace.csv"
    // build k: 2 + 3 * k rows, every job title tagged with k
    val builds = (1 to 3).map(k =>
      Seq.tabulate(2 + 3 * k)(i => s"K$k-${i % 3}" -> (100 + i)))
    val http = new GraftHttpServer(svc)
    val port = http.start()
    def conn(path: String): HttpURLConnection = {
      val c = new URI(s"http://127.0.0.1:$port$path").toURL
        .openConnection().asInstanceOf[HttpURLConnection]
      c.setRequestProperty("X-Graft-Client", "LA")
      c.setRequestProperty("X-Graft-Password", "p1")
      c
    }
    def put(build: Seq[(String, Int)]): Int = {
      val c = conn(s"/files/$filename")
      c.setRequestMethod("PUT")
      c.setDoOutput(true)
      val body = new DataOutputStream(c.getOutputStream)
      corporateArrow(build).foreach { b => body.writeInt(b.length); body.write(b) }
      body.close()
      c.getResponseCode
    }
    // an answer: its frames, or what went wrong
    def export(): Either[String, Seq[Seq[Byte]]] =
      try {
        val c = conn(s"/files/$filename/export")
        if (c.getResponseCode != 200) Left(s"status ${c.getResponseCode}")
        else {
          val d = new DataInputStream(c.getInputStream)
          val frames = Seq.newBuilder[Seq[Byte]]
          try while (true) {
            val buf = new Array[Byte](d.readInt())
            d.readFully(buf)
            frames += buf.toSeq
          } catch { case _: EOFException => () }
          Right(frames.result())
        }
      } catch { case e: Throwable => Left(String.valueOf(e)) }
    try {
      assert(put(builds(0)) == 200)
      val answers = new ConcurrentLinkedQueue[Either[String, Seq[Seq[Byte]]]]()
      val stop = new AtomicBoolean(false)
      val clients = (1 to 2).map(_ => new Thread(() =>
        while (!stop.get) answers.add(export())))
      clients.foreach(_.start())
      try (1 to 6).foreach(i => assert(put(builds(i % 3)) == 200))
      finally { stop.set(true); clients.foreach(_.join()) }
      val got = answers.asScala.toSeq
      val errors = got.collect { case Left(e) => e }
      assert(errors.isEmpty,
        s"${errors.size} of ${got.size} exports failed: ${errors.distinct}")
      // each answer's titles name one build k, and it has k's row count
      val seen = got.collect { case Right(f) => f }.distinct.map { f =>
        val titles = ArrowBridge.fromArrowBatches(spark,
          f.map(_.toArray).toArray).select("job_title").collect().map(_.getString(0))
        (titles.map(_.takeWhile(_ != '-')).distinct.toSeq, titles.length)
      }
      val expected = builds.map(b =>
        (Seq(b.head._1.takeWhile(_ != '-')), b.size))
      assert(seen.forall(expected.contains),
        s"an export is no one build's rows: $seen, builds $expected")
      assert(seen.size > 1, s"the clients saw one build only: $seen")
    } finally http.stop()
    assert(!Pipeline.liveLocks.containsKey(
      warehouse(filename).toAbsolutePath.normalize))
  }

  it("archives each upload's raw bytes atomically and sweeps a crash's stale copy") {
    val filename = "corporate_raw.csv"
    val raw = Tenancy.rawPath(storage, la, filename)
    def scratch: List[String] = {
      val ls = Files.list(raw.getParent)
      try ls.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith(".")).toList
      finally ls.close()
    }
    val good = corporateCsv("raw_1.csv", Seq("A" -> 100))
    svc.upload("LA", "p1", filename, good)
    assert(scratch.isEmpty)
    assert(Files.readAllBytes(raw).sameElements(Files.readAllBytes(good)))
    val bad = corporateCsv("raw_2.csv", Seq("B" -> 200, "C" -> 5))
    intercept[IllegalStateException](Pipeline.ingest(spark, storage, users,
      "LA", "p1", filename, bad, frozen, failingFctAudit))
    assert(scratch.isEmpty)
    assert(Files.readAllBytes(raw).sameElements(Files.readAllBytes(bad)))
    // a copy a crash left two hours ago is swept by the next upload of the
    // name; a fresh one may be a concurrent upload's, and stays
    val stale = raw.resolveSibling(s".$filename.tmp-dead0001")
    val fresh = raw.resolveSibling(s".$filename.tmp-live0001")
    Files.write(stale, "torn".getBytes("UTF-8"))
    Files.setLastModifiedTime(stale, java.nio.file.attribute.FileTime
      .fromMillis(System.currentTimeMillis() - 2 * 60 * 60 * 1000L))
    Files.write(fresh, "copying".getBytes("UTF-8"))
    svc.upload("LA", "p1", filename, good)
    assert(scratch == List(fresh.getFileName.toString))
    Files.delete(fresh)
  }

  /** The status line of a raw PUT whose headers are `head`, followed by
    * `body` bytes and no more; a server that waits for more times out.
    */
  private def rawPut(port: Int, head: String, body: Array[Byte],
                     password: String = "p1"): String = {
    import java.io.{BufferedReader, InputStreamReader}
    val sock = new java.net.Socket("127.0.0.1", port)
    try {
      sock.setSoTimeout(30000)
      val out = sock.getOutputStream
      out.write(("PUT /files/corporate_big.csv HTTP/1.1\r\n" +
        "Host: 127.0.0.1\r\nX-Graft-Client: LA\r\n" +
        s"X-Graft-Password: $password\r\n$head\r\n\r\n").getBytes("US-ASCII"))
      out.write(body)
      out.flush()
      new BufferedReader(new InputStreamReader(sock.getInputStream,
        "US-ASCII")).readLine()
    } finally sock.close()
  }

  it("answers 413 to an upload body past the cap, before reading it") {
    val http = new GraftHttpServer(svc)
    val port = http.start()
    def status(head: String, body: Array[Byte]) = rawPut(port, head, body)
    try {
      // a declared 2 GiB body: refused on the header, no byte of it sent
      assert(status(s"Content-Length: ${1L << 31}", Array.emptyByteArray)
        .startsWith("HTTP/1.1 413"))
      // a chunked body whose first frame declares the whole cap: with its
      // 4-byte header it is past the cap, refused before it is allocated
      assert(status("Transfer-Encoding: chunked",
        "4\r\n".getBytes("US-ASCII") ++ Array[Byte](0x40, 0, 0, 0) ++
          "\r\n".getBytes("US-ASCII")).startsWith("HTTP/1.1 413"))
    } finally http.stop()
  }

  it("answers 401 to a wrong password before reading the upload body") {
    val http = new GraftHttpServer(svc)
    val port = http.start()
    // a declared 1 MiB body, none of it sent: a server that read the body
    // before checking the caller would wait for it until the timeout
    try assert(rawPut(port, "Content-Length: 1048576", Array.emptyByteArray,
      password = "wrong").startsWith("HTTP/1.1 401"))
    finally http.stop()
  }

  describe("an Arrow upload") {
    /** Corporate cells with quotes, commas, empty strings, nulls (None) and
      * padding, as Arrow batches and as the RFC-4180 CSV of the same cells.
      */
    val cells: Seq[Seq[Option[String]]] = Seq(
      Seq("1", "2013", "Ops, North", "say \"hi\"", "FT", "$1,000.00", "", "", ""),
      Seq("2", "2013", "", " pad ", " PT ", "$2,000.50", null, "$5.00", null),
      Seq("3", "2013", null, "a \"b\", c", "FT", " $300.00 ", "$1.00", "", ""))
      .map(_.map(Option(_)))
    def arrowOf(rows: Seq[Seq[Option[String]]]): Array[Array[Byte]] = {
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types.{StringType, StructField, StructType}
      val schema = StructType(header.split(",").map(StructField(_, StringType)))
      ArrowBridge.toArrowBatches(spark.createDataFrame(
        java.util.Arrays.asList(rows.map(r => Row(r.map(_.orNull): _*)): _*),
        schema))
    }
    def csvOf(name: String, rows: Seq[Seq[Option[String]]]) = {
      def cell(c: Option[String]) = c.fold("")(v =>
        if (v.exists("\",".contains(_)) || v.isEmpty)
          "\"" + v.replace("\"", "\"\"") + "\"" else v)
      writeCsv(name, (header +: rows.map(_.map(cell).mkString(",")))
        .mkString("", "\n", "\n"))
    }
    def table(filename: String, model: String): Seq[Seq[Any]] =
      spark.read.parquet(warehouse(filename).resolve(model).toString)
        .orderBy("row_id").collect().map(_.toSeq).toSeq

    it("and a CSV upload of the same cells build equal stg and fct rows") {
      svc.upload("LA", "p1", "corporate_dialect_csv.csv",
        csvOf("dialect.csv", cells))
      svc.uploadArrow("LA", "p1", "corporate_dialect_arrow.csv", arrowOf(cells))
      Seq("corporate.stg_corporate", "corporate.fct_corporate").foreach { m =>
        val fromCsv = table("corporate_dialect_csv.csv", m)
        assert(fromCsv.size == 3)
        assert(table("corporate_dialect_arrow.csv", m) == fromCsv, m)
      }
      // the cells arrive as sent: quotes doubled in, padding kept
      val stg = table("corporate_dialect_arrow.csv", "corporate.stg_corporate")
      assert(stg.map(_(3)) == Seq("say \"hi\"", " pad ", "a \"b\", c"))
      assert(stg.map(_(2)) == Seq("Ops, North", null, null))
    }

    it("runs the Spark jobs of a CSV upload of the same cells, and no more") {
      val s = svc
      val csv = csvOf("jobs.csv", cells)
      val batches = arrowOf(cells)
      // one upload of each first, so neither count includes a first build
      s.upload("LA", "p1", "corporate_jobs_csv.csv", csv)
      s.uploadArrow("LA", "p1", "corporate_jobs_arrow.csv", batches)
      val csvJobs = jobsDuring(s.upload("LA", "p1", "corporate_jobs_csv.csv", csv))
      val arrowJobs = jobsDuring(
        s.uploadArrow("LA", "p1", "corporate_jobs_arrow.csv", batches))
      assert(arrowJobs == csvJobs)
      // and takes no detour through a DataFrame write and a temp dir
      val src = Files.readString(
        java.nio.file.Paths.get("src/main/scala/graft/engine/GraftService.scala"))
      val from = src.indexOf("def uploadArrow")
      val body = src.substring(from, src.indexOf("/**", from))
      Seq("fromArrowBatches", "coalesce", "createTempDirectory", "Files.walk")
        .foreach(n => assert(!body.contains(n), s"uploadArrow calls $n"))
    }

    it("with a batch whose schema differs from the first is 400 and leaves nothing") {
      import java.io.DataOutputStream
      import java.net.{HttpURLConnection, URI}
      val filename = "corporate_mixed.csv"
      val other = {
        import spark.implicits._
        ArrowBridge.toArrowBatches(Seq(("1", "x")).toDF("Row ID", "Year"))
      }
      def entries: List[String] = {
        val ls = Files.list(Tenancy.rawPath(storage, la, filename).getParent)
        try ls.iterator().asScala.map(_.getFileName.toString)
          .filter(_.contains(filename)).toList
        finally ls.close()
      }
      val http = new GraftHttpServer(svc)
      val port = http.start()
      def put(batches: Seq[Array[Byte]]): (Int, String) = {
        val c = new URI(s"http://127.0.0.1:$port/files/$filename").toURL
          .openConnection().asInstanceOf[HttpURLConnection]
        c.setRequestMethod("PUT")
        c.setRequestProperty("X-Graft-Client", "LA")
        c.setRequestProperty("X-Graft-Password", "p1")
        c.setDoOutput(true)
        val body = new DataOutputStream(c.getOutputStream)
        ArrowBridge.writeFramed(body, batches.iterator)
        body.close()
        val code = c.getResponseCode
        (code, new String(c.getErrorStream.readAllBytes(), "UTF-8"))
      }
      try {
        val (mixed, why) = put(arrowOf(cells).toSeq ++ other)
        assert(mixed == 400, why)
        assert(why.contains("differs from the first"), why)
        assert(entries.isEmpty)
        val (empty, _) = put(Nil)
        assert(empty == 400)
        assert(entries.isEmpty)
      } finally http.stop()
    }
  }

  it("builds concurrent same-name uploads each from its own bytes") {
    import java.util.concurrent.ConcurrentLinkedQueue
    import java.util.concurrent.atomic.AtomicBoolean
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val filename = "corporate_samename.csv"
    // upload k: 40 * k rows of title T, pay k each; totals differ per upload
    val uploads = (1 to 4).map(k => Seq.fill(40 * k)("T" -> k))
    val expected = uploads.map(u => (u.size.toLong, u.map(_._2).sum.toDouble))
    val sources = uploads.zipWithIndex.map { case (u, k) =>
      corporateCsv(s"samename_$k.csv", u) }
    def totals(r: Seq[Seq[Any]]): (Long, Double) =
      (r.map(_(1).asInstanceOf[Long]).sum, r.map(_(2).asInstanceOf[Double]).sum)
    val s = svc
    val seen = new ConcurrentLinkedQueue[Either[String, (Long, Double)]]()
    val stop = new AtomicBoolean(false)
    val reader = new Thread(() =>
      while (!stop.get) {
        try seen.add(Right(totals(rows(
          s.budgetReportArrow("LA", "p1", filename)))))
        catch {
          case e: NoSuchElementException if e.getMessage == "NOT_FOUND" => ()
          case e: Throwable => seen.add(Left(String.valueOf(e)))
        }
        Thread.sleep(5)
      })
    reader.start()
    try {
      val all = (0 until 2).flatMap(_ => sources.map(src =>
        Future(s.upload("LA", "p1", filename, src))))
      all.foreach(f => Await.result(f, 300.seconds))
    } finally { stop.set(true); reader.join() }
    seen.add(Right(totals(rows(s.budgetReportArrow("LA", "p1", filename)))))
    val errors = seen.asScala.toSeq.collect { case Left(e) => e }
    assert(errors.isEmpty, s"answers neither a report nor NOT_FOUND: $errors")
    val wrong = seen.asScala.toSeq.collect { case Right(t) => t }.distinct
      .filterNot(expected.contains)
    assert(wrong.isEmpty, s"reports matching no upload: $wrong, uploads $expected")
    assert(rows(storedReport(filename)) == freshRows(filename))
  }

  it("answers an unexpected error with INTERNAL_ERROR and an id the log carries") {
    import java.net.{HttpURLConnection, URI}
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val logged = new java.util.concurrent.ConcurrentLinkedQueue[LogEvent]()
    val capture = new AbstractAppender("graft-capture", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = logged.add(e.toImmutable)
    }
    capture.start()
    val logger = LogManager.getLogger(classOf[GraftHttpServer])
      .asInstanceOf[Logger]
    logger.addAppender(capture)
    // an uploaded fct whose parquet files were truncated on disk: the
    // export's read fails inside Spark, an error no route maps to a status
    svc.upload("LA", "p1", "corporate_broken.csv", writeCsv("broken.csv",
      s"$header\n1,2013,D,A,FT,$$100.00,,,\n"))
    val fct = Tenancy.cleanDir(storage, users.find(_.clientId == "LA").get,
      "corporate_broken.csv").resolve("corporate.fct_corporate")
    val parts = Files.list(fct)
    try parts.iterator().asScala.filter(_.toString.endsWith(".parquet"))
      .foreach(p => Files.write(p, Files.readAllBytes(p).take(16)))
    finally parts.close()
    val http = new GraftHttpServer(svc)
    val port = http.start()
    try {
      val c = new URI(s"http://127.0.0.1:$port/files/corporate_broken.csv/export")
        .toURL.openConnection().asInstanceOf[HttpURLConnection]
      c.setRequestProperty("X-Graft-Client", "LA")
      c.setRequestProperty("X-Graft-Password", "p1")
      assert(c.getResponseCode == 500)
      val body = new String(c.getErrorStream.readAllBytes(), "UTF-8")
      val id = "INTERNAL_ERROR ([0-9a-f-]{36})".r.findFirstMatchIn(body)
        .map(_.group(1)).getOrElse(fail(s"no request id in: $body"))
      val line = logged.asScala.find(_.getMessage.getFormattedMessage
        .contains(id)).getOrElse(fail(s"request $id not in the log"))
      assert(line.getThrown != null, "the log line carries no stack trace")
    } finally {
      http.stop()
      logger.removeAppender(capture)
      capture.stop()
    }
  }

  describe("a build's read-back of each model") {
    it("is read with the schema a plain read of the written parquet infers") {
      val uploads = Seq(
        ("LA", "p1", "corporate_schema.csv",
          corporateCsv("schema_c.csv", Seq("A" -> 1000, "B" -> 5))),
        ("NJ", "p2", "education_schema.csv", writeCsv("schema_e.csv",
          """last_name,first_name,district,school,primary_job,fte,experience_total,certificate,salary
            |Smith,Ann,Newark,Lincoln,Teacher,,17,Std,64000
            |""")),
        ("US", "p3", "hospital_schema.csv", writeCsv("schema_h.csv",
          """Provider Name,Provider City,Provider State,DRG Definition, Total Discharges , Average Total Payments ,Average Medicare Payments
            |General,LA,CA,DRG X,10,1000.5,800.0
            |""")))
      uploads.foreach { case (client, password, filename, csv) =>
        val tenant = users.find(_.clientId == client).get
        val built = svc.upload(client, password, filename, csv)
        assert(built.size == 2)
        built.foreach { case (model, table) =>
          val live = Tenancy.cleanDir(storage, tenant, filename).resolve(model)
          assert(table.schema == spark.read.parquet(live.toString).schema,
            model)
        }
      }
    }

    it("runs no Spark job, so a steady-state upload runs 2") {
      val s = svc
      val filename = "corporate_readback.csv"
      val csv = corporateCsv("readback.csv", Seq("A" -> 100, "B" -> 200))
      s.upload("LA", "p1", filename, csv)
      // one job per model write and nothing else: the raw CSV's header is
      // read on the driver and the report waits for its first request; a
      // read-back that inferred its schema would add one job per model
      assert(jobsDuring(s.upload("LA", "p1", filename, csv)) == 2)
    }
  }

  it("compiles no class for a steady-state upload of each industry") {
    import org.apache.spark.metrics.source.CodegenMetrics
    // the service's own clock: processed_at is current_timestamp()
    val live = new GraftService(SparkSpec.session, storage, users)
    val uploads = Seq(
      ("LA", "p1", "corporate_compiles.csv", "corporate.stg_corporate",
        (k: Int) => corporateCsv(s"compiles_c$k.csv",
          Seq("A" -> (100 + k), "B" -> 7))),
      ("NJ", "p2", "education_compiles.csv", "education.stg_education",
        (k: Int) => writeCsv(s"compiles_e$k.csv",
          s"""last_name,first_name,district,school,primary_job,fte,experience_total,certificate,salary
            |Smith,Ann,Newark,Lincoln,Teacher,,1$k,Std,6400$k
            |""")),
      ("US", "p3", "hospital_compiles.csv", "hospital.stg_hospital",
        (k: Int) => writeCsv(s"compiles_h$k.csv",
          s"""Provider Name,Provider City,Provider State,DRG Definition, Total Discharges , Average Total Payments ,Average Medicare Payments
            |General,LA,CA,DRG X,1$k,1000.5,800.0
            |""")))
    uploads.foreach { case (client, password, filename, stg, csv) =>
      (1 to 2).foreach(k => live.upload(client, password, filename, csv(k)))
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val start = System.currentTimeMillis()
      live.upload(client, password, filename, csv(3))
      val end = System.currentTimeMillis()
      assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before == 0,
        filename)
      // every row carries the build's one instant, taken during the upload
      val tenant = users.find(_.clientId == client).get
      val stamps = spark.read.parquet(Tenancy.cleanDir(storage, tenant, filename)
        .resolve(stg).toString).select("processed_at").distinct().collect()
      assert(stamps.length == 1, filename)
      val at = stamps.head.getTimestamp(0).getTime
      assert(at >= start && at <= end, s"$filename stamped at $at")
    }
  }

  describe("the HTTP listener") {
    import java.net.{HttpURLConnection, URI}

    it("answers a report and a listing in milliseconds, not a delayed ACK") {
      val filename = "corporate_latency.csv"
      svc.upload("LA", "p1", filename,
        corporateCsv("latency.csv", Seq("A" -> 100, "B" -> 200, "A" -> 5)))
      val http = new GraftHttpServer(svc)
      val port = http.start()
      // each body is read to its end and closed, so HttpURLConnection
      // sends the next request on the same kept-alive connection
      def get(path: String): Long = {
        val start = System.nanoTime()
        val c = new URI(s"http://127.0.0.1:$port$path").toURL
          .openConnection().asInstanceOf[HttpURLConnection]
        c.setRequestProperty("X-Graft-Client", "LA")
        c.setRequestProperty("X-Graft-Password", "p1")
        val in = c.getInputStream
        try in.readAllBytes() finally in.close()
        val took = System.nanoTime() - start
        assert(c.getResponseCode == 200, path)
        took
      }
      def medianMs(path: String): Double = {
        (1 to 5).foreach(_ => get(path))
        val took = (1 to 20).map(_ => get(path)).sorted
        (took(9) + took(10)) / 2e6
      }
      try {
        // a response stalled by Nagle behind the client's delayed ACK
        // takes about 44 ms on Linux loopback, whatever its size
        val report = medianMs(s"/files/$filename/report")
        val listing = medianMs("/files")
        assert(report < 20.0, s"report median $report ms")
        assert(listing < 20.0, s"listing median $listing ms")
      } finally http.stop()
    }

    it("leaves no non-daemon thread behind once stopped") {
      def nonDaemon: Set[Thread] = Thread.getAllStackTraces.keySet.asScala
        .filter(t => t.isAlive && !t.isDaemon).toSet
      val before = nonDaemon
      val http = new GraftHttpServer(svc)
      val port = http.start()
      val c = new URI(s"http://127.0.0.1:$port/files").toURL
        .openConnection().asInstanceOf[HttpURLConnection]
      c.setRequestProperty("X-Graft-Client", "LA")
      c.setRequestProperty("X-Graft-Password", "p1")
      assert(c.getResponseCode == 200)
      c.getInputStream.close()
      http.stop()
      val left = (nonDaemon -- before).map(_.getName)
      assert(left.isEmpty, s"threads left running: $left")
    }

    it("lets a client still sending a refused 11 MiB upload read its 401") {
      val http = new GraftHttpServer(svc)
      val port = http.start()
      try {
        val c = new URI(s"http://127.0.0.1:$port/files/corporate_refused.csv")
          .toURL.openConnection().asInstanceOf[HttpURLConnection]
        c.setRequestMethod("PUT")
        c.setRequestProperty("X-Graft-Client", "LA")
        c.setRequestProperty("X-Graft-Password", "wrong")
        c.setDoOutput(true)
        val out = c.getOutputStream
        out.write(new Array[Byte](11 << 20))
        out.close()
        assert(c.getResponseCode == 401)
        assert(new String(c.getErrorStream.readAllBytes(), "UTF-8") ==
          "AUTHENTICATION_FAILED")
      } finally http.stop()
    }

    it("is created only in GraftHttpServer.scala, where no-delay is set") {
      val needle = "HttpServer.create"
      val home = Paths.get("src/main/scala/graft/engine/GraftHttpServer.scala")
      val walk = Files.walk(Paths.get("src/main"))
      val main =
        try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
        finally walk.close()
      assert(main.contains(home))
      assert(Files.readString(home).contains(needle))
      val offenders =
        main.filter(p => p != home && Files.readString(p).contains(needle))
      assert(offenders.isEmpty,
        s"$needle outside $home: ${offenders.mkString(", ")}")
    }
  }

  it("refuses cross-tenant access") {
    assertThrows[IllegalArgumentException](
      svc.budgetReport("LA", "wrong", "corporate_a.csv")(_.count()))
  }

  it("auth failures are indistinguishable (no client-id enumeration)") {
    val badPw = intercept[IllegalArgumentException](
      svc.listFiles("LA", "wrong"))
    val badId = intercept[IllegalArgumentException](
      svc.listFiles("NOBODY", "p1"))
    assert(badPw.getMessage == badId.getMessage)
    assert(badPw.getMessage == "AUTHENTICATION_FAILED")
  }

  it("listFiles hides scratch and metadata entries") {
    Files.createDirectories(storage.resolve("LA/Clean/.wh.tmp-abc"))
    Files.createDirectories(storage.resolve("LA/Clean/_spark_metadata"))
    val (_, clean) = svc.listFiles("LA", "p1")
    assert(!clean.exists(n => n.startsWith(".") || n.startsWith("_")))
  }

}
