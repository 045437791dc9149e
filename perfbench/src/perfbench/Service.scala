package perfbench

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream, EOFException}
import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector.{BigIntVector, Float8Vector, VarCharVector, VectorSchemaRoot}
import org.apache.arrow.vector.ipc.{ArrowStreamReader, ArrowStreamWriter}
import org.apache.arrow.vector.types.pojo.{ArrowType, Field, FieldType, Schema}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftshim.ArrowBridge

import graft.engine.{GraftHttpServer, GraftService, Pipeline, Reports, Tenancy}

/** One generated upload: its Arrow body (length-prefixed IPC frames, ready
  * to send), and what the service must report back for it.
  */
final case class Payload(filename: String, body: Array[Byte], rows: Long,
                         csvBytes: Long, totalBudget: Double)

/** Seeded generator of the three reference upload shapes (FIXTURES.md
  * A1-A3): every column is text, money columns carry `$` and `,`, some
  * optional cells are empty, and the hospital headers carry the spaces
  * that the name normalization must strip.
  */
object PayrollGen {
  val Headers: Map[String, Seq[String]] = Map(
    "corporate" -> Seq("Row ID", "Year", "Department Title", "Job Class Title",
      "Employment Type", "Base Pay", "Overtime Pay", "Longevity Bonus Pay",
      "Average Benefit Cost"),
    "education" -> Seq("last_name", "first_name", "district", "school",
      "primary_job", "fte", "experience_total", "certificate", "salary"),
    "hospital" -> Seq("Provider Name", "Provider City", "Provider State",
      "DRG Definition", " Total Discharges ", " Average Total Payments ",
      "Average Medicare Payments"))

  /** `$12,345.67` from a cent amount. */
  private def money(cents: Long): String = {
    val whole = (cents / 100).toString
    val sb = new java.lang.StringBuilder(whole.length + 6).append('$')
    var i = 0
    while (i < whole.length) {
      if (i > 0 && (whole.length - i) % 3 == 0) sb.append(',')
      sb.append(whole.charAt(i)); i += 1
    }
    val c = (cents % 100).toInt
    sb.append('.').append((c / 10).toString).append((c % 10).toString).toString
  }

  /** RFC-4180 length of one CSV cell. */
  private def cellLen(s: String): Long =
    if (s.exists(c => c == ',' || c == '"' || c == '\n'))
      s.length + 2 + s.count(_ == '"')
    else s.length

  /** Rows of `industry` until the CSV rendering reaches `targetBytes`.
    * Returns the columns, the CSV byte count and the report's expected
    * total budget (the fct model's `total_amount`, summed).
    */
  def generate(industry: String, targetBytes: Long, titles: Int,
               rng: java.util.SplittableRandom)
  : (Array[Array[String]], Long, Double) = {
    val header = Headers(industry)
    val cols = Array.fill(header.size)(Array.newBuilder[String])
    var bytes = header.map(cellLen).sum + header.size.toLong
    var total = 0.0
    var i = 0
    def title(): Int = { val u = rng.nextDouble(); (titles * u * u).toInt }
    while (bytes < targetBytes) {
      val row: Array[String] = industry match {
        case "corporate" =>
          val base = if (rng.nextInt(100) == 0) -1L else 3000000L + rng.nextLong(12000000L)
          val ot = if (rng.nextInt(10) < 3) -1L else rng.nextLong(4000000L)
          val lon = if (rng.nextInt(10) < 7) -1L else rng.nextLong(300000L)
          val ben = 1000000L + rng.nextLong(1500000L)
          if (base >= 0) {
            total += base / 100.0 + math.max(ot, 0L) / 100.0 +
              math.max(lon, 0L) / 100.0 + ben / 100.0
          }
          def m(c: Long) = if (c < 0) "" else money(c)
          Array(i.toString, (2013 + i % 6).toString, s"Department ${rng.nextInt(40)}",
            s"Job Class ${title()}", if (rng.nextInt(5) == 0) "Part Time" else "Full Time",
            m(base), m(ot), m(lon), m(ben))
        case "education" =>
          val fte = rng.nextInt(5) match { case 0 => ""; case 1 => "0.5"; case 2 => "0.8"; case _ => "1.0" }
          val exp = if (rng.nextInt(20) == 0) -1 else rng.nextInt(36)
          val sal = if (rng.nextInt(50) == 0) -1L else 40000L + rng.nextLong(80000L)
          if (sal >= 0) total += (if (exp > 15) sal + sal * 0.05 else sal.toDouble)
          Array(s"Last$i", s"First${i % 997}", s"District ${rng.nextInt(60)}",
            s"School ${rng.nextInt(400)}", s"Teacher Grade ${title()}", fte,
            if (exp < 0) "" else exp.toString, if (rng.nextBoolean()) "Standard" else "Provisional",
            if (sal < 0) "" else sal.toString)
        case "hospital" =>
          val dis = 11 + rng.nextInt(400)
          val pay = (400000L + rng.nextLong(6000000L)) / 100.0
          total += dis * pay
          Array(s"Provider ${rng.nextInt(3000)}", s"City ${rng.nextInt(500)}",
            s"S${rng.nextInt(50)}", s"${100 + title()} - DRG DEFINITION ${title() % 50}",
            dis.toString, money(math.round(pay * 100)).drop(1).replace(",", ""),
            money(math.round(pay * 80)).drop(1).replace(",", ""))
      }
      var j = 0
      while (j < row.length) { cols(j) += row(j); bytes += cellLen(row(j)) + 1; j += 1 }
      i += 1
    }
    (cols.map(_.result()), bytes, total)
  }

  /** Columns -> Arrow IPC frames, 10k rows each, schema embedded in every
    * frame (the wire format the service's `PUT /files/{name}` reads).
    */
  def toFrames(header: Seq[String], cols: Array[Array[String]]): Array[Array[Byte]] = {
    val alloc = new RootAllocator(Long.MaxValue)
    try {
      val schema = new Schema(header.map(h =>
        new Field(h, FieldType.nullable(ArrowType.Utf8.INSTANCE), null)).asJava)
      val n = cols.head.length
      (0 until n by 10000).map { from =>
        val to = math.min(n, from + 10000)
        val root = VectorSchemaRoot.create(schema, alloc)
        try {
          root.allocateNew()
          header.indices.foreach { c =>
            val v = root.getVector(c).asInstanceOf[VarCharVector]
            (from until to).foreach(r => v.setSafe(r - from, cols(c)(r).getBytes(UTF_8)))
            v.setValueCount(to - from)
          }
          root.setRowCount(to - from)
          val out = new ByteArrayOutputStream()
          val w = new ArrowStreamWriter(root, null, out)
          w.start(); w.writeBatch(); w.end(); w.close()
          out.toByteArray
        } finally root.close()
      }.toArray
    } finally alloc.close()
  }

  def framed(frames: Array[Array[Byte]]): Array[Byte] = {
    val out = new ByteArrayOutputStream(frames.map(_.length + 4).sum)
    val d = new DataOutputStream(out)
    frames.foreach { f => d.writeInt(f.length); d.write(f) }
    d.flush()
    out.toByteArray
  }

  def unframe(body: Array[Byte]): Seq[Array[Byte]] = {
    val in = new DataInputStream(new ByteArrayInputStream(body))
    val out = Seq.newBuilder[Array[Byte]]
    var done = false
    while (!done) {
      val len = try in.readInt() catch { case _: EOFException => done = true; -1 }
      if (!done) { val b = new Array[Byte](len); in.readFully(b); out += b }
    }
    out.result()
  }

  /** Row count and, when present, sums of total_employee / total_budget. */
  def decode(frames: Seq[Array[Byte]]): (Long, Long, Double) = {
    val alloc = new RootAllocator(Long.MaxValue)
    var rows = 0L; var emp = 0L; var budget = 0.0
    try frames.foreach { f =>
      val r = new ArrowStreamReader(new ByteArrayInputStream(f), alloc)
      try while (r.loadNextBatch()) {
        val root = r.getVectorSchemaRoot
        rows += root.getRowCount
        Option(root.getVector("total_employee")).foreach { v =>
          val b = v.asInstanceOf[BigIntVector]
          (0 until root.getRowCount).foreach(i => if (!b.isNull(i)) emp += b.get(i))
        }
        Option(root.getVector("total_budget")).foreach { v =>
          val b = v.asInstanceOf[Float8Vector]
          (0 until root.getRowCount).foreach(i => if (!b.isNull(i)) budget += b.get(i))
        }
      } finally r.close()
    } finally alloc.close()
    (rows, emp, budget)
  }
}

/** `service_mixed`: one closed-loop HTTP client per tenant against an
  * in-process [[GraftHttpServer]]. Each loop: one Arrow upload, then
  * [[Service.ReportsPerLoop]] budget reports, one export and one listing.
  */
final class Service(opts: Opts) extends Workload {
  import Service._

  private val tenants = Seq(
    ("corp_la", "corp-pw", "corporate"),
    ("edu_nj", "edu-pw", "education"),
    ("hosp_cms", "hosp-pw", "hospital"))
  private val users = tenants.map { case (c, p, i) => Tenancy.Tenant(c, Tenancy.sha256Hex(p), i) }
  private var storage: Path = _
  private var payloads: Seq[Seq[Payload]] = Nil
  // A fixed schedule sized from the run's seconds (one loop per
  // SecondsPerLoop), so every run of a seed sends the same uploads and the
  // same number of requests, however fast the program is.
  private val loops = math.max(1, math.round(opts.seconds / SecondsPerLoop).toInt)

  def prepare(spark: SparkSession, rep: Int): Unit = {
    storage = opts.work.resolve(s"storage-$rep")
    Files.createDirectories(storage)
    Tenancy.provisionStorage(storage, users)
    payloads = tenants.zipWithIndex.map { case ((_, _, industry), c) =>
      val rng = new java.util.SplittableRandom(opts.seed * 1000003L + c)
      // job-title cardinality varies with the seed: 40 to ~2000
      val titles = (40 * math.pow(50, rng.nextDouble())).toInt
      (0 until loops).map { k =>
        // each client walks the size ladder from its own offset, so every
        // loop round sends a spread of sizes
        val mb = SizesMb((k + c) % SizesMb.size) * (0.95 + 0.1 * rng.nextDouble())
        val (cols, bytes, total) =
          PayrollGen.generate(industry, (mb * 1048576).toLong, titles, rng)
        val frames = PayrollGen.toFrames(PayrollGen.Headers(industry), cols)
        // the second upload re-uses the first one's name: the overwrite path
        Payload(s"${industry}_payroll_${"aab" (k % 3)}.csv", PayrollGen.framed(frames),
          cols.head.length.toLong, bytes, total)
      }
    }
  }

  def measure(spark: SparkSession, tracer: Tracer, probe: Probe): Measured = {
    val service = new GraftService(spark, storage, users)
    val server = new GraftHttpServer(service)
    val port = server.start()
    val reqs = new java.util.concurrent.ConcurrentLinkedQueue[Req]()
    val replays = new java.util.concurrent.ConcurrentLinkedQueue[(String, Double)]()
    val lastUpload = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
    val t0 = System.nanoTime()
    val threads = tenants.zipWithIndex.map { case ((client, pw, industry), c) =>
      val t = new Thread(() => {
        val tenant = users(c)
        var i = 0
        try while (i < loops) {
          val p = payloads(c)(i)
          val warehouse = Tenancy.uploadWarehouseName(tenant, p.filename)
          def call(kind: String, method: String, path: String,
                   body: Array[Byte]): (Int, Array[Byte], Double) =
            tracer.span(s"http.$kind", s"$client:$kind:$i")(
              http(port, method, path, client, pw, body))
          // upload
          val (uc, ub, us) = call("upload", "PUT", s"/files/${p.filename}", p.body)
          reqs.add(Req("upload", c, us, p.csvBytes, uc == 200,
            if (uc == 200) "" else s"upload ${p.filename}: HTTP $uc ${new String(ub, UTF_8).take(200)}"))
          if (uc == 200) lastUpload.put(s"$client/${p.filename}", p.csvBytes)
          if (tracer.on) replays.add(("upload",
            replayUpload(spark, tracer, tenant, pw, p, s"$client:upload:$i")))
          (1 to ReportsPerLoop).foreach { r =>
            val (rc, rb, rs) = call("report", "GET", s"/files/${p.filename}/report", null)
            val (_, emp, budget) =
              if (rc == 200) PayrollGen.decode(PayrollGen.unframe(rb)) else (0L, 0L, 0.0)
            val ok = rc == 200 && emp == p.rows &&
              math.abs(budget - p.totalBudget) <= 1e-9 * math.max(1.0, math.abs(p.totalBudget))
            reqs.add(Req("report", c, rs, rb.length.toLong, ok,
              if (ok) "" else s"report ${p.filename}: HTTP $rc employees=$emp/${p.rows} budget=$budget/${p.totalBudget}"))
            if (tracer.on && r == 1) replays.add(("report",
              replayReport(spark, tracer, tenant, pw, p, s"$client:report:$i")))
          }
          val (ec, eb, es) = call("export", "GET", s"/files/${p.filename}/export", null)
          val exportRows = if (ec == 200) PayrollGen.decode(PayrollGen.unframe(eb))._1 else -1L
          reqs.add(Req("export", c, es, eb.length.toLong, exportRows == p.rows,
            if (exportRows == p.rows) "" else s"export ${p.filename}: HTTP $ec rows=$exportRows/${p.rows}"))
          if (tracer.on) replays.add(("export",
            replayExport(spark, tracer, tenant, pw, p, s"$client:export:$i")))
          val (lc, lb, ls) = call("list", "GET", "/files", null)
          val listing = new String(lb, UTF_8).split('\n').toSet
          val listed = lc == 200 && listing.contains(s"raw/${p.filename}") &&
            listing.contains(s"clean/$warehouse")
          reqs.add(Req("list", c, ls, lb.length.toLong, listed,
            if (listed) "" else s"list: HTTP $lc, '${p.filename}' or '$warehouse' missing"))
          i += 1
        } catch {
          // a client that cannot go on (transport error) stops its loop; the
          // error is one failed operation
          case e: Throwable =>
            reqs.add(Req("error", c, 0.0, 0L, ok = false, s"client $client loop $i: $e"))
        }
      }, s"perfbench-client-$industry")
      t.start()
      t
    }
    threads.foreach(_.join())
    val wall = (System.nanoTime() - t0) / 1e9
    server.stop()

    val all = reqs.asScala.toSeq
    def lat(kind: String): Seq[Double] = all.filter(r => r.kind == kind && r.ok).map(_.seconds)
    val uploads = all.filter(r => r.kind == "upload" && r.ok)
    val reports = lat("report")
    // every workload reports the same end-to-end names. Cold path here:
    // upload wall-seconds per 10 MB of CSV over all uploads (each upload is
    // a FULL stg/fct rebuild; the reference quotes 30-60 s for <10 MB).
    // Warm path: the median budget-report request.
    val e2e = Seq(
      "cold_path_s" -> 10.0 * uploads.map(_.seconds).sum / (uploads.map(_.bytes).sum / 1048576.0),
      "warm_path_s" -> Main.median(reports))

    val layers = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    layers += "service.upload_p50_s" -> Main.median(lat("upload"))
    layers += "service.ingest_mb_per_s" ->
      uploads.map(_.bytes).sum / 1048576.0 / uploads.map(_.seconds).sum
    layers += "service.report_p50_ms" -> Main.median(reports) * 1e3
    if (reports.size >= 100) layers += "service.report_p90_ms" -> Main.pct(reports, 0.9) * 1e3
    layers += "service.export_p50_s" -> Main.median(lat("export"))
    layers += "service.report_samples" -> reports.size.toDouble
    layers += "service.loops" -> all.count(_.kind == "upload").toDouble
    if (tracer.on) {
      org.apache.spark.sql.perfbenchshim.Bus.drain(spark.sparkContext)
      layers ++= traceLayers(tracer, probe, all, replays.asScala.toSeq,
        lastUpload.values.asScala.map(_.longValue).sum)
    }
    val detail = new java.util.LinkedHashMap[String, AnyRef]()
    detail.put("wall_s", Double.box(wall))
    detail.put("upload_sizes_mb", payloads.map(_.map(p =>
      Double.box(p.csvBytes / 1048576.0)).asJava).asJava)
    detail.put("upload_rows", payloads.map(_.map(p => Long.box(p.rows)).asJava).asJava)
    detail.put("requests", Seq("upload", "report", "export", "list").map(k =>
      k -> Long.box(all.count(_.kind == k).toLong)).toMap.asJava)
    Measured(all.size.toLong, all.filterNot(_.ok).map(_.note), e2e, layers.toSeq, detail)
  }

  /** In-process replay of an upload, calling the layers' public functions
    * in the order `GraftService.uploadArrow` calls them. Returns seconds.
    */
  private def replayUpload(spark: SparkSession, tracer: Tracer, tenant: Tenancy.Tenant,
                           pw: String, p: Payload, tag: String): Double = {
    // GraftService.uploadArrow receives the frames already split
    val frames = PayrollGen.unframe(p.body).toArray
    val t0 = System.nanoTime()
    tracer.span("service.upload", tag) {
      tracer.span("tenancy.auth") {
        Tenancy.authenticate(users, tenant.clientId, pw)
        Tenancy.validateFilename(tenant, p.filename)
      }
      val tmp = Files.createTempDirectory("perfbench_replay")
      try {
        val part = tracer.span("arrowbridge.decode") {
          val df = ArrowBridge.fromArrowBatches(spark, frames)
          val csvDir = tmp.resolve("csv")
          df.coalesce(1).write.option("header", "true").csv(csvDir.toString)
          val ls = Files.list(csvDir)
          try ls.iterator().asScala.find(_.getFileName.toString.endsWith(".csv")).get
          finally ls.close()
        }
        tracer.span("pipeline.ingest") {
          Pipeline.ingest(spark, storage, users, tenant.clientId, pw, p.filename, part)
        }
      } finally Service.deleteTree(tmp)
    }
    (System.nanoTime() - t0) / 1e9
  }

  private def fct(spark: SparkSession, tenant: Tenancy.Tenant, p: Payload) =
    spark.read.parquet(Tenancy.cleanDir(storage, tenant, p.filename)
      .resolve(s"${tenant.industryType}.fct_${tenant.industryType}").toString)

  private def replayReport(spark: SparkSession, tracer: Tracer, tenant: Tenancy.Tenant,
                           pw: String, p: Payload, tag: String): Double = {
    val t0 = System.nanoTime()
    tracer.span("service.report", tag) {
      tracer.span("tenancy.auth")(Tenancy.authenticate(users, tenant.clientId, pw))
      val report = tracer.span("reports.budget")(Reports.budgetReport(fct(spark, tenant, p)))
      tracer.span("arrowbridge.encode")(ArrowBridge.toArrowBatches(report))
    }
    (System.nanoTime() - t0) / 1e9
  }

  private val exportBytes = new java.util.concurrent.atomic.AtomicLong(0L)

  private def replayExport(spark: SparkSession, tracer: Tracer, tenant: Tenancy.Tenant,
                           pw: String, p: Payload, tag: String): Double = {
    val t0 = System.nanoTime()
    tracer.span("service.export", tag) {
      tracer.span("tenancy.auth")(Tenancy.authenticate(users, tenant.clientId, pw))
      tracer.span("reports.export_stream") {
        ArrowBridge.toArrowBatchIterator(Reports.fullExport(fct(spark, tenant, p)))
          .foreach(b => exportBytes.addAndGet(b.length.toLong))
      }
    }
    (System.nanoTime() - t0) / 1e9
  }

  private def traceLayers(tracer: Tracer, probe: Probe, all: Seq[Req],
                          replays: Seq[(String, Double)],
                          liveInput: Long): Seq[(String, Double)] = {
    val spans = tracer.all
    def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    def durs(name: String): Seq[Double] = spans.filter(_.name == name).map(_.durNs / 1e9)
    val uploadRoots = spans.filter(_.name == "service.upload").map(_.root).toSet
    val ingestSpans = spans.filter(s => s.name == "pipeline.ingest")
    val execs = probe.executions.filter(e => uploadRoots.contains(e.root))
    def inIngest(e: Execution) = ingestSpans.exists(s => s.root == e.root &&
      e.startNs >= s.startNs - 2000000L && e.startNs <= s.endNs)
    val ingestExecs = execs.filter(inIngest)
    def execSum(pred: Execution => Boolean): Double =
      ingestExecs.filter(pred).map(e => (e.endNs - e.startNs) / 1e9).sum
    // a fct build also scans the stg table, so its plan names both: test
    // for the fct output first
    def layerOf(e: Execution): String =
      if (e.plan.contains(".fct_")) "pipeline.fct"
      else if (e.plan.contains(".stg_")) "pipeline.stg" else "pipeline.other_sql"
    val stg = execSum(layerOf(_) == "pipeline.stg")
    val fctS = execSum(layerOf(_) == "pipeline.fct")
    val n = math.max(1, uploadRoots.size)
    val ingestTotal = ingestSpans.map(_.durNs / 1e9).sum
    // executions are recorded as spans only here, under their ingest span
    ingestExecs.foreach { e =>
      val layer = layerOf(e)
      ingestSpans.find(s => s.root == e.root).foreach(s =>
        tracer.record(s.id, e.root, layer, e.startNs, e.endNs))
    }
    val upCounters = new Counters
    uploadRoots.foreach(r => upCounters.add(probe.countersOf(r)))
    val csvIn = math.max(1L, all.filter(_.kind == "upload").map(_.bytes).sum).toDouble
    val walk = Files.walk(storage)
    val stored = try walk.iterator().asScala
      .filter(Files.isRegularFile(_)).map(Files.size).sum.toDouble
      finally walk.close()
    val reportRoots = spans.filter(_.name == "service.report").map(_.root).toSet
    val rk = new Counters
    reportRoots.foreach(r => rk.add(probe.countersOf(r)))
    val httpReport = mean(all.filter(r => r.kind == "report" && r.ok).map(_.seconds))
    val replayReport = mean(replays.filter(_._1 == "report").map(_._2))
    val roots = spans.filter(s => s.id == s.root && s.name.startsWith("service.")).map(_.root).toSet
    Seq(
      "tenancy.auth_ms" -> mean(durs("tenancy.auth")) * 1e3,
      "arrowbridge.decode_s" -> durs("arrowbridge.decode").sum / n,
      "pipeline.ingest_s" -> ingestTotal / n,
      "pipeline.stg_s" -> stg / n,
      "pipeline.fct_s" -> fctS / n,
      "pipeline.driver_s" -> (ingestTotal - execSum(_ => true)) / n,
      "pipeline.bytes_written_per_input_byte" -> upCounters.outputBytes / csvIn,
      "pipeline.bytes_stored_per_input_byte" -> stored / math.max(1L, liveInput),
      "reports.budget_s" -> mean(durs("reports.budget")),
      "arrowbridge.encode_ms" -> mean(durs("arrowbridge.encode")) * 1e3,
      "http.transport_s" -> (httpReport - replayReport),
      "reports.export_stream_s" -> mean(durs("reports.export_stream")),
      "reports.export_bytes" -> exportBytes.get.toDouble / math.max(1, replays.count(_._1 == "export")),
      "scheduler.task_queue_s" -> rk.taskQueueNs / 1e9 / math.max(1, reportRoots.size)
    ) ++ Layers.selfAndReconcile(tracer.all, roots)
  }
}

object Service {
  /** One HTTP request as the client saw it; `ok` includes the output check. */
  final case class Req(kind: String, client: Int, seconds: Double, bytes: Long,
                       ok: Boolean, note: String)

  /** Upload sizes in MB: the reference's <10 MB band and into 10-100 MB. */
  val SizesMb: Seq[Double] = Seq(1.0, 3.0, 11.0)
  // two loops (15 s) of three clients with 17 reports each give the 100+
  // samples a 90th percentile needs
  val ReportsPerLoop = 17
  val SecondsPerLoop = 7.5

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally walk.close()
    }

  /** One blocking request; returns (status, body, seconds). The body is
    * read completely inside the timed span.
    */
  def http(port: Int, method: String, path: String, client: String, pw: String,
           body: Array[Byte]): (Int, Array[Byte], Double) = {
    val t0 = System.nanoTime()
    val c = URI.create(s"http://127.0.0.1:$port$path").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    c.setRequestMethod(method)
    c.setRequestProperty("X-Graft-Client", client)
    c.setRequestProperty("X-Graft-Password", pw)
    c.setReadTimeout(120000)
    if (body != null) {
      c.setDoOutput(true)
      c.setFixedLengthStreamingMode(body.length.toLong)
      val out = c.getOutputStream
      try out.write(body) finally out.close()
    }
    val code = c.getResponseCode
    val in = if (code >= 400) c.getErrorStream else c.getInputStream
    val resp = if (in == null) Array.emptyByteArray else try in.readAllBytes() finally in.close()
    (code, resp, (System.nanoTime() - t0) / 1e9)
  }
}
