package graft.engine

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.current_timestamp
import org.apache.spark.sql.graftshim.ArrowBridge
import scala.annotation.tailrec
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

/** The reference's four service entry points (SURVEY.md §3) as a library
  * facade — a user of the reference's Flight endpoints maps 1:1 onto these
  * calls. Transport (gRPC/Arrow Flight) is out of scope by design
  * (SURVEY.md §7.2 PR3): DataFrames returned here already cross process
  * boundaries efficiently via Spark's own Arrow paths when needed.
  *
  *  - do_put (upload+transform)        -> [[upload]] (CSV) /
  *                                        [[uploadArrow]] (Arrow batches)
  *  - do_get get_budget_report         -> [[budgetReport]] (DataFrame) /
  *                                        [[budgetReportArrow]] (Arrow
  *                                        bytes, stored per build)
  *  - do_get get_full_clean            -> [[fullExport]]
  *  - do_action list_files             -> [[listFiles]]
  *
  * An upload runs only its build's model writes. The first budget report
  * request of a build computes the report and stores it in the build's
  * warehouse ([[Pipeline.BudgetReportFile]]); every later request reads
  * it and runs no Spark job, and a build that is never reported never
  * pays for it. The reference re-queries its DuckDB file on every do_get;
  * only the result is the contract, and it is a pure function of the
  * build, so reusing it across requests is safe for as long as that build
  * is live.
  */
final class GraftService(spark: SparkSession, storageBase: Path,
                         users: Seq[Tenancy.Tenant],
                         now: Column = current_timestamp()) {

  /** Upload a CSV for a tenant: authenticate, gate the filename, archive
    * the raw file, FULL-rebuild the industry's stg+fct models into the
    * per-upload warehouse (`serve_flight.py:81-230`).
    */
  def upload(clientId: String, password: String, filename: String,
             sourceCsv: Path): Map[String, DataFrame] =
    Pipeline.ingest(spark, storageBase, users, clientId, password,
      filename, sourceCsv, now)

  /** The tenant's fct for `filename`; NOT_FOUND when no upload of that
    * name has been built.
    */
  private def fctOf(tenant: Tenancy.Tenant, filename: String): DataFrame = {
    val fct = Tenancy.cleanDir(storageBase, tenant, filename)
      .resolve(Pipeline.fctModel(tenant.industryType))
    if (!Files.exists(fct)) throw new NoSuchElementException("NOT_FOUND")
    Readers.parquet(spark, fct.toString)
  }

  /** Budget report over a prior upload (`serve_flight.py:295`), optionally
    * archived as `<base>_summary.csv` in Downloads (S8).
    */
  def budgetReport(clientId: String, password: String, filename: String,
                   saveCopy: Boolean = false): DataFrame = {
    val tenant = Tenancy.authenticated(users, clientId, password)
    val report = Reports.budgetReport(fctOf(tenant, filename))
    if (saveCopy) saveCsv(report, tenant, filename, "_summary")
    report
  }

  /** Full export ordered by job_title (`serve_flight.py:291`), optionally
    * archived as `<base>_full_export.csv` (S8).
    */
  def fullExport(clientId: String, password: String, filename: String,
                 saveCopy: Boolean = false): DataFrame = {
    val tenant = Tenancy.authenticated(users, clientId, password)
    val export = Reports.fullExport(fctOf(tenant, filename))
    if (saveCopy) saveCsv(export, tenant, filename, "_full_export")
    export
  }

  /** S4 — Arrow ingest: Arrow IPC record batches (the reference's do_put
    * wire format) archived in the Raw zone as the stg reader's CSV
    * ([[Readers.CsvDialect]]) and built like a CSV upload, as the
    * reference's arrow -> pandas -> csv (`serve_flight.py:145-151`). The
    * batches are pulled, after auth and the gate, and written on the
    * driver with no Spark job; an empty or mixed-schema stream is an
    * IllegalArgumentException that leaves nothing on disk.
    */
  def uploadArrow(clientId: String, password: String, filename: String,
                  batches: IterableOnce[Array[Byte]]): Map[String, DataFrame] =
    Pipeline.ingestWith(spark, storageBase, users, clientId, password,
      filename, now, Map.empty)(
      ArrowBridge.writeCsv(spark, batches.iterator, _, Readers.CsvDialect))

  /** S7 — Arrow result stream: the budget report as Arrow IPC batches
    * (the reference's do_get wire format, `serve_flight.py:301,330`).
    * Authenticates, then reads the report stored with the live build. On
    * a miss it computes the report from the live fct and stores it, only
    * if the build it read is still live ([[Pipeline.storeReport]]); a
    * report that lost a race with a same-name swap is answered, as that
    * build's whole report, but not stored. A computation that fails after
    * a swap replaced its build (the swap deletes the files it was reading)
    * runs again on the new one. A filename never uploaded is NOT_FOUND. A
    * stored report whose frames do not fit its file is an
    * IllegalStateException.
    */
  def budgetReportArrow(clientId: String, password: String,
                        filename: String): Array[Array[Byte]] = {
    val tenant = Tenancy.authenticated(users, clientId, password)
    val warehouse = Tenancy.cleanDir(storageBase, tenant, filename)
    @tailrec def answer(attempts: Int): Array[Array[Byte]] =
      // one open: a swap after it cannot mix two builds into the answer
      Pipeline.storedReport(warehouse) match {
        case Some(b) =>
          // stored frames that do not fit their file are damage on disk,
          // a server fault (500), not a client error
          try ArrowBridge.readFramed(new java.io.ByteArrayInputStream(b), b.length)
          catch {
            case e: IllegalArgumentException =>
              throw new IllegalStateException(s"damaged stored report in $warehouse", e)
          }
        case None =>
          val build = Pipeline.liveBuild(warehouse)
          Try(Reports.budgetReportArrow(fctOf(tenant, filename))) match {
            case Success(report) =>
              build.foreach(Pipeline.storeReport(warehouse, _, report))
              report
            case Failure(_) if attempts > 1 &&
                Pipeline.liveBuild(warehouse) != build =>
              answer(attempts - 1)
            case Failure(e) => throw e
          }
      }
    answer(3)
  }

  /** List a tenant's raw uploads and built warehouses, sorted
    * (`serve_flight.py:337-363`, S11).
    */
  def listFiles(clientId: String, password: String): (Seq[String], Seq[String]) = {
    val tenant = Tenancy.authenticated(users, clientId, password)
    def ls(sub: String): Seq[String] = {
      val dir = storageBase.resolve(tenant.clientId).resolve(sub)
      if (!Files.isDirectory(dir)) Seq.empty
      else {
        val stream = Files.list(dir)
        // hide in-progress/stale scratch dirs (dot-prefixed) and Spark
        // metadata — only complete warehouses/uploads are listable
        try stream.iterator().asScala.map(_.getFileName.toString)
          .filterNot(n => n.startsWith(".") || n.startsWith("_"))
          .toSeq.sorted
        finally stream.close()
      }
    }
    (ls("Raw"), ls("Clean"))
  }

  /** S8 — single-file CSV archive into the tenant's Downloads zone. The
    * coalesce(1) is intentional: report outputs are small by construction
    * (one row per job_title); never do this on a fact table.
    */
  private def saveCsv(df: DataFrame, tenant: Tenancy.Tenant,
                      filename: String, suffix: String): Unit = {
    val base = filename.replaceAll("\\.[^.]*$", "")
    val out = storageBase.resolve(tenant.clientId).resolve("Downloads")
      .resolve(base + suffix)
    df.coalesce(1).write.mode("overwrite")
      .option("header", "true").csv(out.toString)
  }
}
