package graft.engine

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.current_timestamp
import org.apache.spark.sql.graftshim.ArrowBridge
import scala.jdk.CollectionConverters._

/** The reference's four service entry points (SURVEY.md §3) as a library
  * facade — a user of the reference's Flight endpoints maps 1:1 onto these
  * calls. Transport (gRPC/Arrow Flight) is out of scope by design
  * (SURVEY.md §7.2 PR3): DataFrames returned here already cross process
  * boundaries efficiently via Spark's own Arrow paths when needed.
  *
  *  - do_put (upload+transform)        -> [[upload]] (CSV) /
  *                                        [[uploadArrow]] (Arrow batches)
  *  - do_get get_budget_report         -> [[budgetReport]] (DataFrame,
  *                                        read under the lock) /
  *                                        [[budgetReportArrow]] (Arrow
  *                                        bytes, stored per build)
  *  - do_get get_full_clean            -> [[fullExport]] / [[fullExportArrow]]
  *  - do_action list_files             -> [[listFiles]]
  *
  * The service is a library: its caller constructs it with its tenant
  * list (`Tenancy.parseUsersJson` reads the reference's users.json).
  *
  * An upload runs only its build's model writes. The first budget report
  * request of a build computes the report and stores it in the build's
  * warehouse ([[Pipeline.BudgetReportFile]]); every later request reads
  * it and runs no Spark job, and a build that is never reported never
  * pays for it. The reference re-queries its DuckDB file on every do_get;
  * only the result is the contract, and it is a pure function of the
  * build, so reusing it across requests is safe for as long as that build
  * is live.
  *
  * A warehouse's reads here and its swaps share its read/write lock
  * ([[Pipeline.reading]]), so a report or export is one build's; where the
  * reference queues every upload behind one global lock
  * (`serve_flight.py:38,159`), a swap waits only for its warehouse's reads.
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

  /** `body` over the tenant's fct for `filename`, under its warehouse's
    * read lock ([[Pipeline.reading]]); NOT_FOUND when no upload of that
    * name has been built.
    */
  private def withFct[A](tenant: Tenancy.Tenant, filename: String)(
      body: DataFrame => A): A = {
    val warehouse = Tenancy.cleanDir(storageBase, tenant, filename)
    Pipeline.reading(warehouse) {
      val fct = warehouse.resolve(Pipeline.fctModel(tenant.industryType))
      if (!Files.exists(fct)) throw new NoSuchElementException("NOT_FOUND")
      body(Readers.parquet(spark, fct.toString))
    }
  }

  /** Budget report over a prior upload (`serve_flight.py:295`), optionally
    * archived as `<base>_summary.csv` in Downloads (S8), passed to
    * `consume`. The archive and `consume` run under the warehouse's read
    * lock, so every action on the report reads one build, and a same-name
    * swap waits for `consume` to return. The frame lists that build's
    * files: keep results, not the frame, past `consume`.
    */
  def budgetReport[A](clientId: String, password: String, filename: String,
                      saveCopy: Boolean = false)(consume: DataFrame => A): A = {
    val tenant = Tenancy.authenticated(users, clientId, password)
    withFct(tenant, filename) { fct =>
      val report = Reports.budgetReport(fct)
      if (saveCopy) saveCsv(report, tenant, filename, "_summary")
      consume(report)
    }
  }

  /** Full export ordered by job_title (`serve_flight.py:291`), optionally
    * archived as `<base>_full_export.csv` (S8), passed to `consume` under
    * the read lock like [[budgetReport]].
    */
  def fullExport[A](clientId: String, password: String, filename: String,
                    saveCopy: Boolean = false)(consume: DataFrame => A): A = {
    val tenant = Tenancy.authenticated(users, clientId, password)
    withFct(tenant, filename) { fct =>
      val export = Reports.fullExport(fct)
      if (saveCopy) saveCsv(export, tenant, filename, "_full_export")
      consume(export)
    }
  }

  /** The full export as Arrow IPC batches pulled one partition at a time
    * by `consume`, which runs under the warehouse's read lock: the stream
    * is one build's rows, and a same-name swap waits for `consume`.
    */
  def fullExportArrow[A](clientId: String, password: String, filename: String)(
      consume: Iterator[Array[Byte]] => A): A =
    withFct(Tenancy.authenticated(users, clientId, password), filename)(fct =>
      consume(ArrowBridge.toArrowBatchIterator(Reports.fullExport(fct))))

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
    * Authenticates, then, under the warehouse's read lock, reads the
    * report stored with the live build, or on a miss computes it from the
    * live fct and stores it ([[Pipeline.storeReport]]). A filename never
    * uploaded is NOT_FOUND. A stored report whose frames do not fit its
    * file is an IllegalStateException.
    */
  def budgetReportArrow(clientId: String, password: String,
                        filename: String): Array[Array[Byte]] = {
    val tenant = Tenancy.authenticated(users, clientId, password)
    val warehouse = Tenancy.cleanDir(storageBase, tenant, filename)
    val stored = warehouse.resolve(Pipeline.BudgetReportFile)
    Pipeline.reading(warehouse) {
      if (Files.exists(stored)) {
        val b = Files.readAllBytes(stored)
        // stored frames that do not fit their file are damage on disk,
        // a server fault (500), not a client error
        try ArrowBridge.readFramed(new java.io.ByteArrayInputStream(b), b.length)
        catch {
          case e: IllegalArgumentException =>
            throw new IllegalStateException(s"damaged stored report in $warehouse", e)
        }
      } else withFct(tenant, filename) { fct =>
        val report = Reports.budgetReportArrow(fct)
        Pipeline.storeReport(warehouse, report)
        report
      }
    }
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
