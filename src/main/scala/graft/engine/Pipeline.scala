package graft.engine

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.Comparator
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.locks.ReentrantReadWriteLock
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.functions.current_timestamp
import org.apache.spark.sql.graftshim.{ArrowBridge, GraftShim}
import graft.engine.models.{Corporate, Education, Hospital}

/** Model DAG + materialization (SURVEY.md §2.12 M1-M8), re-created
  * Spark-natively. The reference's SQLMesh layer contributes: a model
  * registry with dependencies, FULL (rebuild-from-scratch) materialization,
  * selective per-industry plans, and failure cleanup of half-built outputs.
  * Catalyst makes the rest of SQLMesh's work (parse/qualify/annotate)
  * unnecessary.
  *
  * Materialization writes parquet per model under a per-upload warehouse
  * directory; writes go to a temp dir first and atomically rename on
  * success (M8 — the reference deletes corrupt DuckDB files on failure;
  * temp+rename is the Spark-native equivalent and is also safe under
  * concurrent readers). No global upload mutex (M6): per-upload warehouse
  * paths are disjoint by construction, so Spark's scheduler can run tenant
  * uploads concurrently — the reference's process-global env-var tenancy
  * hack (SURVEY.md §7.4.7) is designed out by passing paths as arguments.
  * A live path's reads ([[reading]]) and swaps ([[swapIn]]) share one
  * read/write lock, so a swap waits only for the reads of its own path.
  */
object Pipeline {

  /** M1 — a named model: dependencies by model name, and a build function
    * from already-built upstream DataFrames to this model's DataFrame.
    */
  final case class ModelSpec(
      name: String,
      deps: Seq[String],
      build: (SparkSession, Map[String, DataFrame]) => DataFrame,
      audits: Seq[Audits.Audit] = Nil)

  /** The six reference models, keyed by industry. `rawPath` is a plain
    * function parameter — the Spark-native replacement for the
    * `@client_raw_path` macro variable (M4/S3). `audits` attaches
    * data-quality checks per model name, enforced pre-swap by
    * [[materialize]]. The DEFAULT is no audits, deliberately: the
    * reference validates nothing at runtime (SURVEY.md §5 — empty
    * `audits/`), and e.g. a null job_title flows through its reports, so
    * enforcing [[Audits.contractAudits]] by default would reject uploads
    * the reference accepts. Deployments that prefer safety over parity
    * pass `Map(s"$industry.fct_$industry" -> Audits.contractAudits)`.
    */
  def industryModels(industry: String, rawPath: String,
                     now: Column = current_timestamp(),
                     audits: Map[String, Seq[Audits.Audit]] = Map.empty)
  : Seq[ModelSpec] = {
    def spec(name: String, deps: Seq[String],
             build: (SparkSession, Map[String, DataFrame]) => DataFrame) =
      ModelSpec(name, deps, build, audits.getOrElse(name, Nil))
    industry match {
      case "corporate" => Seq(
        spec("corporate.stg_corporate", Nil,
          (s, _) => Corporate.stg(Readers.csvAllVarchar(s, rawPath), now)),
        spec("corporate.fct_corporate", Seq("corporate.stg_corporate"),
          (_, up) => Corporate.fct(up("corporate.stg_corporate"))))
      case "education" => Seq(
        spec("education.stg_education", Nil,
          (s, _) => Education.stg(Readers.csvAllVarchar(s, rawPath), now)),
        spec("education.fct_education", Seq("education.stg_education"),
          (_, up) => Education.fct(up("education.stg_education"))))
      case "hospital" => Seq(
        spec("hospital.stg_hospital", Nil,
          (s, _) => Hospital.stg(Readers.csvNormalized(s, rawPath), now)),
        spec("hospital.fct_hospital", Seq("hospital.stg_hospital"),
          (_, up) => Hospital.fct(up("hospital.stg_hospital"))))
      case other =>
        throw new IllegalArgumentException(s"unknown industry: $other")
    }
  }

  /** The contract fact table's model name for an industry: a pure
    * function of the industry (M-contract, `serve_flight.py:285-286`).
    */
  def fctModel(industry: String): String = s"$industry.fct_$industry"

  /** The budget report of a warehouse's fct, framed Arrow IPC batches
    * ([[ArrowBridge.writeFramed]]) at the warehouse root, stored by the
    * first request for it ([[storeReport]]). Underscore-prefixed like
    * `_fingerprint`, so Spark's file discovery and `listFiles` both skip
    * it.
    */
  val BudgetReportFile = "_budget_report.arrow"

  /** Topological order of a model selection (M3 — selective plan). */
  def topoOrder(models: Seq[ModelSpec]): Seq[ModelSpec] = {
    val byName = models.map(m => m.name -> m).toMap
    val visited = scala.collection.mutable.LinkedHashSet.empty[String]
    def visit(n: String, path: Set[String]): Unit = byName.get(n).foreach { m =>
      require(!path.contains(n), s"model dependency cycle at $n")
      if (!visited.contains(n)) {
        m.deps.foreach(visit(_, path + n))
        visited += n
      }
    }
    models.foreach(m => visit(m.name, Set.empty))
    visited.toSeq.map(byName)
  }

  /** M2+M8 — FULL materialization of a model selection into
    * `warehouse/<model_name>/` parquet dirs, built in dependency order.
    * The upload builds into a UNIQUE temp sibling (so concurrent retries
    * of the same upload cannot clobber each other's in-progress build),
    * then [[swapIn]]s it. Every `current_timestamp()` in the models reads
    * the build's one instant, bound so that each build runs the same
    * generated code (no compile per upload). Without audits the build runs
    * one Spark job per model write and nothing else: the report is
    * computed on its first request.
    */
  def materialize(spark: SparkSession, models: Seq[ModelSpec],
                  warehouse: Path): Map[String, DataFrame] = {
    val ordered = topoOrder(models)
    val tag = java.util.UUID.randomUUID().toString.take(8)
    val name = warehouse.getFileName.toString
    // dot-prefixed scratch names: hidden from listFiles and from Spark's
    // own file discovery, so a crash mid-build never surfaces a partial
    // warehouse. Stale scratch from earlier crashed builds of the SAME
    // warehouse is swept here (a crashed rename has no other cleanup path).
    val tmp = warehouse.resolveSibling(s".$name.tmp-$tag")
    sweepStaleScratch(warehouse)
    val instant = DateTimeUtils.instantToMicros(java.time.Instant.now())
    try {
      var built = Map.empty[String, DataFrame]
      ordered.foreach { m =>
        val out = tmp.resolve(m.name).toString
        val df = GraftShim.bindCurrentTimestamp(m.build(spark, built), instant)
        df.write.mode("overwrite").parquet(out)
        // read back the materialized table so downstream models consume the
        // written parquet, not a re-computed plan (FULL semantics), with
        // the schema the write stored (df's, all nullable), so the read
        // runs no inference job; not through the catalog, since this
        // per-build scratch path would only grow it — the schema is pinned
        // under the final path below
        val table =
          spark.read.schema(GraftShim.asNullable(df.schema)).parquet(out)
        // audits run on the written data, inside the build — a failing
        // audit aborts BEFORE the swap, so it can never go live
        Audits.enforce(table, m.audits)
        built += m.name -> table
      }
      swapIn(tmp, warehouse)
      // the rename moved the very files each read-back scanned: pin its
      // schema under the live path, so reads after the swap infer nothing;
      // under the read lock, since pinning lists the live files and a
      // concurrent same-name swap would move them away mid-listing
      reading(warehouse)(built.map { case (n, table) =>
        val live = warehouse.resolve(n).toString
        Readers.pinSchema(spark, live, table.schema)
        n -> Readers.parquet(spark, live)
      })
    } finally {
      deleteRecursively(tmp) // M8: no corrupt half-built leftovers
    }
  }

  /** Delete crashed writes' scratch (`.{name}.tmp-*` / `.{name}.old-*`)
    * beside `target`: a warehouse's build dirs, an upload's raw scratch.
    * Age-gated so a CONCURRENT healthy write's scratch (which exists only
    * for seconds) is never swept mid-swap.
    */
  private def sweepStaleScratch(target: Path): Unit = {
    val parent = target.getParent
    val name = target.getFileName.toString
    if (parent == null || !Files.isDirectory(parent)) return
    val cutoff = System.currentTimeMillis() - 60 * 60 * 1000L
    val ls = Files.list(parent)
    try {
      import scala.jdk.CollectionConverters._
      ls.iterator().asScala
        .filter { p =>
          val n = p.getFileName.toString
          (n.startsWith(s".$name.tmp-") || n.startsWith(s".$name.old-")) &&
            Files.getLastModifiedTime(p).toMillis < cutoff
        }
        .toList.foreach(deleteRecursively)
    } finally ls.close()
  }

  /** Entry point 1 (SURVEY.md §3.1): [[ingestWith]] of a CSV file. */
  def ingest(spark: SparkSession, storageBase: Path,
             users: Seq[Tenancy.Tenant], clientId: String, password: String,
             filename: String, sourceCsv: Path,
             now: Column = current_timestamp(),
             audits: Map[String, Seq[Audits.Audit]] = Map.empty)
  : Map[String, DataFrame] =
    ingestWith(spark, storageBase, users, clientId, password, filename, now,
      audits)(Files.copy(sourceCsv, _))

  /** Authenticate, gate the filename, archive the upload's CSV, which
    * `write` puts on the stream it is given, and run the industry's stg+fct
    * models FULL into the per-upload warehouse. `write` runs only after
    * the gate, so a refused upload reads no byte of its body. The bytes
    * land in this upload's own scratch dir, `Raw/.<f>.tmp-<tag>/<f>`; a
    * hard link to them is renamed over `Raw/<f>` before the build, and the
    * build reads the upload's own name, which a concurrent same-name upload
    * cannot rename over. A failed write leaves no archive and no scratch; a
    * crash's scratch is swept by a later upload of the name.
    */
  private[engine] def ingestWith(spark: SparkSession, storageBase: Path,
      users: Seq[Tenancy.Tenant], clientId: String, password: String,
      filename: String, now: Column, audits: Map[String, Seq[Audits.Audit]])(
      write: java.io.OutputStream => Unit): Map[String, DataFrame] = {
    val tenant = Tenancy.authenticated(users, clientId, password)
    Tenancy.validateFilename(tenant, filename)
      .fold(e => throw new IllegalArgumentException(e), identity)
    Tenancy.provisionStorage(storageBase, Seq(tenant))
    val raw = Tenancy.rawPath(storageBase, tenant, filename) // S5 raw backup
    sweepStaleScratch(raw)
    val own = Files.createDirectory(raw.resolveSibling(
      s".$filename.tmp-${java.util.UUID.randomUUID().toString.take(8)}"))
    try {
      val bytes = own.resolve(filename)
      writeFile(bytes)(write)
      Files.move(Files.createLink(own.resolve(".archive"), bytes), raw,
        StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
      materialize(spark,
        industryModels(tenant.industryType, bytes.toString, now, audits),
        Tenancy.cleanDir(storageBase, tenant, filename))
    } finally deleteRecursively(own)
  }

  /** M5 — fingerprint-based rebuild skip (the Spark analog of SQLMesh's
    * content-hash snapshot cache). The fingerprint covers the input file's
    * (size, mtime, sha-256) plus the model names; when unchanged since the
    * last successful build, [[ingestIfChanged]] returns the existing
    * warehouse without running any Spark job. The reference always
    * rebuilds (`include_unmodified=True`, `serve_flight.py:181`), so
    * [[ingest]] keeps FULL semantics and this is the opt-in fast path.
    */
  def inputFingerprint(source: Path, modelNames: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(modelNames.mkString(",").getBytes("UTF-8"))
    md.update(Files.size(source).toString.getBytes("UTF-8"))
    // streamed in fixed-size chunks: the heap holds one buffer, not the
    // whole upload
    val in = new java.security.DigestInputStream(Files.newInputStream(source), md)
    try {
      val buf = new Array[Byte](1 << 16)
      while (in.read(buf) != -1) ()
    } finally in.close()
    md.digest().map("%02x".format(_)).mkString
  }

  def ingestIfChanged(spark: SparkSession, storageBase: Path,
                      users: Seq[Tenancy.Tenant], clientId: String,
                      password: String, filename: String, sourceCsv: Path,
                      now: Column = current_timestamp()): Map[String, DataFrame] = {
    val tenant = Tenancy.authenticated(users, clientId, password)
    val warehouse = Tenancy.cleanDir(storageBase, tenant, filename)
    val marker = warehouse.resolve("_fingerprint")
    val models = industryModels(tenant.industryType, "unused", now).map(_.name)
    val fp = inputFingerprint(sourceCsv, models)
    if (Files.exists(marker) &&
      new String(Files.readAllBytes(marker), "UTF-8") == fp) {
      models.map(n =>
        n -> Readers.parquet(spark, warehouse.resolve(n).toString)).toMap
    } else {
      val built = ingest(spark, storageBase, users, clientId, password,
        filename, sourceCsv, now)
      Files.write(marker, fp.getBytes("UTF-8"))
      built
    }
  }

  /** Store `report`, computed from the fct of `warehouse`, as its
    * [[BudgetReportFile]]: written to a dot-prefixed scratch file in the
    * warehouse, then renamed in. Call under [[reading]], so the build the
    * report was computed from is the one it is stored in.
    */
  private[engine] def storeReport(warehouse: Path,
                                  report: Array[Array[Byte]]): Unit = {
    val tmp = warehouse.resolve(s".$BudgetReportFile.tmp-" +
      java.util.UUID.randomUUID().toString.take(8))
    try {
      writeFile(tmp)(ArrowBridge.writeFramed(_, report.iterator))
      Files.move(tmp, warehouse.resolve(BudgetReportFile),
        StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    } finally Files.deleteIfExists(tmp)
  }

  /** Each live path some thread reads or swaps: its fair read/write lock
    * and the number of those threads. The first adds the entry and the last
    * removes it, each in `compute`, so a path has one lock while in use and
    * no entry after (compaction swaps a fresh path on every run).
    */
  private[engine] val liveLocks =
    new ConcurrentHashMap[Path, (ReentrantReadWriteLock, Int)]()

  private def locked[A](live: Path, write: Boolean)(body: => A): A = {
    val key = live.toAbsolutePath.normalize
    val (rw, _) = liveLocks.compute(key, (_, e) =>
      if (e == null) (new ReentrantReadWriteLock(true), 1) else (e._1, e._2 + 1))
    val lock = if (write) rw.writeLock else rw.readLock
    try { lock.lock(); try body finally lock.unlock() }
    finally liveLocks.compute(key, (_, e) =>
      if (e._2 == 1) null else (e._1, e._2 - 1))
  }

  /** `body` under the read lock of the live path `warehouse`: no [[swapIn]]
    * of it lands meanwhile, so every file `body` reads there is one build's.
    */
  private[engine] def reading[A](warehouse: Path)(body: => A): A =
    locked(warehouse, write = false)(body)

  /** Put the directory `tmp` live at `live`: the old `live` renamed aside,
    * `tmp` renamed in (same-directory, atomic on POSIX), the old deleted
    * last; a failure between the renames restores it, so one complete copy
    * always exists. The renames run under the write lock of `live`, so the
    * swap waits for its [[reading]]s and for its concurrent swaps.
    */
  private[graft] def swapIn(tmp: Path, live: Path): Unit = {
    val old = tmp.resolveSibling(tmp.getFileName.toString + ".old")
    val hadOld = locked(live, write = true) {
      val hadOld = Files.exists(live)
      if (hadOld) Files.move(live, old)
      try Files.move(tmp, live)
      catch { case e: Throwable => if (hadOld) Files.move(old, live); throw e }
      hadOld
    }
    if (hadOld) deleteRecursively(old)
  }

  private def writeFile(p: Path)(write: java.io.OutputStream => Unit): Unit = {
    val out = new java.io.BufferedOutputStream(Files.newOutputStream(p))
    try write(out) finally out.close()
  }

  /** Recursive delete with the walk stream closed — the one shared copy
    * (query-side gates delete their scratch corpora through this too). A
    * file already gone is skipped.
    */
  private[graft] def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(Comparator.reverseOrder[Path]())
        .forEach(f => Files.deleteIfExists(f))
      finally walk.close()
    }
}
