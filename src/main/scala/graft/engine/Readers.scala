package graft.engine

import java.util.concurrent.ConcurrentHashMap
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, unix_micros}
import org.apache.spark.sql.graftshim.GraftShim
import org.apache.spark.sql.types.StructType

/** Sources (SURVEY.md §2.1).
  *
  * The reference ingests every CSV with `all_varchar=True` (reference
  * `models/corporate/stg_corporate.sql:40-45`) so raw columns are always text,
  * and — for the hospital vertical — additionally normalizes messy header
  * names (`models/hospital/stg_hospital.sql:25-31`, documented rules at
  * `stg_hospital.sql:6-11`). Both behaviors are reproduced here on top of
  * Spark's CSV source, which is distributed and predicate/projection-pruned
  * by Catalyst out of the box: at 100 TB the CSV scan splits by file and by
  * range within splittable files, so no custom reader work is needed.
  *
  * Parquet tables are read through one schema catalog ([[parquet]]).
  * Spark infers a parquet schema with a Spark job on every read, even of
  * one file; the catalog infers once per table state and pins the schema
  * on later reads, which then run no job. Its key is the table's absolute
  * path. Each entry holds the schema with the fingerprint it was inferred
  * under: the name, length and modification time of every file under the
  * path, and the value of every SQL conf that parquet schema inference
  * reads. A read whose fingerprint differs from the entry's (a rewrite, an
  * added or removed file, a flipped conf) infers again and replaces the
  * entry, so there is nothing to invalidate by hand. Entries are never
  * evicted: the map holds one entry per distinct steady-state path read.
  * Scratch round trips whose paths are unique per run read with plain
  * `spark.read.parquet`, so they never grow it.
  */
object Readers {

  /** The raw archive's CSV dialect, read by [[csvAllVarchar]] and written
    * by an Arrow upload: a header, RFC-4180 doubled quotes (like DuckDB and
    * pandas), cells kept as sent (Spark's writer trims unless told not to).
    */
  val CsvDialect: Map[String, String] = Map(
    "header" -> "true", "inferSchema" -> "false", "quote" -> "\"",
    "escape" -> "\"", "ignoreLeadingWhiteSpace" -> "false",
    "ignoreTrailingWhiteSpace" -> "false")

  /** S1 — all-varchar CSV scan: every column StringType, which is exactly
    * DuckDB's `all_varchar=True` semantics, named from the file's header at
    * runtime (same late-binding as the reference — SURVEY.md §4). The
    * header is read on the driver with Spark's own header logic
    * ([[GraftShim.csvHeaderSchema]]) and given to the scan as its schema,
    * so the names are the ones Spark's header pass would give and the read
    * runs no header job.
    */
  def csvAllVarchar(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(GraftShim.csvHeaderSchema(spark, path, CsvDialect))
      .options(CsvDialect).csv(path)

  /** S2 — DuckDB `normalize_names=True` column-name rule: trim, lowercase,
    * every run of non-alphanumerics becomes a single underscore, and leading/
    * trailing underscores are stripped (reference behavior observed at
    * `stg_hospital.sql:6-11`: ' Total Discharges ' -> total_discharges).
    * A name left empty or starting with a digit is prefixed with '_' so it
    * stays a valid identifier (DuckDB does the same).
    */
  def normalizeName(name: String): String = {
    val base = name.trim.toLowerCase
      .replaceAll("[^a-z0-9]+", "_")
      .replaceAll("^_+|_+$", "")
    if (base.isEmpty || base.head.isDigit) "_" + base else base
  }

  /** Rename all columns with [[normalizeName]], de-duplicating collisions the
    * way DuckDB does (second occurrence gets a numeric suffix). Suffixed
    * names are checked against EVERY name assigned so far — a bare
    * counter would let the generated `a_1` collide with a natural `a_1`
    * column later in the header, yielding a DataFrame with duplicate
    * columns that fails far away with AMBIGUOUS_REFERENCE.
    */
  def normalizeColumns(df: DataFrame): DataFrame = {
    val used = scala.collection.mutable.Set.empty[String]
    val renamed = df.columns.map { c =>
      val n = normalizeName(c)
      val name =
        if (!used.contains(n)) n
        else {
          var k = 1
          while (used.contains(s"${n}_$k")) k += 1
          s"${n}_$k"
        }
      used += name
      name
    }
    df.toDF(renamed.toIndexedSeq: _*)
  }

  /** S2 composed: all-varchar CSV with normalized header names. */
  def csvNormalized(spark: SparkSession, path: String): DataFrame =
    normalizeColumns(csvAllVarchar(spark, path))

  /** S6-analog — parquet table scan from a warehouse/testdata directory. */
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    parquet(spark, s"$dir/$name.parquet")

  /** What a schema was inferred under: every file under the path as
    * (relative name, length, modification time), and the inference confs.
    */
  private final case class Fingerprint(files: Seq[(String, Long, Long)],
                                       confs: Seq[Option[String]])

  private final case class Pinned(fingerprint: Fingerprint,
                                  schema: StructType)

  /** Every SQL conf Spark 4.1.2's parquet schema inference reads
    * (`ParquetUtils.inferSchema`, `ParquetFileFormat.readSchema` /
    * `mergeSchemasInParallel`, `SchemaMergeUtils`, the
    * `ParquetToSparkSchemaConverter` defaults), plus the partition-column
    * type inference that types a partitioned table's directory columns.
    * events' `ts` changes type with `nanosAsLong`.
    */
  private val inferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.respectSummaryFiles",
    "spark.sql.parquet.reader.respectUnknownTypeAnnotation.enabled",
    "spark.sql.parquet.fieldId.read.enabled",
    "spark.sql.parquet.ignoreVariantAnnotation",
    "spark.sql.variant.allowReadingShredded",
    "spark.sql.files.ignoreCorruptFiles",
    "spark.sql.caseSensitive",
    "spark.sql.sources.partitionColumnTypeInference.enabled")

  /** The schema catalog: absolute path -> the schema last inferred there.
    * Concurrent because the service reads from several request threads;
    * two threads missing at once both infer, and either result is right.
    */
  private val schemas = new ConcurrentHashMap[String, Pinned]()

  /** A parquet table read through the schema catalog: a hit passes the
    * pinned schema (`spark.read.schema(s).parquet`, no Spark job), a miss
    * infers it and records it under the path's current fingerprint. A
    * missing path reads plainly, so the caller sees Spark's own error.
    */
  def parquet(spark: SparkSession, path: String): DataFrame =
    fingerprint(spark, path) match {
      case None => spark.read.parquet(path)
      case Some((key, fp)) =>
        val hit = schemas.get(key)
        if (hit != null && hit.fingerprint == fp)
          spark.read.schema(hit.schema).parquet(path)
        else {
          val df = spark.read.parquet(path)
          schemas.put(key, Pinned(fp, df.schema))
          df
        }
    }

  /** Record `schema` for `path` as it stands now, when the caller already
    * knows it: a writer that just read the same files back under another
    * name pins them here, so the first [[parquet]] read of them is a hit.
    */
  def pinSchema(spark: SparkSession, path: String, schema: StructType): Unit =
    fingerprint(spark, path).foreach { case (key, fp) =>
      schemas.put(key, Pinned(fp, schema))
    }

  /** The catalog key and fingerprint of `path`, listed through the path's
    * own Hadoop `FileSystem`; None when the path does not exist. Hidden
    * (dot-prefixed) names are skipped: Spark never reads them.
    */
  private def fingerprint(spark: SparkSession, path: String)
      : Option[(String, Fingerprint)] = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val top =
      try fs.getFileStatus(root)
      catch { case _: java.io.FileNotFoundException => return None }
    def files(st: FileStatus, rel: String): Seq[(String, Long, Long)] =
      if (st.isDirectory)
        fs.listStatus(st.getPath).toSeq
          .filterNot(_.getPath.getName.startsWith("."))
          .flatMap(c => files(c, s"$rel/${c.getPath.getName}"))
      else Seq((rel, st.getLen, st.getModificationTime))
    val confs = inferenceConfs.map(spark.conf.getOption)
    Some((fs.makeQualified(root).toString,
      Fingerprint(files(top, "").sortBy(_._1), confs)))
  }

  /** The events table scan, normalized to the engine-wide contract that
    * `ts` is a NANOSECOND epoch long (consumers convert with
    * `timestamp_micros(ts div 1000)` where they need a timestamp).
    *
    * The physical column has shipped as both TIMESTAMP(NANOS) — which
    * Spark cannot represent natively; the session-wide legacy conf reads
    * it as a nanos long — and TIMESTAMP(MICROS), which reads as
    * TIMESTAMP_NTZ (or TIMESTAMP). This helper absorbs the difference so
    * every consumer sees the same nanos-long column whichever vintage of
    * the table it scans: the micros instant is exact under the UTC
    * session timezone, and ×1000 stays far inside Long range
    * (~1.7e18 for current epochs).
    *
    * The conf is intentionally set here and NOT restored: it is a global
    * session mutation, and scattering per-query set calls (the previous
    * shape) made later parquet timestamp reads order-dependent. The
    * invariant that keeps the global setting safe is that EVERY events
    * consumer in this engine goes through this helper and wants the
    * nanos-long representation — no query in the suite reads a
    * nanos-timestamp parquet column expecting TimestampType. Keep it that
    * way: new events readers must call this, not re-set the conf.
    */
  def eventsNanos(spark: SparkSession, dir: String): DataFrame = {
    enableNanosAsLong(spark)
    toNanosLong(table(spark, dir, "events"), "ts")
  }

  /** Normalize an epoch column to the nanos-long representation, whatever
    * physical type it was read as. `withColumn` replaces in place, so the
    * column order callers pattern-match on is preserved.
    */
  def toNanosLong(df: DataFrame, tsCol: String): DataFrame =
    df.schema(tsCol).dataType match {
      case org.apache.spark.sql.types.LongType => df
      case _: org.apache.spark.sql.types.TimestampType |
           _: org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn(tsCol,
          unix_micros(col(tsCol).cast("timestamp")) * lit(1000L))
      case other => throw new IllegalArgumentException(
        s"$tsCol has unsupported epoch type $other")
    }

  /** Streaming events readers (which must pass an explicit schema) call
    * this before `readStream` — same invariant as [[eventsNanos]].
    */
  def enableNanosAsLong(spark: SparkSession): Unit =
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

  /** The type Spark reads this directory's events.ts as — LongType for the
    * TIMESTAMP(NANOS) vintage (under nanosAsLong), Timestamp(NTZ)Type for
    * the TIMESTAMP(MICROS) one. Streaming readers need it to declare a
    * schema that matches the files; one footer read, no data scan.
    */
  def eventsNanosPhysicalTsType(spark: SparkSession, dir: String)
      : org.apache.spark.sql.types.DataType = {
    enableNanosAsLong(spark)
    table(spark, dir, "events").schema("ts").dataType
  }

  /** Schema-evolution scan: one DataFrame over parquet written under
    * EVOLVING schemas (a column added mid-corpus), reconciled by column
    * name — rows from pre-evolution files null-fill the new columns.
    * `mergeSchema` reads every file's footer at planning time, which is
    * the right trade for an ingest/reconcile step. A steady-state table
    * is read through [[parquet]] instead, whose catalog infers its schema
    * once per table state and pins it on every later read.
    */
  def parquetMerged(spark: SparkSession, paths: Seq[String]): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(paths: _*)

  /** JSONL (newline-delimited JSON) scan with a caller-supplied schema.
    * Schema inference is deliberately not offered: it costs an extra full
    * pass over the files, which at 100 TB doubles the scan bill — a
    * training-data pipeline always knows its record schema.
    */
  def jsonl(spark: SparkSession, path: String, ddlSchema: String): DataFrame =
    spark.read.schema(ddlSchema).json(path)
}
