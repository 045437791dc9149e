package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.streaming.EventStream

/** Streaming-vs-batch parity: the SAME streaming operator users run
  * unbounded (`EventStream.hourlyCounts` — watermarked tumbling windows)
  * is executed here over the events table as a bounded file stream
  * (AvailableNow micro-batches into a memory sink), and its result is
  * hash-compared against a plain batch SQL oracle. This is the strongest
  * claim a streaming operator can make: identical answers to the batch
  * semantics, not just "rows came out".
  */
object StreamingQueries extends QuerySet {

  /** The stream's declared schema must match the parquet's PHYSICAL ts
    * type (a file stream source does no implicit cast), and events has
    * shipped as both TIMESTAMP(NANOS) — read as long under nanosAsLong —
    * and TIMESTAMP(MICROS). A one-footer batch read resolves which
    * vintage this directory carries; [[graft.engine.Readers.toNanosLong]]
    * then restores the engine-wide nanos-long contract downstream.
    */
  private[queries] def eventsSchema(s: SparkSession, dir: String): StructType = {
    val tsType = graft.engine.Readers.eventsNanosPhysicalTsType(s, dir)
    StructType(Seq(
      StructField("event_id", LongType),
      StructField("ts", tsType),
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType),
      StructField("props", StringType)))
  }

  /** The bounded-events-stream harness every streaming gate query shares
    * (previously copy-pasted six times): the file stream source needs a
    * DIRECTORY, so events.parquet is exposed through `copies` symlink(s)
    * in a scratch dir (absolute targets — a relative `dir` would dangle
    * the link), read as a schema'd parquet stream with the nanos-ts
    * conf on, handed to `use` (which must DRAIN the stream — e.g. via
    * `EventStream.runToMemory`, so cleanup in `finally` runs after the
    * bounded run terminates), and the scratch dir is always removed.
    * `copies` > 1 feeds the same file multiple times (q77's
    * duplicate-delivery shape).
    */
  private[queries] def runEventsStream(
      s: SparkSession, dir: String, prefix: String, copies: Int = 1,
      options: Map[String, String] = Map.empty)(
      use: DataFrame => DataFrame): DataFrame = {
    graft.engine.Readers.enableNanosAsLong(s)
    val streamDir = java.nio.file.Files.createTempDirectory(prefix)
    val target = java.nio.file.Paths.get(dir).toAbsolutePath
      .resolve("events.parquet")
    (1 to copies).foreach(linkTable(streamDir, target, _))
    try use(graft.engine.Readers.toNanosLong(
      s.readStream.schema(eventsSchema(s, dir)).options(options)
        .parquet(streamDir.toString),
      "ts"))
    finally graft.engine.Pipeline.deleteRecursively(streamDir)
  }

  /** Fresh memory-sink name per run (the sink registry is session-global). */
  private[queries] def memName(prefix: String): String =
    prefix + java.util.UUID.randomUUID().toString.replace("-", "")

  /** Number of part files a parquet table contributes to a file stream
    * (1 for the driver's single-file testdata; the part count for
    * Spark-written directory tables like testdata-sf1). Harnesses that
    * mean "one micro-batch per logical copy" must pass this as
    * maxFilesPerTrigger, not 1.
    */
  private[queries] def partFileCount(dir: String, table: String): Int = {
    val p = java.nio.file.Paths.get(dir).toAbsolutePath
      .resolve(s"$table.parquet")
    math.max(1, partFiles(p).size)
  }

  /** The .parquet part files of a table path — the path itself for a
    * single-file table, the sorted part files for a Spark-written
    * directory table. The directory stream is CLOSED (`Files.list`
    * holds a directory fd open until closed; the streaming harnesses
    * call this hundreds of times per bench run, one leaked fd each
    * before round 17). Shared by every stream-source harness — this
    * logic was previously quadruplicated across StreamingQueries,
    * Round14Queries, Round15Queries, and Round15bQueries.
    */
  private[queries] def partFiles(
      p: java.nio.file.Path): Seq[java.nio.file.Path] =
    if (java.nio.file.Files.isDirectory(p)) {
      val ls = java.nio.file.Files.list(p)
      try {
        import scala.jdk.CollectionConverters._
        ls.iterator().asScala
          .filter(_.getFileName.toString.endsWith(".parquet"))
          .toSeq.sortBy(_.getFileName.toString)
      } finally ls.close()
    } else Seq(p)

  /** Symlink one logical copy of a parquet table into a stream-source
    * dir. The file stream source lists the dir NON-recursively, so a
    * directory-shaped table (Spark-written scale-ups like testdata-sf1)
    * must be linked per part file — a symlink to the directory itself
    * contributes ZERO files and the stream silently runs on empty input
    * (the round-15 sf1 harness bug; q200/q208 re-hit it through this
    * harness before it carried the fix).
    */
  private[queries] def linkTable(streamDir: java.nio.file.Path,
                                 target: java.nio.file.Path,
                                 copy: Int): Seq[java.nio.file.Path] = {
    partFiles(target).zipWithIndex.map { case (src, j) =>
      val l = streamDir.resolve(s"copy${copy}_$j.parquet")
      java.nio.file.Files.createSymbolicLink(l, src)
      l
    }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q53_streaming_hourly" -> ((s, dir) =>
      runEventsStream(s, dir, "q53_events") { raw =>
        val stream = raw
          .withColumn("ts", timestamp_micros(expr("ts div 1000")))
        // ~720 hour-windows x ~5 event types of state: 8 partitions
        val out = EventStream.runToMemory(
          EventStream.hourlyCounts(stream), memName("q53_mem_"),
          statePartitions = Some(8))
        out.select(col("window_start"), col("event_type"), col("n"),
          round(col("value_sum"), 2).as("value_sum"))
          .orderBy("window_start", "event_type")
      })
  )

  val oracleSql: Map[String, String] = Map(
    "q53_streaming_hourly" ->
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
                event_type, count(*) AS n,
                round(sum(value), 2) AS value_sum
         FROM events GROUP BY 1, 2 ORDER BY window_start, event_type"""
  )
}
