package org.apache.spark.sql.graftshim

import java.io.{ByteArrayInputStream, DataInputStream, DataOutputStream,
  EOFException, InputStream, OutputStream, OutputStreamWriter}
import java.nio.channels.Channels
import java.nio.charset.StandardCharsets
import scala.jdk.CollectionConverters._

import org.apache.arrow.vector.ipc.{ArrowStreamReader, ReadChannel}
import org.apache.arrow.vector.ipc.message.MessageSerializer
import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.csv.{CSVOptions, UnivocityGenerator}
import org.apache.spark.sql.execution.arrow.ArrowConverters
import org.apache.spark.sql.execution.datasources.csv.CSVFileFormat
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.ArrowUtils
import org.apache.spark.sql.vectorized.{ArrowColumnVector, ColumnVector,
  ColumnarBatch}

/** Arrow IPC wire bridge (SURVEY.md §2.1 S4/S7): the reference ships
  * record batches over Arrow Flight (`serve_flight.py:148,330`); this
  * exposes the same wire format from Spark — each element is one Arrow
  * IPC batch WITH embedded schema, produced distributed (one stream per
  * partition) and collected at the driver, which is exactly a Flight
  * do_get payload. An upload's batches go the other way on the driver,
  * straight to the raw archive's CSV ([[writeCsv]]). Uses Spark's internal
  * ArrowConverters and CSV generator, hence the graftshim access package.
  */
object ArrowBridge {

  /** DataFrame -> Arrow IPC batches (schema embedded in each batch).
    * Always returns at least one (possibly empty) batch so the schema
    * survives a zero-row round trip.
    */
  def toArrowBatches(df: DataFrame,
                     maxRecordsPerBatch: Long = 10000): Array[Array[Byte]] =
    encode(df, maxRecordsPerBatch)(_.collect().iterator).toArray

  /** DataFrame -> Arrow IPC batches as a lazily-pulled iterator: the
    * size-safe sibling of [[toArrowBatches]] for FULL exports.
    * `toLocalIterator` fetches one partition's batches at a time, so
    * driver memory is bounded by the largest partition rather than the
    * whole result — the shape a Flight do_get stream wants (batches are
    * written to the wire as they arrive). Trade: one job per partition
    * instead of one job total, invisible at transport latencies.
    */
  def toArrowBatchIterator(df: DataFrame,
                           maxRecordsPerBatch: Long = 10000): Iterator[Array[Byte]] =
    encode(df, maxRecordsPerBatch)(_.toLocalIterator)

  /** `df`'s batches, encoded per partition and pulled by `pull`; one empty
    * schema-bearing batch when there are none.
    */
  private def encode(df: DataFrame, maxRecordsPerBatch: Long)(
      pull: RDD[Array[Byte]] => Iterator[Array[Byte]]): Iterator[Array[Byte]] = {
    val schema = df.schema
    val tz = df.sparkSession.sessionState.conf.sessionLocalTimeZone
    // (rowIter, schema, maxRecordsPerBatch, maxEstimatedBatchSize,
    //  timeZoneId, errorOnDuplicatedFieldNames, largeVarTypes)
    val it = pull(df.queryExecution.toRdd.mapPartitions(
      ArrowConverters.toBatchWithSchemaIterator(
        _, schema, maxRecordsPerBatch, Long.MaxValue, tz, true, false)))
    if (it.hasNext) it
    else Iterator(ArrowConverters.createEmptyArrowBatch(schema, tz, true, false))
  }

  /** Arrow IPC batches (schema embedded) -> DataFrame. The schema is read
    * driver-side from the first batch; row decoding runs distributed
    * (batch bytes are parallelized, same shape as Spark's own
    * ArrowConverters.toDataFrame) so large payloads never materialize as
    * rows on the driver.
    */
  def fromArrowBatches(spark: SparkSession,
                       batches: Array[Array[Byte]]): DataFrame = {
    require(batches.nonEmpty,
      "no Arrow batches: the sender must emit at least one (empty) batch")
    val cs = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    // Read the schema straight from the head batch's IPC schema message.
    // (Probing via fromBatchWithSchemaIterator would leak its Arrow
    // allocator unless the row iterator is fully drained: with a null
    // TaskContext, closeAll only runs on exhaustion.)
    val arrowSchema = MessageSerializer.deserializeSchema(new ReadChannel(
      Channels.newChannel(new ByteArrayInputStream(batches.head))))
    val schema = ArrowUtils.fromArrowSchema(arrowSchema)
    val rdd = cs.sparkContext
      .parallelize(batches.toIndexedSeq,
        math.max(1, math.min(batches.length, 32)))
      .mapPartitions { it =>
        ArrowConverters.fromBatchWithSchemaIterator(it, TaskContext.get())._1
      }
    cs.internalCreateDataFrame(rdd, schema, isStreaming = false)
  }

  /** Framed form of a batch sequence, as the HTTP binding carries it and
    * a build stores its budget report: each batch preceded by its 4-byte
    * big-endian length, the sequence ending at EOF. Flushes, does not
    * close `out`.
    */
  def writeFramed(out: OutputStream, batches: Iterator[Array[Byte]]): Unit = {
    val d = new DataOutputStream(out)
    batches.foreach { b => d.writeInt(b.length); d.write(b) }
    d.flush()
  }

  /** Reads [[writeFramed]]'s form to EOF: [[framed]], collected. */
  def readFramed(in: InputStream, maxBytes: Long): Array[Array[Byte]] =
    framed(in, maxBytes).toArray

  /** [[writeFramed]]'s form, one frame read off `in` per `next`. A frame
    * whose header and body would take the running total past `maxBytes`
    * is rejected with `PAYLOAD_TOO_LARGE` before its body is allocated; a
    * negative length with `bad frame length`.
    */
  def framed(in: InputStream, maxBytes: Long): Iterator[Array[Byte]] = {
    val d = new DataInputStream(in)
    var total = 0L
    Iterator.continually(
      try Some(d.readInt()) catch { case _: EOFException => None }
    ).takeWhile(_.isDefined).flatten.map { len =>
      require(len >= 0, s"bad frame length $len")
      total += 4L + len
      if (total > maxBytes)
        throw new IllegalArgumentException("PAYLOAD_TOO_LARGE")
      val buf = new Array[Byte](len)
      d.readFully(buf)
      buf
    }
  }

  /** Arrow IPC batches (schema embedded) -> CSV with a header on `out`,
    * one batch at a time on the calling thread, no Spark job: Spark's own
    * Arrow column vectors and CSV generator, so the text is what
    * `df.write.options(options).csv` writes. No batch, a batch whose schema
    * differs from the first's, or a column CSV cannot hold is an
    * IllegalArgumentException. Flushes, does not close `out`.
    */
  def writeCsv(spark: SparkSession, batches: Iterator[Array[Byte]],
               out: OutputStream, options: Map[String, String]): Unit = {
    require(batches.hasNext,
      "no Arrow batches: the sender must emit at least one (empty) batch")
    val text = new OutputStreamWriter(out, StandardCharsets.UTF_8)
    val allocator =
      ArrowUtils.rootAllocator.newChildAllocator("csv", 0, Long.MaxValue)
    val tz = spark.conf.get("spark.sql.session.timeZone")
    var first: StructType = null
    lazy val csv =
      new UnivocityGenerator(first, text, new CSVOptions(options, false, tz))
    try batches.foreach { b =>
      val reader = new ArrowStreamReader(new ByteArrayInputStream(b), allocator)
      try {
        val root = reader.getVectorSchemaRoot
        val s = ArrowUtils.fromArrowSchema(root.getSchema)
        if (first == null) {
          val format = new CSVFileFormat()
          require(s.forall(f => format.supportDataType(f.dataType)),
            s"a column CSV cannot hold: $s")
          first = s
          csv.writeHeaders()
        }
        require(s == first, s"batch schema $s differs from the first, $first")
        while (reader.loadNextBatch()) {
          val cols = root.getFieldVectors.asScala.map(new ArrowColumnVector(_))
          new ColumnarBatch(cols.toArray[ColumnVector], root.getRowCount)
            .rowIterator().asScala.foreach(csv.write)
        }
      } finally reader.close()
    } finally allocator.close()
    csv.flush()
  }
}
