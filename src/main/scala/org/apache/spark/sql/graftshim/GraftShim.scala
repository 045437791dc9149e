package org.apache.spark.sql.graftshim

import com.univocity.parsers.csv.CsvParser
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.csv.CSVOptions
import org.apache.spark.sql.catalyst.expressions.{CurrentTimestampLike,
  Expression, LeafExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext,
  ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.classic.{Dataset, ExpressionUtils}
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.datasources.csv.CSVUtils
import org.apache.spark.sql.types.{DataType, StringType, StructField,
  StructType, TimestampType}

/** Bridge into Spark's `private[sql]` Column <-> Expression converters
  * (`org.apache.spark.sql.classic.ExpressionUtils`, Spark 4.x), needed to
  * use custom Catalyst expressions from the public DataFrame API, and into
  * the other internals the engine calls. Lives inside the
  * org.apache.spark.sql namespace solely for access; each member only
  * composes Spark's own code.
  */
object GraftShim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `SparkSession.internalCreateDataFrame` (private[sql]): build a
    * DataFrame from an RDD[InternalRow] WITHOUT the external-Row boxing
    * round trip of `createDataFrame(RDD[Row], schema)`. Used by the
    * GlobalOrder prefix-scan operators, whose hot path stays on compact
    * UnsafeRows end-to-end.
    */
  def internalCreateDataFrame(
      spark: org.apache.spark.sql.SparkSession,
      rdd: org.apache.spark.rdd.RDD[
        org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rdd, schema)

  /** `StructType.asNullable` (private[spark]): the schema with every field,
    * element and value nullable — what a file-source write stores.
    */
  def asNullable(schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = schema.asNullable

  /** `df` with every `current_timestamp()` and `now()` in its plan bound
    * to the one instant `micros` ([[BoundInstant]]). Spark folds those
    * functions to a literal per query, which codegen inlines, so each
    * evaluation has new source and compiles again; bound through a
    * reference object, plans that differ only in the instant share one
    * generated class.
    */
  def bindCurrentTimestamp(df: DataFrame, micros: Long): DataFrame =
    Dataset.ofRows(df.sparkSession.asInstanceOf[classic.SparkSession],
      df.queryExecution.analyzed.transformAllExpressions {
        case _: CurrentTimestampLike => BoundInstant(micros)
      })

  /** The all-string schema Spark's CSV header pass gives the file at
    * `path` read with `options`, taken on the driver with no Spark job,
    * through the pass's own steps: the first non-empty line
    * (`CSVUtils.readHeaderLine`), parsed by univocity with the reader's
    * settings, named by `CSVUtils.makeSafeHeader` (an empty name becomes
    * `_c<i>`, a duplicate gets its index). A file with no such line has no
    * columns, as in the pass.
    */
  def csvHeaderSchema(spark: SparkSession, path: String,
                      options: Map[String, String]): StructType = {
    val state = spark.asInstanceOf[classic.SparkSession].sessionState
    val conf = state.conf
    val csv = new CSVOptions(options, conf.csvColumnPruning,
      conf.sessionLocalTimeZone, conf.columnNameOfCorruptRecord)
    val names = CSVUtils.readHeaderLine(new Path(path), csv,
        state.newHadoopConfWithOptions(options))
      .flatMap(line => Option(new CsvParser(csv.asParserSettings).parseLine(line)))
      .fold(Array.empty[String])(
        CSVUtils.makeSafeHeader(_, conf.caseSensitiveAnalysis, csv))
    StructType(names.toSeq.map(StructField(_, StringType)))
  }
}

/** A timestamp fixed when the plan is built, which generated code reads
  * from a reference object instead of inlining it as a literal. Not
  * foldable, so constant folding leaves it a reference.
  */
final case class BoundInstant(micros: Long) extends LeafExpression {
  override def foldable: Boolean = false
  override def nullable: Boolean = false
  override def dataType: DataType = TimestampType
  override def eval(input: InternalRow): Any = micros
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("instant", micros, "java.lang.Long")
    ev.copy(code = code"final long ${ev.value} = $ref.longValue();",
      isNull = FalseLiteral)
  }
}
