package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into Spark's `private[sql]` Column <-> Expression converters
  * (`org.apache.spark.sql.classic.ExpressionUtils`, Spark 4.x), needed to
  * use custom Catalyst expressions from the public DataFrame API. Lives
  * inside the org.apache.spark.sql namespace solely for access; contains
  * no logic.
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
}
