package org.apache.spark.sql.graftbridge

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types.StructType

/** Bridge into Spark's `private[sql]` Column↔Expression converters — the
  * sanctioned pattern for libraries that ship native Catalyst expressions
  * (the converters are private only to keep the public Column API
  * connect/classic-agnostic) — and into `Dataset.ofRows`. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `rows` of `schema` as a frame whose size estimate is `sizeInBytes`:
    * `createDataFrame` over an RDD reads as `spark.sql.defaultSizeInBytes`
    * (Long.MaxValue), which rules out every broadcast join against it. */
  def frame(spark: SparkSession, schema: StructType, rows: RDD[InternalRow],
            sizeInBytes: Long): DataFrame = {
    val s = spark.asInstanceOf[classic.SparkSession]
    classic.Dataset.ofRows(s,
      LogicalRDD(DataTypeUtils.toAttributes(schema), rows)(s, Some(Statistics(BigInt(sizeInBytes)))))
  }
}
