package org.apache.spark.sql.classic

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession => ApiSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.StructType

/** Wraps an `RDD[InternalRow]` as a DataFrame without an encoder: the rows
  * are already in Catalyst's internal format, so no serializer is built
  * or run per task. `internalCreateDataFrame` is `private[sql]`, hence
  * this one-method shim in Spark's own package.
  */
object InternalRowFrames {

  def create(spark: ApiSession, rows: RDD[InternalRow],
      schema: StructType): DataFrame =
    spark.asInstanceOf[SparkSession]
      .internalCreateDataFrame(rows, schema, isStreaming = false)
}
