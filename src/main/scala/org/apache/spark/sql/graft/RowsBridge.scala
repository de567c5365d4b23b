package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.StructType

/**
 * Spark 4 keeps `internalCreateDataFrame` `private[sql]`. This bridge
 * re-exports it for graft's own readers, which build Catalyst rows
 * (`UTF8String` fields) straight from file bytes: the public
 * `createDataFrame(RDD[Row])` would run every row through the Row
 * encoder and copy every String again.
 */
object RowsBridge {
  def dataFrame(spark: SparkSession, rows: RDD[InternalRow], schema: StructType): DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].internalCreateDataFrame(rows, schema)
}
