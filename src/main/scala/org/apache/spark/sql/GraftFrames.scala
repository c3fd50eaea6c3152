package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.StructType

/** Builds a DataFrame straight from catalyst rows. `internalCreateDataFrame`
  * is package-private to Spark SQL; this one-method bridge lives in that
  * package so the engine's decoded rows skip the external-Row conversion.
  */
object GraftFrames {
  def fromInternalRows(spark: SparkSession, rows: RDD[InternalRow],
      schema: StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rows, schema)
}
