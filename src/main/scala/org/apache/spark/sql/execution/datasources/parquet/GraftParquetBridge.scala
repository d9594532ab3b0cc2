package org.apache.spark.sql.execution.datasources.parquet

import org.apache.parquet.hadoop.Footer
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** Bridge into `private[parquet]` footer-to-schema conversion, so
  * graft.sources.Sources.readParquet can turn a footer it read on the
  * driver into exactly the schema Spark's own inference would give: the
  * same embedded Spark schema, or the same Parquet type conversion under
  * the session's confs (`nanosAsLong`, `inferTimestampNTZ`, ...). Same
  * pattern as [[org.apache.spark.sql.GraftSqlBridge]]. */
object GraftParquetBridge {
  def readSchema(footer: Footer, spark: SparkSession): Option[StructType] =
    ParquetFileFormat.readSchema(Seq(footer), spark)
}
