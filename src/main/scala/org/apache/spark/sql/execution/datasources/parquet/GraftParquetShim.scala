package org.apache.spark.sql.execution.datasources.parquet

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** Bridge to Spark's `private[parquet]` footer readers, for graft's
  * driver-side schema reads of its own artifact tables. Lives in Spark's
  * parquet package solely for access (the [[org.apache.spark.sql.GraftShim]]
  * pattern).
  */
object GraftParquetShim {
  /** The Spark schema of one parquet file, read from its footer on the
    * driver — the conversion Spark's schema inference applies to the file
    * it picks, without the Spark job that inference runs.
    */
  def footerSchema(spark: SparkSession,
      file: org.apache.hadoop.fs.FileStatus): Option[StructType] = {
    val s = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    ParquetFileFormat.readSchema(ParquetFileFormat.readParquetFootersInParallel(
      s.sessionState.newHadoopConf(), Seq(file), ignoreCorruptFiles = false), s)
  }
}
