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

  /** Total row count of parquet files, summed from their footers' row
    * groups on the driver (read in parallel, as Spark reads footers for
    * inference — which skips the row groups, so this reads them itself)
    * — the count `spark.read.parquet(...).count()` returns for them,
    * without its listing, inference and count jobs.
    */
  def footerRows(spark: SparkSession, files: Seq[org.apache.hadoop.fs.FileStatus]): Long =
    if (files.isEmpty) 0L
    else {
      val conf = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        .sessionState.newHadoopConf()
      org.apache.spark.util.ThreadUtils.parmap(files, "graft-footer-rows", 8) { f =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(f, conf))
        try r.getRecordCount finally r.close()
      }.sum
    }
}
