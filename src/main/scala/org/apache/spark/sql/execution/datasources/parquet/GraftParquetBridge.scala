package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.FileStatus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.errors.QueryCompilationErrors
import org.apache.spark.sql.types.StructType

/** Bridge into Spark's `private[parquet]` footer readers, in the same
  * style as [[org.apache.spark.sql.GraftSqlBridge]]: the two calls
  * schema inference makes on each file, minus the Spark job it wraps
  * them in. See [[graft.io.Footers]].
  */
object GraftParquetBridge {

  /** The Spark schema stored in (or converted from) the footers of
    * `files`, read on the driver under the session's parquet confs
    * (`nanosAsLong`, `binaryAsString`, `inferTimestampNTZ`, ...) and made
    * nullable as a file relation makes it; throws Spark's own "Unable to
    * infer schema" error when there is none.
    */
  def readSchema(spark: SparkSession, files: Seq[FileStatus]): StructType = {
    val state = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState
    val footers = ParquetFileFormat.readParquetFootersInParallel(
      state.newHadoopConf(), files, state.conf.ignoreCorruptFiles)
    ParquetFileFormat.readSchema(footers, spark).getOrElse(
      throw QueryCompilationErrors.dataSchemaNotSpecifiedError("Parquet")).asNullable
  }
}
