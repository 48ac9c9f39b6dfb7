package graft.io

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.GraftParquetBridge
import org.apache.spark.sql.types.StructType

/** Parquet schemas read on the driver from the file footer.
  *
  * A `spark.read` parquet scan without a schema infers one with a
  * one-task Spark job (`mergeSchemasInParallel`) that reads a single
  * footer — 60–90 ms of job overhead per load on a warm 4-core session,
  * paid on every table a query touches. [[schema]] reads the same footer with
  * the same Spark code on the driver, so a read that passes it to
  * `spark.read.schema(...)` plans without starting a job. Spark's own
  * inference picks one file when `mergeSchema` is off: a
  * `_common_metadata` summary first, then `_metadata`, then the first
  * data file in path order; hidden files (`_*`, `.*`) are skipped and
  * `key=value` partition directories are descended into. Partition
  * columns are not in the footer: Spark appends them, with their
  * inferred types, exactly as it does after inference.
  *
  * [[read]] also returns a tiny input as ONE partition: when the data
  * files it lists total less than [[graft.ops.Frames.smallInputBytes]]
  * (256 KB), the scan is `coalesce(1)`. The plan then reports
  * `SinglePartition`, which satisfies the distribution an aggregate,
  * window or sort requires, and a sort-merge join of two such inputs, so
  * none of them plans a shuffle exchange over it: the query runs as one
  * stage instead of one stage job per exchange, each of which AQE would
  * have coalesced back into a single partition anyway. Above the floor
  * the scan is left as Spark splits it. An explicit repartition on top
  * still wins (`CollapseRepartition` drops the coalesce), and filters
  * push through the coalesce to the scan, so partition pruning is
  * unchanged.
  */
object Footers {

  /** The schema a schema-less read of `path` would infer, with no job. */
  def schema(spark: SparkSession, path: String): StructType =
    schemaOf(spark, listing(spark, path))

  /** A parquet scan of `path` with the footer schema: no inference job,
    * and one partition when its data files total under 256 KB.
    */
  def read(spark: SparkSession, path: String): DataFrame = {
    val files = listing(spark, path)
    val df = spark.read.schema(schemaOf(spark, files)).parquet(path)
    val bytes = files.filterNot(f => summaries(f.getPath.getName)).map(_.getLen).sum
    if (bytes < graft.ops.Frames.smallInputBytes) df.coalesce(1) else df
  }

  private def listing(spark: SparkSession, path: String): Seq[FileStatus] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    leafFiles(fs, fs.getFileStatus(p)).sortBy(_.getPath.toString)
  }

  private def schemaOf(spark: SparkSession, files: Seq[FileStatus]): StructType = {
    def named(n: String) = files.find(_.getPath.getName == n)
    val pick = named("_common_metadata").orElse(named("_metadata"))
      .orElse(files.find(f => !summaries(f.getPath.getName)))
    GraftParquetBridge.readSchema(spark, pick.toSeq)
  }

  /** Non-empty files under `st` that Spark's file index would list:
    * direct children, plus the files of `key=value` subdirectories.
    */
  private def leafFiles(fs: FileSystem, st: FileStatus): Seq[FileStatus] =
    if (!st.isDirectory) Seq(st)
    else fs.listStatus(st.getPath).toSeq.filterNot(c => hidden(c.getPath.getName))
      .flatMap { c =>
        if (c.isDirectory) { if (c.getPath.getName.contains("=")) leafFiles(fs, c) else Nil }
        else if (c.getLen > 0) Seq(c) else Nil
      }

  private val summaries = Set("_common_metadata", "_metadata")

  /** Spark's `InMemoryFileIndex.shouldFilterOutPathName`. */
  private def hidden(name: String): Boolean =
    ((name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")) &&
      !(name.startsWith("_common_metadata") || name.startsWith("_metadata"))
}
