package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** File-source readers with the reference's exact option sets
  * (SURVEY.md §2.1 S1–S5).
  *
  * The reference reads CSV with header (`data_import.ipynb.py:118-121`),
  * CSV with quote-escape (`curate_data.py:47-58`), multiline JSON
  * (`data_import.ipynb.py:122-125`), parquet (`denormalized_tables.py:42-44`)
  * and partition-encoded subdirectories (`serving_layer.py:65-68`).
  *
  * Scale notes:
  *  - multiline JSON is NOT splittable (one task per file) — at 100 TB feed
  *    many small files or convert to JSONL at landing; documented here
  *    because the option silently serializes the scan otherwise;
  *  - CSV with an explicit schema skips the schema-inference pre-pass
  *    (which reads every byte once before the real scan);
  *  - partition-pruned reads go through the root + a predicate so Catalyst
  *    prunes directories (visible as `PartitionFilters` in `explain`) —
  *    never hand-build `dir/year=2017` paths, which lose the partition
  *    column and bypass pruning.
  */
object Readers {

  /** S1: CSV with header row (`data_import.ipynb.py:118-121`). */
  def csv(spark: SparkSession, path: String,
          schema: Option[StructType] = None): DataFrame = {
    val r = spark.read.option("header", "true")
    schema.fold(r.option("inferSchema", "false"))(r.schema).csv(path)
  }

  /** S2: CSV with header + quote-escape for embedded quotes
    * (`curate_data.py:47-58`, `escape='"'`).
    */
  def csvQuoted(spark: SparkSession, path: String,
                schema: Option[StructType] = None): DataFrame = {
    val r = spark.read.option("header", "true").option("escape", "\"")
    schema.fold(r)(r.schema).csv(path)
  }

  /** S3: pretty-printed (multiline) JSON (`data_import.ipynb.py:122-125`).
    * Non-splittable — see object docs.
    */
  def jsonMultiline(spark: SparkSession, path: String): DataFrame =
    spark.read.option("multiline", "true").json(path)

  /** JSONL (one object per line) — the splittable variant to prefer at
    * scale; schema optional to skip inference.
    */
  def jsonLines(spark: SparkSession, path: String,
                schema: Option[StructType] = None): DataFrame = {
    val r = spark.read
    schema.fold(r)(r.schema).json(path)
  }

  /** S4: parquet scan (`denormalized_tables.py:42-44`). */
  def parquet(spark: SparkSession, path: String): DataFrame =
    Footers.read(spark, path)

  /** S5: partition-pruned scan — read the partitioned root and filter on
    * the partition column so only matching directories are listed
    * (`serving_layer.py:65-68` reads `.../year=2017` directly; this form
    * keeps the partition column and lets Catalyst prune).
    */
  def parquetPartition(spark: SparkSession, root: String,
                       partitionCol: String, value: Any): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    Footers.read(spark, root).where(col(partitionCol) === lit(value))
  }
}
