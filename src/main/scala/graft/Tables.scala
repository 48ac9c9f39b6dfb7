package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-provided parquet fixtures (TESTDATA.md).
  *
  * Every [[SparkEntry.queries]] entry reads through here so the scan
  * options stay in one place. Tables are plain parquet files, one per
  * table, at `<sfDir>/<name>.parquet`, read with their footer schema
  * ([[graft.io.Footers]]) so a load starts no Spark job.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") {
      // Fixture generations have stored `ts` two ways: parquet
      // TIMESTAMP(NANOS) (read as a long via nanosAsLong, rebuilt at µs
      // precision) and plain TIMESTAMP(MICROS) (read as TIMESTAMP_NTZ).
      // Normalize both to session-zone TIMESTAMP (UTC everywhere in this
      // library) so downstream queries see one type regardless of which
      // fixture generation is on disk.
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      // normalizeTs's NTZ branch interprets the wall clock in the session
      // zone: every in-repo entry point pins UTC, but an externally-built
      // session would silently shift each event timestamp — pin it here
      // (the long-ns path is zone-independent; this makes the NTZ path
      // so). INTENTIONALLY session-wide: the library's timestamp
      // semantics are UTC everywhere (every entry point sets the same
      // conf), so a non-UTC caller session was already going to disagree
      // with every oracle; callers needing another display zone must
      // convert on read, not re-pin the session.
      spark.conf.set("spark.sql.session.timeZone", "UTC")
      normalizeTs(graft.io.Footers.read(spark, s"$dir/$name.parquet"))
    } else {
      graft.io.Footers.read(spark, s"$dir/$name.parquet")
    }

  /** ts(long ns | TIMESTAMP_NTZ µs | TIMESTAMP) → TIMESTAMP, µs precision. */
  def normalizeTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df
    }
}
