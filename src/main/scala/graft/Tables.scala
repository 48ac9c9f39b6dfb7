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

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    pinSemantics(spark)
    val df = graft.io.Footers.read(spark, s"$dir/$name.parquet")
    // Fixture generations have stored `ts` two ways: parquet
    // TIMESTAMP(NANOS) (read as a long via nanosAsLong, rebuilt at µs
    // precision) and plain TIMESTAMP(MICROS) (read as TIMESTAMP_NTZ).
    // Normalize both to session-zone TIMESTAMP so downstream queries see
    // one type regardless of which fixture generation is on disk.
    if (name == "events") normalizeTs(df) else df
  }

  /** Pins the session-wide semantics every table read and query of this
    * library assumes. Called by [[load]] and by the stream readers in
    * [[graft.streaming.StreamRun]], so a session built anywhere (a main,
    * a test, an embedding harness) runs the queries under the same
    * semantics. INTENTIONALLY session-wide: a caller with other settings
    * was already going to disagree with every oracle.
    *
    *  - `spark.sql.legacy.parquet.nanosAsLong`: parquet TIMESTAMP(NANOS)
    *    columns read as longs, which [[normalizeTs]] rebuilds at µs.
    *  - `spark.sql.session.timeZone` = UTC: [[normalizeTs]]'s
    *    TIMESTAMP_NTZ branch reads the wall clock in the session zone; the
    *    long-ns path is zone-independent, and this makes the NTZ path so.
    *    Callers needing another display zone convert on read.
    *  - `spark.sql.icu.caseMappings.enabled` = false: `lower`/`upper` map
    *    case through the JDK (`UTF8String.toLowerCase`/`toUpperCase`)
    *    instead of ICU. Both take the same ASCII fast path; non-ASCII text
    *    goes through `String.toLowerCase()`/`toUpperCase()` where ICU used
    *    `UCharacter` (both in the JVM's default locale). Mapped one code
    *    point at a time (en_US), the two differ on 67 code points each
    *    way, all case pairs added after the JDK 17 tables' Unicode 13,
    *    e.g. U+10570 (Vithkuqi), which the JDK leaves as is; Latin-1
    *    accents, `ß`, Greek final sigma, `İ`, `ǅ`, Cherokee and ligatures
    *    map the same. Every fixture string column is ASCII.
    *    What the pin avoids: the ICU path's first use in a JVM runs the
    *    static initializer of Spark's `CollationAwareUTF8String`, which
    *    title-cases all 1,114,112 code points (about 0.7 s, under a
    *    class-init lock every other task reaching `lower()` waits on), so
    *    the first text query of a fresh JVM paid it. `graft.Bench`'s
    *    warm-up calls `lower`/`upper` before its timed queries, so Bench
    *    totals never showed it. `Lower`/`Upper` read the conf when they
    *    first evaluate or generate code, so pinning it at load time covers
    *    every query built on these tables.
    */
  def pinSemantics(spark: SparkSession): Unit = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.icu.caseMappings.enabled", "false")
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
