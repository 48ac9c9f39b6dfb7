package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import graft.io.Footers

/** Finite execution of a Structured-Streaming pipeline so streaming
  * operators can sit under the same DuckDB hash gate as batch queries:
  * read the fixture as a STREAM, run it with `Trigger.AvailableNow` into
  * a memory sink, and hand back the sink table as a plain DataFrame.
  *
  * `AvailableNow` processes everything available then stops — the
  * batch-bounded replay mode a backfill job uses in production. At
  * cluster scale the same pipeline runs unbounded with a real sink and a
  * durable checkpoint; nothing in the transform changes, which is the
  * point of proving it against the batch oracle here.
  *
  * Output-mode rules for finite replay:
  *  - aggregations run in `Complete` mode — in `Append`, windows close
  *    only when the WATERMARK passes them, and the watermark of the final
  *    micro-batch never advances past the last window, which would hold
  *    back the tail of the result forever;
  *  - stateless/dedup pipelines run in `Append`.
  */
object StreamRun {

  /** The events fixture as a STREAMING source, with the same
    * session pins and TIMESTAMP(NANOS) → µs normalization as
    * [[graft.Tables.load]]
    * (streaming scans need an explicit schema, which is read from the
    * parquet footer on the driver by [[graft.io.Footers]] — metadata
    * only, no Spark job).
    */
  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    // FileStreamSource requires a directory or a GLOB — a plain file path
    // fails ("Option 'basePath' must be a directory"). The bracket glob
    // matches exactly the one fixture file while keeping glob semantics.
    streamFrom(spark, s"$dir/events.parquet", s"$dir/[e]vents.parquet")
  }

  /** readStream over `globPath` with the schema of `schemaFrom` (or the
    * one already in hand), the session pins and the TIMESTAMP(NANOS) → µs
    * normalization shared by every events stream.
    */
  private def streamFrom(spark: SparkSession, schemaFrom: String,
                         globPath: String,
                         known: Option[org.apache.spark.sql.types.StructType] = None): DataFrame = {
    graft.Tables.pinSemantics(spark)
    val schema = known.getOrElse(Footers.schema(spark, schemaFrom))
    graft.Tables.normalizeTs(spark.readStream.schema(schema).parquet(globPath))
  }

  /** Any fixture table as a STREAMING source (session pins as
    * [[graft.Tables.load]], schema from the parquet footer, bracket glob
    * so FileStreamSource accepts the single file).
    * No timestamp normalization — use [[eventsStream]] for events.
    */
  def tableStream(spark: SparkSession, dir: String, name: String): DataFrame = {
    graft.Tables.pinSemantics(spark)
    val schema = Footers.schema(spark, s"$dir/$name.parquet")
    spark.readStream.schema(schema)
      .parquet(s"$dir/[${name.head}]${name.tail}.parquet")
  }

  /** The events fixture as a stream PLUS a far-future sentinel event
    * (user_id = -1, year 2100): staged into a fresh temp dir so that in
    * Append mode the closing watermark advances past every REAL window —
    * without it, a bounded source's final windows sit in state forever
    * (the watermark only moves on observed event times). The sentinel's
    * own window stays unflushed; callers filter `user_id = -1` out of the
    * sink. This is the standard end-of-stream flush marker pattern for
    * replaying a finite log through append-mode event-time state.
    */
  def eventsStreamFlushed(spark: SparkSession, dir: String): DataFrame = {
    graft.Tables.pinSemantics(spark)
    val src = s"$dir/events.parquet"
    val schema = Footers.schema(spark, src)
    val tmp = graft.io.Lake.scratch(spark, "stream-flush", dir)
    val conf = spark.sparkContext.hadoopConfiguration
    val tfs = new org.apache.hadoop.fs.Path(tmp).getFileSystem(conf)
    org.apache.hadoop.fs.FileUtil.copy(
      new org.apache.hadoop.fs.Path(src).getFileSystem(conf), new org.apache.hadoop.fs.Path(src),
      tfs, new org.apache.hadoop.fs.Path(tmp, "events.parquet"),
      false, conf)
    // sentinel: ts in raw fixture units (2100-01-01 UTC) — ns-long or
    // µs-timestamp depending on which fixture generation is on disk
    val sentinelTs: Any = schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => 4102444800000000000L
      case org.apache.spark.sql.types.TimestampNTZType =>
        java.time.LocalDateTime.of(2100, 1, 1, 0, 0, 0)
      case _ => java.time.Instant.parse("2100-01-01T00:00:00Z")
    }
    val sentinel = spark.createDataFrame(
      java.util.Arrays.asList(
        org.apache.spark.sql.Row(-1L, sentinelTs, -1L, "sentinel", 0.0, "{}")),
      schema)
    sentinel.write.mode("append").parquet(tmp)
    streamFrom(spark, tmp, tmp, Some(schema))
  }

  /** Run `stream` to exhaustion into an in-memory sink named `name` and
    * return the sink table. Re-runnable in one session (the previous
    * sink view is dropped first).
    */
  def runToTable(name: String, stream: DataFrame, mode: OutputMode): DataFrame = {
    val spark = stream.sparkSession
    spark.catalog.dropTempView(name)
    // Stateful operators create one state-store instance per shuffle
    // partition PER micro-batch, and each pays a commit (checkpoint
    // write) regardless of row count, so the partition count follows the
    // input: see [[statePartitions]]. The conf is read at query START,
    // so the set/restore brackets only this stream's lifetime.
    val parts = statePartitions(inputBytes(stream),
      spark.sparkContext.defaultParallelism)
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
    try {
      val q = stream.writeStream
        .format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    spark.table(name)
  }

  /** State partitions for a replay over `bytes` of input files: one per
    * [[graft.ops.Frames.smallInputBytes]] (256 KB, the size below which
    * `Frames.spread` keeps a file in one task), at least 1 and at most
    * `cores`. A commit per partition per micro-batch costs the same on
    * 1,000 rows as on 1,000,000, so a fixed count would spend most of a
    * small replay committing empty state (1 partition at sf0.001 and
    * sf0.01, 8 at sf0.1 on 32 cores); a large input still gets a
    * partition per core.
    */
  private[graft] def statePartitions(bytes: Long, cores: Int): Int = {
    val unit = graft.ops.Frames.smallInputBytes
    math.max(1L, math.min(cores.toLong, (bytes + unit - 1) / unit)).toInt
  }

  /** Bytes of the visible files behind `stream`'s file-source leaves
    * (each distinct `path` option, glob-expanded, directories walked).
    */
  private def inputBytes(stream: DataFrame): Long = {
    import org.apache.spark.sql.execution.streaming.runtime.StreamingRelation
    val conf = stream.sparkSession.sparkContext.hadoopConfiguration
    val paths = stream.queryExecution.logical.collectLeaves().collect {
      case r: StreamingRelation => r.dataSource.paths ++ r.dataSource.options.get("path")
    }.flatten.distinct // a self-join reads its files once per side
    paths.map { p =>
      val path = new org.apache.hadoop.fs.Path(p)
      val fs = path.getFileSystem(conf)
      Option(fs.globStatus(path)).toSeq.flatten.map { st =>
        val it = fs.listFiles(st.getPath, true)
        Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
          .filterNot(f => f.getPath.getName.startsWith(".") ||
            f.getPath.getName.startsWith("_"))
          .map(_.getLen).sum
      }.sum
    }.sum
  }
}
