package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.Streams

class StreamsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(minute: Int) = Timestamp.valueOf(f"2026-01-01 10:$minute%02d:00")

  test("tumblingCounts aggregates a MemoryStream incrementally") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String)]
    val counts = Streams.tumblingCounts(
      input.toDF().toDF("ts", "user"), "ts", "10 minutes", "5 minutes",
      Seq(col("user")))
    val q = counts.writeStream
      .format("memory").queryName("tumbling_test").outputMode("complete")
      .start()
    try {
      input.addData((ts(1), "a"), (ts(2), "a"), (ts(11), "a"), (ts(3), "b"))
      q.processAllAvailable()
      val rows = spark.table("tumbling_test")
        .select("user", "n").as[(String, Long)].collect().toSet
      rows shouldBe Set(("a", 2L), ("a", 1L), ("b", 1L))
    } finally q.stop()
  }

  test("sessions merges gap-close events on a batch frame") {
    val df = Seq(
      (ts(0), "u1"), (ts(2), "u1"), (ts(30), "u1"), (ts(0), "u2"))
      .toDF("ts", "user")
    val sess = Streams.sessions(df, "ts", "10 minutes", Seq(col("user")))
      .orderBy("user", "sess_start").collect()
    // u1: [10:00,10:02] session of 2, then [10:30] session of 1; u2: one session
    sess.length shouldBe 3
    sess.map(_.getLong(3)).toSeq shouldBe Seq(2L, 1L, 1L)
  }

  test("sliding windows count each event in every covering window") {
    val df = Seq((ts(5), "a")).toDF("ts", "user")
    val out = Streams.slidingCounts(df, "ts", "10 minutes", "5 minutes",
      "5 minutes", Seq(col("user")))
    // one event at 10:05 falls into [10:00,10:10) and [10:05,10:15)
    out.count() shouldBe 2
  }

  test("sessionsWithState emits closed sessions incrementally across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Long)]
    val sessions = Streams.sessionsWithState(input.toDS(), gapSeconds = 600)
    val q = sessions.writeStream
      .format("memory").queryName("state_sessions").outputMode("append")
      .start()
    try {
      input.addData(("u1", 0L), ("u1", 100L), ("u2", 50L))
      q.processAllAvailable()
      spark.table("state_sessions").count() shouldBe 0 // all sessions still open

      // u1 jumps past the gap -> the first u1 session closes with 2 events
      input.addData(("u1", 1000L))
      q.processAllAvailable()
      val closed = spark.table("state_sessions")
        .as[Streams.Session].collect()
      closed.length shouldBe 1
      closed.head.user shouldBe "u1"
      closed.head.start shouldBe 0L
      closed.head.end shouldBe 100L
      closed.head.nEvents shouldBe 2L
    } finally q.stop()
  }

  test("sessionsWithState: a late event merges without regressing session bounds") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Long)]
    val sessions = Streams.sessionsWithState(input.toDS(), gapSeconds = 600)
    val q = sessions.writeStream
      .format("memory").queryName("late_sessions").outputMode("append")
      .start()
    try {
      input.addData(("u1", 1000L))
      q.processAllAvailable()
      input.addData(("u1", 500L)) // late, within gap of [1000]
      q.processAllAvailable()
      // 1150 is 150s after the true last event (1000) -> must still merge;
      // before the min/max fix, state.last had regressed to 500 and this
      // wrongly closed a Session(start=1000, end=500)
      input.addData(("u1", 1150L))
      q.processAllAvailable()
      spark.table("late_sessions").count() shouldBe 0
      input.addData(("u1", 9999L)) // far future closes the merged session
      q.processAllAvailable()
      val s = spark.table("late_sessions").as[Streams.Session].collect()
      s.length shouldBe 1
      s.head.start shouldBe 500L
      s.head.end shouldBe 1150L
      s.head.nEvents shouldBe 3L
    } finally q.stop()
  }

  // NOTE: blind append is at-least-once under retries — a batch whose
  // append committed but whose offset commit failed would replay. The
  // production form records the batchId in the commit (Delta txn-id
  // pattern, SCALE.md §streaming); this spec covers the happy path.
  test("foreachBatch streams each micro-batch into a versioned table as one commit") {
    import graft.versioned.VersionedTable
    implicit val sqlCtx = spark.sqlContext
    val root = tmpDir("stream-versioned")
    val input = MemoryStream[(Long, String)]
    // seed version 0 so each micro-batch is a manifest append (the
    // streaming form of the reference's incremental year loads)
    VersionedTable.create(spark, root,
      Seq((0L, "seed")).toDF("id", "v"))
    val q = input.toDF().toDF("id", "v").writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        VersionedTable.open(spark, root).append(batch): Unit
      }
      .start()
    try {
      input.addData((1L, "a"), (2L, "b"))
      q.processAllAvailable()
      input.addData((3L, "c"))
      q.processAllAvailable()
      val t = VersionedTable.open(spark, root)
      t.toDF.count() shouldBe 4
      t.version shouldBe 2 // seed + one commit per micro-batch
      // time travel sees the pre-batch-2 state — replayable ingestion
      t.asOf(1).count() shouldBe 3
    } finally q.stop()
  }

  // q468 is only a meaningful INCREMENTAL twin if the replay actually
  // splits into several micro-batches: the keep-min-id upsert path is
  // untested by a single create-only batch. Pin ≥2 commits (create +
  // at least one upsert) so a maxFilesPerTrigger/staging regression
  // can't quietly degrade the capstone to its batch form.
  test("q468 stream curation replays as MULTIPLE commits into the versioned table") {
    import graft.versioned.VersionedTable
    val dir = "/root/testdata/sf0.001"
    val out = SparkEntry.queries("q468_stream_curation_capstone")(spark, dir)
      .collect()
    assert(out.nonEmpty, "q468 produced no split rows")
    val root = graft.io.Lake.scratchRoot("stream-cur", dir)
    val versions = VersionedTable.open(spark, root).history.count()
    assert(versions >= 2,
      s"expected >=2 commits (create + upserts), saw $versions — " +
        "the stream collapsed to a single batch")
  }

  test("decade UDF variant agrees with the native expression") {
    val years = Seq(1969, 1970, 2025).toDF("year")
    val both = years.select(
      graft.ops.Relational.decade(col("year")).as("native"),
      graft.functions.Udfs.decadeViaUdf(col("year")).as("viaUdf"))
    both.where(col("native") =!= col("viaUdf")).count() shouldBe 0
  }

  test("state partitions: one per 256 KB of input, at least 1, at most one per core") {
    import graft.streaming.StreamRun.statePartitions
    statePartitions(0L, 4) shouldBe 1
    statePartitions(23L * 1024, 32) shouldBe 1
    statePartitions(2L * 1024 * 1024, 4) shouldBe 4
    statePartitions(2L * 1024 * 1024, 32) shouldBe 8
  }
}
