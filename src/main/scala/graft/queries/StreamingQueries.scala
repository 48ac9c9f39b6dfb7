package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.Tables
import graft.ops.Relational.dsum
import graft.streaming.{StreamRun, Streams}

/** Structured-Streaming operators under the driver's DuckDB hash gate
  * (SURVEY §2.10 extension): each query executes a REAL streaming run —
  * `readStream` source, stateful operator, memory sink, AvailableNow
  * trigger — and returns the finite result, which must hash-match the
  * batch-semantics oracle. Streaming correctness here means exactly the
  * replay guarantee a production backfill relies on: the streaming and
  * batch answers agree bit-for-bit.
  */
object StreamingQueries {

  def all: Seq[Q] = Seq(

    // Tumbling 1h event-time counts computed BY A STREAM: watermarked
    // window aggregation in Complete mode (see StreamRun for why Append
    // would withhold the tail windows on a finite source).
    Q("q64_stream_tumbling", Q.sql("""
        SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS win_start,
          CAST(date_trunc('hour', ts) + INTERVAL 1 HOUR AS TIMESTAMP) AS win_end,
          event_type, count(*) AS n
        FROM events
        GROUP BY 1, 2, 3
        ORDER BY win_start, event_type"""))(
      (s, dir) => {
        val win = Streams.tumblingCounts(
          StreamRun.eventsStream(s, dir), "ts", "1 hour",
          watermark = "1 hour", keys = Seq(col("event_type")))
        StreamRun.runToTable("q64_sink", win, OutputMode.Complete())
          .orderBy("win_start", "event_type")
      }),

    // Streaming stateful deduplication (dropDuplicates keeps first
    // arrival per key in state; Append emits each key once). The
    // projection runs BEFORE the dedup so state holds only the key pair.
    Q("q65_stream_dedup", Q.sql("""
        SELECT DISTINCT user_id, event_type
        FROM events
        ORDER BY user_id, event_type"""))(
      (s, dir) => {
        val dd = StreamRun.eventsStream(s, dir)
          .select("user_id", "event_type")
          .dropDuplicates("user_id", "event_type")
        StreamRun.runToTable("q65_sink", dd, OutputMode.Append())
          .orderBy("user_id", "event_type")
      }),

    // Streaming session_window (30-min gap merge, per user) in APPEND
    // mode — the only mode session windows support — which emits a
    // session only once the watermark passes it: the source is staged
    // with a far-future sentinel event (StreamRun.eventsStreamFlushed)
    // so the closing watermark flushes every real session, the
    // end-of-stream marker pattern for replaying a finite log. The
    // oracle derives the same sessions with a lag-gap scan — all
    // arithmetic in exact integer MICROseconds (fixture timestamps are
    // µs-precision, checked: epoch_ns % 1000 = 0), session_end = last
    // event + gap, like session_window's window.end.
    Q("q74_stream_sessions", Q.sql("""
        WITH seq AS (
          SELECT user_id, ts, event_id,
            CASE WHEN lag(ts) OVER w IS NULL
                 OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                 THEN 1 ELSE 0 END AS is_new
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        sess AS (
          SELECT user_id, ts,
            sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
          FROM seq)
        SELECT make_timestamp(epoch_us(min(ts))) AS sess_start,
          make_timestamp(epoch_us(max(ts)) + 1800000000) AS sess_end,
          user_id, count(*) AS n_events
        FROM sess
        GROUP BY user_id, session_seq
        ORDER BY user_id, sess_start"""))(
      (s, dir) => {
        val sess = Streams.sessions(
          StreamRun.eventsStreamFlushed(s, dir), "ts", "30 minutes",
          keys = Seq(col("user_id")))
        StreamRun.runToTable("q74_sink", sess, OutputMode.Append())
          .where(col("user_id") =!= -1)
          .orderBy("user_id", "sess_start")
      }),

    // Stream-static enrichment: the event stream joins the (static,
    // broadcast) customer dimension per micro-batch — the canonical
    // streaming dimension join; no state, no watermark needed. Aggregated
    // in Complete mode and hash-checked against the batch join.
    Q("q75_stream_enrich", Q.sql("""
        SELECT event_type, c_mktsegment, count(*) AS n,
          CAST(sum(CAST(value AS DECIMAL(27,4))) AS DOUBLE) AS total_value
        FROM events JOIN customer ON user_id = c_custkey
        GROUP BY 1, 2
        ORDER BY event_type, c_mktsegment"""))(
      (s, dir) => {
        val dim = broadcast(Tables.load(s, dir, "customer")
          .select(col("c_custkey"), col("c_mktsegment")))
        val joined = StreamRun.eventsStream(s, dir)
          .join(dim, col("user_id") === col("c_custkey"))
          .groupBy("event_type", "c_mktsegment")
          .agg(count(lit(1)).as("n"), dsum(col("value"), 4).as("total_value"))
        StreamRun.runToTable("q75_sink", joined, OutputMode.Complete())
          .orderBy("event_type", "c_mktsegment")
      }),

    // STREAM-STATIC ANTI join: documents stream through a decontamination
    // filter that drops any row whose content fingerprint appears in the
    // static blocklist (here: every 50th doc standing in for an eval
    // set) — the online form of test-set decontamination. Stateless: the
    // blocklist broadcasts per micro-batch, nothing accumulates.
    Q("q265_stream_decontaminate", Q.sql("""
        SELECT d.doc_id, d.source
        FROM documents d
        LEFT JOIN (
          SELECT DISTINCT md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
          FROM documents WHERE doc_id % 50 = 0) b
          ON b.fp = md5(lower(regexp_replace(trim(d.text), '\s+', ' ', 'g')))
        WHERE b.fp IS NULL
        ORDER BY d.doc_id"""))(
      (s, dir) => {
        val fp = graft.text.TextAnalysis.fingerprint(col("text"))
        val block = broadcast(Tables.load(s, dir, "documents")
          .where(col("doc_id") % 50 === 0)
          .select(fp.as("fp")).distinct())
        val survivors = StreamRun.tableStream(s, dir, "documents")
          .select(col("doc_id"), col("source"), fp.as("fp"))
          .join(block, Seq("fp"), "left_anti")
          .select("doc_id", "source")
        StreamRun.runToTable("q265_sink", survivors, OutputMode.Append())
          .orderBy("doc_id")
      }),

    // STREAM-STREAM self range join: events within ±60s of each click,
    // via the same banded equi-join RangeJoin uses in batch (floor-bucket
    // the time axis, explode intervals to covered bands, equi-join on
    // band + exact residual) — the shape that makes a streaming interval
    // join a hash join on band keys instead of an unbounded cross
    // product. Inner join output emits as matches arrive (no watermark
    // holdback), so the finite replay is exactly the batch pair set.
    // Production adds an event-time interval condition for state GC; on
    // a bounded replay state is bounded by the input.
    Q("q76_stream_range_join", Q.sql("""
        SELECT c.event_id AS click_id, e.event_id AS event_id
        FROM (SELECT event_id, epoch_us(ts) // 1000000 AS sec
              FROM events WHERE event_type = 'click') c
        JOIN (SELECT event_id, epoch_us(ts) // 1000000 AS sec FROM events) e
          ON e.sec BETWEEN c.sec - 60 AND c.sec + 60
            AND e.event_id <> c.event_id
        ORDER BY click_id, event_id"""))(
      (s, dir) => {
        val src = StreamRun.eventsStream(s, dir)
        val pts = src.withWatermark("ts", "1 hour")
          .select(col("event_id"), unix_timestamp(col("ts")).as("sec"))
        val iv = src.withWatermark("ts", "1 hour")
          .where(col("event_type") === "click")
          .select(col("event_id").as("click_id"),
            (unix_timestamp(col("ts")) - 60).as("win_start"),
            (unix_timestamp(col("ts")) + 60).as("win_end"))
        val pairs = graft.ops.RangeJoin.pointInInterval(pts, iv,
            pointCol = "sec", startCol = "win_start", endCol = "win_end",
            bandWidth = 60)
          .where(col("event_id") =!= col("click_id"))
          .select(col("click_id"), col("event_id"))
        StreamRun.runToTable("q76_sink", pairs, OutputMode.Append())
          .orderBy("click_id", "event_id")
      }),

    // Streaming CDC materialized view: foreachBatch reduces each
    // micro-batch to its latest row per user (max_by on (ts, event_id))
    // and MERGE-upserts it into a versioned table — the
    // change-data-apply pattern that keeps a keyed serving table current
    // from an event stream. Correct because the file source processes
    // batches in order, so the last upsert per key is the stream's
    // latest (an out-of-order source would add a ts guard to the merge).
    // Final state = latest event per user, oracled via QUALIFY.
    Q("q79_stream_cdc_view", Q.sql("""
        SELECT user_id, event_id, event_type,
          make_timestamp(epoch_us(ts)) AS ts, value
        FROM events
        QUALIFY row_number() OVER (
          PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
        ORDER BY user_id"""))(
      (s, dir) => {
        import graft.versioned.VersionedTable
        val viewSchema = Seq("user_id", "event_id", "event_type", "ts", "value")
        val root = graft.io.Lake.scratch(s, "cdcview", dir)
        // seed with an empty keyed table so every micro-batch is an upsert;
        // ONE stream construction serves both the schema probe and the run
        val stream = StreamRun.eventsStream(s, dir).select(viewSchema.map(col): _*)
        val seed = s.createDataFrame(
          s.sparkContext.emptyRDD[org.apache.spark.sql.Row], stream.schema)
        val t = VersionedTable.create(s, root, seed)
        val q = stream.writeStream
          .outputMode("append")
          .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
            // foreachBatch runs on the driver: the table handle is shared
            val latest = batch.groupBy("user_id").agg(
              max_by(struct(batch.columns.map(col): _*),
                struct(col("ts"), col("event_id"))).as("r"))
              .select(col("user_id") +: viewSchema.tail.map(c => col(s"r.$c")): _*)
            t.upsert(latest, keys = Seq("user_id")): Unit
          }
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        t.toDF
          .select(viewSchema.map(col): _*)
          .orderBy("user_id")
      }),

    // Streaming SLIDING windows (2h size / 1h slide, per event type) in
    // Complete mode — each event feeds two overlapping window states;
    // with q64 (tumbling), q74 (session_window) and q106 (custom state)
    // this completes the event-time window-type matrix under the oracle
    // gate. Oracle expands the two covering windows per event with
    // integer µs arithmetic (q24's pattern).
    Q("q168_stream_sliding", Q.sql("""
        SELECT make_timestamp((epoch_us(ts) // 3600000000 - j) * 3600000000) AS win_start,
          make_timestamp(((epoch_us(ts) // 3600000000 - j) + 2) * 3600000000) AS win_end,
          event_type, count(*) AS n
        FROM events, (SELECT unnest([0, 1]) AS j) shifts
        GROUP BY 1, 2, 3
        ORDER BY win_start, event_type"""))(
      (s, dir) => {
        val win = Streams.slidingCounts(
          StreamRun.eventsStream(s, dir), "ts", "2 hours", "1 hour",
          watermark = "1 hour", keys = Seq(col("event_type")))
        StreamRun.runToTable("q168_sink", win, OutputMode.Complete())
          .orderBy("win_start", "event_type")
      }),

    // STREAMING quantile profile: the per-type DDSketch bucket counts
    // are maintained AS the streaming aggregation state (Complete mode
    // groupBy on the deterministic bucket expression — the engine's own
    // partial-agg merge IS the DDSketch merge, per micro-batch), then
    // the standing sketch table is walked for quantiles. The live form
    // of q287/q288: a latency/price profile that stays current as
    // events arrive, with O(types × bins) state regardless of stream
    // length. The oracle is the identical one-pass batch walk.
    Q("q292_stream_quantiles", {
      val g = 1.02
      Q.sql(s"""
        WITH v AS (
          SELECT event_type, value AS v FROM events WHERE value > 0),
        b AS (
          SELECT event_type, ${graft.sketch.Quantiles.bucketSql("v", g)} AS bucket,
            count(*) AS cnt
          FROM v GROUP BY 1, 2),
        n AS (SELECT event_type, CAST(sum(cnt) AS BIGINT) AS n FROM b GROUP BY 1),
        qq AS (SELECT CAST(unnest([0.5, 0.95, 0.99]) AS DOUBLE) AS q),
        r AS (
          SELECT n.event_type, q, n,
            greatest(CAST(1 AS BIGINT), CAST(ceil(q * n) AS BIGINT)) AS rk
          FROM n, qq),
        c AS (
          SELECT event_type, bucket,
            sum(cnt) OVER (PARTITION BY event_type ORDER BY bucket) AS cum
          FROM b),
        sel AS (
          SELECT r.event_type, r.q, r.n, min(c.bucket) AS bi
          FROM r JOIN c ON c.event_type = r.event_type AND c.cum >= r.rk
          GROUP BY 1, 2, 3)
        SELECT event_type, q, n,
          round(${graft.sketch.Quantiles.estimateSql("bi", g)}, 6) AS est
        FROM sel ORDER BY event_type, q""")
    })(
      (s, dir) => {
        import graft.sketch.Quantiles
        val g = 1.02
        val counts = StreamRun.eventsStream(s, dir)
          .where(col("value") > 0)
          .select(col("event_type"),
            Quantiles.bucketCol(col("value").cast("double"), g).as("bucket"))
          .groupBy("event_type", "bucket")
          .agg(count(lit(1)).as("cnt"))
        val raw =
          StreamRun.runToTable("q292_sink", counts, OutputMode.Complete())
        // the memory-sink view exposes ONE fixed attribute set, and the
        // quantile walk joins two derivations of it (rank frame ⋈
        // cumulative frame) — rebuild the tiny sketch table with fresh
        // attribute ids so the self-join resolves
        val sketchTable = s.createDataFrame(raw.rdd, raw.schema)
        Quantiles.quantilesFromCounts(sketchTable, Seq("event_type"),
            Seq(0.5, 0.95, 0.99), g)
          .orderBy("event_type", "q")
      }),

    // Streaming LAKEHOUSE ingest — the reference's nightly
    // `lakehouse_data_igestion.py` append, live: the event stream lands
    // in the versioned table through foreachBatch, each micro-batch ONE
    // atomic APPEND commit (exactly the optimistic-concurrency commit
    // path two jobs can share), and the query reads the committed table
    // back. A crashed batch leaves unreferenced files, never a torn
    // table; restart replays from the source offset log. The oracle is
    // the batch aggregate over the same events — hash equality proves
    // the stream→commit→read loop loses and duplicates nothing.
    Q("q297_stream_lakehouse", Q.sql("""
        SELECT event_type, CAST(count(*) AS BIGINT) AS n,
          CAST(sum(CAST(value AS DECIMAL(27,8))) AS DOUBLE) AS total_value
        FROM events
        GROUP BY 1 ORDER BY 1"""))(
      (s, dir) => {
        import org.apache.spark.sql.{Dataset, Row}
        import org.apache.spark.sql.streaming.Trigger
        import graft.versioned.VersionedTable
        val root = graft.io.Lake.scratch(s, "stream-lake", dir)
        val src = StreamRun.eventsStream(s, dir)
          .select("event_id", "event_type", "value")
        val q = src.writeStream
          .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
            if (batchId == 0L) { VersionedTable.create(s, root, batch.toDF); () }
            else { VersionedTable.open(s, root).append(batch.toDF); () }
          }
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        VersionedTable.open(s, root).toDF
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"), dsum(col("value"), 8).as("total_value"))
          .orderBy("event_type")
      }),

    // dropDuplicatesWithinWatermark — the BOUNDED-state upgrade of q65's
    // dropDuplicates: plain streaming dedup keeps every key in state
    // forever (unbounded growth on an endless stream); the
    // within-watermark form evicts a key once the watermark passes its
    // event time + delay, the at-least-once-source dedup pattern (file
    // redelivery, Kafka replays) whose state is bounded by the delay
    // window. Exercised for real: the source is the event log UNIONED
    // with a second read of itself — every event arrives exactly twice —
    // and the streaming result must collapse back to the original log
    // bit-for-bit (the batch oracle reads it once).
    Q("q335_stream_dedup_watermark", Q.sql("""
        SELECT event_id, user_id, event_type
        FROM events ORDER BY event_id"""))(
      (s, dir) => {
        val cols = Seq("event_id", "ts", "user_id", "event_type")
        val once = StreamRun.eventsStream(s, dir).select(cols.map(col): _*)
        val twice = once.unionByName(
          StreamRun.eventsStream(s, dir).select(cols.map(col): _*))
        val dd = twice
          .withWatermark("ts", "1 hour")
          .dropDuplicatesWithinWatermark("event_id")
        StreamRun.runToTable("q335_sink", dd, OutputMode.Append())
          .select("event_id", "user_id", "event_type")
          .orderBy("event_id")
      })
  )
}
