package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.{load => T}
import graft.ops.{Events, Relational}
import graft.ops.Relational._

/** Event-time queries over the `events` fixture (SURVEY §2.10): tumbling and
  * sliding windows via the batch `window()` function, plus gaps-and-islands
  * sessionization.
  *
  * Oracle-parity notes: the parquet `ts` column is nanosecond-precision;
  * Spark reads it at µs, DuckDB at ns — so raw `ts` values are never
  * emitted, only truncated or second-floored derivations, which agree on
  * both engines. Tumbling/sliding window starts are epoch-aligned integer
  * arithmetic in µs on both sides.
  */
object EventQueries {

  def all: Seq[Q] = Seq(

    // Tumbling 1h windows: window() start == date_trunc('hour') for
    // epoch-aligned sizes.
    Q("q23_events_tumbling", Q.sql("""
        SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS ws, event_type,
          count(*) AS n,
          CAST(sum(CAST(value AS DECIMAL(27,4))) AS DOUBLE) AS total_value
        FROM events
        GROUP BY 1, 2
        ORDER BY ws, event_type"""))(
      (s, dir) =>
        Events.tumbling(T(s, dir, "events"), "1 hour",
          keys = Seq(col("event_type")),
          aggs = Seq(count(lit(1)).as("n"),
            dsum(col("value")).as("total_value")))
          .select("ws", "event_type", "n", "total_value")
          .orderBy("ws", "event_type")),

    // Sliding 1h windows every 30min: each event lands in 2 windows.
    // Oracle expands via integer µs arithmetic: ws = (floor(us/30m) - j)*30m.
    Q("q24_events_sliding", Q.sql("""
        SELECT make_timestamp((epoch_us(ts) // 1800000000 - j) * 1800000000) AS ws,
          count(*) AS n,
          CAST(sum(CAST(value AS DECIMAL(27,4))) AS DOUBLE) AS total_value
        FROM events, (SELECT unnest([0, 1]) AS j) shifts
        GROUP BY 1
        ORDER BY ws"""))(
      (s, dir) =>
        Events.sliding(T(s, dir, "events"), "1 hour", "30 minutes",
          keys = Seq.empty,
          aggs = Seq(count(lit(1)).as("n"),
            dsum(col("value")).as("total_value")))
          .select("ws", "n", "total_value")
          .orderBy("ws")),

    // Gaps-and-islands sessionization (30-minute inactivity gap), then
    // per-session rollup. Gap math on floor-to-second timestamps on both
    // engines.
    Q("q25_sessionize", Q.sql("""
        WITH seq AS (
          SELECT user_id, event_id, value, ts,
            CASE WHEN lag(ts) OVER w IS NULL
                 OR epoch_us(ts) // 1000000 - epoch_us(lag(ts) OVER w) // 1000000 > 1800
                 THEN 1 ELSE 0 END AS is_new
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        sess AS (
          SELECT user_id, event_id, value, ts,
            CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
          FROM seq)
        SELECT user_id, session_seq,
          count(*) AS n_events,
          CAST(min(date_trunc('second', ts)) AS TIMESTAMP) AS session_start,
          CAST(sum(CAST(value AS DECIMAL(27,4))) AS DOUBLE) AS session_value
        FROM sess
        GROUP BY user_id, session_seq
        ORDER BY user_id, session_seq"""))(
      (s, dir) =>
        Events.sessionize(T(s, dir, "events"), gapSeconds = 1800)
          .groupBy("user_id", "session_seq")
          .agg(
            count(lit(1)).as("n_events"),
            min(date_trunc("second", col("ts"))).as("session_start"),
            dsum(col("value")).as("session_value"))
          .orderBy("user_id", "session_seq"))
  ,

    // As-of join (point-in-time enrichment): each click gets the latest
    // preceding view's value per user. Oracle uses DuckDB's NATIVE
    // ASOF JOIN — semantic parity with an industry implementation.
    // Times are second-floored on both engines (parquet ns vs Spark µs);
    // the view side is pre-deduped to one row per (user, second) so the
    // as-of pick is deterministic.
    Q("q46_asof_enrich", Q.sql("""
        WITH c AS (
          SELECT user_id, event_id, date_trunc('second', ts) AS t, value AS click_value
          FROM events WHERE event_type = 'click'),
        v AS (
          SELECT user_id, date_trunc('second', ts) AS t, max(value) AS view_value
          FROM events WHERE event_type = 'view' GROUP BY 1, 2)
        SELECT c.user_id, c.event_id,
          CAST(c.t AS TIMESTAMP) AS click_sec, c.click_value, v.view_value
        FROM c ASOF LEFT JOIN v ON c.user_id = v.user_id AND v.t <= c.t
        ORDER BY c.user_id, c.event_id"""))(
      (s, dir) => {
        val e = T(s, dir, "events")
        val clicks = e.where(col("event_type") === "click")
          .select(col("user_id"), col("event_id"),
            date_trunc("second", col("ts")).as("t"),
            col("value").as("click_value"))
        val views = e.where(col("event_type") === "view")
          .groupBy(col("user_id"), date_trunc("second", col("ts")).as("t"))
          .agg(max(col("value")).as("view_value"))
        graft.ops.AsOfJoin.asOf(clicks, views, Seq("user_id"), "t", "t",
            payload = Seq("view_value"))
          .select(col("user_id"), col("event_id"), col("t").as("click_sec"),
            col("click_value"), col("view_value"))
          .orderBy("user_id", "event_id")
      }),

    // Banded range join: for each click, how many OTHER events (any user)
    // happened within ±60 s. The oracle is the naive theta join; the
    // Spark side is the banded equi-join (no nested-loop O(n·m)).
    // Times floor to epoch seconds on both engines.
    Q("q53_range_join", Q.sql("""
        SELECT c.event_id, count(*) AS n_neighbors
        FROM (SELECT event_id, epoch_us(ts) // 1000000 AS sec
              FROM events WHERE event_type = 'click') c
        JOIN (SELECT event_id, epoch_us(ts) // 1000000 AS sec FROM events) e
          ON e.sec BETWEEN c.sec - 60 AND c.sec + 60
            AND e.event_id <> c.event_id
        GROUP BY c.event_id
        ORDER BY c.event_id"""))(
      (s, dir) => {
        val ev = T(s, dir, "events")
          .select(col("event_id"), unix_timestamp(col("ts")).as("sec"))
        val clicks = T(s, dir, "events")
          .where(col("event_type") === "click")
          .select(col("event_id").as("click_id"),
            (unix_timestamp(col("ts")) - 60).as("win_start"),
            (unix_timestamp(col("ts")) + 60).as("win_end"))
        graft.ops.RangeJoin.pointInInterval(ev, clicks,
            pointCol = "sec", startCol = "win_start", endCol = "win_end",
            bandWidth = 60)
          .where(col("event_id") =!= col("click_id"))
          .groupBy(col("click_id").as("event_id"))
          .agg(count(lit(1)).as("n_neighbors"))
          .orderBy("event_id")
      }),

    // Semi-structured extraction: parse the JSON props column with an
    // explicit schema (from_json — one typed parse, codegen'd; never a
    // per-field string UDF) and aggregate the extracted value. Integer
    // sums, so no decimal routing needed.
    Q("q72_json_extract", Q.sql("""
        SELECT event_type, count(*) AS n,
          CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
          max(CAST(json_extract(props, '$.k') AS BIGINT)) AS max_k
        FROM events
        GROUP BY 1
        ORDER BY event_type"""))(
      (s, dir) => {
        val k = from_json(col("props"),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("k",
              org.apache.spark.sql.types.LongType)))).getField("k")
        T(s, dir, "events")
          .select(col("event_type"), k.as("k"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
            max(col("k")).as("max_k"))
          .orderBy("event_type")
      })
  )
}
