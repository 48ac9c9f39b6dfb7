package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.Tables.{load => T}
import graft.functions.{Hashing, PortableSql}
import graft.ops.{Percentiles, Skyline}
import graft.streaming.StreamRun
import graft.text.Dsir

/** Round-5 batch 4: data-selection & frontier operators — DSIR
  * importance weights, Pareto skyline, event-path mining, hash-sampled
  * quantiles, stream-stream LEFT OUTER join, and group-aware splitting —
  * each oracle-checked bit-for-bit against DuckDB.
  */
object SelectionQueries {

  private val SampleMod = 100
  private val SampleKeep = 25
  private val TrainPct = 80

  def all: Seq[Q] = Seq(

    // DSIR importance weights: hashed-bigram log-likelihood ratio of
    // each document against the English-target distribution — the
    // importance-resampling scorer for domain-targeted training data
    // (model is bucket-bounded; corpus never shuffles on content — see
    // text.Dsir).
    Q("q135_dsir_weights", Q.sql(s"""
        WITH w AS (
          SELECT doc_id AS id, lang = 'en' AS tgt,
            string_split(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')), ' ') AS ws
          FROM documents),
        ${Dsir.oracleSql()}
        SELECT id AS doc_id, n_feats, logratio
        FROM dsir ORDER BY 1"""))(
      (s, dir) =>
        Dsir.score(T(s, dir, "documents"), col("doc_id"), col("text"),
            col("lang") === "en")
          .select(col("id").as("doc_id"), col("n_feats"), col("logratio"))
          .orderBy("doc_id")),

    // 2-D skyline: parts on the (min price, max size) Pareto frontier.
    // Distinct-value collapse + running max + value join-back — the
    // window never sees input-sized data (see ops.Skyline).
    Q("q136_skyline", Q.sql("""
        WITH pm AS (
          SELECT p_retailprice AS mn, max(p_size) AS gmax
          FROM part GROUP BY 1),
        rm AS (
          SELECT mn, gmax, max(gmax) OVER (
            ORDER BY mn ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS run
          FROM pm),
        fr AS (SELECT mn, gmax FROM rm WHERE run IS NULL OR gmax > run)
        SELECT p_partkey, p_name, p_retailprice, p_size
        FROM part JOIN fr ON p_retailprice = fr.mn AND p_size = fr.gmax
        ORDER BY p_partkey"""))(
      (s, dir) =>
        Skyline.pareto(T(s, dir, "part"), col("p_retailprice"), col("p_size"))
          .select("p_partkey", "p_name", "p_retailprice", "p_size")
          .orderBy("p_partkey")),

    // Event-path mining: the 25 most common 3-step event-type paths
    // across user sequences (two leads + one hash aggregation — path
    // cardinality is |types|³-bounded, never row-bounded).
    Q("q137_event_paths", Q.sql("""
        WITH seq AS (
          SELECT event_type AS e1,
            lead(event_type, 1) OVER w AS e2,
            lead(event_type, 2) OVER w AS e3
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        p AS (
          SELECT e1 || '>' || e2 || '>' || e3 AS path, count(*) AS n
          FROM seq WHERE e3 IS NOT NULL GROUP BY 1)
        SELECT path, n FROM p ORDER BY n DESC, path LIMIT 25"""))(
      (s, dir) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        T(s, dir, "events")
          .select(col("event_type").as("e1"),
            lead(col("event_type"), 1).over(w).as("e2"),
            lead(col("event_type"), 2).over(w).as("e3"))
          .where(col("e3").isNotNull)
          .select(concat_ws(">", col("e1"), col("e2"), col("e3")).as("path"))
          .groupBy("path").agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("path"))
          .limit(25)
      }),

    // Mergeable approximate quantiles via deterministic hash sampling:
    // exact percentile interpolation over a 25% md5-keyed row sample —
    // the sample predicate is reproducible on any engine and any
    // partitioning (no RNG state), and sampling commutes with union so
    // per-shard samples merge exactly.
    Q("q138_sampled_quantiles", Q.sql(s"""
        WITH s AS (
          SELECT l_returnflag, l_extendedprice FROM lineitem
          WHERE ${PortableSql.hexToLong(
            "md5(CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR))", 12)}
            % $SampleMod < $SampleKeep),
        ${Percentiles.oracleCtes("pct", "s", Seq("l_returnflag"),
          "l_extendedprice", Seq("p50" -> 0.5, "p90" -> 0.9, "p99" -> 0.99))}
        SELECT l_returnflag, p50, p90, p99 FROM pct ORDER BY 1"""))(
      (s, dir) => {
        val sample = T(s, dir, "lineitem").where(
          pmod(Hashing.hash48(concat(col("l_orderkey").cast("string"),
            lit("-"), col("l_linenumber").cast("string"))),
            lit(SampleMod.toLong)) < SampleKeep)
        Percentiles.exact(sample, Seq("l_returnflag"), col("l_extendedprice"),
            Seq("p50" -> 0.5, "p90" -> 0.9, "p99" -> 0.99))
          .orderBy("l_returnflag")
      }),

    // Stream-stream LEFT OUTER join with watermark state expiry: every
    // click paired with same-user purchases in the following 10 minutes;
    // clicks with none emit a NULL match once the watermark passes their
    // eligibility window (state is GC'd by the event-time bound — the
    // production shape for unbounded attribution). The far-future
    // sentinel closes the final windows on the bounded replay.
    Q("q139_stream_left_join", Q.sql("""
        SELECT c.event_id AS click_id, c.user_id AS user_id,
          p.event_id AS purchase_id
        FROM (SELECT event_id, user_id, epoch_us(ts) AS us FROM events
              WHERE event_type = 'click') c
        LEFT JOIN (SELECT event_id, user_id, epoch_us(ts) AS us FROM events
              WHERE event_type = 'purchase') p
          ON c.user_id = p.user_id
            AND p.us >= c.us AND p.us <= c.us + 600000000
        ORDER BY click_id, purchase_id NULLS FIRST"""))(
      (s, dir) => {
        // The sentinel must PASS both filters: Catalyst pushes the
        // predicate below the watermark node, so a filter that drops the
        // sentinel row would also stop it advancing the watermark and
        // the tail clicks' NULL matches would never flush. It joins only
        // itself (user -1) and is dropped at the sink.
        val clicks = StreamRun.eventsStreamFlushed(s, dir)
          .withWatermark("ts", "1 hour")
          .where(col("event_type").isin("click", "sentinel"))
          .select(col("event_id").as("click_id"),
            col("user_id").as("cu"), col("ts").as("cts"))
        val purchases = StreamRun.eventsStreamFlushed(s, dir)
          .withWatermark("ts", "1 hour")
          .where(col("event_type").isin("purchase", "sentinel"))
          .select(col("event_id").as("purchase_id"),
            col("user_id").as("pu"), col("ts").as("pts"))
        val joined = clicks.join(purchases,
          col("cu") === col("pu") &&
            col("pts") >= col("cts") &&
            col("pts") <= col("cts") + expr("INTERVAL 10 MINUTES"),
          "left_outer")
        val out = joined.select(col("click_id"), col("cu").as("user_id"),
          col("purchase_id"))
        StreamRun.runToTable("q139_sink", out, OutputMode.Append())
          .where(col("user_id") =!= -1)
          .orderBy(col("click_id"), col("purchase_id").asc_nulls_first)
      }),

    // Group-aware train/val split: the whole SOURCE lands in one split
    // (hashed on the group key, not the row key as q56 does) — the
    // leakage-safe split when near-duplicate documents cluster within a
    // source.
    Q("q140_group_split", Q.sql(s"""
        SELECT doc_id, source,
          CASE WHEN ${PortableSql.hexToLong("md5(source)", 12)} % 100 < $TrainPct
            THEN 'train' ELSE 'val' END AS split
        FROM documents ORDER BY doc_id"""))(
      (s, dir) =>
        T(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            when(pmod(Hashing.hash48(col("source")), lit(100L)) < TrainPct,
              "train").otherwise("val").as("split"))
          .orderBy("doc_id"))
  )
}
