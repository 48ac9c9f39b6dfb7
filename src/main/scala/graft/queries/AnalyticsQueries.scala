package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables.{load => T}
import graft.io.Bucketed
import graft.ops.Percentiles
import graft.ops.Relational.dsum

/** Round-5 analytics operators: exact distributed percentiles, embedding
  * label centroids, per-source corpus profiling, calendar gap-fill,
  * ordered funnel analysis, co-bucketed shuffle-free joins, and rank
  * distributions — each oracle-checked bit-for-bit.
  */
object AnalyticsQueries {

  def all: Seq[Q] = Seq(

    // Per-label embedding centroid, one row per (label, dimension) —
    // the training primitive behind IVF/k-means init and per-class drift
    // monitoring. Decimal-routed sums (order-independent), double
    // division by count — identical on both engines.
    // Scale: posexplode fans 64x, then ONE partial+final hash agg on
    // (label, pos) — ~#labels*64 result rows, no sort, no driver data.
    Q("q81_label_centroids", Q.sql("""
        SELECT label, pos - 1 AS pos,
          CAST(sum(CAST(CAST(embedding[pos] AS DOUBLE) AS DECIMAL(27,8))) AS DOUBLE)
            / count(*) AS centroid
        FROM embeddings,
          LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS pos) t
        GROUP BY 1, 2
        ORDER BY 1, 2"""))(
      (s, dir) =>
        T(s, dir, "embeddings")
          .select(col("label"), posexplode(col("embedding")))
          .groupBy("label", "pos")
          .agg((dsum(col("col").cast("double"), 8) / count(lit(1))).as("centroid"))
          .orderBy("label", "pos")),

    // Exact per-group percentiles (p50/p90/p99 of event value by type).
    // Built-in percentile()/quantile_cont() interpolate with different
    // fp expression shapes per engine; Percentiles.exact writes the same
    // `lo + (hi - lo) * f` on both sides -> bit-exact.
    Q("q82_event_percentiles", Q.sql(
      Percentiles.oracleSql("events", Seq("event_type"), "value",
        Seq("p50" -> 0.5, "p90" -> 0.9, "p99" -> 0.99)) +
        " ORDER BY event_type"))(
      (s, dir) =>
        Percentiles.exact(T(s, dir, "events"), Seq("event_type"), col("value"),
            Seq("p50" -> 0.5, "p90" -> 0.9, "p99" -> 0.99))
          .orderBy("event_type")),

    // Per-source corpus profile: doc count, sorted distinct language
    // roster (grouped ordered concatenation), english share, mean doc
    // length. The langs column is collect_set -> array_sort -> array_join
    // (deterministic regardless of aggregation order).
    Q("q83_source_profile", Q.sql("""
        SELECT source, count(*) AS n_docs,
          coalesce(string_agg(DISTINCT lang, ',' ORDER BY lang), '') AS langs,
          CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en,
          CAST(CAST(sum(n_chars) AS BIGINT) AS DOUBLE) / count(*) AS avg_chars
        FROM documents
        GROUP BY 1
        ORDER BY source"""))(
      (s, dir) =>
        T(s, dir, "documents")
          .groupBy("source")
          .agg(
            count(lit(1)).as("n_docs"),
            array_join(array_sort(collect_set(col("lang"))), ",").as("langs"),
            sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_en"),
            (sum(col("n_chars")).cast("double") / count(lit(1))).as("avg_chars"))
          .orderBy("source")),

    // Calendar gap-fill (densified time series): generate the full day
    // spine from the event range and left-join sparse daily counts
    // (high-value purchases), zero-filling missing days — the "no silent
    // holes in the training-data feed" report.
    // Scale: bounds is a 2-value agg, the spine explodes distributed,
    // and the counts side aggregates BEFORE the join, so the join is
    // tiny-x-tiny regardless of event volume.
    Q("q85_date_spine", Q.sql("""
        WITH d AS (SELECT CAST(ts AS DATE) AS day, event_type, value FROM events),
        bounds AS (SELECT min(day) AS lo, max(day) AS hi FROM d),
        spine AS (
          SELECT CAST(unnest(generate_series(
            CAST(lo AS TIMESTAMP), CAST(hi AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day
          FROM bounds),
        counts AS (
          SELECT day, count(*) AS n FROM d
          WHERE event_type = 'purchase' AND value >= 240
          GROUP BY 1)
        SELECT strftime(s.day, '%Y-%m-%d') AS day, coalesce(n, 0) AS n
        FROM spine s LEFT JOIN counts c ON c.day = s.day
        ORDER BY 1"""))(
      (s, dir) => {
        val d = T(s, dir, "events")
          .select(to_date(col("ts")).as("day"), col("event_type"), col("value"))
        val spine = d.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
          .select(explode(sequence(col("lo"), col("hi"),
            expr("interval 1 day"))).as("day"))
        val counts = d
          .where(col("event_type") === "purchase" && col("value") >= 240)
          .groupBy("day").agg(count(lit(1)).as("n"))
        spine.join(counts, Seq("day"), "left")
          .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
            coalesce(col("n"), lit(0L)).as("n"))
          .orderBy("day")
      }),

    // Ordered funnel: users whose FIRST view precedes their first click
    // precedes their first purchase. Two aggregations (per-user min
    // timestamps, then global stage counts) — never a self-join per
    // stage, so event volume only ever flows through one shuffle.
    Q("q86_funnel", Q.sql("""
        WITH u AS (
          SELECT user_id,
            min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
            min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
            min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_buy
          FROM events GROUP BY 1)
        SELECT count(*) AS n_users,
          CAST(sum(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
          CAST(sum(CASE WHEN t_view < t_click THEN 1 ELSE 0 END) AS BIGINT) AS n_view_click,
          CAST(sum(CASE WHEN t_view < t_click AND t_click < t_buy
            THEN 1 ELSE 0 END) AS BIGINT) AS n_funnel
        FROM u"""))(
      (s, dir) =>
        T(s, dir, "events")
          .groupBy("user_id")
          .agg(
            min(when(col("event_type") === "view", col("ts"))).as("t_view"),
            min(when(col("event_type") === "click", col("ts"))).as("t_click"),
            min(when(col("event_type") === "purchase", col("ts"))).as("t_buy"))
          .agg(
            count(lit(1)).as("n_users"),
            sum(when(col("t_view").isNotNull, 1L).otherwise(0L)).as("n_view"),
            sum(when(col("t_view") < col("t_click"), 1L).otherwise(0L))
              .as("n_view_click"),
            sum(when(col("t_view") < col("t_click") &&
              col("t_click") < col("t_buy"), 1L).otherwise(0L)).as("n_funnel"))),

    // Co-bucketed join: orders and lineitem staged bucketed+sorted on the
    // order key ([[graft.io.Bucketed]]), then joined WITHOUT a shuffle —
    // the plan has no Exchange below the join (asserted in BucketedSpec).
    // The 100 TB pattern for repeated fact-fact joins: pay the shuffle
    // once at write time, never at query time.
    Q("q87_bucketed_join", Q.sql("""
        SELECT o_orderpriority, count(*) AS n,
          CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(27,8))) AS DOUBLE)
            AS revenue
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        GROUP BY 1
        ORDER BY o_orderpriority"""))(
      (s, dir) => {
        val (ot, lt) = Bucketed.ordersLineitem(s, dir)
        s.table(ot).join(s.table(lt), col("o_orderkey") === col("l_orderkey"))
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"),
            dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 8)
              .as("revenue"))
          .orderBy("o_orderpriority")
      }),

    // Rank distributions: percent_rank / cume_dist per segment over the
    // customer balance (the relative-position features a ranking or
    // stratification stage derives). Both are exact integer-ratio doubles
    // ((rank-1)/(n-1), rows<=x / n) — engine-portable without rounding.
    Q("q88_rank_distribution", Q.sql("""
        SELECT c_mktsegment, c_custkey,
          percent_rank() OVER w AS pr, cume_dist() OVER w AS cd
        FROM customer
        WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
        ORDER BY c_mktsegment, c_custkey"""))(
      (s, dir) => {
        val w = Window.partitionBy(col("c_mktsegment"))
          .orderBy(col("c_acctbal"), col("c_custkey"))
        T(s, dir, "customer")
          .select(col("c_mktsegment"), col("c_custkey"),
            percent_rank().over(w).as("pr"), cume_dist().over(w).as("cd"))
          .orderBy("c_mktsegment", "c_custkey")
      }),

    // Record-breaking orders: orders whose total matches the running
    // maximum over the (orderdate, orderkey) timeline — the "new
    // all-time high" report. The global running max is
    // Prefix.runningMax's three-phase distributed form (range partition
    // → parallel local maxima → P-row offset prefix); no value
    // arithmetic, so the comparison is engine-exact by construction.
    Q("q257_record_orders", Q.sql("""
        WITH o AS (
          SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d, o_totalprice,
            max(o_totalprice) OVER (
              ORDER BY o_orderdate, o_orderkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS runmax
          FROM orders)
        SELECT o_orderkey, d, o_totalprice
        FROM o WHERE o_totalprice = runmax
        ORDER BY d, o_orderkey"""))(
      (s, dir) =>
        graft.ops.Prefix.runningMax(
            T(s, dir, "orders").select(col("o_orderkey"),
              col("o_orderdate"), col("o_totalprice")),
            orderCols = Seq(col("o_orderdate"), col("o_orderkey")),
            valueCol = col("o_totalprice"), out = "runmax")
          .where(col("o_totalprice") === col("runmax"))
          .select(col("o_orderkey"), to_date(col("o_orderdate")).as("d"),
            col("o_totalprice"))
          .orderBy("d", "o_orderkey")),

    // Weighted median price per return flag, weighted by quantity —
    // "half the shipped QUANTITY is cheaper than this", the
    // volume-weighted cut the unweighted median (q237) can't answer.
    // Cumulative weights ride the stratified distributed prefix; the
    // crossing row is one min(struct) argmin (see
    // Percentiles.weightedMedian).
    Q("q278_weighted_median", Q.sql("""
        WITH li AS (
          SELECT l_returnflag, CAST(l_extendedprice AS DOUBLE) AS v,
            CAST(l_quantity AS BIGINT) AS w, l_orderkey, l_linenumber
          FROM lineitem),
        c AS (
          SELECT l_returnflag, v, w,
            CAST(sum(w) OVER (PARTITION BY l_returnflag
              ORDER BY v, l_orderkey, l_linenumber
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
              AS cw
          FROM li),
        t AS (
          SELECT l_returnflag, CAST(sum(w) AS BIGINT) AS total_w
          FROM li GROUP BY 1),
        qual AS (
          SELECT c.l_returnflag, total_w, v, cw
          FROM c JOIN t USING (l_returnflag)
          WHERE cw * 2 >= total_w),
        m AS (SELECT l_returnflag, min(cw) AS mcw FROM qual GROUP BY 1)
        SELECT qual.l_returnflag AS l_returnflag, total_w, v AS wmedian
        FROM qual JOIN m ON qual.l_returnflag = m.l_returnflag
          AND qual.cw = m.mcw
        ORDER BY l_returnflag"""))(
      (s, dir) =>
        Percentiles.weightedMedian(T(s, dir, "lineitem"),
            keys = Seq("l_returnflag"), valueCol = col("l_extendedprice"),
            weightCol = col("l_quantity"),
            tieCols = Seq(col("l_orderkey"), col("l_linenumber")))
          .orderBy("l_returnflag"))
  )
}
