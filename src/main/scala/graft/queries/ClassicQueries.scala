package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables.{load => T}
import graft.ops.Percentiles
import graft.ops.Relational.{davg, dsum}

/** Round-5 batch 8: classic OLAP benchmark shapes (TPC-H Q3/Q10 over
  * the driver fixtures), CUSUM changepoint detection, k-core graph
  * decomposition, and funnel conversion timing — each oracle-checked
  * bit-for-bit against DuckDB.
  */
object ClassicQueries {

  private val KCoreK = 3
  private val KCoreRounds = 8

  /** Fixed peeling rounds as chained CTEs: deg_i → keep_i → e_i.
    * MATERIALIZED is load-bearing: each round references its
    * predecessor three times, so inlined CTEs re-evaluate the base scan
    * 3^rounds times (observed as "too many open files" at 8 rounds) —
    * the SQL mirror of why the Spark side `materialize`s each round.
    */
  private def kcoreCtes(rounds: Int, k: Int): String =
    (1 to rounds).map { i =>
      s"""deg$i AS MATERIALIZED (
           SELECT v, count(*) AS c FROM (
             SELECT a AS v FROM e${i - 1} UNION ALL SELECT b FROM e${i - 1}) u
           GROUP BY 1),
         keep$i AS MATERIALIZED (SELECT v FROM deg$i WHERE c >= $k),
         e$i AS MATERIALIZED (
           SELECT a, b FROM e${i - 1}
           WHERE a IN (SELECT v FROM keep$i) AND b IN (SELECT v FROM keep$i))"""
    }.mkString(",\n")

  def all: Seq[Q] = Seq(

    // TPC-H Q3 (shipping priority): top unshipped-revenue orders for one
    // segment at a cutoff date. Denormalizing broadcast joins on the dim
    // side, one hash aggregation, TakeOrderedAndProject for the top-10
    // (no global sort materialization).
    Q("q154_tpch_q3", Q.sql("""
        SELECT l_orderkey,
          CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(27,8))) AS DOUBLE) AS revenue,
          CAST(o_orderdate AS DATE) AS o_date, o_orderpriority
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND CAST(o_orderdate AS DATE) < DATE '1998-06-01'
          AND CAST(l_shipdate AS DATE) > DATE '1998-06-01'
        GROUP BY 1, 3, 4
        ORDER BY revenue DESC, l_orderkey LIMIT 10"""))(
      (s, dir) =>
        T(s, dir, "lineitem")
          .where(to_date(col("l_shipdate")) > lit("1998-06-01"))
          .join(T(s, dir, "orders")
            .where(to_date(col("o_orderdate")) < lit("1998-06-01")),
            col("l_orderkey") === col("o_orderkey"))
          .join(T(s, dir, "customer")
            .where(col("c_mktsegment") === "BUILDING"),
            col("o_custkey") === col("c_custkey"))
          .groupBy(col("l_orderkey"),
            to_date(col("o_orderdate")).as("o_date"), col("o_orderpriority"))
          .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 8)
            .as("revenue"))
          .select("l_orderkey", "revenue", "o_date", "o_orderpriority")
          .orderBy(col("revenue").desc, col("l_orderkey"))
          .limit(10)),

    // TPC-H Q10 (returned-item reporting): customers ranked by revenue
    // lost to returns in a half-year window — fact filtered first, dims
    // broadcast, one aggregation, top-20.
    Q("q155_tpch_q10", Q.sql("""
        SELECT c_custkey, c_name,
          CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(27,8))) AS DOUBLE) AS revenue,
          c_acctbal, n_name
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        WHERE l_returnflag = 'R'
          AND CAST(o_orderdate AS DATE) >= DATE '1997-01-01'
          AND CAST(o_orderdate AS DATE) < DATE '1997-07-01'
        GROUP BY 1, 2, 4, 5
        ORDER BY revenue DESC, c_custkey LIMIT 20"""))(
      (s, dir) =>
        T(s, dir, "lineitem").where(col("l_returnflag") === "R")
          .join(T(s, dir, "orders")
            .where(to_date(col("o_orderdate")) >= lit("1997-01-01") &&
              to_date(col("o_orderdate")) < lit("1997-07-01")),
            col("l_orderkey") === col("o_orderkey"))
          .join(T(s, dir, "customer"),
            col("o_custkey") === col("c_custkey"))
          .join(T(s, dir, "nation"),
            col("c_nationkey") === col("n_nationkey"))
          .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"),
            col("n_name"))
          .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 8)
            .as("revenue"))
          .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
          .orderBy(col("revenue").desc, col("c_custkey"))
          .limit(20)),

    // CUSUM changepoint scan over daily revenue: running decimal sum of
    // mean deviations; the |cusum| peak marks the most likely level
    // shift. The sequential window runs over the DAY frame (2.4k rows),
    // never the fact table — at true scale, range-partition the cumsum
    // (ops.Prefix's two-pass shape).
    Q("q156_cusum", Q.sql("""
        WITH daily AS (
          SELECT CAST(o_orderdate AS DATE) AS day,
            CAST(sum(CAST(o_totalprice AS DECIMAL(27,4))) AS DOUBLE) AS revenue
          FROM orders GROUP BY 1),
        m AS (
          SELECT CAST(sum(CAST(revenue AS DECIMAL(27,4))) AS DOUBLE) / count(*) AS mean
          FROM daily),
        c AS (
          SELECT day, revenue,
            CAST(sum(CAST(round(revenue - mean, 6) AS DECIMAL(27,6))) OVER (
              ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS cusum
          FROM daily, m)
        SELECT day, revenue, round(cusum, 6) AS cusum,
          abs(cusum) = max(abs(cusum)) OVER () AS is_peak
        FROM c ORDER BY day"""))(
      (s, dir) => {
        val daily = T(s, dir, "orders")
          .groupBy(to_date(col("o_orderdate")).as("day"))
          .agg(dsum(col("o_totalprice"), 4).as("revenue"))
        val m = daily.agg(davg(col("revenue"), 4).as("mean"))
        // cumsum via the distributed prefix; peak via aggregate+broadcast
        // — no unpartitioned window on either step
        val dev = daily.crossJoin(broadcast(m))
          .select(col("day"), col("revenue"),
            round(col("revenue") - col("mean"), 6).cast("decimal(27,6)")
              .as("__dev"))
        val c = graft.ops.Prefix.runningTotal(dev, Seq(col("day")),
            col("__dev"), "__cum")
          .select(col("day"), col("revenue"),
            col("__cum").cast("double").as("cusum"))
        val peak = c.agg(max(abs(col("cusum"))).as("__mx"))
        c.crossJoin(broadcast(peak))
          .select(col("day"), col("revenue"), round(col("cusum"), 6).as("cusum"),
            (abs(col("cusum")) === col("__mx")).as("is_peak"))
          .orderBy("day")
      }),

    // k-core decomposition (k=3, fixed 8 peeling rounds) of the part
    // co-purchase graph: iteratively drop nodes with degree < k and
    // their edges — the dense-substructure filter behind community
    // cores. Each round is one degree aggregation + two semi-joins,
    // lineage-truncated; the oracle replays the identical rounds as
    // chained CTEs.
    Q("q157_kcore", Q.sql(s"""
        WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        pr AS (
          SELECT a.p AS a, b.p AS b, count(*) AS n
          FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
          GROUP BY 1, 2),
        e0 AS MATERIALIZED (SELECT a, b FROM pr WHERE n >= 2),
        ${kcoreCtes(KCoreRounds, KCoreK)}
        SELECT v, count(*) AS degree FROM (
          SELECT a AS v FROM e$KCoreRounds
          UNION ALL SELECT b FROM e$KCoreRounds) u
        GROUP BY 1 ORDER BY 1"""))(
      (s, dir) => {
        import graft.ops.Frames.materialize
        val sets = T(s, dir, "lineitem")
          .groupBy(col("l_orderkey"))
          .agg(collect_set(col("l_partkey")).as("ps"))
        val pairs = flatten(transform(col("ps"), x =>
          transform(filter(col("ps"), y => y > x),
            y => struct(x.as("a"), y.as("b")))))
        var e = materialize(sets.select(explode(pairs).as("pr"))
          .select(col("pr.a").as("a"), col("pr.b").as("b"))
          .groupBy("a", "b").agg(count(lit(1)).as("n"))
          .where(col("n") >= 2)
          .select("a", "b"))
        for (_ <- 1 to KCoreRounds) {
          val keep = e.select(col("a").as("v")).unionAll(e.select(col("b")))
            .groupBy("v").agg(count(lit(1)).as("c"))
            .where(col("c") >= KCoreK)
            .select("v")
          e = materialize(
            e.join(keep.withColumnRenamed("v", "a"), Seq("a"), "left_semi")
              .join(keep.withColumnRenamed("v", "b"), Seq("b"), "left_semi")
              .select("a", "b"))
        }
        e.select(col("a").as("v")).unionAll(e.select(col("b")))
          .groupBy("v").agg(count(lit(1)).as("degree"))
          .orderBy("v")
      }),

    // Funnel conversion timing: signup -> first purchase delay in hours,
    // p50/p90 per weekly signup cohort. Two per-user aggregations (min
    // signup, min later purchase), then exact grouped percentiles over
    // the converted set.
    Q("q158_funnel_timing", Q.sql(s"""
        WITH su AS (
          SELECT user_id, min(epoch_us(ts)) AS s_us
          FROM events WHERE event_type = 'signup' GROUP BY 1),
        pu AS (
          SELECT e.user_id, su.s_us, min(epoch_us(e.ts)) AS p_us
          FROM events e JOIN su ON e.user_id = su.user_id
          WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > su.s_us
          GROUP BY 1, 2),
        delays AS (
          SELECT CAST(date_trunc('week', make_timestamp(s_us)) AS TIMESTAMP) AS cohort,
            floor((p_us - s_us) / 3600000000.0) AS delay_h
          FROM pu),
        ${Percentiles.oracleCtes("fp", "delays", Seq("cohort"), "delay_h",
          Seq("p50" -> 0.5, "p90" -> 0.9))},
        cnt AS (SELECT cohort, count(*) AS n_converted FROM delays GROUP BY 1)
        SELECT fp.cohort, cnt.n_converted, fp.p50, fp.p90
        FROM fp JOIN cnt ON fp.cohort = cnt.cohort
        ORDER BY 1"""))(
      (s, dir) => {
        val ev = T(s, dir, "events")
        val su = ev.where(col("event_type") === "signup")
          .groupBy(col("user_id"))
          .agg(min(unix_micros(col("ts"))).as("s_us"))
        val pu = ev.where(col("event_type") === "purchase")
          .join(su, "user_id")
          .where(unix_micros(col("ts")) > col("s_us"))
          .groupBy(col("user_id"), col("s_us"))
          .agg(min(unix_micros(col("ts"))).as("p_us"))
        val delays = pu.select(
          date_trunc("week", timestamp_micros(col("s_us"))).as("cohort"),
          floor((col("p_us") - col("s_us")) / lit(3600000000.0)).as("delay_h"))
        val pct = Percentiles.exact(delays, Seq("cohort"), col("delay_h"),
          Seq("p50" -> 0.5, "p90" -> 0.9))
        val cnt = delays.groupBy("cohort").agg(count(lit(1)).as("n_converted"))
        pct.join(cnt, "cohort")
          .select(col("cohort"), col("n_converted"), col("p50"), col("p90"))
          .orderBy("cohort")
      })
  )
}
