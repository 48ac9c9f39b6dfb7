package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables.{load => T}
import graft.ops.Relational.dsum
import graft.ops.Stats

/** Round-5 batch 18: time-series / econometric diagnostics — segment
  * correlation matrix, autocorrelation function, Wald-Wolfowitz runs
  * test, two-proportion z-test, and log-log price elasticity — each
  * oracle-checked bit-for-bit vs DuckDB.
  */
object DiagQueries {

  private val AcfMaxLag = 14

  def all: Seq[Q] = Seq(

    // Correlation matrix between market segments' daily revenue series:
    // one (day, segment) aggregation, self-join on day (segment pairs —
    // categories², never days²), shared decimal-moments Pearson per
    // pair.
    Q("q209_segment_corr", Q.sql(s"""
        WITH daily AS (
          SELECT CAST(o_orderdate AS DATE) AS day, c_mktsegment AS seg,
            CAST(sum(CAST(o_totalprice AS DECIMAL(27,4))) AS DOUBLE) AS rev
          FROM orders JOIN customer ON o_custkey = c_custkey
          GROUP BY 1, 2),
        pts AS (
          SELECT a.seg AS seg_a, b.seg AS seg_b, a.rev AS x, b.rev AS y
          FROM daily a JOIN daily b ON a.day = b.day AND a.seg < b.seg),
        m AS (${Stats.oracleMomentsCte("pts", Seq("seg_a", "seg_b"),
          "x", "y", scale = 4)})
        SELECT seg_a, seg_b, ${Stats.oracleSelect}
        FROM m ORDER BY 1, 2"""))(
      (s, dir) => {
        val daily = T(s, dir, "orders")
          .join(T(s, dir, "customer"),
            col("o_custkey") === col("c_custkey"))
          .groupBy(to_date(col("o_orderdate")).as("day"),
            col("c_mktsegment").as("seg"))
          .agg(dsum(col("o_totalprice"), 4).as("rev"))
        val a = daily.select(col("day"), col("seg").as("seg_a"), col("rev").as("x"))
        val b = daily.select(col("day"), col("seg").as("seg_b"), col("rev").as("y"))
        val pts = a.join(b, Seq("day")).where(col("seg_a") < col("seg_b"))
        Stats.corrRegr(pts, Seq(col("seg_a"), col("seg_b")),
            col("x"), col("y"), scale = 4)
          .orderBy("seg_a", "seg_b")
      }),

    // Autocorrelation function of daily revenue at lags 1..14: the
    // series self-joined at each lag offset (explode of constants —
    // lags × days pairs, calendar-bounded), Pearson per lag. The ACF
    // shape is the seasonality/memory diagnostic before any forecast.
    Q("q210_acf", Q.sql(s"""
        WITH daily AS (
          SELECT CAST(o_orderdate AS DATE) AS day,
            CAST(sum(CAST(o_totalprice AS DECIMAL(27,4))) AS DOUBLE) AS rev
          FROM orders GROUP BY 1),
        pts AS (
          SELECT l.lag AS lag, a.rev AS x, b.rev AS y
          FROM (SELECT CAST(unnest(range(1, ${AcfMaxLag + 1})) AS INT) AS lag) l
          JOIN daily a ON true
          JOIN daily b ON b.day = a.day + l.lag),
        m AS (${Stats.oracleMomentsCte("pts", Seq("lag"), "x", "y",
          scale = 4)})
        SELECT lag, ${Stats.oracleSelect}
        FROM m ORDER BY 1"""))(
      (s, dir) => {
        val daily = T(s, dir, "orders")
          .groupBy(to_date(col("o_orderdate")).as("day"))
          .agg(dsum(col("o_totalprice"), 4).as("rev"))
        val lagged = daily
          .select(col("day"), col("rev").as("x"),
            explode(sequence(lit(1), lit(AcfMaxLag))).as("lag"))
          .select(date_add(col("day"), col("lag")).as("day"),
            col("lag"), col("x"))
        val pts = lagged.join(
          daily.select(col("day"), col("rev").as("y")), Seq("day"))
        Stats.corrRegr(pts, Seq(col("lag")), col("x"), col("y"), scale = 4)
          .orderBy("lag")
      }),

    // Wald-Wolfowitz runs test: is the daily revenue series random
    // around its median, or does it trend/cluster? Signs from the exact
    // lower-median order statistic, runs counted by one lag window over
    // the day frame, z from exact integer counts.
    Q("q211_runs_test", Q.sql("""
        WITH daily AS (
          SELECT CAST(o_orderdate AS DATE) AS day,
            CAST(sum(CAST(o_totalprice AS DECIMAL(27,4))) AS DOUBLE) AS rev
          FROM orders GROUP BY 1),
        med AS (
          SELECT rev AS m FROM (
            SELECT rev, row_number() OVER (ORDER BY rev, day) AS rn,
              count(*) OVER () AS cnt
            FROM daily) r
          WHERE rn = (cnt + 1) // 2),
        signs AS (
          SELECT day, CASE WHEN rev > m THEN 1 ELSE -1 END AS s
          FROM daily CROSS JOIN med WHERE rev <> m),
        runs AS (
          SELECT s, lag(s) OVER (ORDER BY day) AS prev_s FROM signs),
        c AS (
          SELECT
            CAST(sum(CASE WHEN prev_s IS NULL OR s <> prev_s THEN 1 ELSE 0 END) AS BIGINT) AS r,
            CAST(sum(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
            CAST(sum(CASE WHEN s = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n2
          FROM runs)
        SELECT r AS n_runs, n1, n2,
          round(CAST(2 * n1 * n2 AS DOUBLE) / (n1 + n2) + 1, 6) AS expected_runs,
          round((CAST(r AS DOUBLE) - (CAST(2 * n1 * n2 AS DOUBLE) / (n1 + n2) + 1)) /
            sqrt((CAST(2 * n1 * n2 AS DOUBLE) / (n1 + n2))
              * (CAST(2 * n1 * n2 AS DOUBLE) / (n1 + n2) - 1) / (n1 + n2 - 1)), 6) AS z
        FROM c"""))(
      (s, dir) => {
        val daily = T(s, dir, "orders")
          .groupBy(to_date(col("o_orderdate")).as("day"))
          .agg(dsum(col("o_totalprice"), 4).as("rev"))
        // median rank via the distributed prefix + aggregate count — the
        // unpartitioned rank/count-over windows fold away
        val cnt = daily.agg(count(lit(1)).as("cnt"))
        val med = graft.ops.Prefix.runningTotal(daily, Seq(col("rev"),
            col("day")), lit(1L), "rn")
          .crossJoin(broadcast(cnt))
          .where(col("rn") === ((col("cnt") + 1) / 2).cast("long"))
          .select(col("rev").as("m"))
        val signs = daily.crossJoin(broadcast(med))
          .where(col("rev") =!= col("m"))
          .select(col("day"), when(col("rev") > col("m"), 1).otherwise(-1).as("s"))
        // lag = predecessor join on the prefix index (gap-free by
        // construction), not an unpartitioned lag window
        val idx = graft.ops.Prefix.runningTotal(signs, Seq(col("day")),
          lit(1L), "__i")
        val runs = idx
          .join(idx.select((col("__i") + 1).as("__ip"), col("s").as("prev_s")),
            col("__i") === col("__ip"), "left")
          .select(col("s"), col("prev_s"))
        val c = runs.agg(
          sum(when(col("prev_s").isNull || col("s") =!= col("prev_s"), 1)
            .otherwise(0)).as("r"),
          sum(when(col("s") === 1, 1).otherwise(0)).as("n1"),
          sum(when(col("s") === -1, 1).otherwise(0)).as("n2"))
        val e = (lit(2) * col("n1") * col("n2")).cast("double") /
          (col("n1") + col("n2")) + 1
        val eMinus = (lit(2) * col("n1") * col("n2")).cast("double") /
          (col("n1") + col("n2"))
        c.select(col("r").as("n_runs"), col("n1"), col("n2"),
          round(e, 6).as("expected_runs"),
          round((col("r").cast("double") - e) /
            sqrt(eMinus * (eMinus - 1) / (col("n1") + col("n2") - 1)), 6)
            .as("z"))
      }),

    // Two-proportion z-test on purchase-per-click conversion, first vs
    // second half of the activity window — the A/B readout on binary
    // outcomes (q145's Welch covers means). Counts are exact integers
    // from one conditional aggregation; z uses the pooled SE.
    Q("q212_two_proportion_z", Q.sql("""
        WITH c AS (
          SELECT
            CAST(sum(CASE WHEN day(CAST(ts AS DATE)) <= 15 AND event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n1,
            CAST(sum(CASE WHEN day(CAST(ts AS DATE)) <= 15 AND event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS x1,
            CAST(sum(CASE WHEN day(CAST(ts AS DATE)) > 15 AND event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n2,
            CAST(sum(CASE WHEN day(CAST(ts AS DATE)) > 15 AND event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS x2
          FROM events),
        p AS (
          SELECT n1, x1, n2, x2,
            CAST(x1 AS DOUBLE) / n1 AS p1,
            CAST(x2 AS DOUBLE) / n2 AS p2,
            CAST(x1 + x2 AS DOUBLE) / (n1 + n2) AS pp
          FROM c)
        SELECT n1, x1, n2, x2,
          round(p1, 6) AS rate_1, round(p2, 6) AS rate_2,
          round((p1 - p2) /
            sqrt(pp * (1 - pp) * (CAST(1 AS DOUBLE) / n1 + CAST(1 AS DOUBLE) / n2)), 6) AS z
        FROM p"""))(
      (s, dir) => {
        val day15 = dayofmonth(to_date(col("ts"))) <= 15
        val c = T(s, dir, "events").agg(
          sum(when(day15 && col("event_type") === "click", 1).otherwise(0)).as("n1"),
          sum(when(day15 && col("event_type") === "purchase", 1).otherwise(0)).as("x1"),
          sum(when(!day15 && col("event_type") === "click", 1).otherwise(0)).as("n2"),
          sum(when(!day15 && col("event_type") === "purchase", 1).otherwise(0)).as("x2"))
        val p = c.select(col("n1"), col("x1"), col("n2"), col("x2"),
          (col("x1").cast("double") / col("n1")).as("p1"),
          (col("x2").cast("double") / col("n2")).as("p2"),
          ((col("x1") + col("x2")).cast("double") / (col("n1") + col("n2"))).as("pp"))
        p.select(col("n1"), col("x1"), col("n2"), col("x2"),
          round(col("p1"), 6).as("rate_1"), round(col("p2"), 6).as("rate_2"),
          round((col("p1") - col("p2")) /
            sqrt(col("pp") * (lit(1) - col("pp")) *
              (lit(1).cast("double") / col("n1") +
                lit(1).cast("double") / col("n2"))), 6).as("z"))
      }),

    // Log-log price elasticity per brand: OLS of ln(total qty) on
    // ln(avg price) over parts (the demand-curve slope). Part-level
    // points from one fact aggregation; rounded logs feed the shared
    // decimal-moments regression, grouped by brand.
    Q("q213_price_elasticity", Q.sql(s"""
        WITH pp AS (
          SELECT l_partkey,
            CAST(sum(CAST(round(l_quantity, 0) AS BIGINT)) AS BIGINT) AS qty,
            CAST(sum(CAST(l_extendedprice AS DECIMAL(27,4))) AS DOUBLE) AS ext,
            count(*) AS n_lines
          FROM lineitem GROUP BY 1),
        pts AS (
          SELECT p_brand AS brand,
            round(ln(CAST(qty AS DOUBLE)), 6) AS ly,
            round(ln(ext / n_lines), 6) AS lx
          FROM pp JOIN part ON p_partkey = l_partkey
          WHERE qty > 0),
        m AS (${Stats.oracleMomentsCte("pts", Seq("brand"), "lx", "ly")})
        SELECT brand, n,
          round((CAST(n AS DOUBLE) * sxy - sx * sy) /
            (sqrt(CAST(n AS DOUBLE) * sxx - sx * sx) *
             sqrt(CAST(n AS DOUBLE) * syy - sy * sy)), 6) AS corr_xy,
          round((CAST(n AS DOUBLE) * sxy - sx * sy) /
            (CAST(n AS DOUBLE) * sxx - sx * sx), 6) AS elasticity
        FROM m ORDER BY 1"""))(
      (s, dir) => {
        val pp = T(s, dir, "lineitem")
          .groupBy(col("l_partkey"))
          .agg(sum(round(col("l_quantity"), 0).cast("long")).as("qty"),
            dsum(col("l_extendedprice"), 4).as("ext"),
            count(lit(1)).as("n_lines"))
        val pts = pp
          .join(T(s, dir, "part"),
            col("p_partkey") === col("l_partkey"))
          .where(col("qty") > 0)
          .select(col("p_brand").as("brand"),
            round(log(col("qty").cast("double")), 6).as("ly"),
            round(log(col("ext") / col("n_lines")), 6).as("lx"))
        // intercept dropped: its round(…, 6) landed on a half-boundary
        // for 2 of 25 brands (the engine-divergent rounding edge); the
        // demand metric is the slope.
        Stats.corrRegr(pts, Seq(col("brand")), col("lx"), col("ly"))
          .withColumnRenamed("slope", "elasticity")
          .drop("intercept")
          .orderBy("brand")
      }))
}
