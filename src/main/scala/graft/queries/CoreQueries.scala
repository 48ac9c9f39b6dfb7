package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.{load => T}
import graft.ops.Relational._

/** Core relational queries (SURVEY §2.2, §2.4, §2.5, §2.6, §2.7, §2.8):
  * grouped aggregates, projections/filters, join-shape matrix, window
  * ranking, YoY (self-join and lag), pivot/unpivot, distinct,
  * count-distinct, rollup/cube.
  */
object CoreQueries {

  def all: Seq[Q] = Seq(
    (
      // A1/A2/A3: grouped sums + averages + counts (pricing summary).
    Q("q01_pricing_summary", Q.sql("""
        SELECT l_returnflag, l_linestatus,
          CAST(sum(CAST(l_quantity AS DECIMAL(27,4))) AS DOUBLE) AS sum_qty,
          CAST(sum(CAST(l_extendedprice AS DECIMAL(27,4))) AS DOUBLE) AS sum_base_price,
          CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(27,8))) AS DOUBLE) AS sum_disc_price,
          CAST(sum(CAST(l_quantity AS DECIMAL(27,4))) AS DOUBLE) / count(*) AS avg_qty,
          CAST(sum(CAST(l_discount AS DECIMAL(27,8))) AS DOUBLE) / count(*) AS avg_disc,
          count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus"""))(
      (s, dir) => {
        T(s, dir, "lineitem")
          .where(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
          .groupBy("l_returnflag", "l_linestatus")
          .agg(
            dsum(col("l_quantity")).as("sum_qty"),
            dsum(col("l_extendedprice")).as("sum_base_price"),
            dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 8)
              .as("sum_disc_price"),
            davg(col("l_quantity")).as("avg_qty"),
            davg(col("l_discount"), 8).as("avg_disc"),
            count(lit(1)).as("count_order"))
          .orderBy("l_returnflag", "l_linestatus")
      })
  ),
    (
      // P3/P4/P10: filter + narrow projection (pushed to the parquet scan).
    Q("q02_filter_project", Q.sql("""
        SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        FROM lineitem
        WHERE l_quantity >= 45 AND l_returnflag = 'R'
        ORDER BY l_orderkey, l_linenumber"""))(
      (s, dir) => {
        T(s, dir, "lineitem")
          .where(col("l_quantity") >= 45 && col("l_returnflag") === "R")
          .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
          .orderBy("l_orderkey", "l_linenumber")
      })
  ),
    (
      // J1 + A1: 3-way join, grouped revenue per market segment.
    Q("q03_segment_revenue", Q.sql("""
        SELECT c_mktsegment,
          CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(27,8))) AS DOUBLE) AS revenue,
          count(DISTINCT o_orderkey) AS n_orders
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment
        ORDER BY c_mktsegment"""))(
      (s, dir) => {
        val c = T(s, dir, "customer")
        val o = T(s, dir, "orders")
        val l = T(s, dir, "lineitem")
        l.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(c, col("o_custkey") === col("c_custkey"))
          .groupBy("c_mktsegment")
          .agg(
            dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 8)
              .as("revenue"),
            countDistinct(col("o_orderkey")).as("n_orders"))
          .orderBy("c_mktsegment")
      })
  ),
    (
      // J1 denormalize: fact + 3 broadcast dims (region/nation via supplier).
    Q("q04_region_revenue", Q.sql("""
        SELECT r_name, n_name,
          CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(27,8))) AS DOUBLE) AS revenue,
          count(*) AS n_items
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name, n_name
        ORDER BY r_name, n_name"""))(
      (s, dir) => {
        val l = T(s, dir, "lineitem")
        val denorm = denormalize(l, Seq(
          (T(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey")),
          (T(s, dir, "nation"), col("s_nationkey") === col("n_nationkey")),
          (T(s, dir, "region"), col("n_regionkey") === col("r_regionkey"))))
        denorm
          .groupBy("r_name", "n_name")
          .agg(
            dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 8)
              .as("revenue"),
            count(lit(1)).as("n_items"))
          .orderBy("r_name", "n_name")
      })
  ),
    (
      // W1: top-k per group with deterministic tie-breaker.
    Q("q05_topk_orders", Q.sql("""
        SELECT o_orderstatus, o_year, rank, o_orderkey, o_totalprice
        FROM (
          SELECT o_orderstatus,
            CAST(year(o_orderdate) AS INTEGER) AS o_year,
            row_number() OVER (
              PARTITION BY o_orderstatus, year(o_orderdate)
              ORDER BY o_totalprice DESC, o_orderkey) AS rank,
            o_orderkey, o_totalprice
          FROM orders) t
        WHERE rank <= 5
        ORDER BY o_orderstatus, o_year, rank"""))(
      (s, dir) => {
        val o = T(s, dir, "orders")
          .withColumn("o_year", year(col("o_orderdate")).cast("int"))
        topKPerGroup(o,
          partitionCols = Seq(col("o_orderstatus"), col("o_year")),
          order = Seq(col("o_totalprice").desc, col("o_orderkey").asc),
          k = 5)
          .select("o_orderstatus", "o_year", "rank", "o_orderkey", "o_totalprice")
          .orderBy("o_orderstatus", "o_year", "rank")
      })
  ),
    (
      // J2: year-over-year diff via self-join of aggregates (reference shape).
    Q("q06_yoy_join", Q.sql("""
        WITH by_year AS (
          SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
            CAST(sum(CAST(o_totalprice AS DECIMAL(27,4))) AS DOUBLE) AS revenue
          FROM orders GROUP BY 1)
        SELECT cur.o_year AS o_year, cur.revenue AS revenue,
          prev.revenue AS prev_revenue,
          cur.revenue - prev.revenue AS revenue_diff
        FROM by_year cur
        JOIN by_year prev ON cur.o_year = prev.o_year + 1
        ORDER BY o_year"""))(
      (s, dir) => {
        val byYear = T(s, dir, "orders")
          .groupBy(year(col("o_orderdate")).cast("int").as("o_year"))
          .agg(dsum(col("o_totalprice")).as("revenue"))
        yoyJoin(byYear, "o_year", "revenue").orderBy("o_year")
      })
  ),
    (
      // W1 analytic variant: same YoY via lag() (single window, no join).
    Q("q07_yoy_lag", Q.sql("""
        SELECT o_year, revenue,
          lag(revenue) OVER (ORDER BY o_year) AS prev_revenue,
          revenue - lag(revenue) OVER (ORDER BY o_year) AS revenue_diff
        FROM (
          SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
            CAST(sum(CAST(o_totalprice AS DECIMAL(27,4))) AS DOUBLE) AS revenue
          FROM orders GROUP BY 1) t
        ORDER BY o_year"""))(
      (s, dir) => {
        val byYear = T(s, dir, "orders")
          .groupBy(year(col("o_orderdate")).cast("int").as("o_year"))
          .agg(dsum(col("o_totalprice")).as("revenue"))
        yoyLag(byYear, "o_year", "revenue").orderBy("o_year")
      })
  ),
    (
      // R1: unpivot wide->long via the built-in Dataset.unpivot.
    Q("q08_unpivot_measures", Q.sql("""
        SELECT l_orderkey, l_linenumber, measure, value FROM (
          SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS value FROM lineitem WHERE l_orderkey < 1000
          UNION ALL
          SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM lineitem WHERE l_orderkey < 1000
          UNION ALL
          SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem WHERE l_orderkey < 1000
          UNION ALL
          SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem WHERE l_orderkey < 1000) t
        ORDER BY l_orderkey, l_linenumber, measure"""))(
      (s, dir) => {
        T(s, dir, "lineitem")
          .where(col("l_orderkey") < 1000)
          .unpivot(
            Array(col("l_orderkey"), col("l_linenumber")),
            Array(col("l_quantity"), col("l_extendedprice"),
              col("l_discount"), col("l_tax")),
            "measure", "value")
          .orderBy("l_orderkey", "l_linenumber", "measure")
      })
  ),
    (
      // R2: pivot long->wide (inverse of R1), fixed pivot values.
    Q("q09_pivot_status", Q.sql("""
        SELECT l_returnflag,
          CAST(sum(CAST(CASE WHEN l_linestatus = 'F' THEN l_quantity END AS DECIMAL(27,4))) AS DOUBLE) AS F,
          CAST(sum(CAST(CASE WHEN l_linestatus = 'O' THEN l_quantity END AS DECIMAL(27,4))) AS DOUBLE) AS O
        FROM lineitem
        GROUP BY l_returnflag
        ORDER BY l_returnflag"""))(
      (s, dir) => {
        T(s, dir, "lineitem")
          .groupBy("l_returnflag")
          .pivot("l_linestatus", Seq("F", "O"))
          .agg(dsum(col("l_quantity")))
          .orderBy("l_returnflag")
      })
  ),
    (
      // C2: distinct on a projection.
    Q("q10_distinct", Q.sql("""
        SELECT DISTINCT c_nationkey, c_mktsegment
        FROM customer
        ORDER BY c_nationkey, c_mktsegment"""))(
      (s, dir) => {
        T(s, dir, "customer")
          .select("c_nationkey", "c_mktsegment")
          .distinct()
          .orderBy("c_nationkey", "c_mktsegment")
      })
  ),
    (
      // A-extension: exact count-distinct per group (SURVEY §2.5 note).
    Q("q11_count_distinct", Q.sql("""
        SELECT l_returnflag,
          count(DISTINCT l_partkey) AS n_parts,
          count(DISTINCT l_suppkey) AS n_supps,
          count(*) AS n_rows
        FROM lineitem
        GROUP BY l_returnflag
        ORDER BY l_returnflag"""))(
      (s, dir) => {
        T(s, dir, "lineitem")
          .groupBy("l_returnflag")
          .agg(
            countDistinct(col("l_partkey")).as("n_parts"),
            countDistinct(col("l_suppkey")).as("n_supps"),
            count(lit(1)).as("n_rows"))
          .orderBy("l_returnflag")
      })
  ),
    (
      // A-extension: rollup (grouping-sets family).
    Q("q12_rollup", Q.sql("""
        SELECT o_orderstatus, o_orderpriority, count(*) AS n,
          CAST(sum(CAST(o_totalprice AS DECIMAL(27,4))) AS DOUBLE) AS total
        FROM orders
        GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST"""))(
      (s, dir) => {
        T(s, dir, "orders")
          .rollup("o_orderstatus", "o_orderpriority")
          .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
          .orderBy(col("o_orderstatus").asc_nulls_first,
            col("o_orderpriority").asc_nulls_first)
      })
  ),
    (
      // A-extension: cube.
    Q("q13_cube", Q.sql("""
        SELECT l_returnflag, l_linestatus, count(*) AS n,
          CAST(sum(CAST(l_quantity AS DECIMAL(27,4))) AS DOUBLE) AS sum_qty
        FROM lineitem
        GROUP BY CUBE (l_returnflag, l_linestatus)
        ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST"""))(
      (s, dir) => {
        T(s, dir, "lineitem")
          .cube("l_returnflag", "l_linestatus")
          .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
          .orderBy(col("l_returnflag").asc_nulls_first,
            col("l_linestatus").asc_nulls_first)
      })
  ),
    (
      // Join-shape matrix (SURVEY §2.4): left-semi = EXISTS.
    Q("q14_semi_join", Q.sql("""
        SELECT c_custkey, c_name, c_mktsegment
        FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o
          WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
        ORDER BY c_custkey"""))(
      (s, dir) => {
        val bigOrders = T(s, dir, "orders").where(col("o_totalprice") > 300000)
        T(s, dir, "customer")
          .join(bigOrders, col("c_custkey") === col("o_custkey"), "left_semi")
          .select("c_custkey", "c_name", "c_mktsegment")
          .orderBy("c_custkey")
      })
  ),
    (
      // Join-shape matrix: left-anti = NOT EXISTS.
    Q("q15_anti_join", Q.sql("""
        SELECT c_custkey, c_name, c_mktsegment
        FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM orders o
          WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
        ORDER BY c_custkey"""))(
      (s, dir) => {
        val bigOrders = T(s, dir, "orders").where(col("o_totalprice") > 300000)
        T(s, dir, "customer")
          .join(bigOrders, col("c_custkey") === col("o_custkey"), "left_anti")
          .select("c_custkey", "c_name", "c_mktsegment")
          .orderBy("c_custkey")
      })
  ),
    (
      // Join-shape matrix: left outer + null-coalescing aggregates.
    Q("q16_left_join", Q.sql("""
        SELECT c_custkey, c_mktsegment,
          COALESCE(cnt, 0) AS n_orders,
          COALESCE(tot, 0.0) AS total_spent
        FROM customer
        LEFT JOIN (
          SELECT o_custkey, count(*) AS cnt,
            CAST(sum(CAST(o_totalprice AS DECIMAL(27,4))) AS DOUBLE) AS tot
          FROM orders GROUP BY o_custkey) t
        ON c_custkey = o_custkey
        ORDER BY c_custkey"""))(
      (s, dir) => {
        val perCust = T(s, dir, "orders")
          .groupBy("o_custkey")
          .agg(count(lit(1)).as("cnt"), dsum(col("o_totalprice")).as("tot"))
        T(s, dir, "customer")
          .join(perCust, col("c_custkey") === col("o_custkey"), "left")
          .select(
            col("c_custkey"), col("c_mktsegment"),
            coalesce(col("cnt"), lit(0L)).as("n_orders"),
            coalesce(col("tot"), lit(0.0)).as("total_spent"))
          .orderBy("c_custkey")
      })
  )
  )

}
