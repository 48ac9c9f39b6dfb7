package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.{load => T}
import graft.graph.Assortativity
import graft.ops.Relational.dsum
import graft.ops.Trend

/** Round-5 batch 11: classic TPC-H shapes the engine hadn't covered yet
  * (Q5 multi-fact-constraint join, Q18 having-join, Q14 promo share)
  * plus robust trend statistics (Theil-Sen / Mann-Kendall) and graph
  * degree assortativity — each oracle-checked bit-for-bit vs DuckDB.
  */
object RobustQueries {

  /** l_extendedprice * (1 - l_discount) — the TPC-H revenue expression. */
  private def rev = col("l_extendedprice") * (lit(1) - col("l_discount"))

  private def coPurchaseEdges(s: SparkSession, dir: String): DataFrame =
    graft.graph.CoPurchase.edgesStaged(s, dir)

  private val coPurchaseSql = graft.graph.CoPurchase.sql

  private val LpaRounds = 4

  /** Synchronous label-propagation rounds as chained MATERIALIZED CTEs
    * (the q157 pattern — inlined CTEs would re-evaluate the base scan
    * exponentially). Each round: every vertex adopts its neighbourhood's
    * most frequent label, ties to the smallest label.
    */
  private def lpaCtes(rounds: Int): String =
    (1 to rounds).map { i =>
      s"""lab$i AS MATERIALIZED (
           SELECT v, label FROM (
             SELECT adj.v, l.label,
               row_number() OVER (PARTITION BY adj.v
                 ORDER BY count(*) DESC, l.label) AS rn
             FROM adj JOIN lab${i - 1} l ON adj.u = l.v
             GROUP BY adj.v, l.label) t
           WHERE rn = 1)"""
    }.mkString(",\n")

  def all: Seq[Q] = Seq(

    // TPC-H Q5 (local supplier volume): revenue where the supplying
    // nation equals the customer nation, one region + one order-year.
    // The c_nationkey = s_nationkey constraint spans BOTH fact-side
    // joins — the shape that breaks naive star-join planners. Facts
    // shuffle on their join keys once; supplier/nation/region broadcast.
    Q("q171_tpch_q5", Q.sql("""
        SELECT n_name,
          CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(27,8))) AS DOUBLE) AS revenue
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
          AND CAST(o_orderdate AS DATE) >= DATE '1997-01-01'
          AND CAST(o_orderdate AS DATE) < DATE '1998-01-01'
        GROUP BY 1 ORDER BY revenue DESC, n_name"""))(
      (s, dir) =>
        T(s, dir, "lineitem")
          .join(T(s, dir, "orders")
            .where(to_date(col("o_orderdate")) >= lit("1997-01-01") &&
              to_date(col("o_orderdate")) < lit("1998-01-01")),
            col("l_orderkey") === col("o_orderkey"))
          .join(T(s, dir, "customer"),
            col("o_custkey") === col("c_custkey"))
          .join(T(s, dir, "supplier"),
            col("l_suppkey") === col("s_suppkey") &&
              col("c_nationkey") === col("s_nationkey"))
          .join(broadcast(T(s, dir, "nation")),
            col("s_nationkey") === col("n_nationkey"))
          .join(broadcast(T(s, dir, "region").where(col("r_name") === "ASIA")),
            col("n_regionkey") === col("r_regionkey"))
          .groupBy("n_name")
          .agg(dsum(rev, 8).as("revenue"))
          .orderBy(col("revenue").desc, col("n_name"))),

    // TPC-H Q18 (large-volume orders): orders whose total quantity
    // clears a high threshold, with their customer. Aggregate-then-
    // filter (HAVING) on the fact, then join the survivors — the big
    // table is reduced BEFORE any join touches it.
    Q("q172_tpch_q18", Q.sql("""
        WITH big AS (
          SELECT l_orderkey,
            CAST(sum(CAST(l_quantity AS DECIMAL(27,4))) AS DOUBLE) AS total_qty
          FROM lineitem GROUP BY 1
          HAVING CAST(sum(CAST(l_quantity AS DECIMAL(27,4))) AS DOUBLE) > 300)
        SELECT c_custkey, c_name, o_orderkey,
          CAST(o_orderdate AS DATE) AS o_date, o_totalprice, total_qty
        FROM big
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        ORDER BY o_totalprice DESC, o_orderkey"""))(
      (s, dir) =>
        T(s, dir, "lineitem")
          .groupBy(col("l_orderkey"))
          .agg(dsum(col("l_quantity"), 4).as("total_qty"))
          .where(col("total_qty") > 300)
          .join(T(s, dir, "orders"),
            col("l_orderkey") === col("o_orderkey"))
          .join(T(s, dir, "customer"),
            col("o_custkey") === col("c_custkey"))
          .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
            to_date(col("o_orderdate")).as("o_date"), col("o_totalprice"),
            col("total_qty"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))),

    // TPC-H Q14 (promotion effect): monthly share of revenue from promo
    // parts. Conditional decimal aggregation — both sums come out of ONE
    // hash aggregation pass; part is a broadcast dimension.
    Q("q173_promo_share", Q.sql("""
        WITH m AS (
          SELECT CAST(date_trunc('month', CAST(l_shipdate AS DATE)) AS DATE) AS month,
            CAST(sum(CAST(CASE WHEN p_type = 'PROMO'
              THEN l_extendedprice * (1 - l_discount) ELSE 0 END AS DECIMAL(27,8))) AS DOUBLE) AS promo_rev,
            CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(27,8))) AS DOUBLE) AS total_rev
          FROM lineitem JOIN part ON l_partkey = p_partkey
          GROUP BY 1)
        SELECT month, promo_rev, total_rev,
          round(CAST(100 AS DOUBLE) * promo_rev / total_rev, 6) AS promo_share
        FROM m ORDER BY month"""))(
      (s, dir) =>
        T(s, dir, "lineitem")
          .join(T(s, dir, "part"),
            col("l_partkey") === col("p_partkey"))
          .groupBy(trunc(to_date(col("l_shipdate")), "month").as("month"))
          .agg(
            dsum(when(col("p_type") === "PROMO", rev).otherwise(lit(0)), 8)
              .as("promo_rev"),
            dsum(rev, 8).as("total_rev"))
          .select(col("month"), col("promo_rev"), col("total_rev"),
            round(lit(100).cast("double") * col("promo_rev") / col("total_rev"), 6)
              .as("promo_share"))
          .orderBy("month")),

    // Theil-Sen robust slope + Mann-Kendall trend test per order-month
    // over the daily revenue series. The quadratic pairwise step runs on
    // the pre-aggregated daily frame (≤31 rows/group → ≤465 pairs), not
    // the fact table; the median is the lower order statistic so both
    // engines pick the identical slope value.
    Q("q174_theilsen_trend", Q.sql("""
        WITH daily AS (
          SELECT CAST(o_orderdate AS DATE) AS day,
            CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE) AS month,
            CAST(sum(CAST(o_totalprice AS DECIMAL(27,4))) AS DOUBLE) AS rev
          FROM orders GROUP BY 1, 2),
        pw AS (
          SELECT a.month AS g,
            (b.rev - a.rev) / CAST(date_diff('day', a.day, b.day) AS DOUBLE) AS slope,
            CASE WHEN b.rev > a.rev THEN 1 WHEN b.rev < a.rev THEN -1 ELSE 0 END AS sgn
          FROM daily a JOIN daily b ON a.month = b.month AND a.day < b.day),
        n AS (
          SELECT month AS g, count(*) AS n_points FROM daily
          GROUP BY 1 HAVING count(*) >= 3),
        med AS (
          SELECT g, slope FROM (
            SELECT g, slope,
              row_number() OVER (PARTITION BY g ORDER BY slope) AS rn,
              count(*) OVER (PARTITION BY g) AS cnt
            FROM pw) r
          WHERE rn = (cnt + 1) // 2),
        mk AS (SELECT g, CAST(sum(sgn) AS BIGINT) AS mk_s FROM pw GROUP BY 1)
        SELECT n.g AS month, n.n_points,
          round(med.slope, 6) AS theil_sen_slope, mk.mk_s,
          round(CASE
            WHEN mk.mk_s > 0 THEN (CAST(mk.mk_s AS DOUBLE) - 1) /
              sqrt(CAST(n.n_points * (n.n_points - 1) * (2 * n.n_points + 5) AS DOUBLE) / CAST(18 AS DOUBLE))
            WHEN mk.mk_s < 0 THEN (CAST(mk.mk_s AS DOUBLE) + 1) /
              sqrt(CAST(n.n_points * (n.n_points - 1) * (2 * n.n_points + 5) AS DOUBLE) / CAST(18 AS DOUBLE))
            ELSE CAST(0 AS DOUBLE) END, 6) AS mk_z
        FROM n JOIN med ON n.g = med.g JOIN mk ON n.g = mk.g
        ORDER BY month"""))(
      (s, dir) => {
        val daily = T(s, dir, "orders")
          .groupBy(to_date(col("o_orderdate")).as("day"),
            trunc(to_date(col("o_orderdate")), "month").as("month"))
          .agg(dsum(col("o_totalprice"), 4).as("rev"))
        Trend.theilSenMk(daily, col("month"),
            datediff(col("day"), lit("1970-01-01")), col("rev"))
          .withColumnRenamed("g", "month")
          .orderBy("month")
      }),

    // Degree assortativity of the part co-purchase graph (Newman 2002):
    // do popular parts co-sell with other popular parts? Edge list from
    // collect_set adjacency (2 shuffles, no fact self-join), one degree
    // agg, two degree joins, five integer moments → one double.
    Q("q175_assortativity", Q.sql("""
        WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        pr AS (
          SELECT a.p AS a, b.p AS b, count(*) AS n
          FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
          GROUP BY 1, 2),
        e AS (SELECT a, b FROM pr WHERE n >= 2),
        deg AS (
          SELECT v, count(*) AS d FROM (
            SELECT a AS v FROM e UNION ALL SELECT b FROM e) u
          GROUP BY 1),
        j AS (
          SELECT da.d AS x, db.d AS y
          FROM e JOIN deg da ON e.a = da.v JOIN deg db ON e.b = db.v),
        de AS (SELECT x, y FROM j UNION ALL SELECT y, x FROM j),
        sm AS (
          SELECT count(*) AS n,
            CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
            CAST(sum(x * y) AS BIGINT) AS sxy,
            CAST(sum(x * x) AS BIGINT) AS sxx,
            CAST(sum(y * y) AS BIGINT) AS syy
          FROM de)
        SELECT n AS n_directed_edges,
          round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) /
            (sqrt(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) *
             sqrt(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)), 8)
            AS assortativity
        FROM sm"""))(
      (s, dir) =>
        Assortativity.degreeAssortativity(
          coPurchaseEdges(s, dir))),

    // Label-propagation community detection (4 synchronous rounds,
    // min-label tie-break) on the part co-purchase graph. Each round is
    // one neighbor-label aggregation + one per-vertex argmax window over
    // the (vertex, label) frame — lineage-truncated per round; the
    // oracle replays identical rounds as chained MATERIALIZED CTEs.
    Q("q178_label_propagation", Q.sql(s"""
        WITH $coPurchaseSql,
        adj AS MATERIALIZED (
          SELECT a AS v, b AS u FROM e UNION ALL SELECT b, a FROM e),
        lab0 AS MATERIALIZED (SELECT DISTINCT v, v AS label FROM adj),
        ${lpaCtes(LpaRounds)}
        SELECT v, label AS community FROM lab$LpaRounds ORDER BY v"""))(
      (s, dir) => {
        import graft.ops.Frames.materialize
        import org.apache.spark.sql.expressions.Window
        val e = coPurchaseEdges(s, dir)
        val adj = materialize(
          e.select(col("a").as("v"), col("b").as("u"))
            .unionAll(e.select(col("b"), col("a"))))
        var lab = adj.select(col("v"), col("v").as("label")).distinct()
        for (_ <- 1 to LpaRounds) {
          val w = Window.partitionBy(col("v"))
            .orderBy(col("cnt").desc, col("label").asc)
          lab = materialize(
            adj.join(lab.withColumnRenamed("v", "u"), Seq("u"))
              .groupBy("v", "label").agg(count(lit(1)).as("cnt"))
              .withColumn("rn", row_number().over(w))
              .where(col("rn") === 1)
              .select("v", "label"))
        }
        lab.select(col("v"), col("label").as("community")).orderBy("v")
      }),

    // Two-feature OLS via normal equations (Cramer): o_totalprice ~
    // line-count + total quantity per order. Every moment is an exact
    // integer (prices in cents, integral quantities) summed in ONE hash
    // aggregation; the solve is a fixed IEEE expression tree on those
    // exact integers — order-independent, engine-portable, and mergeable
    // across shards at 100 TB.
    Q("q179_multireg", Q.sql("""
        WITH f AS (
          SELECT l_orderkey AS k, count(*) AS x1,
            CAST(sum(CAST(round(l_quantity, 0) AS BIGINT)) AS BIGINT) AS x2
          FROM lineitem GROUP BY 1),
        j AS (
          SELECT f.x1, f.x2,
            CAST(round(o_totalprice * 100, 0) AS BIGINT) AS y
          FROM f JOIN orders ON o_orderkey = f.k),
        s AS (
          SELECT count(*) AS n,
            CAST(sum(x1) AS BIGINT) AS sx1, CAST(sum(x2) AS BIGINT) AS sx2,
            CAST(sum(y) AS BIGINT) AS sy,
            CAST(sum(x1 * x1) AS BIGINT) AS s11,
            CAST(sum(x2 * x2) AS BIGINT) AS s22,
            CAST(sum(x1 * x2) AS BIGINT) AS s12,
            CAST(sum(x1 * y) AS BIGINT) AS s1y,
            CAST(sum(x2 * y) AS BIGINT) AS s2y
          FROM j),
        d AS (
          SELECT n, sx1, sx2, sy,
            CAST(n AS DOUBLE) * s11 - CAST(sx1 AS DOUBLE) * sx1 AS d11,
            CAST(n AS DOUBLE) * s22 - CAST(sx2 AS DOUBLE) * sx2 AS d22,
            CAST(n AS DOUBLE) * s12 - CAST(sx1 AS DOUBLE) * sx2 AS d12,
            CAST(n AS DOUBLE) * s1y - CAST(sx1 AS DOUBLE) * sy AS d1y,
            CAST(n AS DOUBLE) * s2y - CAST(sx2 AS DOUBLE) * sy AS d2y
          FROM s),
        b AS (
          SELECT n, sx1, sx2, sy,
            (d1y * d22 - d2y * d12) / (d11 * d22 - d12 * d12) AS b1,
            (d2y * d11 - d1y * d12) / (d11 * d22 - d12 * d12) AS b2
          FROM d)
        SELECT n,
          round((CAST(sy AS DOUBLE) - b1 * sx1 - b2 * sx2) / n / CAST(100 AS DOUBLE), 6) AS beta0,
          round(b1 / CAST(100 AS DOUBLE), 6) AS beta_lines,
          round(b2 / CAST(100 AS DOUBLE), 6) AS beta_qty
        FROM b"""))(
      (s, dir) => {
        val f = T(s, dir, "lineitem")
          .groupBy(col("l_orderkey").as("k"))
          .agg(count(lit(1)).as("x1"),
            sum(round(col("l_quantity"), 0).cast("long")).as("x2"))
        val j = f.join(T(s, dir, "orders"), col("o_orderkey") === col("k"))
          .select(col("x1"), col("x2"),
            round(col("o_totalprice") * 100, 0).cast("long").as("y"))
        val sm = j.agg(
          count(lit(1)).as("n"),
          sum(col("x1")).as("sx1"), sum(col("x2")).as("sx2"),
          sum(col("y")).as("sy"),
          sum(col("x1") * col("x1")).as("s11"),
          sum(col("x2") * col("x2")).as("s22"),
          sum(col("x1") * col("x2")).as("s12"),
          sum(col("x1") * col("y")).as("s1y"),
          sum(col("x2") * col("y")).as("s2y"))
        val d = sm.select(col("n"), col("sx1"), col("sx2"), col("sy"),
          (col("n").cast("double") * col("s11") -
            col("sx1").cast("double") * col("sx1")).as("d11"),
          (col("n").cast("double") * col("s22") -
            col("sx2").cast("double") * col("sx2")).as("d22"),
          (col("n").cast("double") * col("s12") -
            col("sx1").cast("double") * col("sx2")).as("d12"),
          (col("n").cast("double") * col("s1y") -
            col("sx1").cast("double") * col("sy")).as("d1y"),
          (col("n").cast("double") * col("s2y") -
            col("sx2").cast("double") * col("sy")).as("d2y"))
        val b = d.select(col("n"), col("sx1"), col("sx2"), col("sy"),
          ((col("d1y") * col("d22") - col("d2y") * col("d12")) /
            (col("d11") * col("d22") - col("d12") * col("d12"))).as("b1"),
          ((col("d2y") * col("d11") - col("d1y") * col("d12")) /
            (col("d11") * col("d22") - col("d12") * col("d12"))).as("b2"))
        b.select(col("n"),
          round((col("sy").cast("double") - col("b1") * col("sx1") -
            col("b2") * col("sx2")) / col("n") / lit(100).cast("double"), 6)
            .as("beta0"),
          round(col("b1") / lit(100).cast("double"), 6).as("beta_lines"),
          round(col("b2") / lit(100).cast("double"), 6).as("beta_qty"))
      }))
}
