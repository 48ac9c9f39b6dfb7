package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.{load => T}
import graft.ops.Relational.dsum

/** Round-5 batch 20: the last five TPC-H shapes — Q2 (min-cost supplier,
  * correlated scalar subquery), Q11 (important stock, global-threshold
  * scalar), Q12 (shipmode conditional counts), Q20 (excess-inventory
  * semi-join chain), Q21 (waiting-orders EXISTS / NOT EXISTS self-joins)
  * — completing 22/22 TPC-H coverage, each oracle-checked bit-for-bit
  * vs DuckDB.
  *
  * Adaptations (fixture lacks partsupp / l_commitdate / l_receiptdate /
  * l_shipmode — see FIXTURES.md): the part↔supplier catalog is derived
  * from lineitem as distinct (l_partkey, l_suppkey); supply cost becomes
  * min unit price min(l_extendedprice / l_quantity); Q20's available
  * stock becomes the part's total shipped quantity; Q21's "kept waiting"
  * becomes shipped > 60 days after the order date; Q12's ship mode
  * becomes l_returnflag. Every derived measure stays engine-exact:
  * unit-price division and min are single IEEE ops, quantity sums are
  * integral, revenue sums go through decimal ([[graft.ops.Relational.dsum]]).
  */
object TpchFinalQueries {

  def all: Seq[Q] = Seq(

    // TPC-H Q2 (minimum-cost supplier): for each LARGE mid-size part,
    // the in-region supplier(s) with the lowest unit cost. Spark-first
    // decorrelation: the correlated MIN subquery becomes a per-part
    // aggregate of the scoped frame joined back on (part, cost). The
    // only fact-sized shuffle is the (part, supplier) cost rollup; the
    // scoped frame and its per-part minimum are catalog-bounded and
    // broadcast. Supplier/nation/region prune BEFORE the min, matching
    // the spec's region-scoped subquery.
    Q("q240_tpch_q2", Q.sql("""
        WITH costs AS MATERIALIZED (
          SELECT l_partkey AS pk, l_suppkey AS sk,
            min(l_extendedprice / l_quantity) AS cost
          FROM lineitem GROUP BY 1, 2),
        scoped AS MATERIALIZED (
          SELECT p_partkey, p_name, s_name, s_acctbal, n_name, cost
          FROM costs
          JOIN part ON p_partkey = pk
          JOIN supplier ON s_suppkey = sk
          JOIN nation ON s_nationkey = n_nationkey
          JOIN region ON n_regionkey = r_regionkey
          WHERE p_type = 'LARGE' AND p_size BETWEEN 10 AND 20
            AND r_name = 'EUROPE')
        SELECT s_acctbal, s_name, n_name, p_partkey, p_name, cost
        FROM scoped
        JOIN (SELECT p_partkey AS m_pk, min(cost) AS min_cost
              FROM scoped GROUP BY 1) m
          ON p_partkey = m_pk AND cost = min_cost
        ORDER BY s_acctbal DESC, n_name, s_name, p_partkey"""))(
      (s, dir) => {
        val costs = T(s, dir, "lineitem")
          .groupBy(col("l_partkey").as("pk"), col("l_suppkey").as("sk"))
          .agg(min(col("l_extendedprice") / col("l_quantity")).as("cost"))
        val euSupp = T(s, dir, "supplier")
          .join(broadcast(T(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
          .join(broadcast(T(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
          .where(col("r_name") === "EUROPE")
          .select("s_suppkey", "s_name", "s_acctbal", "n_name")
        val scoped = costs
          .join(T(s, dir, "part")
            .where(col("p_type") === "LARGE" && col("p_size").between(10, 20))
            .select("p_partkey", "p_name"), col("p_partkey") === col("pk"))
          .join(euSupp, col("s_suppkey") === col("sk"))
        val minCost = scoped.groupBy(col("p_partkey").as("m_pk"))
          .agg(min(col("cost")).as("min_cost"))
        scoped
          .join(minCost,
            col("p_partkey") === col("m_pk") && col("cost") === col("min_cost"))
          .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_name", "cost")
          .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"),
            col("p_partkey"))
      }),

    // TPC-H Q11 (important stock): parts whose revenue routed through one
    // nation's suppliers exceeds a fraction of that nation's total. The
    // nation filter broadcasts into the fact scan, the per-part rollup is
    // the one shuffle, and the global threshold is a one-row re-aggregate
    // of the part-bounded frame broadcast back — no second fact pass.
    Q("q241_tpch_q11", Q.sql("""
        WITH value_by_part AS MATERIALIZED (
          SELECT l_partkey AS p_partkey,
            CAST(sum(CAST(l_extendedprice * (1 - l_discount)
              AS DECIMAL(27,8))) AS DOUBLE) AS part_value
          FROM lineitem
          JOIN supplier ON s_suppkey = l_suppkey
          JOIN nation ON s_nationkey = n_nationkey
          WHERE n_name = 'NATION_3'
          GROUP BY 1)
        SELECT p_partkey, part_value
        FROM value_by_part,
          (SELECT CAST(sum(CAST(part_value AS DECIMAL(27,8))) AS DOUBLE)
             * 0.001 AS cutoff FROM value_by_part) t
        WHERE part_value > cutoff
        ORDER BY part_value DESC, p_partkey"""))(
      (s, dir) => {
        val natSupp = T(s, dir, "supplier")
          .join(broadcast(T(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
          .where(col("n_name") === "NATION_3")
          .select("s_suppkey")
        val valueByPart = T(s, dir, "lineitem")
          .join(natSupp, col("s_suppkey") === col("l_suppkey"))
          .groupBy(col("l_partkey").as("p_partkey"))
          .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 8)
            .as("part_value"))
        val cutoff = valueByPart
          .agg((dsum(col("part_value"), 8) * lit(0.001)).as("cutoff"))
        valueByPart.crossJoin(broadcast(cutoff))
          .where(col("part_value") > col("cutoff"))
          .select("p_partkey", "part_value")
          .orderBy(col("part_value").desc, col("p_partkey"))
      }),

    // TPC-H Q12 (shipping-mode priority counts): for each "mode"
    // (l_returnflag — the fixture has no l_shipmode), how many 1997
    // shipments carried urgent/high orders vs the rest. The mode + year
    // filters push to the fact scan; the orders join is the canonical
    // large-to-large shuffle on the order key (orders is ~¼ of lineitem —
    // not broadcastable at 100 TB); the conditional counts are map-side
    // partial aggregates over a 2-row group frame.
    Q("q242_tpch_q12", Q.sql("""
        SELECT l_returnflag AS ship_mode,
          CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
            THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
          CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
            THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        WHERE l_returnflag IN ('A', 'R')
          AND year(CAST(l_shipdate AS DATE)) = 1997
        GROUP BY 1 ORDER BY 1"""))(
      (s, dir) => {
        val isHigh = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
        T(s, dir, "lineitem")
          .where(col("l_returnflag").isin("A", "R") &&
            year(to_date(col("l_shipdate"))) === 1997)
          .join(T(s, dir, "orders"), col("o_orderkey") === col("l_orderkey"))
          .groupBy(col("l_returnflag").as("ship_mode"))
          .agg(sum(when(isHigh, 1L).otherwise(0L)).as("high_line_count"),
            sum(when(isHigh, 0L).otherwise(1L)).as("low_line_count"))
          .orderBy("ship_mode")
      }),

    // TPC-H Q20 (excess inventory): suppliers in one nation who shipped a
    // dominant share (>30%) of some red part's 1997 volume. The nested
    // aggregation — per-(part, supplier) quantities re-aggregated to
    // per-part totals — reuses the first rollup's output (part-bounded,
    // so the second agg and the join back are broadcast-scale); the
    // supplier membership test is a left-semi join, never a fan-out.
    Q("q243_tpch_q20", Q.sql("""
        WITH shipped AS MATERIALIZED (
          SELECT l_partkey AS pk, l_suppkey AS sk,
            CAST(sum(l_quantity) AS BIGINT) AS supp_qty
          FROM lineitem
          WHERE year(CAST(l_shipdate AS DATE)) = 1997
          GROUP BY 1, 2),
        dominant AS MATERIALIZED (
          SELECT sk FROM shipped
          JOIN (SELECT pk AS tpk, CAST(sum(supp_qty) AS BIGINT) AS part_qty
                FROM shipped GROUP BY 1) t ON pk = tpk
          JOIN part ON p_partkey = pk
          WHERE p_name LIKE 'red%'
            AND CAST(supp_qty AS DOUBLE) > 0.3 * CAST(part_qty AS DOUBLE))
        SELECT s_name, s_acctbal
        FROM supplier
        JOIN nation ON s_nationkey = n_nationkey
        WHERE n_name = 'NATION_1'
          AND s_suppkey IN (SELECT sk FROM dominant)
        ORDER BY s_name"""))(
      (s, dir) => {
        val shipped = T(s, dir, "lineitem")
          .where(year(to_date(col("l_shipdate"))) === 1997)
          .groupBy(col("l_partkey").as("pk"), col("l_suppkey").as("sk"))
          .agg(sum(col("l_quantity")).as("supp_qty"))
        val partQty = shipped.groupBy(col("pk").as("tpk"))
          .agg(sum(col("supp_qty")).as("part_qty"))
        val dominant = shipped
          .join(partQty, col("pk") === col("tpk"))
          .join(T(s, dir, "part")
            .where(col("p_name").like("red%")).select("p_partkey"),
            col("p_partkey") === col("pk"))
          .where(col("supp_qty").cast("double") >
            lit(0.3) * col("part_qty").cast("double"))
          .select("sk")
        T(s, dir, "supplier")
          .join(broadcast(T(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
          .where(col("n_name") === "NATION_1")
          .join(dominant, col("s_suppkey") === col("sk"), "left_semi")
          .select("s_name", "s_acctbal")
          .orderBy("s_name")
      }),

    // TPC-H Q21 (suppliers who kept orders waiting): suppliers in one
    // nation who were the ONLY late shipper (>60 days after the order
    // date — the fixture has no commit/receipt dates) on a finalized
    // multi-supplier order. The correlated EXISTS becomes a left-semi
    // and the NOT EXISTS a left-anti self-join of the distinct
    // (order, supplier) frames — both equi-joins on the order key with a
    // supplier-inequality residual, no row fan-out before the distinct.
    Q("q244_tpch_q21", Q.sql("""
        WITH late AS MATERIALIZED (
          SELECT DISTINCT l_orderkey AS lo, l_suppkey AS ls
          FROM lineitem
          JOIN orders ON o_orderkey = l_orderkey
          WHERE o_orderstatus = 'F'
            AND CAST(l_shipdate AS DATE) >
                CAST(o_orderdate AS DATE) + INTERVAL 60 DAY),
        allsupp AS MATERIALIZED (
          SELECT DISTINCT l_orderkey AS ao, l_suppkey AS asup
          FROM lineitem)
        SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
        FROM late l1
        JOIN supplier ON s_suppkey = l1.ls
        JOIN nation ON s_nationkey = n_nationkey
        WHERE n_name = 'NATION_2'
          AND EXISTS (SELECT 1 FROM allsupp
                      WHERE ao = l1.lo AND asup <> l1.ls)
          AND NOT EXISTS (SELECT 1 FROM late l2
                          WHERE l2.lo = l1.lo AND l2.ls <> l1.ls)
        GROUP BY 1 ORDER BY numwait DESC, s_name"""))(
      (s, dir) => {
        val late = T(s, dir, "lineitem")
          .join(T(s, dir, "orders").where(col("o_orderstatus") === "F")
            .select("o_orderkey", "o_orderdate"),
            col("o_orderkey") === col("l_orderkey"))
          .where(to_date(col("l_shipdate")) >
            date_add(to_date(col("o_orderdate")), 60))
          .select(col("l_orderkey").as("lo"), col("l_suppkey").as("ls"))
          .distinct()
        val allSupp = T(s, dir, "lineitem")
          .select(col("l_orderkey").as("ao"), col("l_suppkey").as("asup"))
          .distinct()
        val natSupp = T(s, dir, "supplier")
          .join(broadcast(T(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
          .where(col("n_name") === "NATION_2")
          .select("s_suppkey", "s_name")
        val l2 = late.select(col("lo").as("lo2"), col("ls").as("ls2"))
        late
          .join(allSupp, col("ao") === col("lo") && col("asup") =!= col("ls"),
            "left_semi")
          .join(l2, col("lo2") === col("lo") && col("ls2") =!= col("ls"),
            "left_anti")
          .join(natSupp, col("s_suppkey") === col("ls"))
          .groupBy("s_name")
          .agg(count(lit(1)).as("numwait"))
          .orderBy(col("numwait").desc, col("s_name"))
      })
  )
}
