package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.{load => T}
import graft.ops.Relational.dsum

/** Round-5 batch 19: the remaining canonical TPC-H shapes adapted to the
  * driver fixtures — Q7 (bidirectional volume shipping), Q8 (national
  * market share), Q13 (customer order-count distribution), Q15 (top
  * supplier), Q17 (small-quantity revenue), Q19 (disjunctive pushdown),
  * Q22 (global-threshold anti-join) — each oracle-checked bit-for-bit
  * vs DuckDB.
  *
  * Adaptations (fixture lacks l_shipmode/l_container/c_phone/partsupp):
  * Q13's comment filter becomes a priority filter, Q17's container
  * predicate becomes p_type, Q22's phone country code becomes the last
  * two digits of c_name.
  */
object TpchQueries {

  def all: Seq[Q] = Seq(

    // TPC-H Q7 (volume shipping): revenue flowing between two nations in
    // either direction, by shipment year. The fact joins supplier and
    // (via orders) customer, then each side's nation — all four dims
    // broadcast, so the 100 TB fact never shuffles for the join; the
    // nation-pair filter collapses the aggregate to 2 nations × 2 years.
    Q("q214_tpch_q7", Q.sql("""
        SELECT supp_nation, cust_nation, l_year,
          CAST(sum(CAST(volume AS DECIMAL(27,8))) AS DOUBLE) AS revenue
        FROM (
          SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
            year(CAST(l_shipdate AS DATE)) AS l_year,
            l_extendedprice * (1 - l_discount) AS volume
          FROM lineitem
          JOIN orders ON o_orderkey = l_orderkey
          JOIN supplier ON s_suppkey = l_suppkey
          JOIN customer ON c_custkey = o_custkey
          JOIN nation n1 ON s_nationkey = n1.n_nationkey
          JOIN nation n2 ON c_nationkey = n2.n_nationkey
          WHERE ((n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_11')
              OR (n1.n_name = 'NATION_11' AND n2.n_name = 'NATION_2'))
            AND year(CAST(l_shipdate AS DATE)) BETWEEN 1996 AND 1997
        ) shipping
        GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"""))(
      (s, dir) => {
        val n1 = broadcast(T(s, dir, "nation")
          .select(col("n_nationkey").as("n1_key"), col("n_name").as("supp_nation")))
        val n2 = broadcast(T(s, dir, "nation")
          .select(col("n_nationkey").as("n2_key"), col("n_name").as("cust_nation")))
        T(s, dir, "lineitem")
          .where(year(to_date(col("l_shipdate"))).between(1996, 1997))
          .join(T(s, dir, "orders"), col("o_orderkey") === col("l_orderkey"))
          .join(T(s, dir, "supplier"), col("s_suppkey") === col("l_suppkey"))
          .join(T(s, dir, "customer"), col("c_custkey") === col("o_custkey"))
          .join(n1, col("s_nationkey") === col("n1_key"))
          .join(n2, col("c_nationkey") === col("n2_key"))
          .where((col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_11") ||
            (col("supp_nation") === "NATION_11" && col("cust_nation") === "NATION_2"))
          .groupBy(col("supp_nation"), col("cust_nation"),
            year(to_date(col("l_shipdate"))).as("l_year"))
          .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 8)
            .as("revenue"))
          .orderBy("supp_nation", "cust_nation", "l_year")
      }),

    // TPC-H Q13 (customer distribution): histogram of customers by order
    // count, keeping zero-order customers via the LEFT join. The
    // groupBy(custkey) is key-bounded (|customer|); the histogram frame
    // is count-bounded (≤ max orders per customer) — both tiny at 100 TB.
    Q("q215_tpch_q13", Q.sql("""
        SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
        FROM (
          SELECT c_custkey, count(o_orderkey) AS c_count
          FROM customer
          LEFT JOIN orders ON c_custkey = o_custkey
            AND o_orderpriority <> '1-URGENT'
          GROUP BY 1
        ) c_orders
        GROUP BY 1 ORDER BY custdist DESC, c_count DESC"""))(
      (s, dir) =>
        T(s, dir, "customer")
          .join(T(s, dir, "orders").where(col("o_orderpriority") =!= "1-URGENT"),
            col("c_custkey") === col("o_custkey"), "left")
          .groupBy("c_custkey")
          .agg(count(col("o_orderkey")).as("c_count"))
          .groupBy("c_count")
          .agg(count(lit(1)).as("custdist"))
          .orderBy(col("custdist").desc, col("c_count").desc)),

    // TPC-H Q17 (small-quantity-order revenue): lines whose quantity is
    // under 20% of their part's average, for one brand/type slice.
    // Spark-first: the correlated scalar subquery becomes a per-part
    // aggregate joined back — the threshold frame is part-bounded and
    // broadcastable. avg stays exact because l_quantity is integral
    // (exact double sum) over an exact count — one final IEEE division
    // both engines agree on.
    Q("q216_tpch_q17", Q.sql("""
        WITH thresholds AS (
          SELECT l_partkey AS t_partkey,
            0.2 * (sum(l_quantity) / count(*)) AS qty_cut
          FROM lineitem GROUP BY 1)
        SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(27,8))) / 7.0
            AS DOUBLE) AS avg_yearly,
          CAST(count(*) AS BIGINT) AS n_lines
        FROM lineitem
        JOIN part ON p_partkey = l_partkey
        JOIN thresholds ON t_partkey = l_partkey
        WHERE p_brand = 'Brand#23' AND p_type = 'SMALL'
          AND l_quantity < qty_cut"""))(
      (s, dir) => {
        val li = T(s, dir, "lineitem")
        val thresholds = li.groupBy(col("l_partkey").as("t_partkey"))
          .agg((lit(0.2) * (sum(col("l_quantity")) / count(lit(1))))
            .as("qty_cut"))
        li.join(T(s, dir, "part")
            .where(col("p_brand") === "Brand#23" && col("p_type") === "SMALL"),
            col("p_partkey") === col("l_partkey"))
          .join(thresholds, col("t_partkey") === col("l_partkey"))
          .where(col("l_quantity") < col("qty_cut"))
          .agg((sum(col("l_extendedprice").cast("decimal(27,8)")) / lit(7.0))
            .cast("double").as("avg_yearly"),
            count(lit(1)).as("n_lines"))
      }),

    // TPC-H Q19 (discounted revenue, disjunctive predicate): three
    // brand/size/quantity OR-blocks. The brand/size arms push to the
    // part scan and the quantity envelope (1..30) pushes to the fact
    // scan BEFORE the join — the OR only evaluates on join survivors.
    Q("q217_tpch_q19", Q.sql("""
        SELECT CAST(sum(CAST(l_extendedprice * (1 - l_discount)
            AS DECIMAL(27,8))) AS DOUBLE) AS revenue,
          CAST(count(*) AS BIGINT) AS n_lines
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
            AND l_quantity BETWEEN 1 AND 11)
           OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
            AND l_quantity BETWEEN 10 AND 20)
           OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35
            AND l_quantity BETWEEN 20 AND 30)"""))(
      (s, dir) => {
        val arm1 = col("p_brand") === "Brand#12" &&
          col("p_size").between(1, 15) && col("l_quantity").between(1, 11)
        val arm2 = col("p_brand") === "Brand#23" &&
          col("p_size").between(1, 25) && col("l_quantity").between(10, 20)
        val arm3 = col("p_brand") === "Brand#34" &&
          col("p_size").between(1, 35) && col("l_quantity").between(20, 30)
        T(s, dir, "lineitem")
          .where(col("l_quantity").between(1, 30)) // pushdown envelope
          .join(T(s, dir, "part")
            .where(col("p_brand").isin("Brand#12", "Brand#23", "Brand#34") &&
              col("p_size").between(1, 35)),
            col("p_partkey") === col("l_partkey"))
          .where(arm1 || arm2 || arm3)
          .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 8)
            .as("revenue"), count(lit(1)).as("n_lines"))
      }),

    // TPC-H Q8 (national market share): one supplier nation's share of
    // the revenue that one region's customers spend on one part type,
    // by order year. Share = conditional decimal sum / total decimal
    // sum in a single aggregation pass; all five dims broadcast, the
    // fact filtered by the (pushed-down) type join before any shuffle.
    Q("q230_tpch_q8", Q.sql("""
        SELECT o_year,
          round(CAST(sum(CASE WHEN supp_nation = 'NATION_2'
              THEN CAST(volume AS DECIMAL(27,8)) ELSE 0 END) AS DOUBLE)
            / CAST(sum(CAST(volume AS DECIMAL(27,8))) AS DOUBLE), 6)
            AS mkt_share,
          CAST(count(*) AS BIGINT) AS n_lines
        FROM (
          SELECT year(CAST(o_orderdate AS DATE)) AS o_year,
            l_extendedprice * (1 - l_discount) AS volume,
            sn.n_name AS supp_nation
          FROM lineitem
          JOIN part ON p_partkey = l_partkey
          JOIN orders ON o_orderkey = l_orderkey
          JOIN customer ON c_custkey = o_custkey
          JOIN nation cn ON c_nationkey = cn.n_nationkey
          JOIN region ON cn.n_regionkey = r_regionkey
          JOIN supplier ON s_suppkey = l_suppkey
          JOIN nation sn ON s_nationkey = sn.n_nationkey
          WHERE r_name = 'ASIA' AND p_type = 'ECONOMY'
        ) shares
        GROUP BY 1 ORDER BY 1"""))(
      (s, dir) => {
        val cn = broadcast(T(s, dir, "nation")
          .select(col("n_nationkey").as("cn_key"), col("n_regionkey").as("cn_region")))
        val sn = broadcast(T(s, dir, "nation")
          .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation")))
        val vol = col("l_extendedprice") * (lit(1) - col("l_discount"))
        T(s, dir, "lineitem")
          .join(T(s, dir, "part")
            .where(col("p_type") === "ECONOMY"),
            col("p_partkey") === col("l_partkey"))
          .join(T(s, dir, "orders"), col("o_orderkey") === col("l_orderkey"))
          .join(T(s, dir, "customer"), col("c_custkey") === col("o_custkey"))
          .join(cn, col("c_nationkey") === col("cn_key"))
          .join(broadcast(T(s, dir, "region")
            .where(col("r_name") === "ASIA")),
            col("cn_region") === col("r_regionkey"))
          .join(T(s, dir, "supplier"), col("s_suppkey") === col("l_suppkey"))
          .join(sn, col("s_nationkey") === col("sn_key"))
          .groupBy(year(to_date(col("o_orderdate"))).as("o_year"))
          .agg(round(
            sum(when(col("supp_nation") === "NATION_2",
              vol.cast("decimal(27,8)")).otherwise(lit(0))).cast("double") /
              sum(vol.cast("decimal(27,8)")).cast("double"), 6).as("mkt_share"),
            count(lit(1)).as("n_lines"))
          .orderBy("o_year")
      }),

    // TPC-H Q15 (top supplier): quarterly revenue per supplier, keep the
    // supplier(s) achieving the maximum. The max is computed on the
    // EXACT decimal (no double cast before the equality join — ties must
    // be exact); the scalar max broadcasts into the filter.
    Q("q231_tpch_q15", Q.sql("""
        WITH revenue AS (
          SELECT l_suppkey AS supplier_no,
            sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(27,8)))
              AS total_rev
          FROM lineitem
          WHERE CAST(l_shipdate AS DATE) >= DATE '1997-01-01'
            AND CAST(l_shipdate AS DATE) < DATE '1997-04-01'
          GROUP BY 1)
        SELECT s_suppkey, s_name,
          CAST(total_rev AS DOUBLE) AS total_revenue
        FROM supplier JOIN revenue ON s_suppkey = supplier_no
        WHERE total_rev = (SELECT max(total_rev) FROM revenue)
        ORDER BY s_suppkey"""))(
      (s, dir) => {
        val revenue = T(s, dir, "lineitem")
          .where(to_date(col("l_shipdate")) >= lit("1997-01-01") &&
            to_date(col("l_shipdate")) < lit("1997-04-01"))
          .groupBy(col("l_suppkey").as("supplier_no"))
          .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast("decimal(27,8)")).as("total_rev"))
        val maxRev = revenue.agg(max(col("total_rev")).as("max_rev"))
        T(s, dir, "supplier")
          .join(revenue, col("s_suppkey") === col("supplier_no"))
          .crossJoin(broadcast(maxRev))
          .where(col("total_rev") === col("max_rev"))
          .select(col("s_suppkey"), col("s_name"),
            col("total_rev").cast("double").as("total_revenue"))
          .orderBy("s_suppkey")
      }),

    // TPC-H Q9 (product-type profit): profit per nation and order year
    // for parts matching a name pattern. The fixture has no partsupp, so
    // supply cost is proxied by p_retailprice·quantity — the shape under
    // test (fact × 2 facts × 3 broadcast dims, per-line arithmetic,
    // nation×year aggregate) is Q9's. Lineitem is filtered by the
    // broadcast part-name join BEFORE touching orders.
    Q("q238_tpch_q9", Q.sql("""
        SELECT n_name AS nation, year(CAST(o_orderdate AS DATE)) AS o_year,
          CAST(sum(CAST(l_extendedprice * (1 - l_discount)
            - p_retailprice * l_quantity AS DECIMAL(27,8))) AS DOUBLE)
            AS sum_profit,
          CAST(count(*) AS BIGINT) AS n_lines
        FROM lineitem
        JOIN part ON p_partkey = l_partkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN orders ON o_orderkey = l_orderkey
        WHERE p_name LIKE '%gear%'
        GROUP BY 1, 2 ORDER BY 1, 2 DESC"""))(
      (s, dir) =>
        T(s, dir, "lineitem")
          .join(T(s, dir, "part")
            .where(col("p_name").contains("gear")),
            col("p_partkey") === col("l_partkey"))
          .join(T(s, dir, "supplier"), col("s_suppkey") === col("l_suppkey"))
          .join(broadcast(T(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
          .join(T(s, dir, "orders"), col("o_orderkey") === col("l_orderkey"))
          .groupBy(col("n_name").as("nation"),
            year(to_date(col("o_orderdate"))).as("o_year"))
          .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")) -
            col("p_retailprice") * col("l_quantity"), 8).as("sum_profit"),
            count(lit(1)).as("n_lines"))
          .orderBy(col("nation"), col("o_year").desc)),

    // TPC-H Q16 (supplier relationship count): distinct suppliers per
    // (brand, type, size) slice, excluding one brand and restricting to
    // an IN-list of sizes — the distinct-count-after-anti-filter shape.
    // The (part, supplier) pairs come from lineitem (fixture has no
    // partsupp); the distinct-agg frame is catalog-bounded.
    Q("q239_tpch_q16", Q.sql("""
        SELECT p_brand, p_type, p_size,
          CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE p_brand <> 'Brand#13'
          AND p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
        GROUP BY 1, 2, 3
        ORDER BY supplier_cnt DESC, p_brand, p_type, p_size"""))(
      (s, dir) =>
        T(s, dir, "lineitem")
          .join(T(s, dir, "part")
            .where(col("p_brand") =!= "Brand#13" &&
              col("p_size").isin(1, 9, 14, 19, 23, 36, 45, 49)),
            col("p_partkey") === col("l_partkey"))
          .groupBy("p_brand", "p_type", "p_size")
          .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
          .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
            col("p_size"))),

    // TPC-H Q22 (global-threshold anti-join): customers from selected
    // "country codes" (last two digits of c_name) with above-average
    // positive balance and no recent orders (every fixture customer
    // orders eventually, so the anti-join is on the trailing window).
    // The scalar threshold is one exact decimal-sum aggregate broadcast
    // into the filter; the inactivity test is a left-anti join.
    Q("q218_tpch_q22", Q.sql("""
        WITH threshold AS (
          SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
            / count(*) AS avg_bal
          FROM customer WHERE c_acctbal > 0.0)
        SELECT substr(c_name, length(c_name) - 1, 2) AS cntrycode,
          CAST(count(*) AS BIGINT) AS numcust,
          CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
        FROM customer, threshold
        WHERE substr(c_name, length(c_name) - 1, 2)
            IN ('13', '31', '23', '29', '30', '18', '17')
          AND c_acctbal > avg_bal
          AND c_custkey NOT IN (SELECT o_custkey FROM orders
            WHERE CAST(o_orderdate AS DATE) >= DATE '1999-01-01')
        GROUP BY 1 ORDER BY 1"""))(
      (s, dir) => {
        val cust = T(s, dir, "customer")
          .withColumn("cntrycode", substring(col("c_name"), -2, 2))
          .where(col("cntrycode").isin("13", "31", "23", "29", "30", "18", "17"))
        val threshold = T(s, dir, "customer").where(col("c_acctbal") > 0.0)
          .agg((sum(col("c_acctbal").cast("decimal(18,2)")).cast("double")
            / count(lit(1))).as("avg_bal"))
        cust.crossJoin(broadcast(threshold))
          .where(col("c_acctbal") > col("avg_bal"))
          .join(T(s, dir, "orders")
            .where(to_date(col("o_orderdate")) >= lit("1999-01-01")),
            col("c_custkey") === col("o_custkey"), "left_anti")
          .groupBy("cntrycode")
          .agg(count(lit(1)).as("numcust"),
            dsum(col("c_acctbal"), 2).as("totacctbal"))
          .orderBy("cntrycode")
      })
  )
}
