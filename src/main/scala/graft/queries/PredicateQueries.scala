package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables.{load => T}
import graft.clean.Cleaning
import graft.ops.Relational._

/** Predicate/projection/cleaning/window-frame queries (SURVEY §2.2 P4–P16,
  * §2.3, §2.9 scalar functions, §2.7 union, §2.13 V4 update-expression
  * semantics).
  */
object PredicateQueries {

  def all: Seq[Q] = Seq(

    // P5/P6 + F1-F3: string validity predicates (contains / rlike / length)
    // — reference `curate_data.py:95-97`, `curate_data.py:206-208`.
    Q("q17_string_predicates", Q.sql("""
        SELECT p_partkey, p_name, p_brand, p_type, p_size
        FROM part
        WHERE regexp_matches(p_type, '^(ECONOMY|SMALL)$')
          AND NOT contains(p_name, 'widget')
          AND length(p_brand) >= 7
          AND p_size BETWEEN 5 AND 40
        ORDER BY p_partkey"""))(
      (s, dir) =>
        T(s, dir, "part")
          .where(col("p_type").rlike("^(ECONOMY|SMALL)$")
            && !col("p_name").contains("widget")
            && length(col("p_brand")) >= 7
            && col("p_size").between(5, 40))
          .select("p_partkey", "p_name", "p_brand", "p_type", "p_size")
          .orderBy("p_partkey")),

    // P9/P10: IN-list + conjunctive predicates — `curate_data.py:235`,
    // `udf_complex_logic.py:144-148`.
    Q("q18_inlist_between", Q.sql("""
        SELECT o_orderkey, o_orderstatus, o_orderpriority, o_totalprice
        FROM orders
        WHERE o_orderstatus IN ('F', 'P')
          AND o_orderpriority IN ('1-URGENT', '2-HIGH')
          AND o_totalprice BETWEEN 100000 AND 200000
        ORDER BY o_orderkey"""))(
      (s, dir) =>
        T(s, dir, "orders")
          .where(col("o_orderstatus").isin("F", "P")
            && col("o_orderpriority").isin("1-URGENT", "2-HIGH")
            && col("o_totalprice").between(100000, 200000))
          .select("o_orderkey", "o_orderstatus", "o_orderpriority", "o_totalprice")
          .orderBy("o_orderkey")),

    // F9/D1/D2: native decade derivation (no UDF — the reference's own
    // guidance, `udf_complex_logic.py:8`) + grouped aggregate over it.
    Q("q19_decade", Q.sql("""
        SELECT concat(CAST(CAST(floor(year(o_orderdate) / 10) * 10 AS INTEGER) AS VARCHAR), 's') AS decade,
          count(*) AS n,
          CAST(sum(CAST(o_totalprice AS DECIMAL(27,4))) AS DOUBLE) AS total
        FROM orders
        GROUP BY 1
        ORDER BY decade"""))(
      (s, dir) =>
        T(s, dir, "orders")
          .groupBy(decade(year(col("o_orderdate"))).as("decade"))
          .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
          .orderBy("decade")),

    // U1: union of two tagged projections (`denormalized_tables.py:191-192`)
    // via unionByName (schema-checked, not positional).
    Q("q20_union", Q.sql("""
        SELECT o_orderkey, tag, o_totalprice FROM (
          SELECT o_orderkey, 'high' AS tag, o_totalprice FROM orders WHERE o_totalprice > 400000
          UNION ALL
          SELECT o_orderkey, 'low' AS tag, o_totalprice FROM orders WHERE o_totalprice < 10000) t
        ORDER BY tag, o_orderkey"""))(
      (s, dir) => {
        val o = T(s, dir, "orders")
        val high = o.where(col("o_totalprice") > 400000)
          .select(col("o_orderkey"), lit("high").as("tag"), col("o_totalprice"))
        val low = o.where(col("o_totalprice") < 10000)
          .select(col("o_orderkey"), lit("low").as("tag"), col("o_totalprice"))
        high.unionByName(low).orderBy("tag", "o_orderkey")
      }),

    // V4 semantics as an expression: UPDATE ... SET x = x*1.1 WHERE cond
    // (`update_versioning.py:40-44`) is copy-on-write `when(cond, expr)`.
    Q("q21_update_expr", Q.sql("""
        SELECT o_orderkey, o_orderstatus,
          CASE WHEN o_orderstatus = 'O' THEN o_totalprice * 1.1 ELSE o_totalprice END AS adj_price
        FROM orders
        WHERE o_orderkey < 3000
        ORDER BY o_orderkey"""))(
      (s, dir) =>
        T(s, dir, "orders")
          .where(col("o_orderkey") < 3000)
          .select(col("o_orderkey"), col("o_orderstatus"),
            when(col("o_orderstatus") === "O", col("o_totalprice") * 1.1)
              .otherwise(col("o_totalprice")).as("adj_price"))
          .orderBy("o_orderkey")),

    // W-extension: running frame (rows between unbounded preceding and
    // current) + dense ranking per customer.
    Q("q22_running_window", Q.sql("""
        SELECT o_custkey, o_orderkey,
          row_number() OVER w AS seq,
          CAST(sum(CAST(o_totalprice AS DECIMAL(27,4))) OVER w AS DOUBLE) AS running_spent
        FROM orders
        WHERE o_custkey < 50
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ORDER BY o_custkey, seq"""))(
      (s, dir) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate"), col("o_orderkey"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        T(s, dir, "orders")
          .where(col("o_custkey") < 50)
          .select(col("o_custkey"), col("o_orderkey"),
            row_number().over(Window.partitionBy(col("o_custkey"))
              .orderBy(col("o_orderdate"), col("o_orderkey"))).as("seq"),
            sum(col("o_totalprice").cast("decimal(27,4)")).over(w)
              .cast("double").as("running_spent"))
          .orderBy("o_custkey", "seq")
      }),

    // C1/C2/P6 cleaning pipeline over documents: validity regex + dedup.
    Q("q26_clean_documents", Q.sql("""
        SELECT DISTINCT doc_id, lang, source, n_chars
        FROM documents
        WHERE regexp_matches(lang, '^[a-z]{2}$')
          AND n_chars >= 100
          AND NOT contains(source, ' ')
        ORDER BY doc_id"""))(
      (s, dir) =>
        Cleaning.dedup(
          Cleaning.dropAllNullRows(T(s, dir, "documents"))
            .where(Cleaning.matches(col("lang"), "^[a-z]{2}$")
              && col("n_chars") >= 100
              && Cleaning.noSpaces(col("source")))
            .select("doc_id", "lang", "source", "n_chars"))
          .orderBy("doc_id")),

    // A5: programmatic column profiling (describe()/summary() made
    // deterministic: exact count/min/max/decimal-avg per column).
    Q("q27_profile", Q.sql("""
        SELECT count(*) AS n_rows,
          count(DISTINCT l_orderkey) AS n_orders,
          min(l_quantity) AS min_qty, max(l_quantity) AS max_qty,
          CAST(sum(CAST(l_quantity AS DECIMAL(27,4))) AS DOUBLE) / count(*) AS avg_qty,
          min(l_extendedprice) AS min_price, max(l_extendedprice) AS max_price,
          CAST(sum(CAST(l_extendedprice AS DECIMAL(27,4))) AS DOUBLE) / count(*) AS avg_price,
          strftime(min(CAST(l_shipdate AS DATE)), '%Y-%m-%d') AS min_ship,
          strftime(max(CAST(l_shipdate AS DATE)), '%Y-%m-%d') AS max_ship
        FROM lineitem"""))(
      (s, dir) =>
        T(s, dir, "lineitem").agg(
          count(lit(1)).as("n_rows"),
          countDistinct(col("l_orderkey")).as("n_orders"),
          min(col("l_quantity")).as("min_qty"),
          max(col("l_quantity")).as("max_qty"),
          davg(col("l_quantity")).as("avg_qty"),
          min(col("l_extendedprice")).as("min_price"),
          max(col("l_extendedprice")).as("max_price"),
          davg(col("l_extendedprice")).as("avg_price"),
          date_format(min(col("l_shipdate").cast("date")), "yyyy-MM-dd").as("min_ship"),
          date_format(max(col("l_shipdate").cast("date")), "yyyy-MM-dd").as("max_ship"))),

    // Skew-salted join, oracled against the PLAIN join (salting must be
    // row-identical — the oracle proves it through the driver gate).
    Q("q28_salted_join", Q.sql("""
        SELECT p_type,
          CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(27,8))) AS DOUBLE) AS revenue,
          count(*) AS n_items
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY p_type
        ORDER BY p_type"""))(
      (s, dir) => {
        val l = T(s, dir, "lineitem").withColumnRenamed("l_partkey", "partkey")
        val p = T(s, dir, "part").withColumnRenamed("p_partkey", "partkey")
        graft.ops.Skew.saltedJoin(l, p, "partkey",
            leftUnique = col("l_orderkey") * 8 + col("l_linenumber"), n = 8)
          .groupBy("p_type")
          .agg(
            dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 8)
              .as("revenue"),
            count(lit(1)).as("n_items"))
          .orderBy("p_type")
      }),

    // Bounded window frame: moving average over the 2 preceding + current
    // order per customer (rowsBetween), decimal-exact.
    Q("q29_moving_avg", Q.sql("""
        SELECT o_custkey, o_orderkey,
          CAST(sum(CAST(o_totalprice AS DECIMAL(27,4))) OVER w AS DOUBLE)
            / count(*) OVER w AS moving_avg
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
          ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
        ORDER BY o_custkey, o_orderkey"""))(
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("o_custkey")
          .orderBy(col("o_orderdate"), col("o_orderkey"))
          .rowsBetween(-2, Window.currentRow)
        T(s, dir, "orders")
          .select(col("o_custkey"), col("o_orderkey"),
            (sum(col("o_totalprice").cast("decimal(27,4)")).over(w).cast("double")
              / count(lit(1)).over(w)).as("moving_avg"))
          .orderBy("o_custkey", "o_orderkey")
      }),

    // W-extension: distribution ranking — ntile deciles + percent_rank /
    // cume_dist per market segment. All outputs are integral or exact
    // rank ratios (rounded), so the oracle is hash-exact.
    Q("q62_deciles", Q.sql("""
        SELECT c_custkey, c_mktsegment,
          CAST(ntile(10) OVER w AS INT) AS decile,
          round(percent_rank() OVER w, 6) AS pct_rank,
          round(cume_dist() OVER w, 6) AS cume
        FROM customer
        WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey)
        ORDER BY c_custkey"""))(
      (s, dir) => {
        val w = Window.partitionBy(col("c_mktsegment"))
          .orderBy(col("c_acctbal").desc, col("c_custkey"))
        T(s, dir, "customer")
          .select(col("c_custkey"), col("c_mktsegment"),
            ntile(10).over(w).as("decile"),
            round(percent_rank().over(w), 6).as("pct_rank"),
            round(cume_dist().over(w), 6).as("cume"))
          .orderBy("c_custkey")
      }),

    // W-extension: navigation functions — first/last/nth order price per
    // customer over the full partition frame.
    Q("q63_window_nav", Q.sql("""
        SELECT o_custkey, o_orderkey,
          first_value(o_totalprice) OVER w AS first_price,
          last_value(o_totalprice) OVER w AS last_price,
          nth_value(o_totalprice, 2) OVER w AS second_price
        FROM orders
        WHERE o_custkey < 100
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
          ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        ORDER BY o_custkey, o_orderkey"""))(
      (s, dir) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate"), col("o_orderkey"))
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        T(s, dir, "orders")
          .where(col("o_custkey") < 100)
          .select(col("o_custkey"), col("o_orderkey"),
            first(col("o_totalprice")).over(w).as("first_price"),
            last(col("o_totalprice")).over(w).as("last_price"),
            nth_value(col("o_totalprice"), 2).over(w).as("second_price"))
          .orderBy("o_custkey", "o_orderkey")
      })
  )
}
