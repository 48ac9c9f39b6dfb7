package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables.{load => T}
import graft.graph.CoPurchase
import graft.ops.Frames.materialize
import graft.ops.Relational.dsum

/** Round-5 batch 21: warehouse-modeling depth — explicit GROUPING SETS,
  * SCD Type-2 dimension building, weighted shortest paths (Bellman-Ford
  * rounds), and semi-additive balance carry-forward — each oracle-checked
  * bit-for-bit vs DuckDB.
  */
object WarehouseQueries {

  private val BfRounds = 3

  /** Fixed relaxation rounds as chained MATERIALIZED CTEs (the SQL mirror
    * of the Spark loop; inlining would re-expand the edge scan per round).
    */
  private def bellmanFordCtes(rounds: Int): String =
    (1 to rounds).map { i =>
      s"""d$i AS MATERIALIZED (
           SELECT v, min(dist) AS dist FROM (
             SELECT v, dist FROM d${i - 1}
             UNION ALL
             SELECT adj.v, p.dist + adj.w AS dist
             FROM adj JOIN d${i - 1} p ON adj.u = p.v) c
           GROUP BY 1)"""
    }.mkString(",\n")

  def all: Seq[Q] = Seq(

    // Matched-sample price indices per ship-month (the BLS/statistics-
    // office classics): Laspeyres (base-period quantity weights),
    // Paasche (current weights), Fisher (their geometric mean) over
    // parts present in BOTH the base month and month t. Unit prices are
    // one rounded IEEE division off exact decimal (revenue, quantity)
    // sums; the weighted sums round-then-DECIMAL-route every product,
    // so the aggregation is order-independent (the q304 discipline). At
    // 100 TB: one (part, month) hash agg over the fact table, a
    // broadcast of the base-month slice, nothing else.
    Q("q317_price_index", Q.sql("""
        WITH pm AS (
          SELECT l_partkey AS part,
            year(CAST(l_shipdate AS DATE)) * 100 + month(CAST(l_shipdate AS DATE)) AS ym,
            CAST(sum(CAST(l_extendedprice AS DECIMAL(27,4))) AS DECIMAL(27,4)) AS rev,
            CAST(sum(CAST(l_quantity AS DECIMAL(27,4))) AS DECIMAL(27,4)) AS qty
          FROM lineitem GROUP BY 1, 2),
        p AS (
          SELECT part, ym,
            round(CAST(rev AS DOUBLE) / CAST(qty AS DOUBLE), 9) AS up,
            CAST(qty AS DOUBLE) AS qd
          FROM pm),
        base AS (
          SELECT part, up AS p0, qd AS q0 FROM p
          WHERE ym = (SELECT min(ym) FROM p)),
        j AS (
          SELECT p.ym, p.up AS pt, p.qd AS qt, b.p0, b.q0
          FROM p JOIN base b ON b.part = p.part),
        s AS (
          SELECT ym, count(*) AS n_parts,
            CAST(sum(CAST(round(pt * q0, 4) AS DECIMAL(27,4))) AS DOUBLE) AS l_num,
            CAST(sum(CAST(round(p0 * q0, 4) AS DECIMAL(27,4))) AS DOUBLE) AS l_den,
            CAST(sum(CAST(round(pt * qt, 4) AS DECIMAL(27,4))) AS DOUBLE) AS p_num,
            CAST(sum(CAST(round(p0 * qt, 4) AS DECIMAL(27,4))) AS DOUBLE) AS p_den
          FROM j GROUP BY 1)
        SELECT ym, n_parts,
          round(l_num / l_den, 6) AS laspeyres,
          round(p_num / p_den, 6) AS paasche,
          round(sqrt(round(l_num / l_den, 6) * round(p_num / p_den, 6)), 6)
            AS fisher
        FROM s ORDER BY ym"""))(
      (s, dir) => {
        val pm = T(s, dir, "lineitem")
          .groupBy(col("l_partkey").as("part"),
            (year(to_date(col("l_shipdate"))) * 100
              + month(to_date(col("l_shipdate")))).as("ym"))
          .agg(dsum(col("l_extendedprice"), 4).as("rev"),
            dsum(col("l_quantity"), 4).as("qty"))
        // materialized: p feeds minYm, base and the index join — one
        // lineitem aggregation instead of three (p is the grouped
        // (part, month) frame, far smaller than the fact table)
        val p = graft.ops.Frames.materialize(
          pm.select(col("part"), col("ym"),
          round(col("rev").cast("double") / col("qty").cast("double"), 9)
            .as("up"),
          col("qty").cast("double").as("qd")))
        val minYm = p.agg(min(col("ym")).as("ym0"))
        val base = p.crossJoin(broadcast(minYm))
          .where(col("ym") === col("ym0"))
          .select(col("part"), col("up").as("p0"), col("qd").as("q0"))
        def wsum(a: Column, b: Column) =
          sum(round(a * b, 4).cast("decimal(27,4)")).cast("double")
        // base is part-keyed (data-sized at scale): plain equi-join
        val j = p.join(base, "part")
        val agg = j.groupBy("ym").agg(
          count(lit(1)).as("n_parts"),
          wsum(col("up"), col("q0")).as("l_num"),
          wsum(col("p0"), col("q0")).as("l_den"),
          wsum(col("up"), col("qd")).as("p_num"),
          wsum(col("p0"), col("qd")).as("p_den"))
        agg.select(col("ym"), col("n_parts"),
            round(col("l_num") / col("l_den"), 6).as("laspeyres"),
            round(col("p_num") / col("p_den"), 6).as("paasche"),
            round(sqrt(round(col("l_num") / col("l_den"), 6)
              * round(col("p_num") / col("p_den"), 6)), 6).as("fisher"))
          .orderBy("ym")
      }),

    // Herfindahl-Hirschman concentration index per supplier nation: HHI
    // = Σ (revenue share of each supplier)² × 10000 — the antitrust /
    // vendor-risk number (USDoJ bands: <1500 unconcentrated, >2500
    // highly concentrated) a supply-chain warehouse reports per market.
    // Revenue sums are exact decimals; each share² is one IEEE square
    // rounded to 9dp then DECIMAL-summed, so the index is order-
    // independent. Two hash aggs and a broadcast of the 25-row nation
    // totals at any scale.
    Q("q321_hhi", Q.sql("""
        WITH sr AS (
          SELECT s_nationkey AS nation, l.l_suppkey AS supp,
            CAST(sum(CAST(l_extendedprice AS DECIMAL(27,4))) AS DECIMAL(27,4)) AS rev
          FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
          GROUP BY 1, 2),
        nt AS (
          SELECT nation, CAST(sum(rev) AS DECIMAL(38,4)) AS total
          FROM sr GROUP BY 1),
        sh AS (
          SELECT sr.nation,
            round((CAST(sr.rev AS DOUBLE) / CAST(nt.total AS DOUBLE))
              * (CAST(sr.rev AS DOUBLE) / CAST(nt.total AS DOUBLE)), 9) AS sq
          FROM sr JOIN nt ON nt.nation = sr.nation)
        SELECT nation, count(*) AS n_suppliers,
          round(CAST(sum(CAST(sq AS DECIMAL(18,9))) AS DOUBLE) * 10000, 6)
            AS hhi
        FROM sh GROUP BY 1 ORDER BY nation"""))(
      (s, dir) => {
        val sr = T(s, dir, "lineitem")
          .join(T(s, dir, "supplier")
            .select(col("s_suppkey"), col("s_nationkey")),
            col("s_suppkey") === col("l_suppkey"))
          .groupBy(col("s_nationkey").as("nation"),
            col("l_suppkey").as("supp"))
          .agg(dsum(col("l_extendedprice"), 4).as("rev"))
        val nt = sr.groupBy("nation")
          .agg(sum(col("rev")).cast("decimal(38,4)").as("total"))
        val share = col("rev").cast("double") / col("total").cast("double")
        val sh = sr.join(broadcast(nt), "nation")
          .select(col("nation"), round(share * share, 9).as("sq"))
        sh.groupBy("nation")
          .agg(count(lit(1)).as("n_suppliers"),
            round(sum(col("sq").cast("decimal(18,9)")).cast("double")
              * 10000, 6).as("hhi"))
          .orderBy("nation")
      }),

    // Explicit GROUPING SETS: one pass produces the (status, priority)
    // matrix, the status margin, and the priority margin — but NOT the
    // grand total (the asymmetry rollup/cube can't express). grouping()
    // flags disambiguate margin rows from genuine NULL keys. One shuffle
    // produces all three granularities — at 100 TB this replaces three
    // separate scans.
    Q("q223_grouping_sets", Q.sql("""
        SELECT o_orderstatus, o_orderpriority,
          CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
          CAST(GROUPING(o_orderpriority) AS INT) AS g_priority,
          CAST(sum(CAST(o_totalprice AS DECIMAL(27,4))) AS DOUBLE) AS revenue,
          CAST(count(*) AS BIGINT) AS n_orders
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
          (o_orderstatus), (o_orderpriority))
        ORDER BY 3, 4, 1, 2"""))(
      (s, dir) =>
        T(s, dir, "orders")
          .groupingSets(
            Seq(Seq(col("o_orderstatus"), col("o_orderpriority")),
              Seq(col("o_orderstatus")), Seq(col("o_orderpriority"))),
            col("o_orderstatus"), col("o_orderpriority"))
          .agg(grouping(col("o_orderstatus")).cast("int").as("g_status"),
            grouping(col("o_orderpriority")).cast("int").as("g_priority"),
            dsum(col("o_totalprice"), 4).as("revenue"),
            count(lit(1)).as("n_orders"))
          .select("o_orderstatus", "o_orderpriority", "g_status",
            "g_priority", "revenue", "n_orders")
          .orderBy("g_status", "g_priority", "o_orderstatus", "o_orderpriority")),

    // SCD Type-2 dimension build: each user's event_type history becomes
    // versioned rows with [valid_from, valid_to) day intervals and a
    // current flag. Day-granularity state = last event of the day
    // (row_number tie-broken on ts, event_id); change detection via lag;
    // interval ends via lead. Everything shuffles ONCE on user_id —
    // the three windows share the partitioning.
    Q("q224_scd2_build", Q.sql("""
        WITH daily AS (
          SELECT user_id, CAST(ts AS DATE) AS day, event_type AS state
          FROM (
            SELECT user_id, ts, event_type,
              row_number() OVER (
                PARTITION BY user_id, CAST(ts AS DATE)
                ORDER BY ts DESC, event_id DESC) AS rn
            FROM events) t
          WHERE rn = 1),
        changes AS (
          SELECT user_id, day, state,
            lag(state) OVER w AS prev_state
          FROM daily WINDOW w AS (PARTITION BY user_id ORDER BY day)),
        versions AS (
          SELECT user_id, day AS valid_from, state,
            row_number() OVER w AS version,
            lead(day) OVER w AS valid_to
          FROM changes
          WHERE prev_state IS NULL OR state <> prev_state
          WINDOW w AS (PARTITION BY user_id ORDER BY day))
        SELECT user_id, version, state, valid_from, valid_to,
          CAST(valid_to IS NULL AS INT) AS is_current
        FROM versions ORDER BY user_id, version"""))(
      (s, dir) => {
        val byUserDay = Window.partitionBy(col("user_id"), to_date(col("ts")))
          .orderBy(col("ts").desc, col("event_id").desc)
        val byUser = Window.partitionBy(col("user_id")).orderBy(col("day"))
        val daily = T(s, dir, "events")
          .withColumn("rn", row_number().over(byUserDay))
          .where(col("rn") === 1)
          .select(col("user_id"), to_date(col("ts")).as("day"),
            col("event_type").as("state"))
        daily
          .withColumn("prev_state", lag(col("state"), 1).over(byUser))
          .where(col("prev_state").isNull || col("state") =!= col("prev_state"))
          .withColumn("version", row_number().over(byUser))
          .withColumn("valid_to", lead(col("day"), 1).over(byUser))
          .select(col("user_id"), col("version"), col("state"),
            col("day").as("valid_from"), col("valid_to"),
            col("valid_to").isNull.cast("int").as("is_current"))
          .orderBy("user_id", "version")
      }),

    // Weighted shortest paths (Bellman-Ford, 3 relaxation rounds) from
    // the hub of the co-purchase graph, edge weight 1/support (frequent
    // co-purchase = close). Each round is one join + one min-agg,
    // frontier materialized to truncate lineage — q183's BFS upgraded
    // with weights; double min/add chains are replayed identically by
    // the oracle.
    Q("q225_bellman_ford", Q.sql(s"""
        WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        pr AS (
          SELECT a.p AS a, b.p AS b, count(*) AS n
          FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
          GROUP BY 1, 2),
        we AS (SELECT a, b, round(1.0 / n, 9) AS w FROM pr WHERE n >= 2),
        adj AS MATERIALIZED (
          SELECT a AS v, b AS u, w FROM we UNION ALL SELECT b, a, w FROM we),
        deg AS (SELECT v, count(*) AS dg FROM adj GROUP BY 1),
        src AS (SELECT v FROM deg ORDER BY dg DESC, v LIMIT 1),
        d0 AS MATERIALIZED (SELECT v, CAST(0.0 AS DOUBLE) AS dist FROM src),
        ${bellmanFordCtes(BfRounds)}
        SELECT v, round(dist, 9) AS dist FROM d$BfRounds ORDER BY v"""))(
      (s, dir) => {
        // staged co-purchase pair frame (graph/CoPurchase.scala): same
        // rows as the oracle's DISTINCT self-join pair count
        val pr = graft.graph.CoPurchase.pairsStaged(s, dir)
          .withColumn("w", round(lit(1.0) / col("n"), 9))
        // model-sized frames: keep the per-round shuffles narrow
        val adj = materialize(
          pr.select(col("a").as("v"), col("b").as("u"), col("w"))
            .unionAll(pr.select(col("b"), col("a"), col("w"))).coalesce(8))
        val src = adj.groupBy("v").agg(count(lit(1)).as("dg"))
          .orderBy(col("dg").desc, col("v").asc).limit(1)
        var dist = src.select(col("v"), lit(0.0).as("dist"))
        for (_ <- 1 to BfRounds) {
          dist = materialize(
            dist.unionAll(
              adj.join(dist.withColumnRenamed("v", "x")
                  .withColumnRenamed("dist", "pdist"),
                col("u") === col("x"))
                .select(col("v"), (col("pdist") + col("w")).as("dist")))
              .groupBy("v").agg(min(col("dist")).as("dist")).coalesce(8))
        }
        dist.select(col("v"), round(col("dist"), 9).as("dist")).orderBy("v")
      }),

    // Semi-additive balance carry-forward: month-end account balance per
    // customer (running decimal cumsum), carried across silent months
    // with last-non-null over the customer×month spine, then summed per
    // month — the warehouse pattern for balances/inventory where SUM
    // over time is meaningless. The spine is customers×months (never
    // order-sized); the cumsum shuffles once on custkey.
    Q("q226_semi_additive", Q.sql("""
        WITH bal AS (
          SELECT o_custkey AS cust,
            (year(CAST(o_orderdate AS DATE)) * 12
              + month(CAST(o_orderdate AS DATE)) - 1) AS mser,
            CAST(sum(CAST(o_totalprice AS DECIMAL(27,4))) OVER (
              PARTITION BY o_custkey
              ORDER BY CAST(o_orderdate AS DATE), o_orderkey
              ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS run_bal,
            row_number() OVER (
              PARTITION BY o_custkey,
                year(CAST(o_orderdate AS DATE)) * 12
                  + month(CAST(o_orderdate AS DATE)) - 1
              ORDER BY CAST(o_orderdate AS DATE) DESC, o_orderkey DESC) AS rn
          FROM orders),
        eom AS (SELECT cust, mser, run_bal FROM bal WHERE rn = 1),
        bounds AS (SELECT min(mser) AS lo, max(mser) AS hi FROM eom),
        spine AS (
          SELECT c.cust, CAST(m.mser AS BIGINT) AS mser
          FROM (SELECT DISTINCT cust FROM eom) c
          CROSS JOIN (SELECT unnest(range((SELECT lo FROM bounds),
            (SELECT hi FROM bounds) + 1)) AS mser FROM bounds) m),
        filled AS (
          SELECT s.mser,
            last_value(e.run_bal IGNORE NULLS) OVER (
              PARTITION BY s.cust ORDER BY s.mser
              ROWS UNBOUNDED PRECEDING) AS bal
          FROM spine s LEFT JOIN eom e ON e.cust = s.cust AND e.mser = s.mser)
        SELECT make_date(CAST(mser // 12 AS INT), CAST(mser % 12 AS INT) + 1, 1) AS month,
          CAST(count(bal) AS BIGINT) AS n_accounts,
          CAST(sum(CAST(bal AS DECIMAL(27,4))) AS DOUBLE) AS total_balance
        FROM filled GROUP BY 1 ORDER BY 1"""))(
      (s, dir) => {
        val d = to_date(col("o_orderdate"))
        val mser = (year(d) * 12 + month(d) - 1).cast("bigint")
        val byCust = Window.partitionBy(col("o_custkey"))
          .orderBy(d, col("o_orderkey"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val bal = T(s, dir, "orders")
          .select(col("o_custkey").as("cust"), mser.as("mser"), d.as("d"),
            col("o_orderkey").as("okey"),
            sum(col("o_totalprice").cast("decimal(27,4)")).over(byCust)
              .cast("double").as("run_bal"))
        // last-in-month via struct-max hash agg ((d, okey) is unique):
        // partial-aggregates map-side instead of a second window sort
        // materialized: eom feeds bounds, the spine distinct and the
        // fill join — one running-balance window pass instead of three
        val eom = graft.ops.Frames.materialize(bal.groupBy("cust", "mser")
          .agg(max(struct(col("d"), col("okey"), col("run_bal")))
            .getField("run_bal").as("run_bal")))
        val bounds = eom.agg(min(col("mser")).as("lo"), max(col("mser")).as("hi"))
        val spine = eom.select("cust").distinct()
          .crossJoin(broadcast(bounds))
          .select(col("cust"), explode(sequence(col("lo"), col("hi"))).as("mser"))
        val carry = Window.partitionBy(col("cust")).orderBy(col("mser"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        spine
          .join(eom, Seq("cust", "mser"), "left_outer")
          .select(col("mser"), last(col("run_bal"), ignoreNulls = true)
            .over(carry).as("bal"))
          .groupBy(make_date((col("mser") / 12).cast("int"),
            (col("mser") % 12).cast("int") + 1, lit(1)).as("month"))
          .agg(count(col("bal")).as("n_accounts"),
            dsum(col("bal"), 4).as("total_balance"))
          .orderBy("month")
      }),

    // Incremental aggregate maintenance: the per-priority revenue rollup
    // maintained by MERGING yesterday's partial aggregate with the new
    // batch's partial aggregate (counts add, decimal sums add) instead
    // of recomputing from scratch — the refresh pattern a 100 TB
    // warehouse runs nightly. The oracle computes the same rollup in one
    // pass, so the hash match IS the proof that the partials merge
    // exactly (partials stay DECIMAL until the final cast; a double
    // partial would drift with merge order).
    Q("q276_agg_merge_refresh", Q.sql("""
        SELECT o_orderpriority, count(*) AS n_orders,
          CAST(sum(CAST(o_totalprice AS DECIMAL(27,4))) AS DOUBLE) AS revenue
        FROM orders
        GROUP BY 1 ORDER BY 1"""))(
      (s, dir) => {
        val o = T(s, dir, "orders")
        def partial(df: DataFrame): DataFrame =
          df.groupBy("o_orderpriority")
            .agg(count(lit(1)).as("n_orders"),
              sum(col("o_totalprice").cast("decimal(27,4)")).as("rev_part"))
        val base = partial(o.where(
          to_date(col("o_orderdate")) < lit("1998-01-01")))
        val delta = partial(o.where(
          to_date(col("o_orderdate")) >= lit("1998-01-01")))
        base.unionByName(delta)
          .groupBy("o_orderpriority")
          .agg(sum(col("n_orders")).as("n_orders"),
            sum(col("rev_part")).cast("double").as("revenue"))
          .orderBy("o_orderpriority")
      }),

    // Incremental view maintenance for a JOIN view (q276 covered the
    // aggregate half): V = π(orders ⋈ customer) maintained under deltas
    // on BOTH inputs via the delta-join algebra
    //   ΔV = Δo⋈C_base ∪ O_base⋈Δc ∪ Δo⋈Δc
    // — each term joins a DELTA (small) against one base or the other
    // delta, never base⋈base again. The four terms' decimal partial
    // aggregates merge per group; the oracle recomputes the view from
    // scratch in one join, so the hash match proves the algebra exact.
    // At 100 TB: the nightly refresh touches |Δ|-proportional data while
    // the from-scratch rebuild re-shuffles the world; the delta terms
    // broadcast their small side.
    Q("q289_join_ivm", Q.sql("""
        SELECT c_nationkey AS nation_key, count(*) AS n_orders,
          CAST(sum(CAST(o_totalprice AS DECIMAL(27,4))) AS DOUBLE) AS revenue
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY 1 ORDER BY 1"""))(
      (s, dir) => {
        val o = T(s, dir, "orders")
        val c = T(s, dir, "customer")
          .select(col("c_custkey"), col("c_nationkey"))
        val (oBase, oDelta) =
          (o.where(col("o_orderkey") % 7 =!= 0), o.where(col("o_orderkey") % 7 === 0))
        val (cBase, cDelta) =
          (c.where(col("c_custkey") % 5 =!= 0), c.where(col("c_custkey") % 5 === 0))
        // customer partitions are fact-scaling: plain equi-joins (AQE
        // broadcasts a small delta side at runtime when it fits)
        def partial(ord: DataFrame, cust: DataFrame): DataFrame =
          ord.join(cust, col("o_custkey") === col("c_custkey"))
            .groupBy(col("c_nationkey").as("nation_key"))
            .agg(count(lit(1)).as("n_part"),
              sum(col("o_totalprice").cast("decimal(27,4)")).as("rev_part"))
        // V_base plus the three delta-join terms; in a live system only
        // the last three run per refresh (V_base is the standing view's
        // retained partials)
        partial(oBase, cBase)
          .unionByName(partial(oDelta, cBase))
          .unionByName(partial(oBase, cDelta))
          .unionByName(partial(oDelta, cDelta))
          .groupBy("nation_key")
          .agg(sum(col("n_part")).as("n_orders"),
            sum(col("rev_part")).cast("double").as("revenue"))
          .orderBy("nation_key")
      }),

    // Join-cardinality estimation from hashed equi-width histograms —
    // the cost-model primitive behind join reordering and AQE sizing:
    // |A ⋈ B| is bounded above by Σ_b cA(b)·cB(b) over B=64 hash
    // buckets of the join key (exact when no two keys share a bucket;
    // the over_ratio column measures the collision slack). Two
    // tiny-state aggregation passes + a 64-row join — the estimate
    // costs O(histograms), the exact join costs the shuffle it predicts.
    Q("q299_join_size_estimate", {
      val h = graft.functions.PortableSql
        .hexToLong("md5(CAST(o_custkey AS VARCHAR))", 12)
      val hc = graft.functions.PortableSql
        .hexToLong("md5(CAST(c_custkey AS VARCHAR))", 12)
      Q.sql(s"""
        WITH ha AS (
          SELECT ($h) % 64 AS b, CAST(count(*) AS BIGINT) AS ca
          FROM orders GROUP BY 1),
        hb AS (
          SELECT ($hc) % 64 AS b, CAST(count(*) AS BIGINT) AS cb
          FROM customer GROUP BY 1),
        est AS (
          SELECT CAST(sum(ca * cb) AS BIGINT) AS est_rows
          FROM ha JOIN hb USING (b)),
        ex AS (
          SELECT CAST(count(*) AS BIGINT) AS exact_rows
          FROM orders JOIN customer ON o_custkey = c_custkey)
        SELECT est_rows, exact_rows,
          round(est_rows * 1.0 / exact_rows, 6) AS over_ratio
        FROM est, ex""")
    })(
      (s, dir) => {
        import graft.functions.Md5Long
        val ha = T(s, dir, "orders")
          .groupBy((Md5Long.md5PrefixLong(col("o_custkey").cast("string"), 0, 6)
            % 64).as("b"))
          .agg(count(lit(1)).as("ca"))
        val hb = T(s, dir, "customer")
          .groupBy((Md5Long.md5PrefixLong(col("c_custkey").cast("string"), 0, 6)
            % 64).as("b"))
          .agg(count(lit(1)).as("cb"))
        val est = ha.join(hb, "b")
          .agg(sum(col("ca") * col("cb")).as("est_rows"))
        val ex = T(s, dir, "orders")
          .join(T(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
          .agg(count(lit(1)).as("exact_rows"))
        est.crossJoin(broadcast(ex))
          .select(col("est_rows"), col("exact_rows"),
            round(col("est_rows") * 1.0 / col("exact_rows"), 6)
              .as("over_ratio"))
      }),

    // Theil T inequality index with between/within decomposition
    // (Theil 1967) over supplier revenues — the concentration number
    // HHI (q321) and Gini (q188) CAN'T give you: T is additively
    // decomposable, so "how much revenue inequality is BETWEEN nations
    // vs WITHIN them" is exact, not heuristic. T = Σ (x/X)·ln(n·x/X);
    // T_between uses nation totals, each nation's T_within is weighted
    // by its revenue share, and Σ between_term + Σ within_weighted
    // reconstructs t_total (up to the emitted rounding). Revenue sums
    // are exact decimals; every ln term is rounded then DECIMAL-summed
    // (order-independent). Two hash aggs + broadcast scalars at any
    // scale.
    Q("q326_theil_decomposition", Q.sql("""
        WITH sr AS (
          SELECT s_nationkey AS nation, l.l_suppkey AS supp,
            CAST(sum(CAST(l_extendedprice AS DECIMAL(27,4))) AS DECIMAL(27,4)) AS rev
          FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
          GROUP BY 1, 2),
        g AS (
          SELECT CAST(count(*) AS BIGINT) AS n,
            CAST(sum(rev) AS DECIMAL(38,4)) AS x FROM sr),
        tt AS (
          SELECT round(CAST(sum(CAST(round(
              (CAST(rev AS DOUBLE) / CAST(x AS DOUBLE))
              * ln(CAST(n AS DOUBLE) * CAST(rev AS DOUBLE)
                   / CAST(x AS DOUBLE)), 9)
            AS DECIMAL(18,9))) AS DOUBLE), 6) AS t_total
          FROM sr, g),
        nt AS (
          SELECT nation, CAST(count(*) AS BIGINT) AS nc,
            CAST(sum(rev) AS DECIMAL(38,4)) AS xc
          FROM sr GROUP BY 1),
        wn AS (
          SELECT sr.nation,
            round(CAST(sum(CAST(round(
                (CAST(rev AS DOUBLE) / CAST(xc AS DOUBLE))
                * ln(CAST(nc AS DOUBLE) * CAST(rev AS DOUBLE)
                     / CAST(xc AS DOUBLE)), 9)
              AS DECIMAL(18,9))) AS DOUBLE), 6) AS t_within
          FROM sr JOIN nt ON nt.nation = sr.nation
          GROUP BY 1)
        SELECT nt.nation, nt.nc AS n_suppliers,
          round(CAST(xc AS DOUBLE) / CAST(x AS DOUBLE), 9) AS rev_share,
          wn.t_within,
          round(round(CAST(xc AS DOUBLE) / CAST(x AS DOUBLE), 9)
            * wn.t_within, 9) AS within_weighted,
          round(round(CAST(xc AS DOUBLE) / CAST(x AS DOUBLE), 9)
            * ln((CAST(xc AS DOUBLE) / CAST(x AS DOUBLE))
                 / (CAST(nc AS DOUBLE) / CAST(n AS DOUBLE))), 9)
            AS between_term,
          tt.t_total
        FROM nt JOIN wn ON wn.nation = nt.nation, g, tt
        ORDER BY nt.nation"""))(
      (s, dir) => {
        val sr = T(s, dir, "lineitem")
          .join(T(s, dir, "supplier")
            .select(col("s_suppkey"), col("s_nationkey")),
            col("s_suppkey") === col("l_suppkey"))
          .groupBy(col("s_nationkey").as("nation"),
            col("l_suppkey").as("supp"))
          .agg(dsum(col("l_extendedprice"), 4).as("rev"))
        val g = sr.agg(count(lit(1)).cast("bigint").as("n"),
          sum(col("rev")).cast("decimal(38,4)").as("x"))
        val revD = col("rev").cast("double")
        val tt = sr.crossJoin(broadcast(g))
          .select(round((revD / col("x").cast("double"))
            * log(col("n").cast("double") * revD
                  / col("x").cast("double")), 9).as("term"))
          .agg(round(sum(col("term").cast("decimal(18,9)")).cast("double"), 6)
            .as("t_total"))
        val nt = sr.groupBy("nation")
          .agg(count(lit(1)).cast("bigint").as("nc"),
            sum(col("rev")).cast("decimal(38,4)").as("xc"))
        val wn = sr.join(broadcast(nt), "nation")
          .select(col("nation"), round((revD / col("xc").cast("double"))
            * log(col("nc").cast("double") * revD
                  / col("xc").cast("double")), 9).as("term"))
          .groupBy("nation")
          .agg(round(sum(col("term").cast("decimal(18,9)")).cast("double"), 6)
            .as("t_within"))
        val shareR = round(col("xc").cast("double") / col("x").cast("double"), 9)
        nt.join(wn, "nation")
          .crossJoin(broadcast(g)).crossJoin(broadcast(tt))
          .select(col("nation"), col("nc").as("n_suppliers"),
            shareR.as("rev_share"), col("t_within"),
            round(shareR * col("t_within"), 9).as("within_weighted"),
            round(shareR * log((col("xc").cast("double")
                / col("x").cast("double"))
              / (col("nc").cast("double") / col("n").cast("double"))), 9)
              .as("between_term"),
            col("t_total"))
          .orderBy("nation")
      })
  )
}
