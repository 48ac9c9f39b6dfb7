package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables.{load => T}
import graft.functions.PortableSql
import graft.ops.Percentiles
import graft.ops.Relational.{davg, dsum}
import graft.sketch.Hll

/** Round-5 batch 5: sketch algebra (HLL union rollup), seasonal
  * baselines, cumulative-distinct growth, winsorized statistics, and a
  * Welch z-test — each oracle-checked bit-for-bit against DuckDB.
  */
object TrendQueries {

  private val HllP = 6

  def all: Seq[Q] = Seq(

    // Holt linear (double-exponential) smoothing per event type — the
    // level+trend upgrade of q130's EWMA and the model q319's seasonal-
    // naive is the floor for: l' = αy + (1−α)(l+b), b' = β(l'−l) +
    // (1−β)b, α=1/2, β=1/4 (dyadic, so the smoothing weights are exact
    // binary). The daily series is CALENDAR-BOUNDED (~30 points/type),
    // so the Spark side folds a collected per-type array with
    // `aggregate` (struct accumulator, one narrow projection — the
    // bounded-series fold shape), while the oracle replays the
    // recursion as a WITH RECURSIVE day walk — identical expression,
    // identical order, identical doubles. Output: final level/trend and
    // the 1-step forecast.
    Q("q320_holt_linear", Q.sql("""
        WITH RECURSIVE dd AS (
          SELECT event_type, CAST(ts AS DATE) AS day,
            CAST(CAST(sum(CAST(floor(value * 10000 + 0.5) AS BIGINT)) AS BIGINT)
              AS DOUBLE) AS v
          FROM events GROUP BY 1, 2),
        di AS (
          SELECT event_type, v,
            row_number() OVER (PARTITION BY event_type ORDER BY day) AS idx
          FROM dd),
        rec(event_type, idx, l, b) AS (
          SELECT d1.event_type, 2, d1.v, d2.v - d1.v
          FROM di d1 JOIN di d2
            ON d2.event_type = d1.event_type AND d1.idx = 1 AND d2.idx = 2
          UNION ALL
          SELECT r.event_type, r.idx + 1,
            CAST(0.5 AS DOUBLE) * nx.v + CAST(0.5 AS DOUBLE) * (r.l + r.b),
            CAST(0.25 AS DOUBLE) * ((CAST(0.5 AS DOUBLE) * nx.v
              + CAST(0.5 AS DOUBLE) * (r.l + r.b)) - r.l)
              + CAST(0.75 AS DOUBLE) * r.b
          FROM rec r JOIN di nx
            ON nx.event_type = r.event_type AND nx.idx = r.idx + 1),
        fin AS (
          SELECT event_type, idx, l, b,
            row_number() OVER (PARTITION BY event_type ORDER BY idx DESC) AS rn
          FROM rec)
        SELECT event_type, idx AS n_days,
          round(l / 10000, 6) AS level,
          round(b / 10000, 6) AS trend,
          round((l + b) / 10000, 6) AS forecast_next
        FROM fin WHERE rn = 1 ORDER BY event_type"""))(
      (s, dir) => {
        val daily = T(s, dir, "events")
          .groupBy(col("event_type"), to_date(col("ts")).as("day"))
          .agg(sum(floor(col("value") * 10000 + 0.5).cast("long"))
            .cast("double").as("v"))
        val series = daily.groupBy("event_type")
          .agg(array_sort(collect_list(struct(col("day"), col("v"))))
            .as("pts"))
          .select(col("event_type"),
            transform(col("pts"), p => p.getField("v")).as("ys"))
          .where(size(col("ys")) >= 2)
        val y1 = element_at(col("ys"), 1)
        val y2 = element_at(col("ys"), 2)
        val rest = slice(col("ys"), lit(3),
          greatest(size(col("ys")) - 2, lit(0)))
        val folded = aggregate(rest,
          struct(y1.as("l"), (y2 - y1).as("b")),
          (acc, y) => {
            val l = acc.getField("l"); val b = acc.getField("b")
            val lNew = lit(0.5) * y + lit(0.5) * (l + b)
            struct(lNew.as("l"),
              (lit(0.25) * (lNew - l) + lit(0.75) * b).as("b"))
          })
        series
          .select(col("event_type"), size(col("ys")).as("n_days"),
            folded.as("hb"))
          .select(col("event_type"), col("n_days"),
            round(col("hb.l") / 10000, 6).as("level"),
            round(col("hb.b") / 10000, 6).as("trend"),
            round((col("hb.l") + col("hb.b")) / 10000, 6).as("forecast_next"))
          .orderBy("event_type")
      }),

    // Seasonal-naive forecast backtest: predict each (type, day)'s
    // value mass with the SAME WEEKDAY one week earlier and score MAPE
    // per type — the baseline every forecasting pipeline must beat
    // before a model earns its keep (and the drift alarm when a
    // previously-stable MAPE jumps). Daily masses are exact 4-dp
    // fixed-point longs, the 7-day lag is a self-equi-join on (type,
    // day-7) — no window, no sort — and per-day relative errors round
    // to 6dp then DECIMAL-average, so the MAPE is order-independent.
    Q("q319_seasonal_naive", Q.sql("""
        WITH d AS (
          SELECT event_type, CAST(ts AS DATE) AS day,
            CAST(sum(CAST(floor(value * 10000 + 0.5) AS BIGINT)) AS BIGINT) AS s
          FROM events GROUP BY 1, 2),
        j AS (
          SELECT cur.event_type, cur.day, cur.s, prev.s AS s7
          FROM d cur JOIN d prev
            ON prev.event_type = cur.event_type AND prev.day = cur.day - 7
          WHERE prev.s <> 0),
        e AS (
          SELECT event_type, day,
            round(abs(CAST(s - s7 AS DOUBLE)) / CAST(s7 AS DOUBLE), 6) AS ape
          FROM j)
        SELECT event_type, count(*) AS n_days,
          round(CAST(sum(CAST(ape AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6)
            AS mape
        FROM e GROUP BY 1 ORDER BY event_type"""))(
      (s, dir) => {
        val d = T(s, dir, "events")
          .groupBy(col("event_type"), to_date(col("ts")).as("day"))
          .agg(sum(floor(col("value") * 10000 + 0.5).cast("long")).as("s"))
        val cur = d.as("cur")
        val prev = d.as("prev").select(col("event_type").as("ptype"),
          col("day").as("pday"), col("s").as("s7"))
        val j = cur.join(prev,
            col("event_type") === col("ptype") &&
              col("pday") === date_sub(col("day"), 7))
          .where(col("s7") =!= 0)
        val e = j.select(col("event_type"),
          round(abs((col("s") - col("s7")).cast("double"))
            / col("s7").cast("double"), 6).as("ape"))
        e.groupBy("event_type")
          .agg(count(lit(1)).as("n_days"),
            round(sum(col("ape").cast("decimal(18,6)")).cast("double")
              / count(lit(1)), 6).as("mape"))
          .orderBy("event_type")
      }),

    // HLL sketch-algebra rollup: per-event-type user sketches MERGED
    // (per-bucket max) into the overall-corpus sketch — the union
    // operation that rolls per-day/per-source cardinalities up to
    // month/corpus totals WITHOUT rescanning data. The merged estimate
    // is definitionally the union's own sketch; the oracle replays both
    // levels from the same registers.
    Q("q141_hll_union", {
      val m = (1 << HllP).toDouble
      val alpha = 0.7213 / (1.0 + 1.079 / m)
      val alphaM2 = PortableSql.doubleLit(alpha * m * m)
      val mi = 1 << HllP
      val maxRho = 48 - HllP + 1
      Q.sql(s"""
        WITH h AS (
          SELECT event_type,
            ${PortableSql.hexToLong("md5(CAST(user_id AS VARCHAR))", 12)} AS h
          FROM events),
        b AS (
          SELECT event_type, h % $mi AS bucket,
            CAST(floor(h / $mi) AS BIGINT) AS w
          FROM h),
        r AS (
          SELECT event_type, bucket,
            max(CASE WHEN w = 0 THEN $maxRho
                     ELSE CAST(bit_count((w & (-w)) - 1) AS BIGINT) + 1 END) AS max_rho
          FROM b GROUP BY 1, 2),
        ar AS (
          SELECT event_type AS scope, bucket, max_rho FROM r
          UNION ALL
          SELECT 'ALL', bucket, max(max_rho) FROM r GROUP BY 2),
        s AS (
          SELECT scope, count(*) AS n_present,
            sum(CAST(1 AS DOUBLE) / (CAST(1 AS BIGINT) << max_rho)) AS s_present
          FROM ar GROUP BY 1),
        e AS (
          SELECT scope,
            (CAST($mi AS DOUBLE) - n_present) AS zeros,
            CAST($alphaM2 AS DOUBLE) / (s_present + (CAST($mi AS DOUBLE) - n_present)) AS raw
          FROM s),
        x AS (
          SELECT scope,
            CASE WHEN raw <= CAST(${PortableSql.doubleLit(2.5 * m)} AS DOUBLE) AND zeros > 0
                 THEN CAST($mi AS DOUBLE) * ln(CAST($mi AS DOUBLE) / zeros)
                 ELSE raw END AS est
          FROM e),
        ex AS (
          SELECT event_type AS scope, count(DISTINCT user_id) AS exact_n
          FROM events GROUP BY 1
          UNION ALL
          SELECT 'ALL', count(DISTINCT user_id) FROM events)
        SELECT x.scope, ex.exact_n, round(est, 6) AS hll_est
        FROM x JOIN ex USING (scope)
        ORDER BY scope""")
    })(
      (s, dir) => {
        val e = T(s, dir, "events")
        val regs = graft.ops.Frames.cached(
          Hll.registersBy(e, col("user_id"), Seq("event_type"), HllP))
        val allRegs = regs.withColumnRenamed("event_type", "scope")
          .unionByName(Hll.mergeBy(regs, Nil).withColumn("scope", lit("ALL")))
        val est = Hll.estimateBy(allRegs, Seq("scope"), HllP)
        val exact = e.groupBy(col("event_type").as("scope"))
          .agg(countDistinct(col("user_id")).as("exact_n"))
          .unionByName(e.agg(countDistinct(col("user_id")).as("exact_n"))
            .withColumn("scope", lit("ALL")))
        est.join(exact, "scope")
          .select(col("scope"), col("exact_n"),
            round(col("hll_est"), 6).as("hll_est"))
          .orderBy("scope")
      }),

    // Day-of-week seasonal baseline + residual anomalies over daily
    // order revenue: two hash aggregations (daily, then per-dow mean via
    // broadcast re-join); flagged days deviate >20% from their weekday
    // baseline. The dow keys differ between engines (Spark 1=Sunday,
    // DuckDB 0=Sunday) — the oracle adds 1.
    Q("q142_seasonality", Q.sql(s"""
        WITH daily AS (
          SELECT CAST(o_orderdate AS DATE) AS day,
            CAST(sum(CAST(o_totalprice AS DECIMAL(27,4))) AS DOUBLE) AS revenue
          FROM orders GROUP BY 1),
        base AS (
          SELECT dayofweek(day) + 1 AS dow,
            CAST(sum(CAST(revenue AS DECIMAL(27,4))) AS DOUBLE) / count(*) AS baseline
          FROM daily GROUP BY 1)
        SELECT day, revenue, dow,
          ${PortableSql.round("baseline", 6)} AS baseline,
          ${PortableSql.round("revenue - baseline", 6)} AS residual,
          abs(revenue - baseline) > baseline * 0.2 AS flagged
        FROM daily JOIN base ON dayofweek(day) + 1 = base.dow
        ORDER BY day"""))(
      (s, dir) => {
        val daily = T(s, dir, "orders")
          .groupBy(to_date(col("o_orderdate")).as("day"))
          .agg(dsum(col("o_totalprice"), 4).as("revenue"))
        val base = daily.groupBy(dayofweek(col("day")).as("dow"))
          .agg(davg(col("revenue"), 4).as("baseline"))
        // residual rides the PORTABLE floor-based rounding: the engines'
        // native round(DOUBLE, 6) disagree on a .5-boundary input this
        // subtraction produced at sf0.001 (PortableSql.round)
        daily.join(broadcast(base), dayofweek(col("day")) === col("dow"))
          .select(col("day"), col("revenue"), col("dow"),
            expr(PortableSql.round("baseline", 6)).as("baseline"),
            expr(PortableSql.round("revenue - baseline", 6)).as("residual"),
            (abs(col("revenue") - col("baseline")) >
              col("baseline") * 0.2).as("flagged"))
          .orderBy("day")
      }),

    // Cumulative-distinct growth curve: users-to-date per day from each
    // user's FIRST day — two hash aggregations + one tiny running-sum
    // window over day rows (never a count-distinct window over events).
    Q("q143_cumulative_users", Q.sql("""
        WITH fd AS (
          SELECT user_id, min(CAST(ts AS DATE)) AS day
          FROM events GROUP BY 1),
        nd AS (SELECT day, count(*) AS new_users FROM fd GROUP BY 1)
        SELECT day, new_users,
          CAST(sum(new_users) OVER (
            ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_users
        FROM nd ORDER BY day"""))(
      (s, dir) => {
        val nd = T(s, dir, "events")
          .groupBy(col("user_id"))
          .agg(min(to_date(col("ts"))).as("day"))
          .groupBy("day").agg(count(lit(1)).as("new_users"))
        // day frame is calendar-bounded, but the running sum still rides
        // the distributed prefix — no unpartitioned window anywhere
        graft.ops.Prefix.runningTotal(nd, Seq(col("day")),
            col("new_users"), "cum_users")
          .select("day", "new_users", "cum_users")
          .orderBy("day")
      }),

    // Winsorized statistics: per-group p05/p95 clamps (exact
    // distributed percentiles, broadcast back) then decimal-exact
    // clipped means — the robust-mean pattern that tames heavy tails
    // without dropping rows.
    Q("q144_winsorize", Q.sql(s"""
        WITH ${Percentiles.oracleCtes("wz", "lineitem", Seq("l_returnflag"),
          "l_extendedprice", Seq("p05" -> 0.05, "p95" -> 0.95))}
        SELECT l.l_returnflag, round(wz.p05, 6) AS p05, round(wz.p95, 6) AS p95,
          count(*) AS n,
          round(CAST(sum(CAST(least(greatest(l.l_extendedprice, wz.p05), wz.p95) AS DECIMAL(27,6))) AS DOUBLE) / count(*), 6) AS mean_clipped
        FROM lineitem l JOIN wz ON l.l_returnflag = wz.l_returnflag
        GROUP BY 1, 2, 3 ORDER BY 1"""))(
      (s, dir) => {
        val li = T(s, dir, "lineitem")
        // two-pass histogram pruning instead of Percentiles.exact: the
        // group key has 3 values, so the rank window put ~n/3 rows on
        // single tasks; Histograms.exact is bit-identical (HistogramsSpec)
        // and ranks only candidate bins — the Profile.summary pairing
        val qs = graft.ops.Histograms.exact(li, Seq("l_returnflag"),
          col("l_extendedprice"), Seq("p05" -> 0.05, "p95" -> 0.95))
        li.join(broadcast(qs), "l_returnflag")
          .groupBy(col("l_returnflag"), round(col("p05"), 6).as("p05"),
            round(col("p95"), 6).as("p95"))
          .agg(count(lit(1)).as("n"),
            round(dsum(least(greatest(col("l_extendedprice"), col("p05")),
              col("p95")), 6) / count(lit(1)), 6).as("mean_clipped"))
          .orderBy("l_returnflag")
      }),

    // Welch z-test between two variants (user_id parity) on purchase
    // values: ONE conditional-aggregation pass builds both variants'
    // decimal-exact moments; mean/variance/z come from a fixed IEEE
    // expression — the A/B-test readout at any scale.
    Q("q145_ab_welch", {
      def d(e: String) = s"CAST(sum(CAST($e AS DECIMAL(27,6))) AS DOUBLE)"
      def side(v: Int, e: String) = s"CASE WHEN user_id % 2 = $v THEN $e ELSE 0 END"
      Q.sql(s"""
        WITH m AS (
          SELECT
            CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
            CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
            ${d(side(0, "value"))} AS sx0, ${d(side(1, "value"))} AS sx1,
            ${d(side(0, "value * value"))} AS ss0, ${d(side(1, "value * value"))} AS ss1
          FROM events WHERE event_type = 'purchase'),
        t AS (
          SELECT n0, n1, sx0 / n0 AS m0, sx1 / n1 AS m1,
            (ss0 - sx0 * sx0 / n0) / (n0 - 1) AS v0,
            (ss1 - sx1 * sx1 / n1) / (n1 - 1) AS v1
          FROM m)
        SELECT n0, n1, round(m0, 6) AS mean0, round(m1, 6) AS mean1,
          round((m1 - m0) / sqrt(v1 / n1 + v0 / n0), 6) AS welch_z
        FROM t""")
    })(
      (s, dir) => {
        val v = col("user_id") % 2
        def side(i: Int, e: org.apache.spark.sql.Column) =
          when(v === i, e).otherwise(lit(0))
        val m = T(s, dir, "events").where(col("event_type") === "purchase")
          .agg(
            sum(when(v === 0, 1L).otherwise(0L)).as("n0"),
            sum(when(v === 1, 1L).otherwise(0L)).as("n1"),
            dsum(side(0, col("value")), 6).as("sx0"),
            dsum(side(1, col("value")), 6).as("sx1"),
            dsum(side(0, col("value") * col("value")), 6).as("ss0"),
            dsum(side(1, col("value") * col("value")), 6).as("ss1"))
        val t = m.select(col("n0"), col("n1"),
          (col("sx0") / col("n0")).as("m0"), (col("sx1") / col("n1")).as("m1"),
          ((col("ss0") - col("sx0") * col("sx0") / col("n0")) /
            (col("n0") - lit(1))).as("v0"),
          ((col("ss1") - col("sx1") * col("sx1") / col("n1")) /
            (col("n1") - lit(1))).as("v1"))
        t.select(col("n0"), col("n1"),
          round(col("m0"), 6).as("mean0"), round(col("m1"), 6).as("mean1"),
          round((col("m1") - col("m0")) /
            sqrt(col("v1") / col("n1") + col("v0") / col("n0")), 6)
            .as("welch_z"))
      }),

    // RFM segmentation: per-customer recency/frequency/monetary with
    // quintile scores WITHIN market segment (partitioned ntile — no
    // global sort), composite code r*100+f*10+m. Reference date is the
    // corpus max order date (one-row broadcast).
    Q("q146_rfm", Q.sql("""
        WITH ref AS (SELECT max(CAST(o_orderdate AS DATE)) AS ref_day FROM orders),
        cust AS (
          SELECT c_custkey, c_mktsegment,
            CAST(date_diff('day', max(CAST(o_orderdate AS DATE)), ref_day) AS INT) AS recency_days,
            count(*) AS frequency,
            CAST(sum(CAST(o_totalprice AS DECIMAL(27,4))) AS DOUBLE) AS monetary
          FROM orders JOIN customer ON o_custkey = c_custkey, ref
          GROUP BY 1, 2, ref_day),
        scored AS (
          SELECT c_custkey, c_mktsegment, recency_days, frequency, monetary,
            ntile(5) OVER (PARTITION BY c_mktsegment ORDER BY recency_days DESC, c_custkey) AS r,
            ntile(5) OVER (PARTITION BY c_mktsegment ORDER BY frequency, c_custkey) AS f,
            ntile(5) OVER (PARTITION BY c_mktsegment ORDER BY monetary, c_custkey) AS m
          FROM cust)
        SELECT c_custkey, c_mktsegment, recency_days, frequency, monetary,
          CAST(r AS INT) AS r, CAST(f AS INT) AS f, CAST(m AS INT) AS m,
          CAST(r * 100 + f * 10 + m AS INT) AS rfm
        FROM scored ORDER BY c_custkey"""))(
      (s, dir) => {
        val ref = T(s, dir, "orders")
          .agg(max(to_date(col("o_orderdate"))).as("ref_day"))
        val cust = T(s, dir, "orders")
          .join(T(s, dir, "customer"),
            col("o_custkey") === col("c_custkey"))
          .crossJoin(broadcast(ref))
          .groupBy(col("c_custkey"), col("c_mktsegment"), col("ref_day"))
          .agg(datediff(max(col("ref_day")), max(to_date(col("o_orderdate"))))
              .as("recency_days"),
            count(lit(1)).as("frequency"),
            dsum(col("o_totalprice"), 4).as("monetary"))
        def q(order: org.apache.spark.sql.Column*) =
          ntile(5).over(Window.partitionBy(col("c_mktsegment")).orderBy(order: _*))
        cust.select(col("c_custkey"), col("c_mktsegment"),
            col("recency_days"), col("frequency"), col("monetary"),
            q(col("recency_days").desc, col("c_custkey")).as("r"),
            q(col("frequency"), col("c_custkey")).as("f"),
            q(col("monetary"), col("c_custkey")).as("m"))
          .withColumn("rfm", col("r") * 100 + col("f") * 10 + col("m"))
          .orderBy("c_custkey")
      }),

    // Power-law fit of the order-frequency distribution: regress
    // ln(#customers with k orders) on ln(k) with the decimal-moment
    // machinery — the scale-free-structure probe run over degree or
    // frequency histograms. Logs are rounded to 6 before the fit
    // (engine-portable), the fit itself is order-independent.
    Q("q148_powerlaw_fit", Q.sql(s"""
        WITH freq AS (
          SELECT o_custkey, count(*) AS k FROM orders GROUP BY 1),
        hist AS (SELECT k, count(*) AS nk FROM freq GROUP BY 1),
        pts AS (
          SELECT round(ln(CAST(k AS DOUBLE)), 6) AS lx,
            round(ln(CAST(nk AS DOUBLE)), 6) AS ly
          FROM hist),
        m AS (${graft.ops.Stats.oracleMomentsCte("pts", Seq("'all' AS g"),
          "lx", "ly")})
        SELECT g, ${graft.ops.Stats.oracleSelect}
        FROM m ORDER BY 1"""))(
      (s, dir) => {
        val hist = T(s, dir, "orders")
          .groupBy(col("o_custkey")).agg(count(lit(1)).as("k"))
          .groupBy(col("k")).agg(count(lit(1)).as("nk"))
        val pts = hist.select(
          round(log(col("k").cast("double")), 6).as("lx"),
          round(log(col("nk").cast("double")), 6).as("ly"))
        graft.ops.Stats.corrRegr(pts, Seq(lit("all").as("g")),
            col("lx"), col("ly"))
          .orderBy("g")
      }),

    // Chi-square independence test (event type × user-id parity): the
    // categorical-drift detector. Observed/expected from two hash
    // aggregations over a cells frame that is category-bounded, never
    // row-bounded; the statistic is a decimal sum of rounded cell terms.
    Q("q149_chi_square", Q.sql("""
        WITH o AS (
          SELECT event_type, user_id % 2 AS variant, count(*) AS n
          FROM events GROUP BY 1, 2),
        tot AS (
          SELECT event_type, variant, n,
            CAST(sum(n) OVER (PARTITION BY event_type) AS BIGINT) AS rt,
            CAST(sum(n) OVER (PARTITION BY variant) AS BIGINT) AS ct,
            CAST(sum(n) OVER () AS BIGINT) AS nn
          FROM o),
        cell AS (
          SELECT n, CAST(rt AS DOUBLE) * ct / nn AS e FROM tot)
        SELECT CAST(sum(n) AS BIGINT) AS n_obs,
          (SELECT CAST((count(DISTINCT event_type) - 1) *
            (count(DISTINCT variant) - 1) AS BIGINT) FROM o) AS dof,
          round(CAST(sum(CAST(round((n - e) * (n - e) / e, 6) AS DECIMAL(27,6))) AS DOUBLE), 6) AS chi2
        FROM cell"""))(
      (s, dir) => {
        val o = T(s, dir, "events")
          .groupBy(col("event_type"), (col("user_id") % 2).as("variant"))
          .agg(count(lit(1)).as("n"))
        // grand total via aggregate + broadcast, not `sum OVER ()` — same
        // value, no unpartitioned window
        val gt = o.agg(sum(col("n")).as("nn"))
        val tot = o.select(col("event_type"), col("variant"), col("n"),
            sum(col("n")).over(Window.partitionBy(col("event_type"))).as("rt"),
            sum(col("n")).over(Window.partitionBy(col("variant"))).as("ct"))
          .crossJoin(broadcast(gt))
        val cell = tot.select(col("n"),
          (col("rt").cast("double") * col("ct") / col("nn")).as("e"))
        val dof = o.agg(((countDistinct(col("event_type")) - 1) *
          (countDistinct(col("variant")) - 1)).as("dof"))
        cell.agg(sum(col("n")).as("n_obs"),
            round(dsum(round((col("n") - col("e")) * (col("n") - col("e")) /
              col("e"), 6), 6), 6).as("chi2"))
          .crossJoin(broadcast(dof))
          .select(col("n_obs"), col("dof"), col("chi2"))
      }),

    // AR(1) autoregressive forecast per event type — the stochastic
    // counterpart of q320's deterministic Holt trend: y_t = c + φ·y_{t−1}
    // fitted by OLS on consecutive-day pairs. Daily masses are exact
    // 4-dp fixed-point longs, the lag is the same day−1 self-equi-join
    // q319 uses (no window, no sort), and all five OLS moments (n, Σx,
    // Σy, Σxy, Σx²) are DECIMAL(38)-exact in one hash agg — the only
    // doubles are the fixed-order closed-form φ, c, and 1-step forecast.
    // At scale: two hash aggs and a broadcast-joinable per-type moment
    // frame, whatever the row count.
    Q("q332_ar1_forecast", Q.sql("""
        WITH d AS (
          SELECT event_type, CAST(ts AS DATE) AS day,
            CAST(sum(CAST(floor(value * 10000 + 0.5) AS BIGINT)) AS BIGINT) AS s
          FROM events GROUP BY 1, 2),
        pr AS (
          SELECT cur.event_type, prev.s AS x, cur.s AS y
          FROM d cur JOIN d prev
            ON prev.event_type = cur.event_type AND prev.day = cur.day - 1),
        m AS (
          SELECT event_type, CAST(count(*) AS BIGINT) AS np,
            CAST(sum(CAST(x AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sx,
            CAST(sum(CAST(y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sy,
            CAST(sum(CAST(x AS DECIMAL(38,0)) * y) AS DECIMAL(38,0)) AS sxy,
            CAST(sum(CAST(x AS DECIMAL(38,0)) * x) AS DECIMAL(38,0)) AS sxx
          FROM pr GROUP BY 1),
        lastv AS (SELECT event_type, max_by(s, day) AS ylast FROM d GROUP BY 1),
        f AS (
          SELECT m.event_type, m.np,
            (CAST(m.np AS DOUBLE) * CAST(m.sxy AS DOUBLE)
              - CAST(m.sx AS DOUBLE) * CAST(m.sy AS DOUBLE))
              / (CAST(m.np AS DOUBLE) * CAST(m.sxx AS DOUBLE)
                - CAST(m.sx AS DOUBLE) * CAST(m.sx AS DOUBLE)) AS phi,
            CAST(m.sy AS DOUBLE) AS syd, CAST(m.sx AS DOUBLE) AS sxd,
            CAST(l.ylast AS DOUBLE) AS yl
          FROM m JOIN lastv l ON l.event_type = m.event_type)
        SELECT event_type, np AS n_pairs, round(phi, 6) AS phi,
          round((syd - phi * sxd) / CAST(np AS DOUBLE) / 10000, 6) AS intercept,
          round(((syd - phi * sxd) / CAST(np AS DOUBLE) + phi * yl) / 10000, 6)
            AS forecast_next
        FROM f ORDER BY event_type"""))(
      (s, dir) => {
        val d = T(s, dir, "events")
          .groupBy(col("event_type"), to_date(col("ts")).as("day"))
          .agg(sum(floor(col("value") * 10000 + 0.5).cast("long")).as("s"))
        val prev = d.select(col("event_type").as("pt"), col("day").as("pd"),
          col("s").as("x"))
        val pr = d.join(prev,
          col("event_type") === col("pt") && col("pd") === date_sub(col("day"), 1))
        val m = pr.groupBy("event_type").agg(
          count(lit(1)).as("np"),
          sum(col("x").cast("decimal(38,0)")).cast("decimal(38,0)").as("sx"),
          sum(col("s").cast("decimal(38,0)")).cast("decimal(38,0)").as("sy"),
          sum(col("x").cast("decimal(38,0)") * col("s"))
            .cast("decimal(38,0)").as("sxy"),
          sum(col("x").cast("decimal(38,0)") * col("x"))
            .cast("decimal(38,0)").as("sxx"))
        val lastv = d.groupBy("event_type")
          .agg(max_by(col("s"), col("day")).as("ylast"))
        val npD = col("np").cast("double")
        val phi = (npD * col("sxy").cast("double")
            - col("sx").cast("double") * col("sy").cast("double")) /
          (npD * col("sxx").cast("double")
            - col("sx").cast("double") * col("sx").cast("double"))
        val c = (col("sy").cast("double") - phi * col("sx").cast("double")) / npD
        m.join(lastv, "event_type")
          .select(col("event_type"), col("np").as("n_pairs"),
            round(phi, 6).as("phi"),
            round(c / 10000, 6).as("intercept"),
            round((c + phi * col("ylast").cast("double")) / 10000, 6)
              .as("forecast_next"))
          .orderBy("event_type")
      }),

    // Classical additive decomposition (the moving-average ancestor of
    // Cleveland et al.'s STL, JOS'90): trend = centered 7-point moving
    // average of the per-type daily series, seasonal = mean detrended
    // value per ISO weekday over interior points. The trick that keeps
    // it exact: detrended×7 = 7·v − Σ₇v is an INTEGER (fixed-point longs,
    // no division inside the pipeline), so the weekday means are
    // DECIMAL-exact and the sole double division happens once per
    // (type, dow) output row. Windows are partitioned by type and span
    // 7 ROWS — bounded frames over the calendar-bounded daily series.
    Q("q333_stl_decompose", Q.sql("""
        WITH d AS (
          SELECT event_type, CAST(ts AS DATE) AS day,
            CAST(sum(CAST(floor(value * 10000 + 0.5) AS BIGINT)) AS BIGINT) AS v
          FROM events GROUP BY 1, 2),
        t AS (
          SELECT event_type, day, v,
            CAST(sum(v) OVER w AS BIGINT) AS s7, count(*) OVER w AS c7
          FROM d WINDOW w AS (PARTITION BY event_type ORDER BY day
            ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        i AS (
          SELECT event_type, CAST(isodow(day) AS INT) AS dow,
            7 * v - s7 AS detr7
          FROM t WHERE c7 = 7)
        SELECT event_type, dow, count(*) AS n_days,
          round(CAST(sum(CAST(detr7 AS DECIMAL(38,0))) AS DOUBLE)
            / (70000 * count(*)), 6) AS seasonal
        FROM i GROUP BY 1, 2 ORDER BY event_type, dow"""))(
      (s, dir) => {
        val d = T(s, dir, "events")
          .groupBy(col("event_type"), to_date(col("ts")).as("day"))
          .agg(sum(floor(col("value") * 10000 + 0.5).cast("long")).as("v"))
        val w7 = Window.partitionBy("event_type").orderBy("day")
          .rowsBetween(-3, 3)
        val t = d.select(col("event_type"), col("day"), col("v"),
          sum(col("v")).over(w7).as("s7"), count(lit(1)).over(w7).as("c7"))
        t.where(col("c7") === 7)
          .select(col("event_type"), (weekday(col("day")) + 1).as("dow"),
            (lit(7) * col("v") - col("s7")).as("detr7"))
          .groupBy("event_type", "dow")
          .agg(count(lit(1)).as("n_days"),
            round(sum(col("detr7").cast("decimal(38,0)")).cast("double")
              / (lit(70000) * count(lit(1))), 6).as("seasonal"))
          .orderBy("event_type", "dow")
      })
  )
}
