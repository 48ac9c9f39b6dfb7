package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables.{load => T}
import graft.ops.Relational.dsum
import graft.queries.Bases.{dailyMass, dailyMassSql}

/** Round-10 batch 11: seasonal-trend, changepoint, experiment-design,
  * and multivariate-outlier operators — the seasonal Mann-Kendall test,
  * binary-segmentation changepoint search, two-sample power analysis,
  * and Mahalanobis outliers — each oracle-checked bit-for-bit against
  * DuckDB.
  */
object TrendPowerQueries {

  def all: Seq[Q] = Seq(

    // Seasonal Mann-Kendall (Hirsch & Slack WRR'84) — q355's MK run
    // WITHIN each weekday stratum and pooled, so a weekly cycle can't
    // masquerade as trend: S' = Σ_g S_g, Var' = Σ_g [n(n−1)(2n+5) −
    // Σ_t t(t−1)(2t+5)]/18 with the exact tie-group correction, z with
    // continuity correction. Pair sweeps stay within strata (≤ ~52
    // rows each — calendar-bounded, broadcast); 18·Var is an exact
    // BIGINT under the radical.
    Q("q431_seasonal_mann_kendall", Q.sql(s"""
        WITH d AS ($dailyMassSql),
        g AS (
          SELECT event_type, CAST(isodow(day) AS BIGINT) AS dow, day, v
          FROM d),
        pr AS (
          SELECT a.event_type,
            CAST(sum(CASE WHEN b.v > a.v THEN 1
              WHEN b.v < a.v THEN -1 ELSE 0 END) AS BIGINT) AS s
          FROM g a JOIN g b ON b.event_type = a.event_type
            AND b.dow = a.dow AND b.day > a.day
          GROUP BY 1),
        nz AS (
          SELECT event_type, dow, CAST(count(*) AS BIGINT) AS n
          FROM g GROUP BY 1, 2),
        ties AS (
          SELECT event_type, dow, v, CAST(count(*) AS BIGINT) AS t
          FROM g GROUP BY 1, 2, 3 HAVING count(*) > 1),
        var18 AS (
          SELECT nz.event_type,
            CAST(sum(nz.n * (nz.n - 1) * (2 * nz.n + 5)) AS BIGINT)
              - CAST(coalesce((SELECT sum(t * (t - 1) * (2 * t + 5))
                FROM ties WHERE ties.event_type = nz.event_type), 0)
                AS BIGINT) AS v18
          FROM nz GROUP BY 1)
        SELECT pr.event_type, pr.s AS s_total, var18.v18 AS var18,
          round(CASE WHEN pr.s > 0 THEN (pr.s - 1) * sqrt(18.0)
              / sqrt(CAST(var18.v18 AS DOUBLE))
            WHEN pr.s < 0 THEN (pr.s + 1) * sqrt(18.0)
              / sqrt(CAST(var18.v18 AS DOUBLE))
            ELSE 0.0 END, 6) AS z
        FROM pr JOIN var18 ON var18.event_type = pr.event_type
        ORDER BY pr.event_type"""))(
      (s, dir) => {
        val g = dailyMass(s, dir)
          .select(col("event_type"),
            (weekday(col("day")) + 1).cast("long").as("dow"),
            col("day"), col("v"))
        val other = broadcast(g.select(col("event_type").as("et2"),
          col("dow").as("dow2"), col("day").as("day2"), col("v").as("v2")))
        val pr = g.join(other, col("et2") === col("event_type")
            && col("dow2") === col("dow") && col("day2") > col("day"))
          .groupBy("event_type")
          .agg(sum(when(col("v2") > col("v"), 1L)
            .when(col("v2") < col("v"), -1L).otherwise(0L)).as("s"))
        val nz = g.groupBy("event_type", "dow").agg(count(lit(1)).as("n"))
        val vMain = nz.groupBy("event_type")
          .agg(sum(col("n") * (col("n") - 1) * (lit(2) * col("n") + 5))
            .cast("long").as("vm"))
        val ties = g.groupBy("event_type", "dow", "v")
          .agg(count(lit(1)).as("t")).where(col("t") > 1)
          .groupBy("event_type")
          .agg(sum(col("t") * (col("t") - 1) * (lit(2) * col("t") + 5))
            .cast("long").as("vt"))
        val var18 = vMain.join(broadcast(ties), Seq("event_type"), "left")
          .select(col("event_type"),
            (col("vm") - coalesce(col("vt"), lit(0L))).as("v18"))
        pr.join(broadcast(var18), "event_type")
          .select(col("event_type"), col("s").as("s_total"),
            col("v18").as("var18"),
            round(when(col("s") > 0, (col("s") - 1) * sqrt(lit(18.0))
                / sqrt(col("v18").cast("double")))
              .when(col("s") < 0, (col("s") + 1) * sqrt(lit(18.0))
                / sqrt(col("v18").cast("double")))
              .otherwise(lit(0.0)), 6).as("z"))
          .orderBy("event_type")
      }),

    // Binary-segmentation changepoint (Scott & Knott '74; the CUSUM-of-
    // squares sibling of rank-based Pettitt q394 and fixed-split Chow
    // q370) — per type, the split t* maximizing the pooled-SSE drop
    // f(t) = S_L²/n_L + S_R²/n_R. Prefix sums S_L come from the
    // DISTRIBUTED prefix (type strata); f is assembled from exact
    // integers so both engines walk identical doubles and the argmax is
    // deterministic under (f DESC, t). One scan, one prefix pass, one
    // type-PARTITIONED argmax window.
    Q("q432_binary_segmentation", Q.sql(s"""
        WITH d AS ($dailyMassSql),
        i AS (
          SELECT event_type, day, v,
            CAST(row_number() OVER (PARTITION BY event_type ORDER BY day)
              AS BIGINT) AS t,
            CAST(sum(v) OVER (PARTITION BY event_type ORDER BY day
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS sl
          FROM d),
        m AS (
          SELECT event_type, CAST(count(*) AS BIGINT) AS n,
            CAST(sum(v) AS BIGINT) AS sv,
            CAST(sum(CAST(v AS HUGEINT) * v) AS DECIMAL(38,0)) AS q
          FROM d GROUP BY 1),
        cand AS (
          SELECT i.event_type, i.day, i.t, m.n, m.sv, m.q,
            CAST(i.sl AS DOUBLE) * i.sl / i.t
              + (CAST(m.sv AS DOUBLE) - i.sl)
                * (CAST(m.sv AS DOUBLE) - i.sl) / (m.n - i.t) AS f
          FROM i JOIN m ON m.event_type = i.event_type
          WHERE i.t < m.n),
        best AS (
          SELECT event_type, day, t, n, sv, q, f,
            row_number() OVER (PARTITION BY event_type
              ORDER BY f DESC, t) AS pick
          FROM cand)
        SELECT event_type, day AS split_day, t AS n_left,
          n - t AS n_right,
          round((f - CAST(sv AS DOUBLE) * sv / n) / 1e14, 6)
            AS sse_drop_kd2,
          round((CAST(q AS DOUBLE) - f) / 1e14, 6) AS sse_after_kd2
        FROM best WHERE pick = 1 ORDER BY event_type"""))(
      (s, dir) => {
        val d = dailyMass(s, dir)
        val withT = graft.ops.Prefix.runningTotal(
          d.withColumn("__one", lit(1L)), Seq(col("day")), col("__one"),
          "t", strataCols = Seq("event_type"))
        val i = graft.ops.Prefix.runningTotal(
          withT, Seq(col("day")), col("v"), "sl",
          strataCols = Seq("event_type"))
        val m = d.groupBy("event_type").agg(count(lit(1)).as("n"),
          sum(col("v")).as("sv"),
          sum(col("v").cast("decimal(19,0)") * col("v"))
            .cast("decimal(38,0)").as("q"))
        val svD = col("sv").cast("double")
        val cand = i.join(broadcast(m), "event_type")
          .where(col("t") < col("n"))
          .select(col("event_type"), col("day"), col("t"), col("n"),
            col("sv"), col("q"),
            (col("sl").cast("double") * col("sl") / col("t")
              + (svD - col("sl")) * (svD - col("sl"))
                / (col("n") - col("t"))).as("f"))
        val best = cand.select(col("event_type"), col("day"), col("t"),
          col("n"), col("sv"), col("q"), col("f"),
          row_number().over(Window.partitionBy("event_type")
            .orderBy(col("f").desc, col("t"))).as("pick"))
        best.where(col("pick") === 1)
          .select(col("event_type"), col("day").as("split_day"),
            col("t").as("n_left"), (col("n") - col("t")).as("n_right"),
            round((col("f") - svD * col("sv") / col("n")) / lit(1e14), 6)
              .as("sse_drop_kd2"),
            round((col("q").cast("double") - col("f")) / lit(1e14), 6)
              .as("sse_after_kd2"))
          .orderBy("event_type")
      }),

    // Two-sample power analysis (Cohen '88) — is the observed weekend
    // uplift even DETECTABLE? Per type: n per group to see Δ at
    // α = 0.05 two-sided / 80% power, n = ⌈(z_{.975}+z_{.80})²·2σ²/Δ²⌉
    // with the pooled variance from exact n·Q−S² moments and the two z
    // quantiles as shared round-trip double literals (the q375
    // discipline — both engines parse the identical decimal strings).
    // The design audit every q392-style test should ship with.
    Q("q433_power_analysis", Q.sql(s"""
        WITH d AS ($dailyMassSql),
        g AS (
          SELECT event_type,
            CASE WHEN isodow(day) >= 6 THEN 1 ELSE 0 END AS we, v
          FROM d),
        m AS (
          SELECT event_type, we, CAST(count(*) AS BIGINT) AS n,
            CAST(sum(v) AS BIGINT) AS sv,
            CAST(sum(CAST(v AS HUGEINT) * v) AS DECIMAL(38,0)) AS q
          FROM g GROUP BY 1, 2),
        st AS (
          SELECT a.event_type, a.n AS n_we, b.n AS n_wd,
            CAST(a.sv AS DOUBLE) / a.n / 1e7
              - CAST(b.sv AS DOUBLE) / b.n / 1e7 AS delta_kd,
            (CAST(a.n * a.q - CAST(a.sv AS HUGEINT) * a.sv AS DOUBLE)
                / a.n / (a.n - 1)
              + CAST(b.n * b.q - CAST(b.sv AS HUGEINT) * b.sv AS DOUBLE)
                / b.n / (b.n - 1)) / 2 / 1e14 AS var_kd
          FROM m a JOIN m b ON b.event_type = a.event_type
          WHERE a.we = 1 AND b.we = 0),
        zz AS (
          SELECT (CAST(1.959964 AS DOUBLE) + CAST(0.841621 AS DOUBLE))
            * (CAST(1.959964 AS DOUBLE) + CAST(0.841621 AS DOUBLE))
            AS z2)
        SELECT event_type, n_we, n_wd,
          round(delta_kd, 6) AS delta_kd,
          round(sqrt(var_kd), 6) AS sd_kd,
          CAST(ceil(round(zz.z2 * 2 * var_kd
            / (delta_kd * delta_kd), 9)) AS BIGINT)
            AS n_needed_per_group,
          CASE WHEN least(n_we, n_wd) >= ceil(round(zz.z2 * 2 * var_kd
            / (delta_kd * delta_kd), 9))
            THEN 1 ELSE 0 END AS powered
        FROM st, zz ORDER BY event_type"""))(
      (s, dir) => {
        val g = dailyMass(s, dir)
          .select(col("event_type"),
            when(weekday(col("day")) + 1 >= 6, 1).otherwise(0).as("we"),
            col("v"))
        val m = g.groupBy("event_type", "we")
          .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"),
            sum(col("v").cast("decimal(19,0)") * col("v"))
              .cast("decimal(38,0)").as("q"))
        def varPart(n: Column, sv: Column, q: Column) =
          (n * q - sv.cast("decimal(19,0)") * sv).cast("double") /
            n / (n - 1)
        val a = m.where(col("we") === 1).select(col("event_type"),
          col("n").as("n_we"), col("sv").as("sva"), col("q").as("qa"))
        val b = m.where(col("we") === 0).select(col("event_type"),
          col("n").as("n_wd"), col("sv").as("svb"), col("q").as("qb"))
        val st = a.join(b, "event_type")
          .select(col("event_type"), col("n_we"), col("n_wd"),
            (col("sva").cast("double") / col("n_we") / lit(1e7)
              - col("svb").cast("double") / col("n_wd") / lit(1e7))
              .as("delta_kd"),
            ((varPart(col("n_we"), col("sva"), col("qa"))
              + varPart(col("n_wd"), col("svb"), col("qb")))
              / 2 / lit(1e14)).as("var_kd"))
        val zsum = lit(1.959964) + lit(0.841621)
        val nNeed = ceil(round(zsum * zsum * 2 * col("var_kd")
          / (col("delta_kd") * col("delta_kd")), 9))
        st.select(col("event_type"), col("n_we"), col("n_wd"),
            round(col("delta_kd"), 6).as("delta_kd"),
            round(sqrt(col("var_kd")), 6).as("sd_kd"),
            nNeed.cast("long").as("n_needed_per_group"),
            when(least(col("n_we"), col("n_wd")) >= nNeed, 1)
              .otherwise(0).as("powered"))
          .orderBy("event_type")
      }),

    // Mahalanobis outliers (Mahalanobis '36) — which users are jointly
    // unusual in (clicks, purchases)? The MULTIVARIATE companion to
    // z-score (q102) / MAD (q119): d² = (n−1)·(dx²c_N − 2·dx·dy·b_N +
    // dy²a_N)/(a_N c_N − b_N²) with dx = n·x − Sx and every covariance
    // numerator an exact integer — one per-user agg, five broadcast
    // scalars, top-10 by (d² DESC, user_id). Correlation-aware
    // distance without ever forming the covariance matrix per row.
    Q("q434_mahalanobis", Q.sql("""
        WITH u AS (
          SELECT user_id,
            CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
              AS BIGINT) AS x,
            CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS y
          FROM events GROUP BY 1),
        m AS (
          SELECT CAST(count(*) AS BIGINT) AS n,
            CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
            CAST(sum(CAST(x AS HUGEINT) * x) AS BIGINT) AS sxx,
            CAST(sum(CAST(y AS HUGEINT) * y) AS BIGINT) AS syy,
            CAST(sum(CAST(x AS HUGEINT) * y) AS BIGINT) AS sxy
          FROM u),
        c AS (
          SELECT n, sx, sy,
            CAST(n * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE) AS an,
            CAST(n * syy - CAST(sy AS HUGEINT) * sy AS DOUBLE) AS cn,
            CAST(n * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE) AS bn
          FROM m),
        dist AS (
          SELECT u.user_id, u.x, u.y,
            (c.n - 1) * ((c.n * u.x - c.sx) * (c.n * u.x - c.sx) * c.cn
              - 2.0 * (c.n * u.x - c.sx) * (c.n * u.y - c.sy) * c.bn
              + (c.n * u.y - c.sy) * (c.n * u.y - c.sy) * c.an)
              / (c.an * c.cn - c.bn * c.bn) / c.n AS d2
          FROM u, c)
        SELECT user_id, x AS clicks, y AS purchases, round(d2, 6) AS d2
        FROM dist ORDER BY d2 DESC, user_id LIMIT 10"""))(
      (s, dir) => {
        val u = T(s, dir, "events")
          .groupBy("user_id")
          .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L))
              .as("x"),
            sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
              .as("y"))
        val m = u.agg(count(lit(1)).as("n"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x").cast("decimal(19,0)") * col("x")).cast("long")
            .as("sxx"),
          sum(col("y").cast("decimal(19,0)") * col("y")).cast("long")
            .as("syy"),
          sum(col("x").cast("decimal(19,0)") * col("y")).cast("long")
            .as("sxy"))
        val c = m.select(col("n"), col("sx"), col("sy"),
          (col("n") * col("sxx") - col("sx").cast("decimal(19,0)")
            * col("sx")).cast("double").as("an"),
          (col("n") * col("syy") - col("sy").cast("decimal(19,0)")
            * col("sy")).cast("double").as("cn"),
          (col("n") * col("sxy") - col("sx").cast("decimal(19,0)")
            * col("sy")).cast("double").as("bn"))
        val dx = col("n") * col("x") - col("sx")
        val dy = col("n") * col("y") - col("sy")
        val dist = u.crossJoin(broadcast(c))
          .select(col("user_id"), col("x"), col("y"),
            ((col("n") - 1) * (dx * dx * col("cn")
              - lit(2.0) * dx * dy * col("bn") + dy * dy * col("an"))
              / (col("an") * col("cn") - col("bn") * col("bn"))
              / col("n")).as("d2"))
        dist.select(col("user_id"), col("x").as("clicks"),
            col("y").as("purchases"), round(col("d2"), 6).as("d2"))
          .orderBy(col("d2").desc, col("user_id")).limit(10)
      })
  )
}
