package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables.{load => T}
import graft.queries.Bases.{dailyMass, dailyMassSql}

/** Round-11 batch 2: the stationarity / regression-diagnostics corner —
  * Breusch-Pagan (does the VARIANCE trend with time?), Cook's distance
  * (which days move the trend fit?), KPSS (trend-stationarity, the
  * complement of the unit-root view), and the Dickey-Fuller τ (unit
  * root). All four ride the q452 discipline: exact integer/DECIMAL(38)
  * moments per type, doubles only at the last mile in identical
  * fixed-order expressions on both engines, NULL-degenerate guards on
  * data-dependent denominators.
  */
object StationarityQueries {

  private def tIndexed(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy("day")
    dailyMass(s, dir).select(col("event_type"), col("day"), col("v"),
      row_number().over(w).cast("long").as("t"))
  }

  def all: Seq[Q] = Seq(

    // Breusch-Pagan variance-trend screen (Breusch & Pagan
    // Econometrica'79) — heteroskedasticity against TIME, beside q452's
    // ARCH LM (variance against its own past): regress the squared
    // whole-unit deviation from the type mean on the day index, LM =
    // n·R². The deviation is quantized to WHOLE VALUE UNITS by an
    // integer-only formula shared verbatim by both engines
    // ((2(nv−Σv)+n·10⁴) div (2n·10⁴) — truncating, so exactly identical
    // on both sides), making every moment through E⁴ exact
    // integer/DECIMAL(38,0); R² is assembled from them in one
    // fixed-order double expression with the q454 NULL-degenerate
    // guard.
    Q("q460_breusch_pagan", Q.sql(s"""
        WITH d AS ($dailyMassSql),
        i AS (
          SELECT event_type, v,
            CAST(row_number() OVER (PARTITION BY event_type ORDER BY day)
              AS BIGINT) AS t
          FROM d),
        m AS (
          SELECT event_type, CAST(count(*) AS BIGINT) AS n,
            CAST(sum(v) AS BIGINT) AS sv
          FROM i GROUP BY 1),
        e AS (
          SELECT i.event_type, i.t, m.n,
            (2 * (m.n * i.v - m.sv) + m.n * 10000)
              // (2 * m.n * 10000) AS ew
          FROM i JOIN m ON m.event_type = i.event_type),
        mo AS (
          SELECT event_type, max(n) AS n,
            CAST(sum(t) AS BIGINT) AS st,
            CAST(sum(t * t) AS BIGINT) AS stt,
            CAST(sum(ew * ew) AS BIGINT) AS se,
            CAST(sum(CAST(t AS HUGEINT) * ew * ew) AS DECIMAL(38,0))
              AS ste,
            CAST(sum(CAST(ew AS HUGEINT) * ew * ew * ew)
              AS DECIMAL(38,0)) AS see
          FROM e GROUP BY 1),
        f AS (
          SELECT event_type, n,
            (n * CAST(ste AS DOUBLE) - CAST(st AS DOUBLE) * se) AS num,
            (n * CAST(stt AS DOUBLE) - CAST(st AS DOUBLE) * st)
              * (n * CAST(see AS DOUBLE) - CAST(se AS DOUBLE) * se)
              AS den
          FROM mo),
        g AS (
          SELECT event_type, n,
            CASE WHEN den > 0 THEN num * num / den END AS r2
          FROM f)
        SELECT event_type, n AS n_days, round(r2, 6) AS r2,
          round(n * r2, 6) AS bp_lm
        FROM g ORDER BY event_type"""))(
      (s, dir) => {
        val i = tIndexed(s, dir)
        val m = i.groupBy("event_type").agg(
          count(lit(1)).cast("long").as("n"),
          sum(col("v")).cast("long").as("sv"))
        val e = i.join(m, "event_type")
          .select(col("event_type"), col("t"), col("n"),
            expr("(2 * (n * v - sv) + n * 10000) div (2 * n * 10000)")
              .as("ew"))
          .withColumn("ew2", col("ew") * col("ew"))
        val mo = e.groupBy("event_type").agg(
          max(col("n")).as("n"),
          sum(col("t")).cast("long").as("st"),
          sum(col("t") * col("t")).cast("long").as("stt"),
          sum(col("ew2")).cast("long").as("se"),
          sum(col("t").cast("decimal(19,0)") * col("ew2"))
            .cast("decimal(38,0)").as("ste"),
          sum(col("ew2").cast("decimal(19,0)") * col("ew2"))
            .cast("decimal(38,0)").as("see"))
        val nD = col("n").cast("double")
        val num = nD * col("ste").cast("double") -
          col("st").cast("double") * col("se")
        val den = (nD * col("stt").cast("double")
            - col("st").cast("double") * col("st")) *
          (nD * col("see").cast("double")
            - col("se").cast("double") * col("se"))
        val g = mo.select(col("event_type"), col("n"),
          when(den > 0, num * num / den).as("r2"))
        g.select(col("event_type"), col("n").as("n_days"),
            round(col("r2"), 6).as("r2"),
            round(col("n") * col("r2"), 6).as("bp_lm"))
          .orderBy("event_type")
      }),

    // Cook's distance (Cook Technometrics'77) — the influence
    // diagnostic for the per-type revenue trend fit: which days, if
    // deleted, would move the OLS line most? D_i =
    // e_i²·h_i / (2·s²·(1−h_i)²) with leverage h_i = 1/n + (t−t̄)²/Sxx.
    // Slope/intercept come from exact integer/DECIMAL moments; the SSE
    // is a rounded@4 DECIMAL sum (order-free); every per-row double is
    // one fixed-order expression. Top-3 influential days per type,
    // deterministic under (D desc, day).
    Q("q461_cooks_distance", Q.sql(s"""
        WITH d AS ($dailyMassSql),
        i AS (
          SELECT event_type, day, v,
            CAST(row_number() OVER (PARTITION BY event_type ORDER BY day)
              AS BIGINT) AS t
          FROM d),
        m AS (
          SELECT event_type, CAST(count(*) AS BIGINT) AS n,
            CAST(sum(t) AS BIGINT) AS st,
            CAST(sum(t * t) AS BIGINT) AS stt,
            CAST(sum(v) AS BIGINT) AS sv,
            CAST(sum(CAST(t AS HUGEINT) * v) AS DECIMAL(38,0)) AS stv
          FROM i GROUP BY 1),
        c AS (
          SELECT event_type, n, st, stt, sv,
            (n * CAST(stv AS DOUBLE) - CAST(st AS DOUBLE) * sv)
              / (n * CAST(stt AS DOUBLE) - CAST(st AS DOUBLE) * st) AS b,
            (n * CAST(stt AS DOUBLE) - CAST(st AS DOUBLE) * st) AS dxx
          FROM m),
        r AS (
          SELECT i.event_type, i.day, i.t, i.v, c.n, c.dxx,
            (CAST(c.sv AS DOUBLE) / c.n
              - c.b * (CAST(c.st AS DOUBLE) / c.n)) AS a,
            c.b, CAST(c.st AS DOUBLE) / c.n AS tbar
          FROM i JOIN c ON c.event_type = i.event_type),
        e AS (
          SELECT event_type, day, t, n,
            (v - a - b * t) / 10000.0 AS res,
            1.0 / n + (t - tbar) * (t - tbar) / (dxx / n) AS h
          FROM r),
        s AS (
          SELECT event_type, max(n) AS n,
            CAST(sum(CAST(round(res * res, 4) AS DECIMAL(38,4)))
              AS DOUBLE) AS ssr
          FROM e GROUP BY 1),
        ck AS (
          SELECT e.event_type, e.day, e.h, e.n,
            CASE WHEN e.n > 2 AND e.h < 1 AND s.ssr > 0
              THEN (e.res * e.res) * e.h
                / (2 * (s.ssr / (e.n - 2)) * (1 - e.h) * (1 - e.h))
              END AS cook
          FROM e JOIN s ON s.event_type = e.event_type),
        rk AS (
          SELECT event_type, day, cook, h,
            row_number() OVER (PARTITION BY event_type
              ORDER BY cook DESC, day) AS rnk
          FROM ck)
        SELECT event_type, rnk, day, round(cook, 6) AS cooks_d,
          round(h, 6) AS leverage
        FROM rk WHERE rnk <= 3
        ORDER BY event_type, rnk"""))(
      (s, dir) => {
        val i = tIndexed(s, dir)
        val m = i.groupBy("event_type").agg(
          count(lit(1)).cast("long").as("n"),
          sum(col("t")).cast("long").as("st"),
          sum(col("t") * col("t")).cast("long").as("stt"),
          sum(col("v")).cast("long").as("sv"),
          sum(col("t").cast("decimal(19,0)") * col("v"))
            .cast("decimal(38,0)").as("stv"))
        val nD = col("n").cast("double")
        val c = m.select(col("event_type"), col("n"), col("st"),
          col("sv"),
          ((nD * col("stv").cast("double")
              - col("st").cast("double") * col("sv"))
            / (nD * col("stt").cast("double")
              - col("st").cast("double") * col("st"))).as("b"),
          (nD * col("stt").cast("double")
            - col("st").cast("double") * col("st")).as("dxx"))
        val r = i.join(c, "event_type")
          .select(col("event_type"), col("day"), col("t"), col("v"),
            col("n"), col("dxx"),
            (col("sv").cast("double") / col("n")
              - col("b") * (col("st").cast("double") / col("n")))
              .as("a"),
            col("b"),
            (col("st").cast("double") / col("n")).as("tbar"))
        val e = r.select(col("event_type"), col("day"), col("t"),
          col("n"),
          ((col("v") - col("a") - col("b") * col("t")) / 10000.0)
            .as("res"),
          (lit(1.0) / col("n") + (col("t") - col("tbar"))
            * (col("t") - col("tbar")) / (col("dxx") / col("n")))
            .as("h"))
        val ss = e.groupBy("event_type").agg(
          max(col("n")).as("n2"),
          sum(round(col("res") * col("res"), 4).cast("decimal(38,4)"))
            .cast("double").as("ssr"))
        // NULL-guard the data-dependent denominators (q454 discipline):
        // n==2 zeroes ssr/(n−2), h==1 zeroes (1−h)², all-on-the-line
        // fits zero ssr — each would be NULL on Spark vs Inf on DuckDB
        val ck = e.join(ss, "event_type")
          .select(col("event_type"), col("day"), col("h"), col("n"),
            when(col("n") > 2 && col("h") < 1 && col("ssr") > 0,
              (col("res") * col("res")) * col("h")
                / (lit(2) * (col("ssr") / (col("n") - 2))
                  * (lit(1) - col("h")) * (lit(1) - col("h"))))
              .as("cook"))
        val w = Window.partitionBy("event_type")
          .orderBy(col("cook").desc, col("day"))
        ck.select(col("event_type"), col("day"), col("cook"), col("h"),
            row_number().over(w).as("rnk"))
          .where(col("rnk") <= 3)
          .select(col("event_type"), col("rnk"), col("day"),
            round(col("cook"), 6).as("cooks_d"),
            round(col("h"), 6).as("leverage"))
          .orderBy("event_type", "rnk")
      }),

    // KPSS level-stationarity statistic (Kwiatkowski-Phillips-Schmidt-
    // Shin J.Econometrics'92; iid short-run variance, the lag-0
    // variant) — the null here is STATIONARY, complementing q463's
    // unit-root null. With En = n·v − Σv (exact BIGINT) and S_t their
    // per-type prefix sums, η = Σ S_t² / (n · Σ En²) — the n-scalings
    // cancel, so the whole statistic is a ratio of two exact
    // DECIMAL(38,0) sums; 0.463 is the 5% critical value.
    Q("q462_kpss", Q.sql(s"""
        WITH d AS ($dailyMassSql),
        m AS (
          SELECT event_type, CAST(count(*) AS BIGINT) AS n,
            CAST(sum(v) AS BIGINT) AS sv
          FROM d GROUP BY 1),
        e AS (
          SELECT d.event_type, d.day, m.n, m.n * d.v - m.sv AS en
          FROM d JOIN m ON m.event_type = d.event_type),
        p AS (
          SELECT event_type, n, en,
            CAST(sum(en) OVER (PARTITION BY event_type ORDER BY day
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS st
          FROM e),
        agg AS (
          SELECT event_type, max(n) AS n,
            CAST(sum(CAST(st AS HUGEINT) * st) AS DECIMAL(38,0))
              AS sst2,
            CAST(sum(CAST(en AS HUGEINT) * en) AS DECIMAL(38,0))
              AS sen2
          FROM p GROUP BY 1)
        SELECT event_type, n AS n_days,
          round(CASE WHEN sen2 > 0
            THEN CAST(sst2 AS DOUBLE) / (n * CAST(sen2 AS DOUBLE)) END,
            6) AS kpss_eta,
          CASE WHEN CAST(sst2 AS DOUBLE) / (n * CAST(sen2 AS DOUBLE))
              > 0.463 THEN 1 ELSE 0 END AS reject_level_stationarity
        FROM agg ORDER BY event_type"""))(
      (s, dir) => {
        val d = dailyMass(s, dir)
        val m = d.groupBy("event_type").agg(
          count(lit(1)).cast("long").as("n"),
          sum(col("v")).cast("long").as("sv"))
        val e = d.join(m, "event_type")
          .select(col("event_type"), col("day"), col("n"),
            (col("n") * col("v") - col("sv")).as("en"))
        val w = Window.partitionBy("event_type").orderBy("day")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val p = e.select(col("event_type"), col("n"), col("en"),
          sum(col("en")).over(w).cast("long").as("st"))
        val agg = p.groupBy("event_type").agg(
          max(col("n")).as("n"),
          sum(col("st").cast("decimal(19,0)") * col("st"))
            .cast("decimal(38,0)").as("sst2"),
          sum(col("en").cast("decimal(19,0)") * col("en"))
            .cast("decimal(38,0)").as("sen2"))
        val eta = col("sst2").cast("double") /
          (col("n") * col("sen2").cast("double"))
        agg.select(col("event_type"), col("n").as("n_days"),
            round(when(col("sen2") > 0, eta), 6).as("kpss_eta"),
            when(eta > 0.463, 1).otherwise(0)
              .as("reject_level_stationarity"))
          .orderBy("event_type")
      }),

    // Dickey-Fuller τ (Dickey & Fuller JASA'79; no augmentation — the
    // AR(1) unit-root regression Δv = α + ρ·v₋₁ + ε) — the unit-root
    // null beside q462's stationary null and q373's Hurst exponent.
    // ρ̂ and its standard error come from exact integer/DECIMAL(38,0)
    // moments of (v₋₁, Δv); the SSE is a rounded@4 DECIMAL sum;
    // τ = ρ̂/se(ρ̂) one fixed-order double; −2.86 is the 5% critical
    // value.
    Q("q463_dickey_fuller", Q.sql(s"""
        WITH d AS ($dailyMassSql),
        i AS (
          SELECT event_type, v,
            lag(v) OVER (PARTITION BY event_type ORDER BY day) AS v1
          FROM d),
        o AS (
          SELECT event_type, CAST(v1 AS BIGINT) AS x,
            CAST(v - v1 AS BIGINT) AS y
          FROM i WHERE v1 IS NOT NULL),
        m AS (
          SELECT event_type, CAST(count(*) AS BIGINT) AS n,
            CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
            CAST(sum(CAST(x AS HUGEINT) * x) AS DECIMAL(38,0)) AS sxx,
            CAST(sum(CAST(x AS HUGEINT) * y) AS DECIMAL(38,0)) AS sxy
          FROM o GROUP BY 1),
        c AS (
          SELECT event_type, n, sx, sy,
            (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)
              / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx)
              AS rho,
            (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx) AS dxx
          FROM m),
        r AS (
          SELECT o.event_type, c.n, c.rho, c.dxx,
            (CAST(c.sy AS DOUBLE) / c.n
              - c.rho * (CAST(c.sx AS DOUBLE) / c.n)) AS alpha,
            o.x, o.y
          FROM o JOIN c ON c.event_type = o.event_type),
        sse AS (
          SELECT event_type, max(n) AS n, max(rho) AS rho,
            max(dxx) AS dxx,
            CAST(sum(CAST(round(
              (y - alpha - rho * x) * (y - alpha - rho * x), 4)
              AS DECIMAL(38,4))) AS DOUBLE) AS ss
          FROM r GROUP BY 1)
        SELECT event_type, n AS n_obs, round(rho, 6) AS rho,
          round(rho / sqrt((ss / (n - 2)) * n / dxx), 6) AS df_tau,
          CASE WHEN rho / sqrt((ss / (n - 2)) * n / dxx) < -2.86
            THEN 1 ELSE 0 END AS reject_unit_root
        FROM sse ORDER BY event_type"""))(
      (s, dir) => {
        val wl = Window.partitionBy("event_type").orderBy("day")
        val o = dailyMass(s, dir)
          .select(col("event_type"), col("v"),
            lag(col("v"), 1).over(wl).as("v1"))
          .where(col("v1").isNotNull)
          .select(col("event_type"), col("v1").cast("long").as("x"),
            (col("v") - col("v1")).cast("long").as("y"))
        val m = o.groupBy("event_type").agg(
          count(lit(1)).cast("long").as("n"),
          sum(col("x")).cast("long").as("sx"),
          sum(col("y")).cast("long").as("sy"),
          sum(col("x").cast("decimal(19,0)") * col("x"))
            .cast("decimal(38,0)").as("sxx"),
          sum(col("x").cast("decimal(19,0)") * col("y"))
            .cast("decimal(38,0)").as("sxy"))
        val nD = col("n").cast("double")
        val c = m.select(col("event_type"), col("n"), col("sx"),
          col("sy"),
          ((nD * col("sxy").cast("double")
              - col("sx").cast("double") * col("sy"))
            / (nD * col("sxx").cast("double")
              - col("sx").cast("double") * col("sx"))).as("rho"),
          (nD * col("sxx").cast("double")
            - col("sx").cast("double") * col("sx")).as("dxx"))
        val r = o.join(c, "event_type")
          .select(col("event_type"), col("n"), col("rho"), col("dxx"),
            (col("sy").cast("double") / col("n")
              - col("rho") * (col("sx").cast("double") / col("n")))
              .as("alpha"),
            col("x"), col("y"))
        val sse = r.groupBy("event_type").agg(
          max(col("n")).as("n"), max(col("rho")).as("rho"),
          max(col("dxx")).as("dxx"),
          sum(round((col("y") - col("alpha") - col("rho") * col("x"))
              * (col("y") - col("alpha") - col("rho") * col("x")), 4)
            .cast("decimal(38,4)")).cast("double").as("ss"))
        val tau = col("rho") /
          sqrt((col("ss") / (col("n") - 2)) * col("n") / col("dxx"))
        sse.select(col("event_type"), col("n").as("n_obs"),
            round(col("rho"), 6).as("rho"),
            round(tau, 6).as("df_tau"),
            when(tau < -2.86, 1).otherwise(0).as("reject_unit_root"))
          .orderBy("event_type")
      })
  )
}
