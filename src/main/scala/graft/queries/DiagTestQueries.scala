package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables.{load => T}
import graft.ops.Relational.dsum
import graft.queries.Bases.{dailyMass, dailyMassSql, signupError,
  signupErrorSql}

/** Round-10 batch 1: survival comparison and regression/series
  * diagnostics — the log-rank test, the Durbin-Watson statistic, the
  * Jarque-Bera normality test, Grubbs' outlier test, and Page-Hinkley
  * drift detection — each oracle-checked bit-for-bit against DuckDB.
  */
object DiagTestQueries {

  def all: Seq[Q] = Seq(

    // Log-rank test (Mantel CCR'66; Peto JRSS'72) — does survival differ
    // between two cohorts? The comparison rung above q162's single-curve
    // Kaplan-Meier and q374's Nelson-Aalen on the SAME signup ->
    // first-error cohort, split by user parity. At each pooled death
    // time: O1 = d1 (exact), E1 = d·n1/n, hypergeometric V — E/V terms
    // rounded@9 and DECIMAL-summed (order-free), z = (O1−E1)/√V one
    // fixed-order double. Risk sets come from the distributed prefix
    // over the zero-filled (time × group) grid — calendar-bounded, no
    // unpartitioned window on the Spark side.
    Q("q380_logrank", Q.sql(s"""
        $signupErrorSql,
        horizon AS (SELECT max(epoch_us(ts)) AS h_us FROM events),
        obs AS (
          SELECT su.user_id % 2 AS g,
            CAST(floor((coalesce(er.e_us, horizon.h_us) - su.s_us)
              / 86400000000.0) AS BIGINT) AS t,
            CASE WHEN er.e_us IS NOT NULL THEN 1 ELSE 0 END AS d
          FROM su LEFT JOIN er ON su.user_id = er.user_id, horizon),
        ng AS (SELECT g, CAST(count(*) AS BIGINT) AS n_g FROM obs GROUP BY 1),
        tcg AS (
          SELECT t, g, CAST(sum(d) AS BIGINT) AS d_tg,
            CAST(count(*) AS BIGINT) AS end_tg
          FROM obs GROUP BY 1, 2),
        spine AS (SELECT DISTINCT t FROM tcg),
        grid AS (
          SELECT s.t, ng.g, ng.n_g,
            coalesce(tcg.d_tg, 0) AS d_tg, coalesce(tcg.end_tg, 0) AS end_tg
          FROM spine s CROSS JOIN ng
          LEFT JOIN tcg ON tcg.t = s.t AND tcg.g = ng.g),
        risk AS (
          SELECT t, g, d_tg,
            n_g - coalesce(sum(end_tg) OVER (PARTITION BY g ORDER BY t
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_tg
          FROM grid),
        pool AS (
          SELECT t,
            CAST(sum(d_tg) AS BIGINT) AS d_t,
            CAST(sum(n_tg) AS BIGINT) AS n_t,
            CAST(sum(CASE WHEN g = 0 THEN d_tg ELSE 0 END) AS BIGINT) AS d1,
            CAST(sum(CASE WHEN g = 0 THEN n_tg ELSE 0 END) AS BIGINT) AS n1
          FROM risk GROUP BY 1),
        terms AS (
          SELECT d1,
            round(CAST(d_t AS DOUBLE) * n1 / n_t, 9) AS e1,
            CASE WHEN n_t > 1 THEN
              round((CAST(d_t AS DOUBLE) * n1 / n_t) * (n_t - n1)
                / n_t * (n_t - d_t) / (n_t - 1), 9)
            ELSE 0.0 END AS v
          FROM pool WHERE d_t > 0)
        SELECT CAST(sum(d1) AS BIGINT) AS o1,
          round(CAST(sum(CAST(e1 AS DECIMAL(27,9))) AS DOUBLE), 6) AS e1,
          round(CAST(sum(CAST(v AS DECIMAL(27,9))) AS DOUBLE), 6) AS var1,
          round((CAST(sum(d1) AS DOUBLE)
              - CAST(sum(CAST(e1 AS DECIMAL(27,9))) AS DOUBLE))
            / sqrt(CAST(sum(CAST(v AS DECIMAL(27,9))) AS DOUBLE)), 6) AS z
        FROM terms"""))(
      (s, dir) => {
        val ev = T(s, dir, "events")
        val (su, er) = signupError(ev)
        val horizon = ev.agg(max(unix_micros(col("ts"))).as("h_us"))
        val obs = su.join(er, Seq("user_id"), "left")
          .crossJoin(broadcast(horizon))
          .select((col("user_id") % 2).as("g"),
            floor((coalesce(col("e_us"), col("h_us")) - col("s_us")) /
              lit(86400000000.0)).cast("long").as("t"),
            when(col("e_us").isNotNull, 1).otherwise(0).as("d"))
        val ng = obs.groupBy("g").agg(count(lit(1)).as("n_g"))
        val tcg = obs.groupBy("t", "g")
          .agg(sum(col("d")).as("d_tg"), count(lit(1)).as("end_tg"))
        val spine = tcg.select("t").distinct()
        // zero-filled (time × group) grid: 2 groups × calendar-bounded
        // event times — model-sized, broadcast
        val grid = spine.crossJoin(broadcast(ng))
          .join(tcg, Seq("t", "g"), "left")
          .select(col("t"), col("g"), col("n_g"),
            coalesce(col("d_tg"), lit(0L)).as("d_tg"),
            coalesce(col("end_tg"), lit(0L)).as("end_tg"))
        // inclusive distributed prefix per group minus current row =
        // exclusive prefix of leavers; no unpartitioned window
        val risk = graft.ops.Prefix.runningTotal(grid, Seq(col("t")),
            col("end_tg"), "__cum_end", strataCols = Seq("g"))
          .select(col("t"), col("g"), col("d_tg"),
            (col("n_g") - (col("__cum_end") - col("end_tg"))).as("n_tg"))
        val pool = risk.groupBy("t").agg(
          sum(col("d_tg")).cast("long").as("d_t"),
          sum(col("n_tg")).cast("long").as("n_t"),
          sum(when(col("g") === 0, col("d_tg")).otherwise(0L)).cast("long")
            .as("d1"),
          sum(when(col("g") === 0, col("n_tg")).otherwise(0L)).cast("long")
            .as("n1"))
        val dD = col("d_t").cast("double")
        val terms = pool.where(col("d_t") > 0).select(col("d1"),
          round(dD * col("n1") / col("n_t"), 9).as("e1"),
          when(col("n_t") > 1,
            round((dD * col("n1") / col("n_t"))
              * (col("n_t") - col("n1")) / col("n_t")
              * (col("n_t") - col("d_t")) / (col("n_t") - 1), 9))
            .otherwise(lit(0.0)).as("v"))
        terms.agg(
          sum(col("d1")).cast("long").as("o1"),
          round(dsum(col("e1"), 9), 6).as("e1"),
          round(dsum(col("v"), 9), 6).as("var1"),
          round((sum(col("d1")).cast("double") - dsum(col("e1"), 9))
            / sqrt(dsum(col("v"), 9)), 6).as("z"))
      }),

    // Durbin-Watson statistic (Biometrika'50) — first-order residual
    // autocorrelation of the per-type daily-revenue-on-time OLS fit, the
    // diagnostic that says whether q332's AR(1) layer is even needed.
    // Slope/intercept come from all-BIGINT moments over the
    // calendar-bounded series (cite: |nΣty − ΣtΣy| ≲ 1e15 at sf0.1 —
    // int64-safe through sf≈100); residuals are one fixed-order double
    // expression, then floor(e+0.5)-rounded to exact integers so the
    // Σ(Δe)² / Σe² quotient is a ratio of DECIMAL(38,0)-exact sums.
    Q("q381_durbin_watson", Q.sql(s"""
        WITH d AS ($dailyMassSql),
        idx AS (
          SELECT event_type, v,
            row_number() OVER (PARTITION BY event_type ORDER BY day)
              AS t
          FROM d),
        m AS (
          SELECT event_type, CAST(count(*) AS BIGINT) AS n,
            CAST(sum(t) AS BIGINT) AS st,
            CAST(sum(CAST(t AS BIGINT) * t) AS BIGINT) AS stt,
            CAST(sum(v) AS BIGINT) AS sv,
            CAST(sum(t * v) AS BIGINT) AS stv
          FROM idx GROUP BY 1),
        fit AS (
          SELECT event_type, n,
            (CAST(n * stv - st * sv AS DOUBLE))
              / (CAST(n * stt - st * st AS DOUBLE)) AS b,
            CAST(sv AS DOUBLE) AS svd, CAST(st AS DOUBLE) AS std,
            CAST(n AS DOUBLE) AS nd
          FROM m),
        res AS (
          SELECT i.event_type, i.t,
            CAST(floor((CAST(i.v AS DOUBLE)
              - ((f.svd - f.b * f.std) / f.nd + f.b * i.t)) + 0.5)
              AS BIGINT) AS e
          FROM idx i JOIN fit f ON f.event_type = i.event_type),
        lagd AS (
          SELECT event_type, e,
            lag(e) OVER (PARTITION BY event_type ORDER BY t) AS ep
          FROM res),
        sums AS (
          SELECT event_type,
            CAST(sum(CAST(e AS HUGEINT) * e) AS DECIMAL(38,0)) AS see,
            CAST(sum(CASE WHEN ep IS NULL THEN CAST(0 AS HUGEINT)
              ELSE CAST(e - ep AS HUGEINT) * (e - ep) END)
              AS DECIMAL(38,0)) AS sdd
          FROM lagd GROUP BY 1)
        SELECT s.event_type, f.n AS n_days,
          round(f.b / 10000, 6) AS slope,
          round(CAST(s.sdd AS DOUBLE) / CAST(s.see AS DOUBLE), 6) AS dw
        FROM sums s JOIN fit f ON f.event_type = s.event_type
        ORDER BY s.event_type"""))(
      (s, dir) => {
        val wT = Window.partitionBy("event_type").orderBy("day")
        val idx = dailyMass(s, dir)
          .select(col("event_type"), col("v"),
            row_number().over(wT).cast("long").as("t"))
        val m = idx.groupBy("event_type").agg(
          count(lit(1)).as("n"),
          sum(col("t")).as("st"),
          sum(col("t") * col("t")).as("stt"),
          sum(col("v")).as("sv"),
          sum(col("t") * col("v")).as("stv"))
        val b = (col("n") * col("stv") - col("st") * col("sv"))
          .cast("double") /
          (col("n") * col("stt") - col("st") * col("st")).cast("double")
        val fit = m.select(col("event_type"), col("n"), b.as("b"),
          col("sv").cast("double").as("svd"),
          col("st").cast("double").as("std"),
          col("n").cast("double").as("nd"))
        val res = idx.join(fit, "event_type")
          .select(col("event_type"), col("t"),
            floor((col("v").cast("double")
              - ((col("svd") - col("b") * col("std")) / col("nd")
                + col("b") * col("t"))) + 0.5).cast("long").as("e"))
        val lagd = res.select(col("event_type"), col("e"),
          lag(col("e"), 1).over(
            Window.partitionBy("event_type").orderBy("t")).as("ep"))
        val eDec = col("e").cast("decimal(19,0)")
        val dDec = (col("e") - col("ep")).cast("decimal(19,0)")
        val sums = lagd.groupBy("event_type").agg(
          sum(eDec * col("e")).cast("decimal(38,0)").as("see"),
          sum(when(col("ep").isNull, lit(0).cast("decimal(38,0)"))
            .otherwise(dDec * (col("e") - col("ep"))))
            .cast("decimal(38,0)").as("sdd"))
        sums.join(fit, "event_type")
          .select(col("event_type"), col("n").as("n_days"),
            round(col("b") / 10000, 6).as("slope"),
            round(col("sdd").cast("double") / col("see").cast("double"), 6)
              .as("dw"))
          .orderBy("event_type")
      }),

    // Jarque-Bera normality test (IER'87) — is per-type daily revenue
    // Gaussian enough for the z-based tests upstream (q338/q355/q380)?
    // Deviations are the exact-integer identity (n·v − S)/(n·10⁷) cast
    // once to KILOdollar doubles — skew/kurtosis/JB are scale-invariant,
    // and the 10³-dollar unit keeps the rounded 4th powers inside
    // dsum's DECIMAL(27,6) through sf≈100. The 2nd/3rd/4th powers are
    // fixed-order per-element doubles rounded@6 and DECIMAL-summed
    // (order-free); skew = m3/(m2·√m2) uses sqrt (correctly-rounded
    // IEEE both engines), never pow's last-ulp lottery.
    Q("q382_jarque_bera", Q.sql(s"""
        WITH d AS ($dailyMassSql),
        m AS (
          SELECT event_type, CAST(count(*) AS BIGINT) AS n,
            CAST(sum(v) AS BIGINT) AS sv
          FROM d GROUP BY 1),
        dev AS (
          SELECT d.event_type, m.n,
            CAST(m.n * d.v - m.sv AS DOUBLE) / (m.n * 10000000.0) AS x
          FROM d JOIN m ON m.event_type = d.event_type),
        p AS (
          SELECT event_type, n,
            round(x * x, 6) AS p2,
            round((x * x) * x, 6) AS p3,
            round((x * x) * (x * x), 6) AS p4
          FROM dev),
        agg AS (
          SELECT event_type, max(n) AS n,
            CAST(sum(CAST(p2 AS DECIMAL(38,6))) AS DOUBLE) / max(n) AS m2,
            CAST(sum(CAST(p3 AS DECIMAL(38,6))) AS DOUBLE) / max(n) AS m3,
            CAST(sum(CAST(p4 AS DECIMAL(38,6))) AS DOUBLE) / max(n) AS m4
          FROM p GROUP BY 1)
        SELECT event_type, n AS n_days,
          round(m3 / (m2 * sqrt(m2)), 6) AS skewness,
          round(m4 / (m2 * m2) - 3, 6) AS kurtosis_excess,
          round((n * ((m3 / (m2 * sqrt(m2))) * (m3 / (m2 * sqrt(m2)))
            + ((m4 / (m2 * m2) - 3) * (m4 / (m2 * m2) - 3)) / 4)) / 6, 6)
            AS jb
        FROM agg ORDER BY event_type"""))(
      (s, dir) => {
        val d = dailyMass(s, dir)
        val m = d.groupBy("event_type")
          .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
        val dev = d.join(m, "event_type")
          .select(col("event_type"), col("n"),
            ((col("n") * col("v") - col("sv")).cast("double")
              / (col("n") * lit(10000000.0))).as("x"))
        val x = col("x")
        val p = dev.select(col("event_type"), col("n"),
          round(x * x, 6).as("p2"),
          round((x * x) * x, 6).as("p3"),
          round((x * x) * (x * x), 6).as("p4"))
        val agg = p.groupBy("event_type").agg(
          max(col("n")).as("n"),
          (dsum(col("p2"), 6) / max(col("n"))).as("m2"),
          (dsum(col("p3"), 6) / max(col("n"))).as("m3"),
          (dsum(col("p4"), 6) / max(col("n"))).as("m4"))
        val skew = col("m3") / (col("m2") * sqrt(col("m2")))
        val kurtX = col("m4") / (col("m2") * col("m2")) - 3
        agg.select(col("event_type"), col("n").as("n_days"),
            round(skew, 6).as("skewness"),
            round(kurtX, 6).as("kurtosis_excess"),
            round((col("n") * (skew * skew + (kurtX * kurtX) / 4)) / 6, 6)
              .as("jb"))
          .orderBy("event_type")
      }),

    // Grubbs' outlier test (Technometrics'69) — which day is each
    // type's most extreme revenue outlier, and how extreme? G =
    // max|v − mean|/s from all-exact ingredients: the deviation
    // numerator |n·v − S| is an exact BIGINT, the variance numerator
    // nΣv² − S² an exact DECIMAL(38,0); G divides once. The suspect is
    // the deterministic (deviation DESC, day) argmax.
    Q("q383_grubbs", Q.sql(s"""
        WITH d AS ($dailyMassSql),
        m AS (
          SELECT event_type, CAST(count(*) AS BIGINT) AS n,
            CAST(sum(v) AS BIGINT) AS sv,
            CAST(sum(CAST(v AS HUGEINT) * v) AS DECIMAL(38,0)) AS svv
          FROM d GROUP BY 1),
        dev AS (
          SELECT d.event_type, d.day, d.v, m.n, m.svv, m.sv,
            abs(m.n * d.v - m.sv) AS adev,
            row_number() OVER (PARTITION BY d.event_type
              ORDER BY abs(m.n * d.v - m.sv) DESC, d.day) AS rk
          FROM d JOIN m ON m.event_type = d.event_type)
        SELECT event_type, n AS n_days, day AS suspect_day,
          round(v / 10000.0, 6) AS suspect_value,
          round(CAST(adev AS DOUBLE) / n
            / sqrt(CAST(n * svv - CAST(sv AS HUGEINT) * sv AS DOUBLE)
              / (n * (n - 1))), 6) AS g
        FROM dev WHERE rk = 1 ORDER BY event_type"""))(
      (s, dir) => {
        val d = dailyMass(s, dir)
        val m = d.groupBy("event_type").agg(
          count(lit(1)).as("n"),
          sum(col("v")).as("sv"),
          sum(col("v").cast("decimal(19,0)") * col("v"))
            .cast("decimal(38,0)").as("svv"))
        val adev = abs(col("n") * col("v") - col("sv"))
        val dev = d.join(m, "event_type")
          .select(col("event_type"), col("day"), col("v"), col("n"),
            col("svv"), col("sv"), adev.as("adev"),
            row_number().over(Window.partitionBy("event_type")
              .orderBy(adev.desc, col("day"))).as("rk"))
        dev.where(col("rk") === 1)
          .select(col("event_type"), col("n").as("n_days"),
            col("day").as("suspect_day"),
            round(col("v") / 10000.0, 6).as("suspect_value"),
            round(col("adev").cast("double") / col("n")
              / sqrt((col("n") * col("svv")
                  - col("sv").cast("decimal(19,0)") * col("sv"))
                .cast("double") / (col("n") * (col("n") - 1))), 6).as("g"))
          .orderBy("event_type")
      }),

    // Page-Hinkley drift detector (Page Biometrika'54; Hinkley'71, δ=0)
    // — the sequential CUSUM-of-deviations-from-running-mean that flags
    // corpus/ingest drift online: m_T = Σ(x_t − x̄_t), PH = max_T(m_T −
    // min_{t≤T} m_t). The walk is a Spark `aggregate` fold over the
    // rn-sorted per-type daily-count list — identical operation order to
    // the oracle's WITH RECURSIVE, so the doubles match bit-for-bit
    // (the q339 Croston pattern). Calendar-bounded lists; one hash agg.
    Q("q384_page_hinkley", Q.sql("""
        WITH RECURSIVE d AS (
          SELECT event_type, CAST(count(*) AS BIGINT) AS x,
            row_number() OVER (PARTITION BY event_type
              ORDER BY CAST(ts AS DATE)) AS rn
          FROM events GROUP BY event_type, CAST(ts AS DATE)),
        walk AS (
          SELECT event_type, rn, CAST(1 AS BIGINT) AS i, x AS s,
            CAST(0.0 AS DOUBLE) AS m, CAST(0.0 AS DOUBLE) AS mn,
            CAST(0.0 AS DOUBLE) AS ph
          FROM d WHERE rn = 1
          UNION ALL
          SELECT d.event_type, d.rn, w.i + 1, w.s + d.x,
            (w.m + CAST(d.x AS DOUBLE))
              - CAST(w.s + d.x AS DOUBLE) / (w.i + 1),
            least(w.mn, (w.m + CAST(d.x AS DOUBLE))
              - CAST(w.s + d.x AS DOUBLE) / (w.i + 1)),
            greatest(w.ph, ((w.m + CAST(d.x AS DOUBLE))
              - CAST(w.s + d.x AS DOUBLE) / (w.i + 1)) - least(w.mn,
              (w.m + CAST(d.x AS DOUBLE))
                - CAST(w.s + d.x AS DOUBLE) / (w.i + 1)))
          FROM walk w JOIN d
            ON d.event_type = w.event_type AND d.rn = w.rn + 1)
        SELECT event_type, CAST(max(i) AS BIGINT) AS n_days,
          CAST(max(s) AS BIGINT) AS n_events,
          round(max(ph), 6) AS ph
        FROM walk GROUP BY 1 ORDER BY 1"""))(
      (s, dir) => {
        val d = T(s, dir, "events")
          .groupBy(col("event_type"), to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("x"))
          .select(col("event_type"), col("x"),
            row_number().over(Window.partitionBy("event_type")
              .orderBy("day")).as("rn"))
        val lists = d.groupBy("event_type")
          .agg(sort_array(collect_list(struct(col("rn"), col("x"))))
            .as("lst"))
        // fold state: (i, s, m, mn, ph); the m' expression is repeated
        // inside mn'/ph' exactly as the oracle repeats it — same ops,
        // same order, same bits
        val folded = lists.select(col("event_type"),
          aggregate(
            expr("slice(lst, 2, greatest(size(lst) - 1, 0))"),
            struct(lit(1L).as("i"),
              element_at(col("lst"), 1).getField("x").as("s"),
              lit(0.0).as("m"), lit(0.0).as("mn"), lit(0.0).as("ph")),
            (acc, p) => {
              val i1 = acc.getField("i") + 1
              val s1 = acc.getField("s") + p.getField("x")
              def m1: Column = (acc.getField("m")
                + p.getField("x").cast("double")) - s1.cast("double") / i1
              val mn1 = least(acc.getField("mn"), m1)
              struct(i1.as("i"), s1.as("s"), m1.as("m"), mn1.as("mn"),
                greatest(acc.getField("ph"), m1 - mn1).as("ph"))
            }).as("w"))
        folded.select(col("event_type"),
            col("w.i").cast("long").as("n_days"),
            col("w.s").cast("long").as("n_events"),
            round(col("w.ph"), 6).as("ph"))
          .orderBy("event_type")
      })
  )
}
