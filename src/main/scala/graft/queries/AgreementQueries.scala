package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.{load => T}
import graft.ops.Relational.dsum
import graft.queries.Bases.{dailyMass, dailyMassSql, purchaseClickPool,
  purchaseClickPoolSql}

/** Round-10 batch 12: distribution-equality and method-agreement
  * operators — the two-sample Anderson-Darling test, partial
  * correlation, Lin's concordance correlation, Bland-Altman limits of
  * agreement, and OLS prediction intervals — each oracle-checked
  * bit-for-bit against DuckDB.
  */
object AgreementQueries {

  def all: Seq[Q] = Seq(

    // Two-sample Anderson-Darling (Darling AOMS'57; Pettitt Biometrika
    // '76 computing form) — the tail-weighted EDF test that finishes
    // the family beside KS (q181) and Cramér-von Mises (q393):
    // A² = (1/nm)·Σ_{i<N} (M_i·N − n·i)²/(i(N−i)) over the pooled
    // order, M_i = purchases among the i smallest. The pooled rank and
    // M_i come from TWO distributed-prefix passes under the total
    // (v, src, day) order (deterministic under ties by construction);
    // numerators are exact integers, per-rank terms rounded@9 and
    // DECIMAL-summed.
    Q("q435_anderson_darling", Q.sql(s"""
        $purchaseClickPoolSql,
        nm AS (
          SELECT CAST(sum(s1) AS BIGINT) AS n,
            CAST(sum(1 - s1) AS BIGINT) AS m,
            CAST(count(*) AS BIGINT) AS nn
          FROM pool),
        rk AS (
          SELECT a.v, a.s1,
            CAST(count(*) AS BIGINT) AS i,
            CAST(sum(b.s1) AS BIGINT) AS mi
          FROM pool a JOIN pool b
            ON (b.v, b.s1, b.day) <= (a.v, a.s1, a.day)
          GROUP BY a.day, a.v, a.s1),
        terms AS (
          SELECT CAST(round(
            CAST((mi * nm.nn - nm.n * i) AS DOUBLE)
              * (mi * nm.nn - nm.n * i)
              / (i * (nm.nn - i)), 9) AS DECIMAL(27,9)) AS term
          FROM rk, nm WHERE i < nm.nn)
        SELECT nm.n, nm.m,
          round(CAST((SELECT sum(term) FROM terms) AS DOUBLE)
            / (CAST(nm.n AS DOUBLE) * nm.m), 6) AS a2
        FROM nm"""))(
      (s, dir) => {
        val pool = purchaseClickPool(s, dir)
        val nm = pool.agg(sum(col("s1")).as("n"),
          sum(lit(1L) - col("s1")).as("m"), count(lit(1)).as("nn"))
        val withI = graft.ops.Prefix.runningTotal(
          pool.withColumn("__one", lit(1L)),
          Seq(col("v"), col("s1"), col("day")), col("__one"), "i")
        val rk = graft.ops.Prefix.runningTotal(
          withI, Seq(col("v"), col("s1"), col("day")), col("s1"), "mi")
        val terms = rk.crossJoin(broadcast(nm))
          .where(col("i") < col("nn"))
          .select(round(
            (col("mi") * col("nn") - col("n") * col("i")).cast("double")
              * (col("mi") * col("nn") - col("n") * col("i"))
              / (col("i") * (col("nn") - col("i"))), 9).as("term"))
        val ssum = terms.agg(dsum(col("term"), 9).as("s"))
        nm.crossJoin(broadcast(ssum))
          .select(col("n"), col("m"),
            round(col("s") / (col("n").cast("double") * col("m")), 6)
              .as("a2"))
      }),

    // Partial correlation (Yule 1907) — does click still track purchase
    // once the shared traffic level (views) is controlled away?
    // r_cp·w = (r_cp − r_cw·r_pw)/√((1−r_cw²)(1−r_pw²)) with all three
    // pairwise correlations from ONE day-joined scan and exact
    // DECIMAL(38,0) moments — the confounder screen beside plain
    // correlation (q134) and Granger direction (q399).
    Q("q436_partial_correlation", Q.sql(s"""
        WITH d AS ($dailyMassSql),
        w AS (
          SELECT day,
            max(CASE WHEN event_type = 'click' THEN v END) AS c,
            max(CASE WHEN event_type = 'purchase' THEN v END) AS p,
            max(CASE WHEN event_type = 'view' THEN v END) AS vw
          FROM d WHERE event_type IN ('click', 'purchase', 'view')
          GROUP BY 1),
        f AS (SELECT * FROM w
          WHERE c IS NOT NULL AND p IS NOT NULL AND vw IS NOT NULL),
        m AS (
          SELECT CAST(count(*) AS BIGINT) AS n,
            CAST(sum(c) AS BIGINT) AS sc, CAST(sum(p) AS BIGINT) AS sp,
            CAST(sum(vw) AS BIGINT) AS sw,
            CAST(sum(CAST(c AS HUGEINT) * c) AS DECIMAL(38,0)) AS qcc,
            CAST(sum(CAST(p AS HUGEINT) * p) AS DECIMAL(38,0)) AS qpp,
            CAST(sum(CAST(vw AS HUGEINT) * vw) AS DECIMAL(38,0)) AS qww,
            CAST(sum(CAST(c AS HUGEINT) * p) AS DECIMAL(38,0)) AS qcp,
            CAST(sum(CAST(c AS HUGEINT) * vw) AS DECIMAL(38,0)) AS qcw,
            CAST(sum(CAST(p AS HUGEINT) * vw) AS DECIMAL(38,0)) AS qpw
          FROM f),
        r AS (
          SELECT n,
            (n * CAST(qcp AS DOUBLE) - CAST(sc AS DOUBLE) * sp)
              / sqrt((n * CAST(qcc AS DOUBLE) - CAST(sc AS DOUBLE) * sc)
                * (n * CAST(qpp AS DOUBLE) - CAST(sp AS DOUBLE) * sp))
              AS rcp,
            (n * CAST(qcw AS DOUBLE) - CAST(sc AS DOUBLE) * sw)
              / sqrt((n * CAST(qcc AS DOUBLE) - CAST(sc AS DOUBLE) * sc)
                * (n * CAST(qww AS DOUBLE) - CAST(sw AS DOUBLE) * sw))
              AS rcw,
            (n * CAST(qpw AS DOUBLE) - CAST(sp AS DOUBLE) * sw)
              / sqrt((n * CAST(qpp AS DOUBLE) - CAST(sp AS DOUBLE) * sp)
                * (n * CAST(qww AS DOUBLE) - CAST(sw AS DOUBLE) * sw))
              AS rpw
          FROM m)
        SELECT n AS n_days, round(rcp, 6) AS r_cp, round(rcw, 6) AS r_cw,
          round(rpw, 6) AS r_pw,
          round((rcp - rcw * rpw)
            / sqrt((1 - rcw * rcw) * (1 - rpw * rpw)), 6) AS partial_r
        FROM r"""))(
      (s, dir) => {
        val d = dailyMass(s, dir)
          .where(col("event_type").isin("click", "purchase", "view"))
        val w = d.groupBy("day").agg(
          max(when(col("event_type") === "click", col("v"))).as("c"),
          max(when(col("event_type") === "purchase", col("v"))).as("p"),
          max(when(col("event_type") === "view", col("v"))).as("vw"))
        val f = w.where(col("c").isNotNull && col("p").isNotNull
          && col("vw").isNotNull)
        def dq(a: Column, b: Column) =
          sum(a.cast("decimal(19,0)") * b).cast("decimal(38,0)")
        val m = f.agg(count(lit(1)).as("n"),
          sum(col("c")).as("sc"), sum(col("p")).as("sp"),
          sum(col("vw")).as("sw"),
          dq(col("c"), col("c")).as("qcc"), dq(col("p"), col("p"))
            .as("qpp"),
          dq(col("vw"), col("vw")).as("qww"), dq(col("c"), col("p"))
            .as("qcp"),
          dq(col("c"), col("vw")).as("qcw"), dq(col("p"), col("vw"))
            .as("qpw"))
        def corr2(qab: String, sa: String, sb: String,
                  qaa: String, qbb: String) =
          (col("n") * col(qab).cast("double")
            - col(sa).cast("double") * col(sb))
            .divide(sqrt((col("n") * col(qaa).cast("double")
              - col(sa).cast("double") * col(sa))
              * (col("n") * col(qbb).cast("double")
                - col(sb).cast("double") * col(sb))))
        val r = m.select(col("n"),
          corr2("qcp", "sc", "sp", "qcc", "qpp").as("rcp"),
          corr2("qcw", "sc", "sw", "qcc", "qww").as("rcw"),
          corr2("qpw", "sp", "sw", "qpp", "qww").as("rpw"))
        r.select(col("n").as("n_days"), round(col("rcp"), 6).as("r_cp"),
          round(col("rcw"), 6).as("r_cw"), round(col("rpw"), 6)
            .as("r_pw"),
          round((col("rcp") - col("rcw") * col("rpw"))
            / sqrt((lit(1) - col("rcw") * col("rcw"))
              * (lit(1) - col("rpw") * col("rpw"))), 6).as("partial_r"))
      }),

    // Lin's concordance correlation (Lin Biometrics'89) — do the
    // purchase and click daily series AGREE (identity line), not just
    // correlate? The continuous twin of Cohen's kappa (q249):
    // CCC = 2(nQ_xy − S_xS_y) / ((nQ_x − S_x²) + (nQ_y − S_y²) +
    // (S_x − S_y)²) — EVERY term an exact integer, ONE final division;
    // Pearson r and the bias-correction factor C_b = CCC/r beside it.
    Q("q437_lin_ccc", Q.sql(s"""
        WITH d AS ($dailyMassSql),
        w AS (
          SELECT day,
            max(CASE WHEN event_type = 'purchase' THEN v END) AS x,
            max(CASE WHEN event_type = 'click' THEN v END) AS y
          FROM d WHERE event_type IN ('purchase', 'click') GROUP BY 1),
        f AS (SELECT * FROM w WHERE x IS NOT NULL AND y IS NOT NULL),
        m AS (
          SELECT CAST(count(*) AS BIGINT) AS n,
            CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
            CAST(sum(CAST(x AS HUGEINT) * x) AS DECIMAL(38,0)) AS qx,
            CAST(sum(CAST(y AS HUGEINT) * y) AS DECIMAL(38,0)) AS qy,
            CAST(sum(CAST(x AS HUGEINT) * y) AS DECIMAL(38,0)) AS qxy
          FROM f),
        c AS (
          SELECT n,
            n * CAST(qxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy AS cxy,
            n * CAST(qx AS DOUBLE) - CAST(sx AS DOUBLE) * sx AS cxx,
            n * CAST(qy AS DOUBLE) - CAST(sy AS DOUBLE) * sy AS cyy,
            (CAST(sx AS DOUBLE) - sy) * (CAST(sx AS DOUBLE) - sy) AS bias
          FROM m)
        SELECT n AS n_days,
          round(cxy / sqrt(cxx * cyy), 6) AS pearson_r,
          round(2 * cxy / (cxx + cyy + bias), 6) AS ccc,
          round((2 * cxy / (cxx + cyy + bias))
            / (cxy / sqrt(cxx * cyy)), 6) AS c_b
        FROM c"""))(
      (s, dir) => {
        val d = dailyMass(s, dir)
          .where(col("event_type").isin("purchase", "click"))
        val w = d.groupBy("day").agg(
          max(when(col("event_type") === "purchase", col("v"))).as("x"),
          max(when(col("event_type") === "click", col("v"))).as("y"))
        val f = w.where(col("x").isNotNull && col("y").isNotNull)
        val m = f.agg(count(lit(1)).as("n"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x").cast("decimal(19,0)") * col("x"))
            .cast("decimal(38,0)").as("qx"),
          sum(col("y").cast("decimal(19,0)") * col("y"))
            .cast("decimal(38,0)").as("qy"),
          sum(col("x").cast("decimal(19,0)") * col("y"))
            .cast("decimal(38,0)").as("qxy"))
        val c = m.select(col("n"),
          (col("n") * col("qxy").cast("double")
            - col("sx").cast("double") * col("sy")).as("cxy"),
          (col("n") * col("qx").cast("double")
            - col("sx").cast("double") * col("sx")).as("cxx"),
          (col("n") * col("qy").cast("double")
            - col("sy").cast("double") * col("sy")).as("cyy"),
          ((col("sx").cast("double") - col("sy"))
            * (col("sx").cast("double") - col("sy"))).as("bias"))
        val ccc = lit(2) * col("cxy")
          .divide(col("cxx") + col("cyy") + col("bias"))
        val r = col("cxy") / sqrt(col("cxx") * col("cyy"))
        c.select(col("n").as("n_days"),
          round(r, 6).as("pearson_r"),
          round(ccc, 6).as("ccc"),
          round(ccc / r, 6).as("c_b"))
      }),

    // Bland-Altman limits of agreement (Lancet'86) — the method-
    // comparison plot's numbers for the same purchase/click pairs:
    // mean difference, its SD from exact n·Q−S² moments, LoA = d̄ ±
    // 1.96·SD (the z literal DOUBLE-cast in both engines), and the
    // count of days outside the limits (the outliers a reviewer
    // circles). Differences are exact 4-dp integers.
    Q("q438_bland_altman", Q.sql(s"""
        WITH d AS ($dailyMassSql),
        w AS (
          SELECT day,
            max(CASE WHEN event_type = 'purchase' THEN v END) AS x,
            max(CASE WHEN event_type = 'click' THEN v END) AS y
          FROM d WHERE event_type IN ('purchase', 'click') GROUP BY 1),
        f AS (
          SELECT day, x - y AS diff FROM w
          WHERE x IS NOT NULL AND y IS NOT NULL),
        m AS (
          SELECT CAST(count(*) AS BIGINT) AS n,
            CAST(sum(diff) AS BIGINT) AS sd_sum,
            CAST(sum(CAST(diff AS HUGEINT) * diff) AS DECIMAL(38,0)) AS q
          FROM f),
        st AS (
          SELECT n, CAST(sd_sum AS DOUBLE) / n / 1e7 AS mean_kd,
            sqrt(CAST(n * q - CAST(sd_sum AS HUGEINT) * sd_sum AS DOUBLE)
              / n / (n - 1)) / 1e7 AS sd_kd
          FROM m),
        lim AS (
          SELECT n, mean_kd, sd_kd,
            mean_kd - CAST(1.96 AS DOUBLE) * sd_kd AS lo,
            mean_kd + CAST(1.96 AS DOUBLE) * sd_kd AS hi
          FROM st),
        outl AS (
          SELECT CAST(sum(CASE WHEN f.diff / 1e7 < lim.lo
              OR f.diff / 1e7 > lim.hi THEN 1 ELSE 0 END) AS BIGINT)
              AS n_outside
          FROM f, lim)
        SELECT lim.n AS n_days, round(lim.mean_kd, 6) AS mean_diff_kd,
          round(lim.sd_kd, 6) AS sd_kd, round(lim.lo, 6) AS loa_lo_kd,
          round(lim.hi, 6) AS loa_hi_kd, outl.n_outside
        FROM lim, outl"""))(
      (s, dir) => {
        val d = dailyMass(s, dir)
          .where(col("event_type").isin("purchase", "click"))
        val w = d.groupBy("day").agg(
          max(when(col("event_type") === "purchase", col("v"))).as("x"),
          max(when(col("event_type") === "click", col("v"))).as("y"))
        val f = w.where(col("x").isNotNull && col("y").isNotNull)
          .select(col("day"), (col("x") - col("y")).as("diff"))
        val m = f.agg(count(lit(1)).as("n"), sum(col("diff")).as("sd_sum"),
          sum(col("diff").cast("decimal(19,0)") * col("diff"))
            .cast("decimal(38,0)").as("q"))
        val st = m.select(col("n"),
          (col("sd_sum").cast("double") / col("n") / lit(1e7))
            .as("mean_kd"),
          (sqrt((col("n") * col("q") - col("sd_sum").cast("decimal(19,0)")
            * col("sd_sum")).cast("double") / col("n") / (col("n") - 1))
            / lit(1e7)).as("sd_kd"))
        val lim = st.select(col("n"), col("mean_kd"), col("sd_kd"),
          (col("mean_kd") - lit(1.96) * col("sd_kd")).as("lo"),
          (col("mean_kd") + lit(1.96) * col("sd_kd")).as("hi"))
        val outl = f.crossJoin(broadcast(lim))
          .agg(sum(when(col("diff") / lit(1e7) < col("lo")
            || col("diff") / lit(1e7) > col("hi"), 1L).otherwise(0L))
            .as("n_outside"))
        lim.crossJoin(broadcast(outl))
          .select(col("n").as("n_days"),
            round(col("mean_kd"), 6).as("mean_diff_kd"),
            round(col("sd_kd"), 6).as("sd_kd"),
            round(col("lo"), 6).as("loa_lo_kd"),
            round(col("hi"), 6).as("loa_hi_kd"), col("n_outside"))
      }),

    // OLS prediction interval (the forecast with honest uncertainty
    // beside the point estimates of q332 AR(1) / q320 Holt) — per
    // type, fit daily mass on the day index and predict day n+1 with
    // ŷ ± 1.96·s·√(1 + 1/n + (t₀−t̄)²/S_tt): slope/intercept/RSS from
    // exact centered determinants (q179 discipline), the z literal
    // DOUBLE-cast. One prefix-free scan per type — the index and
    // moments need no window at all (t from the rank self-join-free
    // date arithmetic: days since the type's min day).
    Q("q439_prediction_interval", Q.sql(s"""
        WITH d AS ($dailyMassSql),
        base AS (
          SELECT event_type, min(day) AS d0 FROM d GROUP BY 1),
        i AS (
          SELECT d.event_type,
            CAST(d.day - base.d0 + 1 AS BIGINT) AS t, d.v
          FROM d JOIN base ON base.event_type = d.event_type),
        m AS (
          SELECT event_type, CAST(count(*) AS BIGINT) AS n,
            CAST(sum(t) AS BIGINT) AS st,
            CAST(sum(CAST(t AS HUGEINT) * t) AS BIGINT) AS qt,
            CAST(sum(v) AS BIGINT) AS sv,
            CAST(sum(CAST(v AS HUGEINT) * v) AS DECIMAL(38,0)) AS qv,
            CAST(sum(CAST(t AS HUGEINT) * v) AS DECIMAL(38,0)) AS qtv,
            CAST(max(t) AS BIGINT) AS tmax
          FROM i GROUP BY 1),
        fit AS (
          SELECT event_type, n, tmax,
            CAST(n AS DOUBLE) * qt - CAST(st AS DOUBLE) * st AS dtt,
            CAST(n AS DOUBLE) * CAST(qtv AS DOUBLE)
              - CAST(st AS DOUBLE) * sv AS dtv,
            CAST(n AS DOUBLE) * CAST(qv AS DOUBLE)
              - CAST(sv AS DOUBLE) * sv AS dvv,
            st, sv
          FROM m),
        pr AS (
          SELECT event_type, n, tmax,
            (CAST(sv AS DOUBLE) + (dtv / dtt)
              * ((tmax + 1) * n - st)) / n AS yhat,
            sqrt((dvv - dtv * dtv / dtt) / n / (n - 2)) AS s_res,
            1 + 1.0 / n
              + (CAST(tmax + 1 AS DOUBLE) - CAST(st AS DOUBLE) / n)
                * (CAST(tmax + 1 AS DOUBLE) - CAST(st AS DOUBLE) / n)
                / (dtt / n) AS leverage
          FROM fit)
        SELECT event_type, n AS n_days,
          round(yhat / 1e7, 6) AS yhat_kd,
          round((yhat - CAST(1.96 AS DOUBLE) * s_res * sqrt(leverage))
            / 1e7, 6) AS lo_kd,
          round((yhat + CAST(1.96 AS DOUBLE) * s_res * sqrt(leverage))
            / 1e7, 6) AS hi_kd
        FROM pr ORDER BY event_type"""))(
      (s, dir) => {
        val d = dailyMass(s, dir)
        val base = d.groupBy("event_type").agg(min(col("day")).as("d0"))
        val i = d.join(broadcast(base), "event_type")
          .select(col("event_type"),
            (datediff(col("day"), col("d0")) + 1).cast("long").as("t"),
            col("v"))
        val m = i.groupBy("event_type").agg(count(lit(1)).as("n"),
          sum(col("t")).as("st"),
          sum(col("t").cast("decimal(19,0)") * col("t")).cast("long")
            .as("qt"),
          sum(col("v")).as("sv"),
          sum(col("v").cast("decimal(19,0)") * col("v"))
            .cast("decimal(38,0)").as("qv"),
          sum(col("t").cast("decimal(19,0)") * col("v"))
            .cast("decimal(38,0)").as("qtv"),
          max(col("t")).as("tmax"))
        val nD = col("n").cast("double")
        val fit = m.select(col("event_type"), col("n"), col("tmax"),
          (nD * col("qt") - col("st").cast("double") * col("st"))
            .as("dtt"),
          (nD * col("qtv").cast("double")
            - col("st").cast("double") * col("sv")).as("dtv"),
          (nD * col("qv").cast("double")
            - col("sv").cast("double") * col("sv")).as("dvv"),
          col("st"), col("sv"))
        val tbar = col("st").cast("double") / col("n")
        val t0 = (col("tmax") + 1).cast("double")
        val pr = fit.select(col("event_type"), col("n"), col("tmax"),
          ((col("sv").cast("double") + (col("dtv") / col("dtt"))
            * ((col("tmax") + 1) * col("n") - col("st"))) / col("n"))
            .as("yhat"),
          sqrt((col("dvv") - col("dtv") * col("dtv") / col("dtt"))
            / col("n") / (col("n") - 2)).as("s_res"),
          (lit(1) + lit(1.0) / col("n")
            + (t0 - tbar) * (t0 - tbar) / (col("dtt") / col("n")))
            .as("leverage"))
        pr.select(col("event_type"), col("n").as("n_days"),
            round(col("yhat") / lit(1e7), 6).as("yhat_kd"),
            round((col("yhat") - lit(1.96) * col("s_res")
              * sqrt(col("leverage"))) / lit(1e7), 6).as("lo_kd"),
            round((col("yhat") + lit(1.96) * col("s_res")
              * sqrt(col("leverage"))) / lit(1e7), 6).as("hi_kd"))
          .orderBy("event_type")
      })
  )
}
