package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables.{load => T}
import graft.ops.Relational.dsum
import graft.queries.Bases.{dailyMass, dailyMassSql, signupError,
  signupErrorSql}

/** Round-10 batch 8: population and signal diagnostics — the actuarial
  * life table, fixed-effect meta-analysis with Cochran's Q / I²
  * heterogeneity, the cluster-sampling design effect, the periodogram,
  * and transfer entropy — each oracle-checked bit-for-bit against
  * DuckDB.
  */
object PopulationQueries {

  def all: Seq[Q] = Seq(

    // Actuarial (grouped) life table (Berkson-Gage '50) — q162's
    // signup→first-error cohort rolled into 7-day intervals with the
    // half-interval censoring correction n′ = n − w/2: the grouped
    // companion to the exact-time KM (q162) and Nelson-Aalen (q374).
    // Interval risk sets come from ONE distributed-prefix pass over the
    // interval-grouped (d, w) counts (intervals are horizon-bounded —
    // never a per-subject window); conditional q̂ᵢ and the survival
    // product reuse the rounded-ln/DECIMAL-prefix/exp chain of q162, so
    // the curves agree where the designs overlap.
    Q("q416_life_table", Q.sql(s"""
        $signupErrorSql,
        horizon AS (SELECT max(epoch_us(ts)) AS h_us FROM events),
        obs AS (
          SELECT su.user_id,
            CAST(floor((coalesce(er.e_us, horizon.h_us) - su.s_us)
              / 86400000000.0) AS BIGINT) // 7 AS iv,
            CASE WHEN er.e_us IS NOT NULL THEN 1 ELSE 0 END AS d
          FROM su LEFT JOIN er ON su.user_id = er.user_id, horizon),
        tc AS (
          SELECT iv, CAST(sum(d) AS BIGINT) AS d_i,
            CAST(sum(1 - d) AS BIGINT) AS w_i,
            CAST(count(*) AS BIGINT) AS ending
          FROM obs GROUP BY 1),
        risk AS (
          SELECT a.iv, a.d_i, a.w_i,
            CAST((SELECT count(*) FROM obs) - sum(
              CASE WHEN b.iv < a.iv THEN b.ending ELSE 0 END) AS BIGINT)
              AS n_i
          FROM tc a JOIN tc b ON TRUE GROUP BY 1, 2, 3),
        q AS (
          SELECT iv, d_i, w_i, n_i,
            CAST(d_i AS DOUBLE)
              / (n_i - CAST(w_i AS DOUBLE) / 2) AS qi,
            CASE WHEN CAST(d_i AS DOUBLE)
                / (n_i - CAST(w_i AS DOUBLE) / 2) < 1
              THEN CAST(round(ln(1 - CAST(d_i AS DOUBLE)
                / (n_i - CAST(w_i AS DOUBLE) / 2)), 6) AS DECIMAL(27,6))
              ELSE CAST(0 AS DECIMAL(27,6)) END AS lt
          FROM risk),
        s AS (
          SELECT iv, d_i, w_i, n_i, qi,
            CASE WHEN max(CASE WHEN qi >= 1 THEN 1 ELSE 0 END)
                OVER (ORDER BY iv ROWS BETWEEN UNBOUNDED PRECEDING
                  AND CURRENT ROW) = 1
              THEN 0.0
              ELSE round(exp(CAST(sum(lt) OVER (ORDER BY iv
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS DOUBLE)), 6) END AS surv
          FROM q)
        SELECT iv AS interval_7d, n_i AS n_enter, d_i AS n_events,
          w_i AS n_censored, round(qi, 6) AS q_hat, surv AS s_hat
        FROM s ORDER BY iv"""))(
      (s, dir) => {
        val evts = T(s, dir, "events")
        val (su, er) = signupError(evts)
        val horizon = evts.agg(max(unix_micros(col("ts"))).as("h_us"))
        // materialized: obs feeds nTotal and tc — one signup/error join
        val obs = graft.ops.Frames.materialize(
          su.join(er, Seq("user_id"), "left")
          .crossJoin(broadcast(horizon))
          .select(
            expr("""CAST(floor((coalesce(e_us, h_us) - s_us)
              / 86400000000.0) AS BIGINT) div 7""").as("iv"),
            when(col("e_us").isNotNull, 1).otherwise(0).as("d")))
        val nTotal = obs.agg(count(lit(1)).as("n_total"))
        val tc = obs.groupBy("iv")
          .agg(sum(col("d")).as("d_i"), sum(lit(1) - col("d")).as("w_i"),
            count(lit(1)).as("ending"))
        val risk = graft.ops.Prefix.runningTotal(
            tc.crossJoin(broadcast(nTotal)), Seq(col("iv")),
            col("ending"), "__cum")
          .select(col("iv"), col("d_i"), col("w_i"),
            (col("n_total") - (col("__cum") - col("ending")))
              .cast("long").as("n_i"))
        val q = risk.select(col("iv"), col("d_i"), col("w_i"), col("n_i"),
          (col("d_i").cast("double")
            / (col("n_i") - col("w_i").cast("double") / 2)).as("qi"))
        // survival chain: both cumulative series share the order key iv
        // — one multi-series prefix pass (the q397 fused pattern)
        val withCum = graft.ops.Prefix.runningTotals(
          q.withColumn("__lt6",
              when(col("qi") < 1, round(log(lit(1) - col("qi")), 6))
                .otherwise(lit(0.0)).cast("decimal(27,6)"))
            .withColumn("__col", when(col("qi") >= 1, 1L).otherwise(0L)),
          Seq(col("iv")),
          Seq((col("__lt6"), "__cum"), (col("__col"), "__cumc")))
        withCum.select(col("iv").as("interval_7d"),
            col("n_i").as("n_enter"), col("d_i").as("n_events"),
            col("w_i").as("n_censored"),
            round(col("qi"), 6).as("q_hat"),
            when(col("__cumc") >= 1, lit(0.0))
              .otherwise(round(exp(col("__cum").cast("double")), 6))
              .as("s_hat"))
          .orderBy("interval_7d")
      }),

    // Fixed-effect meta-analysis (inverse-variance pooling) with
    // Cochran's Q and Higgins' I² (BMJ'03) — treat each event type as a
    // "study" of the weekend-uplift effect on daily revenue: θ_h =
    // mean_weekend − mean_weekday in kilodollars (exact n·Q−S² moment
    // variances), w_h = 1/v_h, pooled θ̂ = Σwθ/Σw, Q = Σw(θ−θ̂)²,
    // I² = max(0, (Q−(k−1))/Q). The study frame is type-bounded; the
    // 5-term reductions are rounded@9 and DECIMAL-routed.
    Q("q417_meta_i2", Q.sql(s"""
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
          SELECT a.event_type,
            CAST(a.sv AS DOUBLE) / a.n / 1e7
              - CAST(b.sv AS DOUBLE) / b.n / 1e7 AS theta,
            CAST(a.n * a.q - CAST(a.sv AS HUGEINT) * a.sv AS DOUBLE)
              / a.n / (a.n - 1) / a.n / 1e14
            + CAST(b.n * b.q - CAST(b.sv AS HUGEINT) * b.sv AS DOUBLE)
              / b.n / (b.n - 1) / b.n / 1e14 AS vh
          FROM m a JOIN m b ON b.event_type = a.event_type
          WHERE a.we = 1 AND b.we = 0),
        pool AS (
          SELECT CAST(count(*) AS BIGINT) AS k,
            CAST(sum(CAST(round(theta / vh, 9) AS DECIMAL(27,9)))
              AS DOUBLE) AS swt,
            CAST(sum(CAST(round(1 / vh, 9) AS DECIMAL(27,9)))
              AS DOUBLE) AS sw
          FROM st),
        qq AS (
          SELECT pool.k, pool.swt / pool.sw AS theta_f,
            CAST(sum(CAST(round(
              (st.theta - pool.swt / pool.sw)
                * (st.theta - pool.swt / pool.sw) / st.vh, 9)
              AS DECIMAL(27,9))) AS DOUBLE) AS q_stat
          FROM st, pool GROUP BY 1, 2)
        SELECT k AS n_studies, round(theta_f, 6) AS theta_fixed,
          round(q_stat, 6) AS q_stat,
          round(greatest(0.0, (q_stat - (k - 1)) / q_stat), 6) AS i2
        FROM qq"""))(
      (s, dir) => {
        val g = dailyMass(s, dir)
          .select(col("event_type"),
            when(weekday(col("day")) + 1 >= 6, 1).otherwise(0).as("we"),
            col("v"))
        val m = g.groupBy("event_type", "we")
          .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"),
            sum(col("v").cast("decimal(19,0)") * col("v"))
              .cast("decimal(38,0)").as("q"))
        def vpart(n: Column, sv: Column, q: Column) =
          (n * q - sv.cast("decimal(19,0)") * sv).cast("double") /
            n / (n - 1) / n / lit(1e14)
        val a = m.where(col("we") === 1)
          .select(col("event_type"), col("n").as("na"),
            col("sv").as("sva"), col("q").as("qa"))
        val b = m.where(col("we") === 0)
          .select(col("event_type"), col("n").as("nb"),
            col("sv").as("svb"), col("q").as("qb"))
        val st = a.join(b, "event_type")
          .select(col("event_type"),
            (col("sva").cast("double") / col("na") / lit(1e7)
              - col("svb").cast("double") / col("nb") / lit(1e7))
              .as("theta"),
            (vpart(col("na"), col("sva"), col("qa"))
              + vpart(col("nb"), col("svb"), col("qb"))).as("vh"))
        val pool = st.agg(count(lit(1)).as("k"),
          dsum(round(col("theta") / col("vh"), 9), 9).as("swt"),
          dsum(round(lit(1) / col("vh"), 9), 9).as("sw"))
        val qq = st.crossJoin(broadcast(pool))
          .groupBy(col("k"), (col("swt") / col("sw")).as("theta_f"))
          .agg(dsum(round((col("theta") - col("swt") / col("sw"))
            * (col("theta") - col("swt") / col("sw")) / col("vh"), 9), 9)
            .as("q_stat"))
        qq.select(col("k").as("n_studies"),
          round(col("theta_f"), 6).as("theta_fixed"),
          round(col("q_stat"), 6).as("q_stat"),
          round(greatest(lit(0.0),
            (col("q_stat") - (col("k") - 1)) / col("q_stat")), 6)
            .as("i2"))
      }),

    // Cluster-sampling design effect (Kish '65) — events cluster by
    // user, so the effective sample size for any per-event proportion
    // is n/deff with deff = 1 + (m̃ − 1)ρ, m̃ = Σm²/Σm the size-weighted
    // mean cluster size and ρ the ANOVA intraclass correlation of the
    // purchase indicator (binary twin of q398's ICC — Σk²/n terms
    // rounded@9 DECIMAL-summed, everything else exact integers). One
    // scan, one per-user agg, one k-row reduction.
    Q("q418_design_effect", Q.sql("""
        WITH u AS (
          SELECT user_id, CAST(count(*) AS BIGINT) AS m,
            CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS k
          FROM events GROUP BY 1),
        agg AS (
          SELECT CAST(count(*) AS BIGINT) AS c,
            CAST(sum(m) AS BIGINT) AS n,
            CAST(sum(CAST(m AS HUGEINT) * m) AS BIGINT) AS sm2,
            CAST(sum(k) AS BIGINT) AS sk,
            CAST(sum(CAST(round(CAST(k AS DOUBLE) * k / m, 9)
              AS DECIMAL(27,9))) AS DOUBLE) AS sk2m
          FROM u),
        f AS (
          SELECT c, n, sm2, sk,
            (sk2m - CAST(sk AS DOUBLE) * sk / n) / (c - 1) AS msb,
            (CAST(sk AS DOUBLE) - sk2m) / (n - c) AS msw,
            (CAST(n AS DOUBLE) - CAST(sm2 AS DOUBLE) / n) / (c - 1) AS m0
          FROM agg),
        r AS (
          SELECT c, n, sm2,
            (msb - msw) / (msb + (m0 - 1) * msw) AS rho
          FROM f)
        SELECT n AS n_events, c AS n_users,
          round(rho, 6) AS rho,
          round(1 + (CAST(sm2 AS DOUBLE) / n - 1) * rho, 6) AS deff,
          round(n / (1 + (CAST(sm2 AS DOUBLE) / n - 1) * rho), 6)
            AS n_effective
        FROM r"""))(
      (s, dir) => {
        val u = T(s, dir, "events")
          .groupBy("user_id")
          .agg(count(lit(1)).as("m"),
            sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
              .as("k"))
        val agg = u.agg(count(lit(1)).as("c"), sum(col("m")).as("n"),
          sum(col("m").cast("decimal(19,0)") * col("m")).cast("long")
            .as("sm2"),
          sum(col("k")).as("sk"),
          dsum(round(col("k").cast("double") * col("k") / col("m"), 9), 9)
            .as("sk2m"))
        val f = agg.select(col("c"), col("n"), col("sm2"), col("sk"),
          ((col("sk2m") - col("sk").cast("double") * col("sk") / col("n"))
            / (col("c") - 1)).as("msb"),
          ((col("sk").cast("double") - col("sk2m")) / (col("n") - col("c")))
            .as("msw"),
          ((col("n").cast("double") - col("sm2").cast("double") / col("n"))
            / (col("c") - 1)).as("m0"))
        val r = f.select(col("c"), col("n"), col("sm2"),
          ((col("msb") - col("msw"))
            / (col("msb") + (col("m0") - 1) * col("msw"))).as("rho"))
        val mt = col("sm2").cast("double") / col("n")
        r.select(col("n").as("n_events"), col("c").as("n_users"),
          round(col("rho"), 6).as("rho"),
          round(lit(1) + (mt - 1) * col("rho"), 6).as("deff"),
          round(col("n") / (lit(1) + (mt - 1) * col("rho")), 6)
            .as("n_effective"))
      }),

    // Periodogram (Schuster 1898) — spectral mass of each type's daily
    // revenue at periods N/k, k = 1..5 (is the weekly cycle real?).
    // Deviations are the EXACT integers n·v − S; cos/sin are rounded@6
    // (the ln/exp discipline applied to trig), products rounded to
    // exact integers and DECIMAL(38,0)-summed so the Fourier sums are
    // order-free; one broadcast 5-row harmonic frame, power normalized
    // in the last mile. At 100 TB this is the one-pass screen that says
    // WHICH seasonal model (q142/q325/q333) is worth fitting.
    Q("q419_periodogram", Q.sql(s"""
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
        dev AS (
          SELECT i.event_type, i.t, m.n, m.n * i.v - m.sv AS e
          FROM i JOIN m ON m.event_type = i.event_type),
        ks AS (SELECT unnest(range(1, 6)) AS k),
        terms AS (
          SELECT event_type, k, n,
            CAST(round(e * round(cos(2 * pi() * k * t / n), 6), 0)
              AS DECIMAL(38,0)) AS tc,
            CAST(round(e * round(sin(2 * pi() * k * t / n), 6), 0)
              AS DECIMAL(38,0)) AS ts
          FROM dev, ks),
        f AS (
          SELECT event_type, CAST(k AS BIGINT) AS k, n,
            CAST(sum(tc) AS DOUBLE) AS a,
            CAST(sum(ts) AS DOUBLE) AS b
          FROM terms GROUP BY 1, 2, 3)
        SELECT event_type, k, n AS n_days,
          round((a * a + b * b)
            / (CAST(n AS DOUBLE) * n * n) / 1e14, 6) AS power_kd2
        FROM f ORDER BY event_type, k"""))(
      (s, dir) => {
        val d = dailyMass(s, dir)
        val i = d.select(col("event_type"), col("v"),
          row_number().over(Window.partitionBy("event_type")
            .orderBy("day")).cast("long").as("t"))
        val m = i.groupBy("event_type")
          .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
        val dev = i.join(broadcast(m), "event_type")
          .select(col("event_type"), col("t"), col("n"),
            (col("n") * col("v") - col("sv")).as("e"))
        import s.implicits._
        val ks = broadcast((1 to 5).map(_.toLong).toDF("k"))
        val ang = lit(2) * lit(math.Pi) * col("k") * col("t") / col("n")
        val terms = dev.crossJoin(ks)
          .select(col("event_type"), col("k"), col("n"),
            round(col("e") * round(cos(ang), 6), 0).cast("decimal(38,0)")
              .as("tc"),
            round(col("e") * round(sin(ang), 6), 0).cast("decimal(38,0)")
              .as("ts"))
        val f = terms.groupBy("event_type", "k", "n")
          .agg(sum(col("tc")).cast("double").as("a"),
            sum(col("ts")).cast("double").as("b"))
        f.select(col("event_type"), col("k"), col("n").as("n_days"),
            round((col("a") * col("a") + col("b") * col("b"))
              / (col("n").cast("double") * col("n") * col("n"))
              / lit(1e14), 6).as("power_kd2"))
          .orderBy("event_type", "k")
      }),

    // Transfer entropy (Schreiber PRL'00) — DIRECTED information flow
    // between the click and purchase daily series, the
    // model-free companion to q399's Granger F: binarize each series
    // against its exact mean (n·v > S — no division), count the 8
    // (y_{t+1}, y_t, x_t) triples via day+1 equi-joins, and assemble
    // TE = Σ p·[ln c(y′yx) + ln c(y) − ln c(yx) − ln c(y′y)] from
    // separately-rounded@6 lns (the q149 MI discipline), terms
    // rounded@8 DECIMAL-summed. Both directions from the same bit
    // frame — the asymmetry IS the readout.
    Q("q420_transfer_entropy", Q.sql(s"""
        WITH d AS ($dailyMassSql),
        m AS (
          SELECT event_type, CAST(count(*) AS BIGINT) AS n,
            CAST(sum(v) AS BIGINT) AS sv
          FROM d GROUP BY 1),
        bits AS (
          SELECT d.day,
            max(CASE WHEN d.event_type = 'click'
              THEN CASE WHEN m.n * d.v > m.sv THEN 1 ELSE 0 END END)
              AS bx,
            max(CASE WHEN d.event_type = 'purchase'
              THEN CASE WHEN m.n * d.v > m.sv THEN 1 ELSE 0 END END)
              AS by
          FROM d JOIN m ON m.event_type = d.event_type
          WHERE d.event_type IN ('click', 'purchase')
          GROUP BY 1),
        bitsf AS (
          SELECT * FROM bits WHERE bx IS NOT NULL AND by IS NOT NULL),
        tr AS (
          SELECT cur.bx AS x, cur.by AS y, nxt.bx AS xn, nxt.by AS yn
          FROM bitsf cur JOIN bitsf nxt ON nxt.day = cur.day + 1),
        nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM tr),
        cxy AS (
          SELECT yn, y, x, CAST(count(*) AS BIGINT) AS c
          FROM tr GROUP BY 1, 2, 3),
        cyx AS (
          SELECT y, x, CAST(count(*) AS BIGINT) AS c FROM tr GROUP BY 1, 2),
        cyy AS (
          SELECT yn, y, CAST(count(*) AS BIGINT) AS c FROM tr GROUP BY 1, 2),
        cy AS (SELECT y, CAST(count(*) AS BIGINT) AS c FROM tr GROUP BY 1),
        te_xy AS (
          SELECT CAST(sum(CAST(round(
            (CAST(cxy.c AS DOUBLE) / nn.n)
              * (round(ln(cxy.c), 6) + round(ln(cy.c), 6)
                - round(ln(cyx.c), 6) - round(ln(cyy.c), 6)), 8)
            AS DECIMAL(27,8))) AS DOUBLE) AS te
          FROM cxy
          JOIN cyx ON cyx.y = cxy.y AND cyx.x = cxy.x
          JOIN cyy ON cyy.yn = cxy.yn AND cyy.y = cxy.y
          JOIN cy ON cy.y = cxy.y, nn),
        cxy2 AS (
          SELECT xn, x, y, CAST(count(*) AS BIGINT) AS c
          FROM tr GROUP BY 1, 2, 3),
        cxx AS (
          SELECT xn, x, CAST(count(*) AS BIGINT) AS c FROM tr GROUP BY 1, 2),
        cx AS (SELECT x, CAST(count(*) AS BIGINT) AS c FROM tr GROUP BY 1),
        cyx2 AS (
          SELECT x, y, CAST(count(*) AS BIGINT) AS c FROM tr GROUP BY 1, 2),
        te_yx AS (
          SELECT CAST(sum(CAST(round(
            (CAST(cxy2.c AS DOUBLE) / nn.n)
              * (round(ln(cxy2.c), 6) + round(ln(cx.c), 6)
                - round(ln(cyx2.c), 6) - round(ln(cxx.c), 6)), 8)
            AS DECIMAL(27,8))) AS DOUBLE) AS te
          FROM cxy2
          JOIN cyx2 ON cyx2.x = cxy2.x AND cyx2.y = cxy2.y
          JOIN cxx ON cxx.xn = cxy2.xn AND cxx.x = cxy2.x
          JOIN cx ON cx.x = cxy2.x, nn)
        SELECT nn.n AS n_transitions,
          round(te_xy.te, 6) AS te_click_to_purchase,
          round(te_yx.te, 6) AS te_purchase_to_click
        FROM nn, te_xy, te_yx"""))(
      (s, dir) => {
        val d = dailyMass(s, dir)
        val m = d.groupBy("event_type")
          .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
        val bits = d.join(broadcast(m), "event_type")
          .where(col("event_type").isin("click", "purchase"))
          .groupBy("day")
          .agg(
            max(when(col("event_type") === "click",
              when(col("n") * col("v") > col("sv"), 1).otherwise(0)))
              .as("bx"),
            max(when(col("event_type") === "purchase",
              when(col("n") * col("v") > col("sv"), 1).otherwise(0)))
              .as("by"))
          .where(col("bx").isNotNull && col("by").isNotNull)
        val nxt = bits.select((col("day") - 1).as("day"),
          col("bx").as("xn"), col("by").as("yn"))
        // materialized (calendar-bounded 4-int-column frame): tr feeds
        // NINE consumers (nn + four contingency aggs per direction) —
        // the barrier runs the daily-mass/bit chain once instead of 9x
        val tr = graft.ops.Frames.materialize(bits.join(nxt, "day")
          .select(col("bx").as("x"), col("by").as("y"),
            col("xn"), col("yn")).coalesce(1))
        val nn = tr.agg(count(lit(1)).as("n"))
        def teOf(nextCol: String, ownCol: String, otherCol: String) = {
          val c3 = tr.groupBy(col(nextCol).as("a"), col(ownCol).as("b"),
            col(otherCol).as("cc")).agg(count(lit(1)).as("c3"))
          val c2own = tr.groupBy(col(ownCol).as("b"),
            col(otherCol).as("cc")).agg(count(lit(1)).as("c2o"))
          val c2next = tr.groupBy(col(nextCol).as("a"),
            col(ownCol).as("b")).agg(count(lit(1)).as("c2n"))
          val c1 = tr.groupBy(col(ownCol).as("b"))
            .agg(count(lit(1)).as("c1"))
          c3.join(broadcast(c2own), Seq("b", "cc"))
            .join(broadcast(c2next), Seq("a", "b"))
            .join(broadcast(c1), Seq("b"))
            .crossJoin(broadcast(nn))
            .select(round((col("c3").cast("double") / col("n"))
              * (round(log(col("c3")), 6) + round(log(col("c1")), 6)
                - round(log(col("c2o")), 6) - round(log(col("c2n")), 6)),
              8).as("term"))
            .agg(dsum(col("term"), 8).as("te"))
        }
        val teXY = teOf("yn", "y", "x")
        val teYX = teOf("xn", "x", "y")
        nn.crossJoin(broadcast(teXY.select(col("te").as("te1"))))
          .crossJoin(broadcast(teYX.select(col("te").as("te2"))))
          .select(col("n").as("n_transitions"),
            round(col("te1"), 6).as("te_click_to_purchase"),
            round(col("te2"), 6).as("te_purchase_to_click"))
      })
  )
}
