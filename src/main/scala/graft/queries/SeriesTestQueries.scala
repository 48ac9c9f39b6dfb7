package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables.{load => T}
import graft.ops.Relational.dsum
import graft.queries.Bases.{dailyMass, dailyMassSql, purchaseClickPool}

/** Round-10 batch 3: series and association diagnostics — Theil's
  * uncertainty coefficient, the cross-correlation function, Welch's
  * t-test with Cohen's d / Hedges' g, the two-sample Cramér-von Mises
  * statistic, Pettitt's change-point test, a peaks-over-threshold GPD
  * fit, and Goodman-Kruskal gamma — each oracle-checked bit-for-bit
  * against DuckDB.
  */
object SeriesTestQueries {

  def all: Seq[Q] = Seq(

    // Theil's uncertainty coefficient U(next|prev) (Theil '70) — how
    // much does the previous event type tell you about the next? The
    // directed, normalized companion to q149's mutual information,
    // computed on q132's user-journey transition counts. Entropy terms
    // follow the q149 discipline (each ln rounded@6, term rounded@8,
    // DECIMAL(27,8)-summed); the 5×5 cell and marginal frames are
    // model-sized broadcasts.
    Q("q390_theil_u", Q.sql("""
        WITH seq AS (
          SELECT user_id, event_type,
            lag(event_type) OVER (PARTITION BY user_id
              ORDER BY ts, event_id) AS prev_type
          FROM events),
        tr AS (
          SELECT prev_type AS x, event_type AS y,
            CAST(count(*) AS BIGINT) AS nxy
          FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2),
        mx AS (SELECT x, CAST(sum(nxy) AS BIGINT) AS nx FROM tr GROUP BY 1),
        my AS (SELECT y, CAST(sum(nxy) AS BIGINT) AS ny FROM tr GROUP BY 1),
        nn AS (SELECT CAST(sum(nxy) AS BIGINT) AS n FROM tr),
        hyx AS (
          SELECT CAST(sum(CAST(round(
            -(CAST(nxy AS DOUBLE) / nn.n)
              * round(ln(CAST(nxy AS DOUBLE) / mx.nx), 6), 8)
            AS DECIMAL(27,8))) AS DOUBLE) AS h
          FROM tr JOIN mx ON mx.x = tr.x, nn),
        hy AS (
          SELECT CAST(sum(CAST(round(
            -(CAST(ny AS DOUBLE) / nn.n)
              * round(ln(CAST(ny AS DOUBLE) / nn.n), 6), 8)
            AS DECIMAL(27,8))) AS DOUBLE) AS h
          FROM my, nn)
        SELECT nn.n AS n_transitions,
          round(hy.h, 6) AS h_y,
          round(hyx.h, 6) AS h_y_given_x,
          round((hy.h - hyx.h) / hy.h, 6) AS theil_u
        FROM nn, hy, hyx"""))(
      (s, dir) => {
        val seq = T(s, dir, "events")
          .select(col("user_id"), col("event_type"),
            lag(col("event_type"), 1).over(Window.partitionBy("user_id")
              .orderBy("ts", "event_id")).as("prev_type"))
        val tr = seq.where(col("prev_type").isNotNull)
          .groupBy(col("prev_type").as("x"), col("event_type").as("y"))
          .agg(count(lit(1)).as("nxy"))
        val mx = tr.groupBy("x").agg(sum(col("nxy")).as("nx"))
        val my = tr.groupBy("y").agg(sum(col("nxy")).as("ny"))
        val nn = tr.agg(sum(col("nxy")).as("n"))
        val hyx = tr.join(broadcast(mx), "x").crossJoin(broadcast(nn))
          .select(round(-(col("nxy").cast("double") / col("n"))
            * round(log(col("nxy").cast("double") / col("nx")), 6), 8)
            .as("t"))
          .agg(dsum(col("t"), 8).as("h"))
        val hy = my.crossJoin(broadcast(nn))
          .select(round(-(col("ny").cast("double") / col("n"))
            * round(log(col("ny").cast("double") / col("n")), 6), 8)
            .as("t"))
          .agg(dsum(col("t"), 8).as("h"))
        nn.crossJoin(broadcast(hy.select(col("h").as("hy"))))
          .crossJoin(broadcast(hyx.select(col("h").as("hyx"))))
          .select(col("n").as("n_transitions"),
            round(col("hy"), 6).as("h_y"),
            round(col("hyx"), 6).as("h_y_given_x"),
            round((col("hy") - col("hyx")) / col("hy"), 6).as("theil_u"))
      }),

    // Cross-correlation function (Box-Jenkins ch.11) — does purchase
    // revenue LEAD or LAG click revenue? Pearson r between the two
    // daily series at offsets −3..+3, each lag one day-shifted
    // equi-join over the calendar-bounded frames; all five moments are
    // exact (DECIMAL(38,0) products of 4-dp longs), r is one
    // fixed-order double per lag.
    Q("q391_ccf", Q.sql(s"""
        WITH d AS ($dailyMassSql),
        a AS (SELECT day, v FROM d WHERE event_type = 'purchase'),
        b AS (SELECT day, v FROM d WHERE event_type = 'click'),
        lags AS (SELECT unnest(range(-3, 4)) AS lag),
        pr AS (
          SELECT l.lag, a.v AS x, b.v AS y
          FROM lags l JOIN a ON TRUE
          JOIN b ON b.day = a.day + CAST(l.lag AS INTEGER)),
        m AS (
          SELECT lag, CAST(count(*) AS BIGINT) AS n,
            CAST(sum(CAST(x AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sx,
            CAST(sum(CAST(y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sy,
            CAST(sum(CAST(x AS HUGEINT) * y) AS DECIMAL(38,0)) AS sxy,
            CAST(sum(CAST(x AS HUGEINT) * x) AS DECIMAL(38,0)) AS sxx,
            CAST(sum(CAST(y AS HUGEINT) * y) AS DECIMAL(38,0)) AS syy
          FROM pr GROUP BY 1)
        SELECT CAST(lag AS BIGINT) AS lag, n AS n_pairs,
          round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
            / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
              * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) AS r
        FROM m ORDER BY lag"""))(
      (s, dir) => {
        val d = dailyMass(s, dir)
        val a = d.where(col("event_type") === "purchase")
          .select(col("day"), col("v").as("x"))
        val b = d.where(col("event_type") === "click")
          .select(col("day"), col("v").as("y"))
        import s.implicits._
        val lags = (-3 to 3).map(l => (l.toLong, l)).toDF("lag", "off")
        val pr = a.crossJoin(broadcast(lags))
          .join(b.select(col("day").as("bday"), col("y")),
            col("bday") === date_add(col("day"), col("off")))
        val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(19,0)")
        val m = pr.groupBy("lag").agg(
          count(lit(1)).as("n"),
          sum(dec(col("x"))).cast("decimal(38,0)").as("sx"),
          sum(dec(col("y"))).cast("decimal(38,0)").as("sy"),
          sum(dec(col("x")) * col("y")).cast("decimal(38,0)").as("sxy"),
          sum(dec(col("x")) * col("x")).cast("decimal(38,0)").as("sxx"),
          sum(dec(col("y")) * col("y")).cast("decimal(38,0)").as("syy"))
        val nD = col("n").cast("double")
        m.select(col("lag"), col("n").as("n_pairs"),
            round((nD * col("sxy").cast("double")
                - col("sx").cast("double") * col("sy").cast("double"))
              / sqrt((nD * col("sxx").cast("double")
                  - col("sx").cast("double") * col("sx").cast("double"))
                * (nD * col("syy").cast("double")
                  - col("sy").cast("double") * col("sy").cast("double"))),
              6).as("r"))
          .orderBy("lag")
      }),

    // Welch's t-test (Biometrika'47) + Cohen's d / Hedges' g — the
    // unequal-variance mean comparison of purchase vs click daily
    // revenue, with the effect sizes an A/B readout actually ships.
    // Group moments are exact (n·Q − S² DECIMAL(38,0) numerators,
    // kilodollar² units); t, the Welch-Satterthwaite df, d and g are
    // fixed-order doubles rounded@6.
    Q("q392_welch_t", Q.sql(s"""
        WITH d AS ($dailyMassSql),
        m AS (
          SELECT event_type, CAST(count(*) AS BIGINT) AS n,
            CAST(sum(v) AS BIGINT) AS sv,
            CAST(sum(CAST(v AS HUGEINT) * v) AS DECIMAL(38,0)) AS svv
          FROM d WHERE event_type IN ('purchase', 'click') GROUP BY 1),
        g AS (
          SELECT event_type, n,
            CAST(sv AS DOUBLE) / n / 1e7 AS mean_kd,
            CAST(n * svv - CAST(sv AS HUGEINT) * sv AS DOUBLE)
              / n / (n - 1) / 1e14 AS var_kd
          FROM m),
        w AS (
          SELECT
            (SELECT n FROM g WHERE event_type = 'purchase') AS n1,
            (SELECT mean_kd FROM g WHERE event_type = 'purchase') AS m1,
            (SELECT var_kd FROM g WHERE event_type = 'purchase') AS v1,
            (SELECT n FROM g WHERE event_type = 'click') AS n2,
            (SELECT mean_kd FROM g WHERE event_type = 'click') AS m2,
            (SELECT var_kd FROM g WHERE event_type = 'click') AS v2)
        SELECT n1, n2,
          round((m1 - m2) / sqrt(v1 / n1 + v2 / n2), 6) AS t,
          round(((v1 / n1 + v2 / n2) * (v1 / n1 + v2 / n2))
            / ((v1 / n1) * (v1 / n1) / (n1 - 1)
              + (v2 / n2) * (v2 / n2) / (n2 - 1)), 6) AS df,
          round((m1 - m2) / sqrt(((n1 - 1) * v1 + (n2 - 1) * v2)
            / (n1 + n2 - 2)), 6) AS cohen_d,
          round(((m1 - m2) / sqrt(((n1 - 1) * v1 + (n2 - 1) * v2)
            / (n1 + n2 - 2)))
            * (1 - 3.0 / (4 * (n1 + n2) - 9)), 6) AS hedges_g
        FROM w"""))(
      (s, dir) => {
        val m = dailyMass(s, dir)
          .where(col("event_type").isin("purchase", "click"))
          .groupBy("event_type").agg(
            count(lit(1)).as("n"),
            sum(col("v")).as("sv"),
            sum(col("v").cast("decimal(19,0)") * col("v"))
              .cast("decimal(38,0)").as("svv"))
        val g = m.select(col("event_type"), col("n"),
          (col("sv").cast("double") / col("n") / lit(1e7)).as("mean_kd"),
          ((col("n") * col("svv")
              - col("sv").cast("decimal(19,0)") * col("sv"))
            .cast("double") / col("n") / (col("n") - 1) / lit(1e14))
            .as("var_kd"))
        val p = g.where(col("event_type") === "purchase")
          .select(col("n").as("n1"), col("mean_kd").as("m1"),
            col("var_kd").as("v1"))
        val c = g.where(col("event_type") === "click")
          .select(col("n").as("n2"), col("mean_kd").as("m2"),
            col("var_kd").as("v2"))
        val w = p.crossJoin(broadcast(c))
        val se2 = col("v1") / col("n1") + col("v2") / col("n2")
        val sdP = sqrt(((col("n1") - 1) * col("v1")
          + (col("n2") - 1) * col("v2")) / (col("n1") + col("n2") - 2))
        val dEff = (col("m1") - col("m2")) / sdP
        w.select(col("n1"), col("n2"),
          round((col("m1") - col("m2")) / sqrt(se2), 6).as("t"),
          round((se2 * se2)
            / ((col("v1") / col("n1")) * (col("v1") / col("n1"))
                / (col("n1") - 1)
              + (col("v2") / col("n2")) * (col("v2") / col("n2"))
                / (col("n2") - 1)), 6).as("df"),
          round(dEff, 6).as("cohen_d"),
          round(dEff * (lit(1) - lit(3.0)
            / (lit(4) * (col("n1") + col("n2")) - 9)), 6).as("hedges_g"))
      }),

    // Two-sample Cramér-von Mises statistic (Anderson AOMS'62) — the
    // whole-distribution companion to q338's location test and the
    // KS drift screen: T = Σ_obs (c1·m − c2·n)² / (n·m·N²) over pooled
    // purchase/click daily masses, with the cumulative counts c1/c2
    // from a broadcast pair sweep over the calendar-bounded pooled
    // frame (no global window). Everything is an exact integer until
    // the single final division.
    Q("q393_cvm", Q.sql(s"""
        WITH d AS ($dailyMassSql),
        pool AS (
          SELECT v, CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
            AS s1, day
          FROM d WHERE event_type IN ('purchase', 'click')),
        nm AS (
          SELECT CAST(sum(s1) AS BIGINT) AS n,
            CAST(sum(1 - s1) AS BIGINT) AS m
          FROM pool),
        cum AS (
          SELECT a.day, a.v, a.s1,
            CAST(sum(CASE WHEN b.v <= a.v THEN b.s1 ELSE 0 END) AS BIGINT)
              AS c1,
            CAST(sum(CASE WHEN b.v <= a.v THEN 1 - b.s1 ELSE 0 END)
              AS BIGINT) AS c2
          FROM pool a, pool b GROUP BY 1, 2, 3),
        s AS (
          SELECT CAST(sum((c1 * nm.m - c2 * nm.n)
            * (c1 * nm.m - c2 * nm.n)) AS BIGINT) AS u
          FROM cum, nm GROUP BY ALL)
        SELECT nm.n, nm.m,
          round(CAST(s.u AS DOUBLE)
            / (CAST(nm.n AS DOUBLE) * nm.m * (nm.n + nm.m)
              * (nm.n + nm.m)), 6) AS t
        FROM s, nm"""))(
      (s, dir) => {
        val pool = purchaseClickPool(s, dir)
        val nm = pool.agg(sum(col("s1")).as("n"),
          sum(lit(1L) - col("s1")).as("m"))
        val other = broadcast(pool.select(col("v").as("v2"),
          col("s1").as("s12")))
        val cum = pool.crossJoin(other)
          .groupBy("day", "v", "s1")
          .agg(sum(when(col("v2") <= col("v"), col("s12")).otherwise(0L))
              .as("c1"),
            sum(when(col("v2") <= col("v"), lit(1L) - col("s12"))
              .otherwise(0L)).as("c2"))
        val u = cum.crossJoin(broadcast(nm))
          .select(((col("c1") * col("m") - col("c2") * col("n"))
            * (col("c1") * col("m") - col("c2") * col("n"))).as("sq"))
          .agg(sum(col("sq")).cast("long").as("u"))
        u.crossJoin(broadcast(nm))
          .select(col("n"), col("m"),
            round(col("u").cast("double")
              / (col("n").cast("double") * col("m")
                * (col("n") + col("m")) * (col("n") + col("m"))), 6)
              .as("t"))
      }),

    // Pettitt change-point test (JRSS-C'79) — WHERE does each type's
    // daily revenue level shift? U_t = ΣR2_i(i≤t) − t(N+1) from doubled
    // midranks (exact integers; the rank-sum identity of the sgn double
    // sum, tie-safe), K = max|U_t| with the deterministic (|U| DESC,
    // day) argmax, and the closed-form significance 2·exp(−6K²/(N³+N²)).
    // Midranks via the q355-style calendar-bounded per-type pair sweep;
    // the running sum is a type-PARTITIONED window.
    Q("q394_pettitt", Q.sql(s"""
        WITH d AS ($dailyMassSql),
        rk AS (
          SELECT a.event_type, a.day, a.v,
            2 * sum(CASE WHEN b.v < a.v THEN 1 ELSE 0 END)
              + sum(CASE WHEN b.v = a.v THEN 1 ELSE 0 END) + 1 AS r2
          FROM d a JOIN d b ON b.event_type = a.event_type
          GROUP BY 1, 2, 3),
        nn AS (
          SELECT event_type, CAST(count(*) AS BIGINT) AS n
          FROM d GROUP BY 1),
        u AS (
          SELECT rk.event_type, rk.day,
            sum(rk.r2) OVER (PARTITION BY rk.event_type ORDER BY rk.day
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              - (row_number() OVER (PARTITION BY rk.event_type
                ORDER BY rk.day)) * (nn.n + 1) AS ut,
            row_number() OVER (PARTITION BY rk.event_type
              ORDER BY rk.day) AS t, nn.n
          FROM rk JOIN nn ON nn.event_type = rk.event_type),
        best AS (
          SELECT event_type, day, ut, n,
            row_number() OVER (PARTITION BY event_type
              ORDER BY abs(ut) DESC, day) AS pick
          FROM u WHERE t < n)
        SELECT event_type, n AS n_days, CAST(abs(ut) AS BIGINT) AS k,
          day AS change_day,
          round(2 * exp(-(6.0 * ut * ut)
            / (CAST(n AS DOUBLE) * n * n + CAST(n AS DOUBLE) * n)), 6)
            AS p_approx
        FROM best WHERE pick = 1 ORDER BY event_type"""))(
      (s, dir) => {
        val d = dailyMass(s, dir)
        val other = broadcast(d.select(col("event_type"),
          col("v").as("v2")))
        val rk = d.join(other, Seq("event_type"))
          .groupBy("event_type", "day", "v")
          .agg((lit(2) * sum(when(col("v2") < col("v"), 1).otherwise(0))
            + sum(when(col("v2") === col("v"), 1).otherwise(0)) + 1)
            .as("r2"))
        val nn = d.groupBy("event_type").agg(count(lit(1)).as("n"))
        val wOrd = Window.partitionBy("event_type").orderBy("day")
        val u = rk.join(broadcast(nn), "event_type")
          .select(col("event_type"), col("day"), col("n"),
            (sum(col("r2")).over(wOrd.rowsBetween(
                Window.unboundedPreceding, Window.currentRow))
              - row_number().over(wOrd).cast("long") * (col("n") + 1))
              .as("ut"),
            row_number().over(wOrd).cast("long").as("t"))
        val best = u.where(col("t") < col("n"))
          .select(col("event_type"), col("day"), col("ut"), col("n"),
            row_number().over(Window.partitionBy("event_type")
              .orderBy(abs(col("ut")).desc, col("day"))).as("pick"))
        best.where(col("pick") === 1)
          .select(col("event_type"), col("n").as("n_days"),
            abs(col("ut")).cast("long").as("k"),
            col("day").as("change_day"),
            round(lit(2) * exp(-(lit(6.0) * col("ut") * col("ut"))
              / (col("n").cast("double") * col("n") * col("n")
                + col("n").cast("double") * col("n"))), 6).as("p_approx"))
          .orderBy("event_type")
      }),

    // Peaks-over-threshold GPD fit (Pickands AOS'75, method of
    // moments) — the tail-shape readout beside q190's Hill exponent
    // and q375's block maxima: per type, excesses over the exact
    // integer threshold u = (2·Σv) div N (4-dp units), ξ =
    // (1 − m²/s²)/2 and σ = m·(m²/s² + 1)/2 from exact excess moments.
    // One scan, one hash agg; the threshold is a broadcast per-type
    // scalar.
    Q("q395_pot_gpd", Q.sql("""
        WITH e4 AS (
          SELECT event_type,
            CAST(floor(value * 10000 + 0.5) AS BIGINT) AS v4
          FROM events),
        thr AS (
          SELECT event_type,
            CAST((2 * sum(v4)) // count(*) AS BIGINT) AS u4,
            CAST(count(*) AS BIGINT) AS n_all
          FROM e4 GROUP BY 1),
        ex AS (
          SELECT e4.event_type, e4.v4 - thr.u4 AS x, thr.u4, thr.n_all
          FROM e4 JOIN thr ON thr.event_type = e4.event_type
          WHERE e4.v4 > thr.u4),
        m AS (
          SELECT event_type, max(u4) AS u4, max(n_all) AS n_all,
            CAST(count(*) AS BIGINT) AS ne,
            CAST(sum(x) AS BIGINT) AS sx,
            CAST(sum(CAST(x AS HUGEINT) * x) AS DECIMAL(38,0)) AS sxx
          FROM ex GROUP BY 1),
        g AS (
          SELECT event_type, u4, n_all, ne,
            CAST(sx AS DOUBLE) / ne AS mean_x,
            CAST(ne * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE)
              / ne / (ne - 1) AS var_x
          FROM m)
        SELECT event_type, ne AS n_exceed,
          round(u4 / 10000.0, 6) AS threshold,
          round(CAST(ne AS DOUBLE) / n_all, 6) AS exceed_rate,
          round((1 - (mean_x * mean_x) / var_x) / 2, 6) AS xi,
          round((mean_x * ((mean_x * mean_x) / var_x + 1) / 2) / 10000,
            6) AS sigma
        FROM g ORDER BY event_type"""))(
      (s, dir) => {
        val e4 = T(s, dir, "events")
          .select(col("event_type"),
            floor(col("value") * 10000 + 0.5).cast("long").as("v4"))
        val thr = e4.groupBy("event_type")
          .agg(expr("CAST((2 * sum(v4)) div count(*) AS BIGINT)").as("u4"),
            count(lit(1)).as("n_all"))
        val ex = e4.join(broadcast(thr), "event_type")
          .where(col("v4") > col("u4"))
          .select(col("event_type"), (col("v4") - col("u4")).as("x"),
            col("u4"), col("n_all"))
        val m = ex.groupBy("event_type").agg(
          max(col("u4")).as("u4"), max(col("n_all")).as("n_all"),
          count(lit(1)).as("ne"),
          sum(col("x")).as("sx"),
          sum(col("x").cast("decimal(19,0)") * col("x"))
            .cast("decimal(38,0)").as("sxx"))
        val g = m.select(col("event_type"), col("u4"), col("n_all"),
          col("ne"),
          (col("sx").cast("double") / col("ne")).as("mean_x"),
          ((col("ne") * col("sxx")
              - col("sx").cast("decimal(19,0)") * col("sx"))
            .cast("double") / col("ne") / (col("ne") - 1)).as("var_x"))
        val ratio = (col("mean_x") * col("mean_x")) / col("var_x")
        g.select(col("event_type"), col("ne").as("n_exceed"),
            round(col("u4") / 10000.0, 6).as("threshold"),
            round(col("ne").cast("double") / col("n_all"), 6)
              .as("exceed_rate"),
            round((lit(1) - ratio) / 2, 6).as("xi"),
            round((col("mean_x") * (ratio + 1) / 2) / 10000, 6)
              .as("sigma"))
          .orderBy("event_type")
      }),

    // Goodman-Kruskal gamma (JASA'54) — ordinal association between
    // weekday and spend band (50-dollar bins, capped at 4): do later
    // weekdays carry bigger events? C/D from the concordant/discordant
    // cell-pair sweep over the 7×4 contingency table — exact integers,
    // model-sized broadcast, one final division.
    Q("q396_gamma_gk", Q.sql("""
        WITH cells AS (
          SELECT CAST(isodow(CAST(ts AS DATE)) AS BIGINT) AS r,
            least(CAST(3 AS BIGINT),
              CAST(floor(value * 10000 + 0.5) AS BIGINT) // 500000) AS c,
            CAST(count(*) AS BIGINT) AS n
          FROM events GROUP BY 1, 2),
        pairs AS (
          SELECT CAST(sum(CASE WHEN (b.r > a.r AND b.c > a.c)
              OR (b.r < a.r AND b.c < a.c)
              THEN a.n * b.n ELSE 0 END) // 2 AS BIGINT) AS cc,
            CAST(sum(CASE WHEN (b.r > a.r AND b.c < a.c)
              OR (b.r < a.r AND b.c > a.c)
              THEN a.n * b.n ELSE 0 END) // 2 AS BIGINT) AS dd,
            CAST((SELECT sum(n) FROM cells) AS BIGINT) AS n_obs
          FROM cells a, cells b)
        SELECT n_obs, cc AS concordant, dd AS discordant,
          round(CAST(cc - dd AS DOUBLE) / (cc + dd), 6) AS gamma
        FROM pairs"""))(
      (s, dir) => {
        val cells = T(s, dir, "events")
          .groupBy((weekday(to_date(col("ts"))) + 1).cast("long").as("r"),
            least(lit(3L), expr(
              "CAST(floor(value * 10000 + 0.5) AS BIGINT) div 500000"))
              .as("c"))
          .agg(count(lit(1)).as("n"))
        val other = broadcast(cells.select(col("r").as("r2"),
          col("c").as("c2"), col("n").as("n2")))
        val tot = cells.agg(sum(col("n")).as("n_obs"))
        cells.crossJoin(other)
          .agg(
            (sum(when((col("r2") > col("r") && col("c2") > col("c"))
                || (col("r2") < col("r") && col("c2") < col("c")),
              col("n") * col("n2")).otherwise(0L)) / 2).cast("long")
              .as("cc"),
            (sum(when((col("r2") > col("r") && col("c2") < col("c"))
                || (col("r2") < col("r") && col("c2") > col("c")),
              col("n") * col("n2")).otherwise(0L)) / 2).cast("long")
              .as("dd"))
          .crossJoin(broadcast(tot))
          .select(col("n_obs"), col("cc").as("concordant"),
            col("dd").as("discordant"),
            round((col("cc") - col("dd")).cast("double")
              / (col("cc") + col("dd")), 6).as("gamma"))
      })
  )
}
