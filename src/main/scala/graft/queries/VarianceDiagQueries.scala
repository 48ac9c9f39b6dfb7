package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables.{load => T}
import graft.queries.Bases.{dailyMass, dailyMassSql}

/** Round-12 widening: the three named-test corners the round-11 verdict
  * listed as the remaining small gaps beside their shipped siblings —
  * Siegel-Tukey (rank dispersion, beside q465 Ansari-Bradley), Levene
  * (mean-centered variance homogeneity, beside q330 Brown-Forsythe's
  * median-centered form and q389 Bartlett), and Ljung-Box (portmanteau
  * autocorrelation, beside q381 Durbin-Watson's lag-1 form). All three
  * ride the established recipes: doubled/strict integer ranks via the
  * distributed prefix, rdiv rational arithmetic on exact BIGINT/
  * DECIMAL(38,0) moments, and rounded@9 DECIMAL sums for the one
  * order-dependent float reduction.
  */
object VarianceDiagQueries {

  /** Round-half-up rational division of exact integers in DECIMAL(38,0)
    * (q330's engine-portable rdiv; DuckDB twin `(a + d // 2) // d`).
    */
  private def rdiv(a: Column, d: Column): Column = {
    val dd = d.cast("decimal(38,0)")
    val a2 = (a.cast("decimal(38,0)") +
      (d.cast("double") / 2).cast("long")).cast("decimal(38,0)")
    ((a2 - a2 % dd) / dd).cast("decimal(38,0)")
  }

  def all: Seq[Q] = Seq(

    // Siegel-Tukey two-sample scale test (Siegel & Tukey JASA'60) —
    // the alternating-rank dispersion test beside q465's
    // Ansari-Bradley: ranks are dealt from BOTH ENDS of the pooled
    // order inward (1 to the min; 2, 3 to the max side; 4, 5 low; …),
    // so a W computed like Wilcoxon's becomes sensitive to spread.
    // Ties are broken deterministically by day (a strict (v, day)
    // total order — midranks don't compose with the alternation), and
    // μ/σ² use the GENERAL linear-rank-statistic moments from the
    // actual score multiset (Σa, Σa²) rather than the tie-free 1..n
    // closed form, so the z is exact under any n parity. Positions
    // ride the per-type distributed prefix; every score is integer.
    Q("q470_siegel_tukey", Q.sql(s"""
        WITH d AS ($dailyMassSql),
        g AS (SELECT event_type, day, v,
                CAST(dayofmonth(day) % 2 AS INT) AS grp FROM d),
        pos AS (
          SELECT a.event_type, a.grp, CAST(count(b.day) + 1 AS BIGINT)
            AS i
          FROM g a LEFT JOIN g b
            ON b.event_type = a.event_type
            AND (b.v < a.v OR (b.v = a.v AND b.day < a.day))
          GROUP BY a.event_type, a.day, a.v, a.grp),
        m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                CAST(sum(grp) AS BIGINT) AS n1 FROM g GROUP BY 1),
        a AS (
          SELECT p.event_type, p.grp,
            CASE WHEN p.i <= (m.n + 1) // 2
              THEN 2 * p.i - (p.i % 2)
              ELSE 2 * (m.n + 1 - p.i) - 1 + ((m.n + 1 - p.i) % 2)
            END AS st
          FROM pos p JOIN m ON m.event_type = p.event_type),
        s AS (
          SELECT event_type,
            CAST(sum(CASE WHEN grp = 1 THEN st ELSE 0 END) AS BIGINT)
              AS w1,
            CAST(sum(st) AS BIGINT) AS sa,
            CAST(sum(CAST(st AS HUGEINT) * st) AS DECIMAL(38,0)) AS sa2
          FROM a GROUP BY 1),
        fin AS (
          SELECT s.event_type, m.n, m.n1, m.n - m.n1 AS n2, s.w1,
            CAST(m.n1 AS DOUBLE) * s.sa / m.n AS mu,
            CAST(m.n1 AS DOUBLE) * (m.n - m.n1)
              * (m.n * CAST(s.sa2 AS DOUBLE) - CAST(s.sa AS DOUBLE) * s.sa)
              / (CAST(m.n AS DOUBLE) * m.n * (m.n - 1)) AS vv
          FROM s JOIN m ON m.event_type = s.event_type)
        SELECT event_type, n1, n2, w1 AS st_w,
          round(CASE WHEN vv > 0 THEN (w1 - mu) / sqrt(vv) END, 6) AS z
        FROM fin ORDER BY event_type"""))(
      (s, dir) => {
        val g = dailyMass(s, dir).select(col("event_type"), col("day"),
          col("v"), (dayofmonth(col("day")) % 2).cast("int").as("grp"))
        val m = g.groupBy("event_type").agg(
          count(lit(1)).cast("long").as("n"),
          sum(col("grp")).cast("long").as("n1"))
        // strict (v, day) positions via the per-type distributed prefix
        val pos = graft.ops.Prefix.runningTotal(
          g.withColumn("__one", lit(1L)),
          Seq(col("v"), col("day")), col("__one"), "i",
          strataCols = Seq("event_type"))
        val a = pos.join(m, "event_type")
          .select(col("event_type"), col("grp"),
            when(col("i") <= expr("(n + 1) div 2"),
              lit(2) * col("i") - (col("i") % 2))
              .otherwise(lit(2) * (col("n") + 1 - col("i")) - 1
                + ((col("n") + 1 - col("i")) % 2)).as("st"))
        val sAgg = a.groupBy("event_type").agg(
          sum(when(col("grp") === 1, col("st")).otherwise(0L))
            .cast("long").as("w1"),
          sum(col("st")).cast("long").as("sa"),
          // st ≤ 2n, so Σst² ~ 4n³ silently wraps long*long on very long
          // series; square through decimal like q473's sa2 (the oracle's
          // HUGEINT sum would error loudly while Spark wrapped quietly)
          sum(col("st").cast("decimal(19,0)") * col("st"))
            .cast("decimal(38,0)").as("sa2"))
        val fin = sAgg.join(m, "event_type")
          .select(col("event_type"), col("n1"),
            (col("n") - col("n1")).as("n2"), col("w1"),
            (col("n1").cast("double") * col("sa") / col("n")).as("mu"),
            (col("n1").cast("double") * (col("n") - col("n1"))
              * (col("n") * col("sa2").cast("double")
                - col("sa").cast("double") * col("sa"))
              / (col("n").cast("double") * col("n") * (col("n") - 1)))
              .as("vv"))
        fin.select(col("event_type"), col("n1"), col("n2"),
            col("w1").as("st_w"),
            round(when(col("vv") > 0,
              (col("w1") - col("mu")) / sqrt(col("vv"))), 6).as("z"))
          .orderBy("event_type")
      }),

    // Levene's test (Levene '60, in Olkin ed.) — MEAN-centered variance
    // homogeneity across the five types, completing the panel beside
    // q330's median-centered Brown-Forsythe and q389's Bartlett.
    // |x − x̄_g| is kept integer-exact as rdiv(|n_g·v − S_g|, n_g) (one
    // rounded unit of the 4-dp fixed point — the mean never needs to be
    // materialized as a float), then W is a one-way ANOVA F over those
    // integer deviations: all moments BIGINT/DECIMAL(38,0), s²/n via
    // rdiv, ONE double division at the end. No micro-scaling: z² sums
    // already carry ~20 digits and the ×10⁶ factor overflowed HUGEINT→
    // BIGINT (found in oracle validation).
    Q("q471_levene", Q.sql(s"""
        WITH d AS ($dailyMassSql),
        m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_g,
                CAST(sum(v) AS BIGINT) AS s_g FROM d GROUP BY 1),
        z AS (
          SELECT d.event_type,
            (abs(d.v * m.n_g - m.s_g) + m.n_g // 2) // m.n_g AS z
          FROM d JOIN m ON m.event_type = d.event_type),
        grp AS (
          SELECT event_type, CAST(count(*) AS BIGINT) AS n_g,
            CAST(sum(z) AS BIGINT) AS sz,
            CAST(sum(CAST(z AS HUGEINT) * z) AS DECIMAL(38,0)) AS qz
          FROM z GROUP BY 1),
        terms AS (
          SELECT event_type, n_g, sz, qz,
            (CAST(sz AS HUGEINT) * sz + n_g // 2) // n_g AS s2n,
            (CAST(sz AS HUGEINT) * 1000000 + n_g // 2) // n_g AS zbarm
          FROM grp),
        tot AS (
          SELECT CAST(sum(n_g) AS HUGEINT) AS n,
            CAST(count(*) AS HUGEINT) AS k,
            CAST(sum(sz) AS HUGEINT) AS t,
            CAST(sum(CAST(qz AS HUGEINT)) AS HUGEINT) AS q,
            CAST(sum(s2n) AS HUGEINT) AS s2n
          FROM terms),
        fin AS (
          SELECT n, k,
            (s2n - ((t * t + n // 2) // n) + (k - 1) // 2) // (k - 1)
              AS msb,
            (q - s2n + (n - k) // 2) // (n - k) AS msw
          FROM tot)
        SELECT t2.event_type, t2.n_g,
          round(CAST(t2.zbarm AS DOUBLE) / 10000000000, 6) AS mean_absdev,
          round(CASE WHEN f.msw > 0
            THEN CAST(f.msb AS DOUBLE) / CAST(f.msw AS DOUBLE) END, 6)
            AS levene_w
        FROM terms t2, fin f
        ORDER BY t2.event_type"""))(
      (s, dir) => {
        val d = dailyMass(s, dir)
        val m = d.groupBy("event_type").agg(
          count(lit(1)).cast("long").as("n_g"),
          sum(col("v")).cast("long").as("s_g"))
        val z = d.join(m, "event_type")
          .select(col("event_type"),
            rdiv(abs(col("v") * col("n_g") - col("s_g")), col("n_g"))
              .cast("long").as("z"))
        val grp = z.groupBy("event_type").agg(
          count(lit(1)).cast("long").as("n_g"),
          sum(col("z")).cast("long").as("sz"),
          sum(col("z").cast("decimal(19,0)") * col("z"))
            .cast("decimal(38,0)").as("qz"))
        val terms = grp.select(col("event_type"), col("n_g"), col("sz"),
          col("qz"),
          rdiv(col("sz").cast("decimal(19,0)") * col("sz"), col("n_g"))
            .as("s2n"),
          rdiv(col("sz").cast("decimal(19,0)") * lit(1000000L),
            col("n_g")).as("zbarm"))
        val tot = terms.agg(
          sum(col("n_g")).cast("decimal(38,0)").as("n"),
          count(lit(1)).cast("decimal(38,0)").as("k"),
          sum(col("sz")).cast("decimal(38,0)").as("t"),
          sum(col("qz")).cast("decimal(38,0)").as("q"),
          sum(col("s2n")).cast("decimal(38,0)").as("s2n"))
        val fin = tot.select(
          rdiv(col("s2n") -
            rdiv(col("t") * col("t"), col("n")), col("k") - 1).as("msb"),
          rdiv(col("q") - col("s2n"), col("n") - col("k")).as("msw"))
        terms.crossJoin(broadcast(fin))
          .select(col("event_type"), col("n_g"),
            round(col("zbarm").cast("double") / 10000000000L, 6)
              .as("mean_absdev"),
            round(when(col("msw") > 0,
              col("msb").cast("double") / col("msw").cast("double")), 6)
              .as("levene_w"))
          .orderBy("event_type")
      }),

    // Ljung-Box portmanteau test (Ljung & Box Biometrika'78) — joint
    // autocorrelation of the per-type daily-mass series over lags 1..7,
    // the multi-lag companion to q381's Durbin-Watson. Centering is
    // EXACT: e_t = n·v_t − S is an integer (the common n scaling
    // cancels in ρ̂_k = Σe_t·e_{t+k} / Σe_t²), the lag products ride
    // HUGEINT/DECIMAL(38,0) sums over a (type, t+k) equi-join, and the
    // 7 per-lag terms ρ̂²/(n−k) — the one order-dependent float sum —
    // go through the rounded@9 DECIMAL route.
    Q("q472_ljung_box", Q.sql(s"""
        WITH d AS ($dailyMassSql),
        m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                CAST(sum(v) AS BIGINT) AS s FROM d GROUP BY 1),
        i AS (
          SELECT d.event_type, m.n,
            CAST(row_number() OVER (PARTITION BY d.event_type
              ORDER BY d.day) AS BIGINT) AS t,
            d.v * m.n - m.s AS e
          FROM d JOIN m ON m.event_type = d.event_type),
        den AS (
          SELECT event_type, max(n) AS n,
            CAST(sum(CAST(e AS HUGEINT) * e) AS DECIMAL(38,0)) AS see
          FROM i GROUP BY 1),
        ks AS (SELECT unnest(generate_series(1, 7)) AS k),
        num AS (
          SELECT a.event_type, ks.k,
            CAST(sum(CAST(a.e AS HUGEINT) * b.e) AS DECIMAL(38,0)) AS sek
          FROM i a JOIN ks ON true
          JOIN i b ON b.event_type = a.event_type AND b.t = a.t + ks.k
          GROUP BY 1, 2),
        rho AS (
          SELECT num.event_type, num.k, den.n,
            CAST(num.sek AS DOUBLE) / CAST(den.see AS DOUBLE) AS r
          FROM num JOIN den ON den.event_type = num.event_type
          WHERE den.see > 0 AND den.n > num.k),
        lb AS (
          SELECT event_type, max(n) AS n,
            CAST(sum(CAST(round(r * r / (n - k), 9) AS DECIMAL(28,9)))
              AS DOUBLE) AS sterm,
            max(CASE WHEN k = 1 THEN round(r, 6) END) AS rho1
          FROM rho GROUP BY 1)
        SELECT event_type, n AS n_days, rho1,
          round(n * (n + 2) * sterm, 6) AS lb_q7
        FROM lb ORDER BY event_type"""))(
      (s, dir) => {
        val d = dailyMass(s, dir)
        val m = d.groupBy("event_type").agg(
          count(lit(1)).cast("long").as("n"),
          sum(col("v")).cast("long").as("s"))
        val wT = Window.partitionBy("event_type").orderBy("day")
        val i = d.join(m, "event_type")
          .select(col("event_type"), col("n"),
            row_number().over(wT).cast("long").as("t"),
            (col("v") * col("n") - col("s")).as("e"))
        val den = i.groupBy("event_type").agg(max(col("n")).as("n"),
          sum(col("e").cast("decimal(19,0)") * col("e"))
            .cast("decimal(38,0)").as("see"))
        val withK = i.withColumn("k", explode(sequence(lit(1L), lit(7L))))
        val num = withK.as("a")
          .join(i.select(col("event_type"),
              col("t").as("t2"), col("e").as("e2")),
            Seq("event_type"))
          .where(col("t2") === col("t") + col("k"))
          .groupBy("event_type", "k")
          .agg(sum(col("e").cast("decimal(19,0)") * col("e2"))
            .cast("decimal(38,0)").as("sek"))
        val rho = num.join(den, "event_type")
          .where(col("see") > 0 && col("n") > col("k"))
          .select(col("event_type"), col("k"), col("n"),
            (col("sek").cast("double") / col("see").cast("double"))
              .as("r"))
        val lb = rho.groupBy("event_type").agg(max(col("n")).as("n"),
          sum(round(col("r") * col("r") / (col("n") - col("k")), 9)
            .cast("decimal(28,9)")).cast("double").as("sterm"),
          max(when(col("k") === 1, round(col("r"), 6))).as("rho1"))
        lb.select(col("event_type"), col("n").as("n_days"), col("rho1"),
            round((col("n") * (col("n") + 2)) * col("sterm"), 6)
              .as("lb_q7"))
          .orderBy("event_type")
      }),

    // Conover squared-ranks test (Conover & Iman, '78/'81) — the
    // two-sample scale test that squares pooled ranks of |x − x̄_g|,
    // completing the dispersion family beside q465 Ansari-Bradley
    // (both-ends midranks) and q470 Siegel-Tukey (alternation): odd- vs
    // even-day daily masses per type. Deviations are integer-exact via
    // rdiv against each SAMPLE's own mean; pooled doubled midranks keep
    // squared scores exact under ties (a = m2², so T and the (Σa, Σa²)
    // moments are BIGINT/DECIMAL-exact); z uses the general
    // linear-rank-statistic moments, valid under any tie structure.
    Q("q473_conover_squared_ranks", Q.sql(s"""
        WITH d AS ($dailyMassSql),
        g AS (SELECT event_type, day, v,
                CAST(dayofmonth(day) % 2 AS INT) AS grp FROM d),
        m AS (SELECT event_type, grp, CAST(count(*) AS BIGINT) AS n_g,
                CAST(sum(v) AS BIGINT) AS s_g FROM g GROUP BY 1, 2),
        u AS (
          SELECT g.event_type, g.grp,
            (abs(g.v * m.n_g - m.s_g) + m.n_g // 2) // m.n_g AS u
          FROM g JOIN m ON m.event_type = g.event_type AND m.grp = g.grp),
        uc AS (
          SELECT event_type, u, CAST(count(*) AS BIGINT) AS c,
            CAST(sum(grp) AS BIGINT) AS c1
          FROM u GROUP BY 1, 2),
        rk AS (
          SELECT a.event_type, a.u, a.c, a.c1,
            CAST(coalesce(sum(b.c), 0) AS BIGINT) AS less
          FROM uc a LEFT JOIN uc b
            ON b.event_type = a.event_type AND b.u < a.u
          GROUP BY 1, 2, 3, 4),
        sc AS (
          SELECT event_type, c, c1, (2 * less + c + 1) AS m2 FROM rk),
        agg AS (
          SELECT event_type,
            CAST(sum(c1 * m2 * m2) AS BIGINT) AS t1,
            CAST(sum(c * m2 * m2) AS BIGINT) AS sa,
            CAST(sum(CAST(c AS HUGEINT) * m2 * m2 * m2 * m2)
              AS DECIMAL(38,0)) AS sa2,
            CAST(sum(c) AS BIGINT) AS n,
            CAST(sum(c1) AS BIGINT) AS n1
          FROM sc GROUP BY 1),
        fin AS (
          SELECT event_type, n, n1, n - n1 AS n2, t1,
            CAST(n1 AS DOUBLE) * sa / n AS mu,
            CAST(n1 AS DOUBLE) * (n - n1)
              * (n * CAST(sa2 AS DOUBLE) - CAST(sa AS DOUBLE) * sa)
              / (CAST(n AS DOUBLE) * n * (n - 1)) AS vv
          FROM agg)
        SELECT event_type, n1, n2, CAST(t1 AS BIGINT) AS t_sq,
          round(CASE WHEN vv > 0 THEN (t1 - mu) / sqrt(vv) END, 6) AS z
        FROM fin ORDER BY event_type"""))(
      (s, dir) => {
        val g = dailyMass(s, dir).select(col("event_type"), col("day"),
          col("v"), (dayofmonth(col("day")) % 2).cast("int").as("grp"))
        val m = g.groupBy("event_type", "grp").agg(
          count(lit(1)).cast("long").as("n_g"),
          sum(col("v")).cast("long").as("s_g"))
        val u = g.join(m, Seq("event_type", "grp"))
          .select(col("event_type"), col("grp"),
            rdiv(abs(col("v") * col("n_g") - col("s_g")), col("n_g"))
              .cast("long").as("u"))
        val uc = u.groupBy("event_type", "u").agg(
          count(lit(1)).cast("long").as("c"),
          sum(col("grp")).cast("long").as("c1"))
        val rk = graft.ops.Prefix.runningTotal(uc, Seq(col("u")),
            col("c"), "cum", strataCols = Seq("event_type"))
          .withColumn("less", col("cum") - col("c"))
        val sc = rk.select(col("event_type"), col("c"), col("c1"),
          (lit(2) * col("less") + col("c") + 1).as("m2"))
        val agg = sc.groupBy("event_type").agg(
          sum(col("c1") * col("m2") * col("m2")).cast("long").as("t1"),
          sum(col("c") * col("m2") * col("m2")).cast("long").as("sa"),
          sum(col("c").cast("decimal(19,0)") * col("m2") * col("m2")
            * col("m2") * col("m2")).cast("decimal(38,0)").as("sa2"),
          sum(col("c")).cast("long").as("n"),
          sum(col("c1")).cast("long").as("n1"))
        val fin = agg.select(col("event_type"), col("n1"),
          (col("n") - col("n1")).as("n2"), col("t1"),
          (col("n1").cast("double") * col("sa") / col("n")).as("mu"),
          (col("n1").cast("double") * (col("n") - col("n1"))
            * (col("n") * col("sa2").cast("double")
              - col("sa").cast("double") * col("sa"))
            / (col("n").cast("double") * col("n") * (col("n") - 1)))
            .as("vv"))
        fin.select(col("event_type"), col("n1"), col("n2"),
            col("t1").as("t_sq"),
            round(when(col("vv") > 0,
              (col("t1") - col("mu")) / sqrt(col("vv"))), 6).as("z"))
          .orderBy("event_type")
      }),

    // Bartels rank von Neumann ratio (Bartels JASA'82) — the RANK
    // randomness test beside q211's runs test and q381's
    // Durbin-Watson: RVN = Σ(R_t − R_{t+1})² / Σ(R_t − R̄)² over the
    // per-type daily series, tie-robust via doubled midranks (the ×2
    // cancels between numerator and denominator) and an N-scaled
    // integer denominator Σ(N·R2_t − ΣR2)² so the whole statistic is a
    // ratio of two exact DECIMAL(38,0) sums × N². z uses the no-ties
    // asymptotic Var ≈ 4/N (labelled as such).
    Q("q474_bartels_rvn", Q.sql(s"""
        WITH d AS ($dailyMassSql),
        vc AS (SELECT event_type, v, CAST(count(*) AS BIGINT) AS c
               FROM d GROUP BY 1, 2),
        rk AS (
          SELECT a.event_type, a.v, a.c,
            CAST(coalesce(sum(b.c), 0) AS BIGINT) AS less
          FROM vc a LEFT JOIN vc b
            ON b.event_type = a.event_type AND b.v < a.v
          GROUP BY 1, 2, 3),
        i AS (
          SELECT d.event_type, d.day,
            CAST(row_number() OVER (PARTITION BY d.event_type
              ORDER BY d.day) AS BIGINT) AS t,
            (2 * rk.less + rk.c + 1) AS r2
          FROM d JOIN rk ON rk.event_type = d.event_type AND rk.v = d.v),
        m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                CAST(sum(r2) AS BIGINT) AS s2 FROM i GROUP BY 1),
        num AS (
          SELECT a.event_type,
            CAST(sum(CAST(a.r2 - b.r2 AS HUGEINT) * (a.r2 - b.r2))
              AS DECIMAL(38,0)) AS nm
          FROM i a JOIN i b
            ON b.event_type = a.event_type AND b.t = a.t + 1
          GROUP BY 1),
        den AS (
          SELECT x.event_type,
            CAST(sum(CAST(x.n2 AS HUGEINT) * x.n2) AS DECIMAL(38,0)) AS dn
          FROM (SELECT i.event_type, m.n * i.r2 - m.s2 AS n2
                FROM i JOIN m ON m.event_type = i.event_type) x
          GROUP BY 1),
        fin AS (
          SELECT m.event_type, m.n,
            CAST(m.n AS DOUBLE) * m.n * CAST(num.nm AS DOUBLE)
              / CAST(den.dn AS DOUBLE) AS rvn
          FROM m JOIN num ON num.event_type = m.event_type
          JOIN den ON den.event_type = m.event_type
          WHERE den.dn > 0)
        SELECT event_type, n AS n_days, round(rvn, 6) AS rvn,
          round((rvn - 2) / sqrt(4.0 / n), 6) AS z_no_ties
        FROM fin ORDER BY event_type"""))(
      (s, dir) => {
        val d = dailyMass(s, dir)
        val vc = d.groupBy("event_type", "v")
          .agg(count(lit(1)).cast("long").as("c"))
        val rk = graft.ops.Prefix.runningTotal(vc, Seq(col("v")),
            col("c"), "cum", strataCols = Seq("event_type"))
          .withColumn("less", col("cum") - col("c"))
        val wT = Window.partitionBy("event_type").orderBy("day")
        val i = d.join(rk.select(col("event_type"), col("v"), col("c"),
            col("less")), Seq("event_type", "v"))
          .select(col("event_type"),
            row_number().over(wT).cast("long").as("t"),
            (lit(2) * col("less") + col("c") + 1).as("r2"))
        val m = i.groupBy("event_type").agg(
          count(lit(1)).cast("long").as("n"),
          sum(col("r2")).cast("long").as("s2"))
        val num = i.as("a")
          .join(i.select(col("event_type"), col("t").as("tb"),
            col("r2").as("r2b")), Seq("event_type"))
          .where(col("tb") === col("t") + 1)
          .groupBy("event_type")
          // rank diffs ≤ 2n → Σdiff² ~ 4n³; decimal-square like q470/q473
          .agg(sum((col("r2") - col("r2b")).cast("decimal(19,0)")
              * (col("r2") - col("r2b")))
            .cast("decimal(38,0)").as("nm"))
        val den = i.join(m, "event_type")
          .select(col("event_type"),
            (col("n") * col("r2") - col("s2")).as("n2"))
          .groupBy("event_type")
          .agg(sum(col("n2").cast("decimal(19,0)") * col("n2"))
            .cast("decimal(38,0)").as("dn"))
        val fin = m.join(num, "event_type").join(den, "event_type")
          .where(col("dn") > 0)
          .select(col("event_type"), col("n"),
            (col("n").cast("double") * col("n") * col("nm").cast("double")
              / col("dn").cast("double")).as("rvn"))
        fin.select(col("event_type"), col("n").as("n_days"),
            round(col("rvn"), 6).as("rvn"),
            round((col("rvn") - 2) / sqrt(lit(4.0) / col("n")), 6)
              .as("z_no_ties"))
          .orderBy("event_type")
      }),

    // D'Agostino's K² omnibus normality test (D'Agostino '70;
    // Anscombe-Glynn '83; D'Agostino-Pearson '73) — Z(√b₁)² + Z(b₂)²
    // per type over the daily-mass series, the joint
    // skewness+kurtosis companion to q382's Jarque-Bera. Deviations
    // are integer-exact in CENTI-value units (rdiv by n·100 — tight
    // enough that the quantization moves K² only in the 5th decimal,
    // validated against a float reference), so Σe², Σe³, Σe⁴ are
    // DECIMAL(38,0)-exact and g₁/b₂ are two fixed-order doubles. The
    // Z transforms are per-type scalar ladders (sqrt/ln only; the
    // kurtosis cube root via sign·exp(ln|t|/3), the engine-portable
    // cbrt — libm cbrt diverges across engines).
    Q("q475_dagostino_k2", Q.sql(s"""
        WITH d AS ($dailyMassSql),
        m0 AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(v) AS BIGINT) AS s FROM d GROUP BY 1),
        e AS (
          SELECT d.event_type, m0.n,
            CASE WHEN d.v * m0.n - m0.s >= 0
              THEN (d.v * m0.n - m0.s + (m0.n * 100) // 2) // (m0.n * 100)
              ELSE -((-(d.v * m0.n - m0.s) + (m0.n * 100) // 2)
                     // (m0.n * 100))
            END AS eu
          FROM d JOIN m0 ON m0.event_type = d.event_type),
        mom AS (
          SELECT event_type, max(n) AS n,
            CAST(sum(CAST(eu AS HUGEINT) * eu) AS DECIMAL(38,0)) AS s2,
            CAST(sum(CAST(eu AS HUGEINT) * eu * eu) AS DECIMAL(38,0))
              AS s3,
            CAST(sum(CAST(eu AS HUGEINT) * eu * eu * eu)
              AS DECIMAL(38,0)) AS s4
          FROM e GROUP BY 1),
        gb AS (
          SELECT event_type, n,
            sqrt(CAST(n AS DOUBLE)) * CAST(s3 AS DOUBLE)
              / (CAST(s2 AS DOUBLE) * sqrt(CAST(s2 AS DOUBLE))) AS g1,
            CAST(n AS DOUBLE) * CAST(s4 AS DOUBLE)
              / (CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE)) AS b2
          FROM mom WHERE s2 > 0 AND n > 4),
        z1c AS (
          SELECT event_type, n, b2,
            g1 * sqrt((CAST(n AS DOUBLE) + 1) * (n + 3)
              / (6.0 * (n - 2))) AS y,
            -1.0 + sqrt(2.0 * (3.0 * (CAST(n AS DOUBLE) * n + 27 * n - 70)
              * (n + 1) * (n + 3)
              / ((CAST(n AS DOUBLE) - 2) * (n + 5) * (n + 7) * (n + 9))
              - 1)) AS w2
          FROM gb),
        z1 AS (
          SELECT event_type, n, b2,
            CASE WHEN y = 0 THEN 0.0 ELSE
              (1.0 / sqrt(ln(sqrt(w2))))
              * ln(y / sqrt(2.0 / (w2 - 1))
                  + sqrt((y / sqrt(2.0 / (w2 - 1)))
                         * (y / sqrt(2.0 / (w2 - 1))) + 1.0))
            END AS zs
          FROM z1c),
        z2c AS (
          SELECT event_type, n, zs,
            (b2 - 3.0 * (n - 1) / (CAST(n AS DOUBLE) + 1))
              / sqrt(24.0 * n * (n - 2) * (n - 3)
                / ((CAST(n AS DOUBLE) + 1) * (n + 1) * (n + 3) * (n + 5)))
              AS x,
            6.0 + 8.0 / (6.0 * (CAST(n AS DOUBLE) * n - 5 * n + 2)
                / ((CAST(n AS DOUBLE) + 7) * (n + 9))
                * sqrt(6.0 * (n + 3) * (n + 5)
                  / (CAST(n AS DOUBLE) * (n - 2) * (n - 3))))
              * (2.0 / (6.0 * (CAST(n AS DOUBLE) * n - 5 * n + 2)
                  / ((CAST(n AS DOUBLE) + 7) * (n + 9))
                  * sqrt(6.0 * (n + 3) * (n + 5)
                    / (CAST(n AS DOUBLE) * (n - 2) * (n - 3))))
                + sqrt(1.0 + 4.0 / ((6.0 * (CAST(n AS DOUBLE) * n - 5 * n + 2)
                    / ((CAST(n AS DOUBLE) + 7) * (n + 9))
                    * sqrt(6.0 * (n + 3) * (n + 5)
                      / (CAST(n AS DOUBLE) * (n - 2) * (n - 3))))
                  * (6.0 * (CAST(n AS DOUBLE) * n - 5 * n + 2)
                    / ((CAST(n AS DOUBLE) + 7) * (n + 9))
                    * sqrt(6.0 * (n + 3) * (n + 5)
                      / (CAST(n AS DOUBLE) * (n - 2) * (n - 3)))))))
              AS a
          FROM z1),
        z2 AS (
          SELECT event_type, n, zs,
            CASE WHEN 1.0 + x * sqrt(2.0 / (a - 4)) = 0 THEN NULL ELSE
              ((1.0 - 2.0 / (9 * a)) -
                CASE
                  WHEN (1.0 - 2.0 / a) / (1.0 + x * sqrt(2.0 / (a - 4))) > 0
                  THEN exp(ln((1.0 - 2.0 / a)
                    / (1.0 + x * sqrt(2.0 / (a - 4)))) / 3)
                  WHEN (1.0 - 2.0 / a) / (1.0 + x * sqrt(2.0 / (a - 4))) < 0
                  THEN -exp(ln(-((1.0 - 2.0 / a)
                    / (1.0 + x * sqrt(2.0 / (a - 4))))) / 3)
                  ELSE 0.0
                END)
              / sqrt(2.0 / (9 * a))
            END AS zk
          FROM z2c)
        SELECT event_type, n AS n_days, round(zs, 6) AS z_skew,
          round(zk, 6) AS z_kurt, round(zs * zs + zk * zk, 6) AS k2
        FROM z2 ORDER BY event_type"""))(
      (s, dir) => {
        val d = dailyMass(s, dir)
        val m0 = d.groupBy("event_type").agg(
          count(lit(1)).cast("long").as("n"),
          sum(col("v")).cast("long").as("s"))
        val e = d.join(m0, "event_type")
          .select(col("event_type"), col("n"),
            when(col("v") * col("n") - col("s") >= 0,
              expr("(v * n - s + (n * 100) div 2) div (n * 100)"))
              .otherwise(-expr(
                "(-(v * n - s) + (n * 100) div 2) div (n * 100)"))
              .as("eu"))
        val euD = col("eu").cast("decimal(19,0)")
        val mom = e.groupBy("event_type").agg(max(col("n")).as("n"),
          sum(euD * col("eu")).cast("decimal(38,0)").as("s2"),
          sum(euD * col("eu") * col("eu")).cast("decimal(38,0)").as("s3"),
          sum(euD * col("eu") * col("eu") * col("eu"))
            .cast("decimal(38,0)").as("s4"))
        val nD = col("n").cast("double")
        val s2D = col("s2").cast("double")
        val gb = mom.where(col("s2") > 0 && col("n") > 4)
          .select(col("event_type"), col("n"),
            (sqrt(nD) * col("s3").cast("double") / (s2D * sqrt(s2D)))
              .as("g1"),
            (nD * col("s4").cast("double") / (s2D * s2D)).as("b2"))
        val z1c = gb.select(col("event_type"), col("n"), col("b2"),
          (col("g1") * sqrt((nD + 1) * (col("n") + 3)
            / (lit(6.0) * (col("n") - 2)))).as("y"),
          (lit(-1.0) + sqrt(lit(2.0) * (lit(3.0)
            * (nD * col("n") + lit(27) * col("n") - 70)
            * (col("n") + 1) * (col("n") + 3)
            / ((nD - 2) * (col("n") + 5) * (col("n") + 7)
              * (col("n") + 9)) - 1))).as("w2"))
        val ya = col("y") / sqrt(lit(2.0) / (col("w2") - 1))
        val z1 = z1c.select(col("event_type"), col("n"), col("b2"),
          when(col("y") === 0, 0.0)
            .otherwise((lit(1.0) / sqrt(log(sqrt(col("w2")))))
              * log(ya + sqrt(ya * ya + lit(1.0)))).as("zs"))
        val sb1 = lit(6.0) * (nD * col("n") - lit(5) * col("n") + 2) /
          ((nD + 7) * (col("n") + 9)) *
          sqrt(lit(6.0) * (col("n") + 3) * (col("n") + 5) /
            (nD * (col("n") - 2) * (col("n") - 3)))
        val z2c = z1.select(col("event_type"), col("n"), col("zs"),
          ((col("b2") - lit(3.0) * (col("n") - 1) / (nD + 1))
            / sqrt(lit(24.0) * col("n") * (col("n") - 2) * (col("n") - 3)
              / ((nD + 1) * (col("n") + 1) * (col("n") + 3)
                * (col("n") + 5)))).as("x"),
          (lit(6.0) + lit(8.0) / sb1
            * (lit(2.0) / sb1 + sqrt(lit(1.0) + lit(4.0) / (sb1 * sb1))))
            .as("a"))
        val t1 = (lit(1.0) - lit(2.0) / col("a")) /
          (lit(1.0) + col("x") * sqrt(lit(2.0) / (col("a") - 4)))
        val cbrtT1 = when(t1 > 0, exp(log(t1) / 3))
          .when(t1 < 0, -exp(log(-t1) / 3)).otherwise(lit(0.0))
        val z2 = z2c.select(col("event_type"), col("n"), col("zs"),
          when(lit(1.0) + col("x") * sqrt(lit(2.0) / (col("a") - 4))
              =!= 0,
            ((lit(1.0) - lit(2.0) / (lit(9) * col("a"))) - cbrtT1)
              / sqrt(lit(2.0) / (lit(9) * col("a")))).as("zk"))
        z2.select(col("event_type"), col("n").as("n_days"),
            round(col("zs"), 6).as("z_skew"),
            round(col("zk"), 6).as("z_kurt"),
            round(col("zs") * col("zs") + col("zk") * col("zk"), 6)
              .as("k2"))
          .orderBy("event_type")
      }),

    // Brunner-Munzel test (Brunner & Munzel Biom.J'00) — the
    // nonparametric Behrens-Fisher problem: does odd-day revenue tend
    // to exceed even-day revenue, WITHOUT assuming equal variances
    // (the assumption q338 Mann-Whitney quietly makes)? Tie-robust by
    // construction: pooled and within-sample DOUBLED midranks keep the
    // rank-difference terms integer after scaling by n_k (T_i = n_k·(m2
    // − w2_k + (n_k+1)) − Σm2_k), so the variance estimators S_k² are
    // exact DECIMAL(38,0) sums over the value-grouped frame; the
    // statistic is one fixed-order double assembly. Also reports
    // p̂ = P(X<Y) + ½P(X=Y), the stochastic-superiority effect size.
    Q("q476_brunner_munzel", Q.sql(s"""
        WITH d AS ($dailyMassSql),
        g AS (SELECT event_type, v,
                CAST(dayofmonth(day) % 2 AS INT) AS grp FROM d),
        vc AS (
          SELECT event_type, v, CAST(count(*) AS BIGINT) AS c,
            CAST(sum(grp) AS BIGINT) AS c1
          FROM g GROUP BY 1, 2),
        rk AS (
          SELECT a.event_type, a.v, a.c, a.c1, a.c - a.c1 AS c0,
            CAST(coalesce(sum(b.c), 0) AS BIGINT) AS less,
            CAST(coalesce(sum(b.c1), 0) AS BIGINT) AS less1,
            CAST(coalesce(sum(b.c - b.c1), 0) AS BIGINT) AS less0
          FROM vc a LEFT JOIN vc b
            ON b.event_type = a.event_type AND b.v < a.v
          GROUP BY 1, 2, 3, 4, 5),
        m AS (
          SELECT event_type, CAST(sum(c) AS BIGINT) AS n,
            CAST(sum(c1) AS BIGINT) AS n1y,
            CAST(sum(c - c1) AS BIGINT) AS n0x,
            CAST(sum(c1 * (2 * less + c + 1)) AS BIGINT) AS s2y,
            CAST(sum((c - c1) * (2 * less + c + 1)) AS BIGINT) AS s2x
          FROM rk GROUP BY 1),
        tq AS (
          SELECT rk.event_type,
            CAST(sum(rk.c1 * CAST(m.n1y * ((2 * rk.less + rk.c + 1)
                - (2 * rk.less1 + rk.c1 + 1) + (m.n1y + 1)) - m.s2y
                AS HUGEINT)
              * (m.n1y * ((2 * rk.less + rk.c + 1)
                - (2 * rk.less1 + rk.c1 + 1) + (m.n1y + 1)) - m.s2y))
              AS DECIMAL(38,0)) AS ty2,
            CAST(sum(rk.c0 * CAST(m.n0x * ((2 * rk.less + rk.c + 1)
                - (2 * rk.less0 + rk.c0 + 1) + (m.n0x + 1)) - m.s2x
                AS HUGEINT)
              * (m.n0x * ((2 * rk.less + rk.c + 1)
                - (2 * rk.less0 + rk.c0 + 1) + (m.n0x + 1)) - m.s2x))
              AS DECIMAL(38,0)) AS tx2
          FROM rk JOIN m ON m.event_type = rk.event_type
          GROUP BY 1),
        fin AS (
          SELECT m.event_type, m.n, m.n0x AS n1, m.n1y AS n2,
            (CAST(m.s2y AS DOUBLE) / m.n1y - (m.n1y + 1))
              / (2.0 * m.n0x) AS phat,
            (CAST(m.s2y AS DOUBLE) / m.n1y
              - CAST(m.s2x AS DOUBLE) / m.n0x) / 2 AS dbar,
            CAST(tq.tx2 AS DOUBLE)
              / (4.0 * m.n0x * m.n0x * (m.n0x - 1)) AS s1sq,
            CAST(tq.ty2 AS DOUBLE)
              / (4.0 * m.n1y * m.n1y * (m.n1y - 1)) AS s2sq
          FROM m JOIN tq ON tq.event_type = m.event_type
          WHERE m.n0x > 1 AND m.n1y > 1)
        SELECT event_type, n1, n2, round(phat, 6) AS p_hat,
          round(CASE WHEN s1sq + s2sq > 0 THEN dbar
            / sqrt(n * (s1sq / (CAST(n - n1 AS DOUBLE) * (n - n1))
              + s2sq / (CAST(n - n2 AS DOUBLE) * (n - n2)))) END, 6)
            AS w_bm
        FROM fin ORDER BY event_type"""))(
      (s, dir) => {
        val g = dailyMass(s, dir).select(col("event_type"), col("v"),
          (dayofmonth(col("day")) % 2).cast("int").as("grp"))
        val vc = g.groupBy("event_type", "v").agg(
          count(lit(1)).cast("long").as("c"),
          sum(col("grp")).cast("long").as("c1"))
        // three per-type prefixes over the same value-grouped frame
        // (pooled, sample-1, sample-0 less-counts) share ONE order key —
        // one multi-series pass instead of three chained passes (one
        // range sample + checkpoint + offsets join, not three)
        val vc0 = vc.withColumn("c0", col("c") - col("c1"))
        val r3 = graft.ops.Prefix.runningTotals(vc0, Seq(col("v")),
          Seq((col("c"), "cumAll"), (col("c1"), "cum1"),
            (col("c0"), "cum0")),
          strataCols = Seq("event_type"))
        val rk = r3
          .withColumn("less", col("cumAll") - col("c"))
          .withColumn("less1", col("cum1") - col("c1"))
          .withColumn("less0", col("cum0") - col("c0"))
        val m2 = lit(2) * col("less") + col("c") + 1
        val w2y = lit(2) * col("less1") + col("c1") + 1
        val w2x = lit(2) * col("less0") + col("c0") + 1
        val m = rk.groupBy("event_type").agg(
          sum(col("c")).cast("long").as("n"),
          sum(col("c1")).cast("long").as("n1y"),
          sum(col("c0")).cast("long").as("n0x"),
          sum(col("c1") * m2).cast("long").as("s2y"),
          sum(col("c0") * m2).cast("long").as("s2x"))
        val j = rk.join(m, "event_type")
        val ty = col("n1y") * (m2 - w2y + (col("n1y") + 1)) - col("s2y")
        val tx = col("n0x") * (m2 - w2x + (col("n0x") + 1)) - col("s2x")
        val tq = j.groupBy("event_type").agg(
          sum(col("c1") * ty.cast("decimal(19,0)") * ty)
            .cast("decimal(38,0)").as("ty2"),
          sum(col("c0") * tx.cast("decimal(19,0)") * tx)
            .cast("decimal(38,0)").as("tx2"))
        val fin = m.join(tq, "event_type")
          .where(col("n0x") > 1 && col("n1y") > 1)
          .select(col("event_type"), col("n"),
            col("n0x").as("n1"), col("n1y").as("n2"),
            ((col("s2y").cast("double") / col("n1y") - (col("n1y") + 1))
              / (lit(2.0) * col("n0x"))).as("phat"),
            ((col("s2y").cast("double") / col("n1y")
              - col("s2x").cast("double") / col("n0x")) / 2).as("dbar"),
            (col("tx2").cast("double")
              / (lit(4.0) * col("n0x") * col("n0x") * (col("n0x") - 1)))
              .as("s1sq"),
            (col("ty2").cast("double")
              / (lit(4.0) * col("n1y") * col("n1y") * (col("n1y") - 1)))
              .as("s2sq"))
        fin.select(col("event_type"), col("n1"), col("n2"),
            round(col("phat"), 6).as("p_hat"),
            round(when(col("s1sq") + col("s2sq") > 0, col("dbar")
              / sqrt(col("n") * (col("s1sq")
                / ((col("n") - col("n1")).cast("double")
                  * (col("n") - col("n1")))
                + col("s2sq") / ((col("n") - col("n2")).cast("double")
                  * (col("n") - col("n2")))))), 6).as("w_bm"))
          .orderBy("event_type")
      }),

    // Cucconi test (Cucconi Giorn.Econ'68) — the JOINT location-scale
    // two-sample test that predates (and often beats) the
    // Lepage-style combinations: C from the squared ranks U and squared
    // CONTRARY ranks V of the odd-day sample with their exact negative
    // correlation ρ(N). Doubled midranks make ΣR² and Σ(N+1−R)² exact
    // (×4) DECIMAL(38,0) sums; U, V, ρ, C are fixed-order doubles.
    Q("q477_cucconi", Q.sql(s"""
        WITH d AS ($dailyMassSql),
        g AS (SELECT event_type, v,
                CAST(dayofmonth(day) % 2 AS INT) AS grp FROM d),
        vc AS (
          SELECT event_type, v, CAST(count(*) AS BIGINT) AS c,
            CAST(sum(grp) AS BIGINT) AS c1
          FROM g GROUP BY 1, 2),
        rk AS (
          SELECT a.event_type, a.v, a.c, a.c1,
            CAST(coalesce(sum(b.c), 0) AS BIGINT) AS less
          FROM vc a LEFT JOIN vc b
            ON b.event_type = a.event_type AND b.v < a.v
          GROUP BY 1, 2, 3, 4),
        nn AS (SELECT event_type, CAST(sum(c) AS BIGINT) AS n,
                 CAST(sum(c1) AS BIGINT) AS n2 FROM rk GROUP BY 1),
        m AS (
          SELECT rk.event_type, max(nn.n) AS n, max(nn.n2) AS n2,
            CAST(sum(CAST(rk.c1 AS HUGEINT) * (2 * rk.less + rk.c + 1)
              * (2 * rk.less + rk.c + 1)) AS DECIMAL(38,0)) AS s4,
            CAST(sum(CAST(rk.c1 AS HUGEINT)
              * (2 * (nn.n + 1) - (2 * rk.less + rk.c + 1))
              * (2 * (nn.n + 1) - (2 * rk.less + rk.c + 1)))
              AS DECIMAL(38,0)) AS s4c
          FROM rk JOIN nn ON nn.event_type = rk.event_type
          GROUP BY 1),
        uv AS (
          SELECT event_type, n, n2, n - n2 AS n1,
            (3.0 * CAST(s4 AS DOUBLE) - 2.0 * n2 * (n + 1) * (2 * n + 1))
              / (2.0 * sqrt(CAST(n - n2 AS DOUBLE) * n2 * (n + 1)
                * (2 * n + 1) * (8 * n + 11) / 5.0)) AS u,
            (3.0 * CAST(s4c AS DOUBLE)
              - 2.0 * n2 * (n + 1) * (2 * n + 1))
              / (2.0 * sqrt(CAST(n - n2 AS DOUBLE) * n2 * (n + 1)
                * (2 * n + 1) * (8 * n + 11) / 5.0)) AS v,
            2.0 * (CAST(n AS DOUBLE) * n - 4)
              / ((2.0 * n + 1) * (8 * n + 11)) - 1 AS rho
          FROM m WHERE n > 2 AND n2 > 0 AND n - n2 > 0)
        SELECT event_type, n1, n2, round(u, 6) AS u, round(v, 6) AS v,
          round((u * u + v * v - 2 * rho * u * v)
            / (2 * (1 - rho * rho)), 6) AS cucconi_c
        FROM uv ORDER BY event_type"""))(
      (s, dir) => {
        val g = dailyMass(s, dir).select(col("event_type"), col("v"),
          (dayofmonth(col("day")) % 2).cast("int").as("grp"))
        val vc = g.groupBy("event_type", "v").agg(
          count(lit(1)).cast("long").as("c"),
          sum(col("grp")).cast("long").as("c1"))
        val rk = graft.ops.Prefix.runningTotal(vc, Seq(col("v")),
            col("c"), "cum", strataCols = Seq("event_type"))
          .withColumn("less", col("cum") - col("c"))
        val nn = rk.groupBy("event_type").agg(
          sum(col("c")).cast("long").as("n"),
          sum(col("c1")).cast("long").as("n2"))
        val m2 = lit(2) * col("less") + col("c") + 1
        val cm2 = lit(2) * (col("n") + 1) - m2
        val m = rk.join(nn, "event_type").groupBy("event_type").agg(
          max(col("n")).as("n"), max(col("n2")).as("n2"),
          sum(col("c1").cast("decimal(19,0)") * m2 * m2)
            .cast("decimal(38,0)").as("s4"),
          sum(col("c1").cast("decimal(19,0)") * cm2 * cm2)
            .cast("decimal(38,0)").as("s4c"))
        val den = lit(2.0) * sqrt((col("n") - col("n2")).cast("double")
          * col("n2") * (col("n") + 1) * (lit(2) * col("n") + 1)
          * (lit(8) * col("n") + 11) / 5.0)
        // degenerate-sample guard (q478's): an all-odd or all-even type
        // (n1 or n2 = 0) zeroes the shared denominator — NULL on Spark
        // (non-ANSI /0) vs NaN/Inf on DuckDB IEEE float ops
        val uv = m.where(col("n") > 2 && col("n2") > 0 &&
            col("n") - col("n2") > 0)
          .select(col("event_type"), col("n"), col("n2"),
            (col("n") - col("n2")).as("n1"),
            ((lit(3.0) * col("s4").cast("double") - lit(2.0) * col("n2")
              * (col("n") + 1) * (lit(2) * col("n") + 1)) / den).as("u"),
            ((lit(3.0) * col("s4c").cast("double") - lit(2.0) * col("n2")
              * (col("n") + 1) * (lit(2) * col("n") + 1)) / den).as("v"),
            (lit(2.0) * (col("n").cast("double") * col("n") - 4)
              / ((lit(2.0) * col("n") + 1) * (lit(8) * col("n") + 11))
              - 1).as("rho"))
        uv.select(col("event_type"), col("n1"), col("n2"),
            round(col("u"), 6).as("u"), round(col("v"), 6).as("v"),
            round((col("u") * col("u") + col("v") * col("v")
              - lit(2) * col("rho") * col("u") * col("v"))
              / (lit(2) * (lit(1) - col("rho") * col("rho"))), 6)
              .as("cucconi_c"))
          .orderBy("event_type")
      }),

    // Lepage test (Lepage Biometrika'71) — the classic JOINT
    // location-scale two-sample statistic L = z_W² + z_AB², combining
    // the Wilcoxon rank-sum (location) with Ansari-Bradley (scale) —
    // the rank-combination twin of q477's Cucconi. Both components
    // share ONE pooled doubled-midrank pass; each z uses the general
    // linear-rank-statistic moments from its own score multiset
    // (Σa, Σa²) — exact under ties, unlike the tie-free closed forms —
    // so the whole statistic is integer-exact until two final double
    // assemblies.
    Q("q478_lepage", Q.sql(s"""
        WITH d AS ($dailyMassSql),
        g AS (SELECT event_type, v,
                CAST(dayofmonth(day) % 2 AS INT) AS grp FROM d),
        vc AS (
          SELECT event_type, v, CAST(count(*) AS BIGINT) AS c,
            CAST(sum(grp) AS BIGINT) AS c1
          FROM g GROUP BY 1, 2),
        rk AS (
          SELECT a.event_type, a.v, a.c, a.c1,
            CAST(coalesce(sum(b.c), 0) AS BIGINT) AS less
          FROM vc a LEFT JOIN vc b
            ON b.event_type = a.event_type AND b.v < a.v
          GROUP BY 1, 2, 3, 4),
        nn AS (SELECT event_type, CAST(sum(c) AS BIGINT) AS n,
                 CAST(sum(c1) AS BIGINT) AS n1 FROM rk GROUP BY 1),
        sc AS (
          SELECT rk.event_type, rk.c, rk.c1,
            (2 * rk.less + rk.c + 1) AS aw,
            least(2 * rk.less + rk.c + 1,
                  2 * (nn.n + 1) - (2 * rk.less + rk.c + 1)) AS ab
          FROM rk JOIN nn ON nn.event_type = rk.event_type),
        agg AS (
          SELECT event_type,
            CAST(sum(c1 * aw) AS BIGINT) AS tw,
            CAST(sum(c * aw) AS BIGINT) AS saw,
            CAST(sum(CAST(c AS HUGEINT) * aw * aw) AS DECIMAL(38,0))
              AS saw2,
            CAST(sum(c1 * ab) AS BIGINT) AS tb,
            CAST(sum(c * ab) AS BIGINT) AS sab,
            CAST(sum(CAST(c AS HUGEINT) * ab * ab) AS DECIMAL(38,0))
              AS sab2
          FROM sc GROUP BY 1),
        fin AS (
          SELECT agg.event_type, nn.n, nn.n1, nn.n - nn.n1 AS n2,
            tw - CAST(nn.n1 AS DOUBLE) * saw / nn.n AS dw,
            CAST(nn.n1 AS DOUBLE) * (nn.n - nn.n1)
              * (nn.n * CAST(saw2 AS DOUBLE) - CAST(saw AS DOUBLE) * saw)
              / (CAST(nn.n AS DOUBLE) * nn.n * (nn.n - 1)) AS vw,
            tb - CAST(nn.n1 AS DOUBLE) * sab / nn.n AS db,
            CAST(nn.n1 AS DOUBLE) * (nn.n - nn.n1)
              * (nn.n * CAST(sab2 AS DOUBLE) - CAST(sab AS DOUBLE) * sab)
              / (CAST(nn.n AS DOUBLE) * nn.n * (nn.n - 1)) AS vb
          FROM agg JOIN nn ON nn.event_type = agg.event_type
          WHERE nn.n1 > 0 AND nn.n - nn.n1 > 0 AND nn.n > 1),
        z AS (
          SELECT event_type, n1, n2,
            CASE WHEN vw > 0 THEN dw / sqrt(vw) END AS zw,
            CASE WHEN vb > 0 THEN db / sqrt(vb) END AS zb
          FROM fin)
        SELECT event_type, n1, n2, round(zw, 6) AS z_wilcoxon,
          round(zb, 6) AS z_ansari,
          round(zw * zw + zb * zb, 6) AS lepage_l
        FROM z ORDER BY event_type"""))(
      (s, dir) => {
        val g = dailyMass(s, dir).select(col("event_type"), col("v"),
          (dayofmonth(col("day")) % 2).cast("int").as("grp"))
        val vc = g.groupBy("event_type", "v").agg(
          count(lit(1)).cast("long").as("c"),
          sum(col("grp")).cast("long").as("c1"))
        val rk = graft.ops.Prefix.runningTotal(vc, Seq(col("v")),
            col("c"), "cum", strataCols = Seq("event_type"))
          .withColumn("less", col("cum") - col("c"))
        val nn = rk.groupBy("event_type").agg(
          sum(col("c")).cast("long").as("n"),
          sum(col("c1")).cast("long").as("n1"))
        val m2 = lit(2) * col("less") + col("c") + 1
        val sc = rk.join(nn, "event_type")
          .select(col("event_type"), col("c"), col("c1"),
            m2.as("aw"),
            least(m2, lit(2) * (col("n") + 1) - m2).as("ab"))
        val agg = sc.groupBy("event_type").agg(
          sum(col("c1") * col("aw")).cast("long").as("tw"),
          sum(col("c") * col("aw")).cast("long").as("saw"),
          sum(col("c").cast("decimal(19,0)") * col("aw") * col("aw"))
            .cast("decimal(38,0)").as("saw2"),
          sum(col("c1") * col("ab")).cast("long").as("tb"),
          sum(col("c") * col("ab")).cast("long").as("sab"),
          sum(col("c").cast("decimal(19,0)") * col("ab") * col("ab"))
            .cast("decimal(38,0)").as("sab2"))
        def vv(sa: String, sa2: String) =
          col("n1").cast("double") * (col("n") - col("n1")) *
            (col("n") * col(sa2).cast("double") -
              col(sa).cast("double") * col(sa)) /
            (col("n").cast("double") * col("n") * (col("n") - 1))
        val fin = agg.join(nn, "event_type")
          .where(col("n1") > 0 && col("n") - col("n1") > 0 &&
            col("n") > 1)
          .select(col("event_type"), col("n1"),
            (col("n") - col("n1")).as("n2"),
            (col("tw") - col("n1").cast("double") * col("saw")
              / col("n")).as("dw"),
            vv("saw", "saw2").as("vw"),
            (col("tb") - col("n1").cast("double") * col("sab")
              / col("n")).as("db"),
            vv("sab", "sab2").as("vb"))
        val z = fin.select(col("event_type"), col("n1"), col("n2"),
          when(col("vw") > 0, col("dw") / sqrt(col("vw"))).as("zw"),
          when(col("vb") > 0, col("db") / sqrt(col("vb"))).as("zb"))
        z.select(col("event_type"), col("n1"), col("n2"),
            round(col("zw"), 6).as("z_wilcoxon"),
            round(col("zb"), 6).as("z_ansari"),
            round(col("zw") * col("zw") + col("zb") * col("zb"), 6)
              .as("lepage_l"))
          .orderBy("event_type")
      }),

    // Fligner-Killeen test (Fligner & Killeen JASA'76; the Conover,
    // Johnson & Johnson '81 normal-scores form) — the rank-based scale
    // test the robust-statistics literature recommends first, completing
    // the homogeneity panel beside q471 Levene (mean-centered), q330
    // Brown-Forsythe (median-centered) and q389 Bartlett: pooled ranks
    // of |x − median_g| mapped through normal scores
    // a = Φ⁻¹(1/2 + R/(2(N+1))), then a one-way χ² over the score means.
    // Medians ride q330's doubled-median mechanism (2·x − med2 stays
    // integer), pooled doubled midranks make the probit argument
    // 1/2 + r2/(4(N+1)) exact, Φ⁻¹ is the engine-portable Acklam ladder
    // ([[graft.functions.Probit]] — the same Column and SQL tree), and
    // every score is rounded@9 into DECIMAL sums so the χ² assembly is
    // two fixed-order double expressions.
    Q("q481_fligner_killeen", {
      val pArg = "(0.5 + (2 * rk.less + rk.c + 1) / (4.0 * (nn.n + 1)))"
      Q.sql(s"""
        WITH d AS ($dailyMassSql),
        nv AS (SELECT event_type, v, CAST(count(*) AS BIGINT) AS cnt
               FROM d GROUP BY 1, 2),
        ncum AS (
          SELECT event_type, v, cnt,
            sum(cnt) OVER (PARTITION BY event_type ORDER BY v) AS cum,
            CAST(sum(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS n_g
          FROM nv),
        med AS (
          SELECT event_type,
            min(CASE WHEN cum >= (n_g + 1) // 2 THEN v END)
              + min(CASE WHEN cum >= (n_g + 2) // 2 THEN v END) AS med2
          FROM ncum GROUP BY 1),
        u AS (
          SELECT d.event_type, abs(2 * d.v - m.med2) AS u
          FROM d JOIN med m ON m.event_type = d.event_type),
        uc AS (SELECT u, CAST(count(*) AS BIGINT) AS c FROM u GROUP BY 1),
        rk AS (
          SELECT a.u, a.c, CAST(coalesce(sum(b.c), 0) AS BIGINT) AS less
          FROM uc a LEFT JOIN uc b ON b.u < a.u
          GROUP BY 1, 2),
        nn AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM uc),
        sc AS (
          SELECT rk.u, round(${graft.functions.Probit.sql(pArg)}, 9) AS a
          FROM rk, nn),
        ug AS (SELECT event_type, u, CAST(count(*) AS BIGINT) AS cg
               FROM u GROUP BY 1, 2),
        grp AS (
          SELECT g.event_type, CAST(sum(g.cg) AS BIGINT) AS n_g,
            CAST(sum(CAST(g.cg AS DECIMAL(9,0))
              * CAST(s.a AS DECIMAL(11,9))) AS DECIMAL(38,9)) AS sg,
            CAST(sum(CAST(g.cg AS DECIMAL(9,0))
              * CAST(round(s.a * s.a, 9) AS DECIMAL(11,9)))
              AS DECIMAL(38,9)) AS qg
          FROM ug g JOIN sc s ON s.u = g.u GROUP BY 1),
        tot AS (
          SELECT CAST(sum(n_g) AS BIGINT) AS n,
            CAST(count(*) AS BIGINT) AS k,
            CAST(sum(sg) AS DECIMAL(38,9)) AS st,
            CAST(sum(qg) AS DECIMAL(38,9)) AS qt
          FROM grp),
        gm AS (
          SELECT grp.event_type, grp.n_g,
            CAST(grp.sg AS DOUBLE) / grp.n_g AS ag,
            CAST(t.st AS DOUBLE) / t.n AS abar
          FROM grp, tot t),
        num AS (
          SELECT CAST(sum(CAST(round(CAST(n_g AS DOUBLE)
            * (ag - abar) * (ag - abar), 9) AS DECIMAL(28,9)))
            AS DOUBLE) AS num
          FROM gm),
        fin AS (
          SELECT round(num.num / ((CAST(t.qt AS DOUBLE)
            - t.n * (CAST(t.st AS DOUBLE) / t.n)
                  * (CAST(t.st AS DOUBLE) / t.n)) / (t.n - 1)), 6) AS fk
          FROM num, tot t WHERE t.n > t.k)
        SELECT g.event_type, g.n_g,
          round(CAST(g.sg AS DOUBLE) / g.n_g, 6) AS mean_score,
          f.fk AS fligner_x2
        FROM grp g, fin f ORDER BY g.event_type""")
    })(
      (s, dir) => {
        // materialized: d (a ~|types|x|days|-row frame off one events
        // scan) feeds both the median chain and the |x-med| join; u
        // feeds both the pooled-count and per-group-count aggs — the
        // barriers run the events scan once and keep the probit/score
        // chain's plan flat
        val d = graft.ops.Frames.materialize(dailyMass(s, dir).coalesce(4))
        val nv = d.groupBy("event_type", "v")
          .agg(count(lit(1)).cast("long").as("cnt"))
        val wCum = Window.partitionBy("event_type").orderBy("v")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wAll = Window.partitionBy("event_type")
        val ncum = nv.select(col("event_type"), col("v"), col("cnt"),
          sum(col("cnt")).over(wCum).as("cum"),
          sum(col("cnt")).over(wAll).cast("long").as("n_g"))
        val med = ncum.groupBy("event_type").agg(
          (min(when(col("cum") >= floor((col("n_g") + 1) / 2), col("v")))
            + min(when(col("cum") >= floor((col("n_g") + 2) / 2),
              col("v")))).as("med2"))
        val u = graft.ops.Frames.materialize(
          d.join(broadcast(med), "event_type")
          .select(col("event_type"),
            abs(lit(2) * col("v") - col("med2")).as("u")).coalesce(4))
        val uc = u.groupBy("u").agg(count(lit(1)).cast("long").as("c"))
        val rk = graft.ops.Prefix.runningTotal(uc, Seq(col("u")),
            col("c"), "cum")
          .withColumn("less", col("cum") - col("c"))
        val nn = uc.agg(sum(col("c")).cast("long").as("n"))
        val pArg = lit(0.5) +
          (lit(2) * col("less") + col("c") + 1) /
            (lit(4.0) * (col("n") + 1))
        val sc = rk.crossJoin(broadcast(nn))
          .select(col("u"),
            round(graft.functions.Probit.of(pArg), 9).as("a"))
        val ug = u.groupBy("event_type", "u")
          .agg(count(lit(1)).cast("long").as("cg"))
        val grp = graft.ops.Frames.materialize(
          ug.join(sc, "u").groupBy("event_type").agg(
          sum(col("cg")).cast("long").as("n_g"),
          sum(col("cg").cast("decimal(9,0)")
            * col("a").cast("decimal(11,9)")).cast("decimal(38,9)")
            .as("sg"),
          sum(col("cg").cast("decimal(9,0)")
            * round(col("a") * col("a"), 9).cast("decimal(11,9)"))
            .cast("decimal(38,9)").as("qg")).coalesce(1))
        val tot = grp.agg(sum(col("n_g")).cast("long").as("n"),
          count(lit(1)).cast("long").as("k"),
          sum(col("sg")).cast("decimal(38,9)").as("st"),
          sum(col("qg")).cast("decimal(38,9)").as("qt"))
        val gm = grp.crossJoin(broadcast(tot))
          .select(col("event_type"), col("n_g"),
            (col("sg").cast("double") / col("n_g")).as("ag"),
            (col("st").cast("double") / col("n")).as("abar"))
        val num = gm.agg(
          sum(round(col("n_g").cast("double")
              * (col("ag") - col("abar")) * (col("ag") - col("abar")), 9)
            .cast("decimal(28,9)")).cast("double").as("num"))
        val fin = num.crossJoin(broadcast(tot))
          .where(col("n") > col("k"))
          .select(round(col("num") / ((col("qt").cast("double")
            - col("n") * (col("st").cast("double") / col("n"))
              * (col("st").cast("double") / col("n"))) / (col("n") - 1)),
            6).as("fk"))
        grp.crossJoin(broadcast(fin))
          .select(col("event_type"), col("n_g"),
            round(col("sg").cast("double") / col("n_g"), 6)
              .as("mean_score"),
            col("fk").as("fligner_x2"))
          .orderBy("event_type")
      }),

    // Wald-Wolfowitz two-sample runs test (Wald & Wolfowitz AMS'40) —
    // the distribution-free omnibus beside q477 Cucconi / q478 Lepage:
    // pool the odd- and even-day samples per type in the strict (v, day)
    // total order (midranks don't compose with run counting, exactly
    // q470's tie-breaking), count maximal same-group runs R, and
    // standardize with the exact moments μ = 1 + 2n₁n₂/n,
    // σ² = 2n₁n₂(2n₁n₂ − n) / (n²(n−1)) — every moment a fixed-order
    // double over exact BIGINTs. Positions ride the per-type distributed
    // prefix; the run count is one t→t+1 self-join, never a window over
    // an unpartitioned order.
    Q("q482_wald_wolfowitz_runs", Q.sql(s"""
        WITH d AS ($dailyMassSql),
        g AS (SELECT event_type, day, v,
                CAST(dayofmonth(day) % 2 AS INT) AS grp FROM d),
        pos AS (
          SELECT a.event_type, a.grp, CAST(count(b.day) + 1 AS BIGINT)
            AS t
          FROM g a LEFT JOIN g b
            ON b.event_type = a.event_type
            AND (b.v < a.v OR (b.v = a.v AND b.day < a.day))
          GROUP BY a.event_type, a.day, a.v, a.grp),
        m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                CAST(sum(grp) AS BIGINT) AS n1 FROM g GROUP BY 1),
        tr AS (
          SELECT a.event_type,
            CAST(sum(CASE WHEN a.grp <> b.grp THEN 1 ELSE 0 END)
              AS BIGINT) AS switches
          FROM pos a JOIN pos b
            ON b.event_type = a.event_type AND b.t = a.t + 1
          GROUP BY 1),
        fin AS (
          SELECT m.event_type, m.n1, m.n - m.n1 AS n2,
            tr.switches + 1 AS runs,
            1 + 2.0 * m.n1 * (m.n - m.n1) / m.n AS mu,
            2.0 * m.n1 * (m.n - m.n1)
              * (2 * m.n1 * (m.n - m.n1) - m.n)
              / (CAST(m.n AS DOUBLE) * m.n * (m.n - 1)) AS vv
          FROM m JOIN tr ON tr.event_type = m.event_type
          WHERE m.n1 > 0 AND m.n - m.n1 > 0 AND m.n > 1)
        SELECT event_type, n1, n2, CAST(runs AS BIGINT) AS runs,
          round(CASE WHEN vv > 0 THEN (runs - mu) / sqrt(vv) END, 6) AS z
        FROM fin ORDER BY event_type"""))(
      (s, dir) => {
        val g = dailyMass(s, dir).select(col("event_type"), col("day"),
          col("v"), (dayofmonth(col("day")) % 2).cast("int").as("grp"))
        val m = g.groupBy("event_type").agg(
          count(lit(1)).cast("long").as("n"),
          sum(col("grp")).cast("long").as("n1"))
        val pos = graft.ops.Prefix.runningTotal(
          g.withColumn("__one", lit(1L)),
          Seq(col("v"), col("day")), col("__one"), "t",
          strataCols = Seq("event_type"))
          .select(col("event_type"), col("grp"), col("t"))
        val tr = pos.as("a")
          .join(pos.select(col("event_type"), col("grp").as("grpb"),
            col("t").as("tb")), Seq("event_type"))
          .where(col("tb") === col("t") + 1)
          .groupBy("event_type")
          .agg(sum(when(col("grp") =!= col("grpb"), 1).otherwise(0))
            .cast("long").as("switches"))
        val fin = m.join(tr, "event_type")
          .where(col("n1") > 0 && col("n") - col("n1") > 0 &&
            col("n") > 1)
          .select(col("event_type"), col("n1"),
            (col("n") - col("n1")).as("n2"),
            (col("switches") + 1).as("runs"),
            (lit(1) + lit(2.0) * col("n1") * (col("n") - col("n1"))
              / col("n")).as("mu"),
            (lit(2.0) * col("n1") * (col("n") - col("n1"))
              * (lit(2) * col("n1") * (col("n") - col("n1")) - col("n"))
              / (col("n").cast("double") * col("n") * (col("n") - 1)))
              .as("vv"))
        fin.select(col("event_type"), col("n1"), col("n2"),
            col("runs").cast("long").as("runs"),
            round(when(col("vv") > 0,
              (col("runs") - col("mu")) / sqrt(col("vv"))), 6).as("z"))
          .orderBy("event_type")
      }),

    // Shapiro-Francia normality test (Shapiro & Francia JASA'72;
    // Royston '93 z-approximation) — the order-statistic-correlation
    // normality test beside q475's moment-based K² and q382's
    // Jarque-Bera: W' = corr(x_(i), m_i)² between the per-type sorted
    // daily masses and the Blom normal scores m_i = Φ⁻¹((i−3/8)/(n+1/4)).
    // Order statistics ride the strict (v, day) per-type prefix (q470's
    // tie-breaking); Φ⁻¹ is the full-range Acklam ladder
    // ([[graft.functions.Probit.ofFull]] — scores live on BOTH sides of
    // 1/2); every score is rounded@9 into DECIMAL sums (Σm, Σm², Σmx
    // exact; Σx, Σx² exact integers), so W' and Royston's
    // z = (ln(1−W') − μ(ln n))/σ(ln n) are fixed-order double
    // assemblies.
    Q("q483_shapiro_francia", {
      val pArg = "((pos.i - 0.375) / (m.n + 0.25))"
      Q.sql(s"""
        WITH d AS ($dailyMassSql),
        pos AS (
          SELECT a.event_type, a.v, CAST(count(b.day) + 1 AS BIGINT) AS i
          FROM d a LEFT JOIN d b
            ON b.event_type = a.event_type
            AND (b.v < a.v OR (b.v = a.v AND b.day < a.day))
          GROUP BY a.event_type, a.day, a.v),
        m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM d
              GROUP BY 1),
        sc AS (
          SELECT pos.event_type, pos.v,
            round(${graft.functions.Probit.sqlFull(pArg)}, 9) AS sm
          FROM pos JOIN m ON m.event_type = pos.event_type),
        agg AS (
          SELECT event_type, CAST(count(*) AS BIGINT) AS n,
            CAST(sum(v) AS BIGINT) AS sx,
            CAST(sum(CAST(v AS HUGEINT) * v) AS DECIMAL(38,0)) AS sx2,
            CAST(sum(CAST(sm AS DECIMAL(11,9))) AS DECIMAL(38,9)) AS smm,
            CAST(sum(CAST(round(sm * sm, 9) AS DECIMAL(11,9)))
              AS DECIMAL(38,9)) AS sm2,
            CAST(sum(CAST(sm AS DECIMAL(11,9)) * CAST(v AS DECIMAL(19,0)))
              AS DECIMAL(38,9)) AS smx
          FROM sc GROUP BY 1),
        w AS (
          SELECT event_type, n,
            (CAST(smx AS DOUBLE) - CAST(smm AS DOUBLE) * sx / n)
              * (CAST(smx AS DOUBLE) - CAST(smm AS DOUBLE) * sx / n)
              / ((CAST(sm2 AS DOUBLE)
                  - CAST(smm AS DOUBLE) * CAST(smm AS DOUBLE) / n)
                * (CAST(sx2 AS DOUBLE)
                  - CAST(sx AS DOUBLE) * sx / n)) AS wp
          FROM agg
          WHERE n > 5
            AND CAST(sx2 AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n > 0),
        fin AS (
          SELECT event_type, n, wp,
            (ln(1.0 - wp) - (-1.2725 + 1.0521 * (ln(ln(CAST(n AS DOUBLE)))
                - ln(CAST(n AS DOUBLE)))))
              / (1.0308 - 0.26758 * (ln(ln(CAST(n AS DOUBLE)))
                + 2.0 / ln(CAST(n AS DOUBLE)))) AS z
          FROM w WHERE wp < 1)
        SELECT event_type, n AS n_days, round(wp, 6) AS w_prime,
          round(z, 6) AS z
        FROM fin ORDER BY event_type""")
    })(
      (s, dir) => {
        val d = dailyMass(s, dir)
        val pos = graft.ops.Prefix.runningTotal(
          d.withColumn("__one", lit(1L)),
          Seq(col("v"), col("day")), col("__one"), "i",
          strataCols = Seq("event_type"))
          .select(col("event_type"), col("v"), col("i"))
        val m = d.groupBy("event_type")
          .agg(count(lit(1)).cast("long").as("n"))
        val pArg = (col("i") - 0.375) / (col("n") + 0.25)
        val sc = pos.join(broadcast(m), "event_type")
          .select(col("event_type"), col("v"),
            round(graft.functions.Probit.ofFull(pArg), 9).as("sm"))
        val agg = sc.groupBy("event_type").agg(
          count(lit(1)).cast("long").as("n"),
          sum(col("v")).cast("long").as("sx"),
          sum(col("v").cast("decimal(19,0)") * col("v"))
            .cast("decimal(38,0)").as("sx2"),
          sum(col("sm").cast("decimal(11,9)")).cast("decimal(38,9)")
            .as("smm"),
          sum(round(col("sm") * col("sm"), 9).cast("decimal(11,9)"))
            .cast("decimal(38,9)").as("sm2"),
          sum(col("sm").cast("decimal(11,9)")
            * col("v").cast("decimal(19,0)")).cast("decimal(38,9)")
            .as("smx"))
        val nm = col("smx").cast("double")
          - col("smm").cast("double") * col("sx") / col("n")
        val w = agg
          .where(col("n") > 5 &&
            col("sx2").cast("double")
              - col("sx").cast("double") * col("sx") / col("n") > 0)
          .select(col("event_type"), col("n"),
            (nm * nm
              / ((col("sm2").cast("double")
                  - col("smm").cast("double") * col("smm").cast("double")
                    / col("n"))
                * (col("sx2").cast("double")
                  - col("sx").cast("double") * col("sx") / col("n"))))
              .as("wp"))
        val lnn = log(col("n").cast("double"))
        val fin = w.where(col("wp") < 1)
          .select(col("event_type"), col("n"), col("wp"),
            ((log(lit(1.0) - col("wp"))
              - (lit(-1.2725) + lit(1.0521) * (log(lnn) - lnn)))
              / (lit(1.0308) - lit(0.26758) * (log(lnn)
                + lit(2.0) / lnn))).as("z"))
        fin.select(col("event_type"), col("n").as("n_days"),
            round(col("wp"), 6).as("w_prime"), round(col("z"), 6).as("z"))
          .orderBy("event_type")
      }),

    // Mood's median test (Mood '50; the 2×2 median split) — the
    // quick-and-robust two-sample LOCATION screen beside q410's Mood
    // location ranks and the q481/q471 scale panel: split each type's
    // odd- vs even-day daily masses at the POOLED doubled median
    // (2·v > med2 — ties fall below, deterministically), and test the
    // 2×2 association with the uncorrected χ² = n(ad−bc)²/((a+b)(c+d)
    // (a+c)(b+d)). Every cell is an exact BIGINT; ad−bc and the
    // marginal product are DECIMAL-exact; one double division at the
    // end, degenerate marginals guarded out.
    Q("q484_mood_median", Q.sql(s"""
        WITH d AS ($dailyMassSql),
        g AS (SELECT event_type, day, v,
                CAST(dayofmonth(day) % 2 AS INT) AS grp FROM d),
        nv AS (SELECT event_type, v, CAST(count(*) AS BIGINT) AS cnt
               FROM g GROUP BY 1, 2),
        ncum AS (
          SELECT event_type, v, cnt,
            sum(cnt) OVER (PARTITION BY event_type ORDER BY v) AS cum,
            CAST(sum(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS n_g
          FROM nv),
        med AS (
          SELECT event_type,
            min(CASE WHEN cum >= (n_g + 1) // 2 THEN v END)
              + min(CASE WHEN cum >= (n_g + 2) // 2 THEN v END) AS med2
          FROM ncum GROUP BY 1),
        cells AS (
          SELECT g.event_type,
            CAST(sum(CASE WHEN g.grp = 1 AND 2 * g.v > m.med2
              THEN 1 ELSE 0 END) AS BIGINT) AS a,
            CAST(sum(CASE WHEN g.grp = 1 AND 2 * g.v <= m.med2
              THEN 1 ELSE 0 END) AS BIGINT) AS b,
            CAST(sum(CASE WHEN g.grp = 0 AND 2 * g.v > m.med2
              THEN 1 ELSE 0 END) AS BIGINT) AS c,
            CAST(sum(CASE WHEN g.grp = 0 AND 2 * g.v <= m.med2
              THEN 1 ELSE 0 END) AS BIGINT) AS dd
          FROM g JOIN med m ON m.event_type = g.event_type
          GROUP BY 1),
        fin AS (
          SELECT event_type, a, b, c, dd, a + b + c + dd AS n,
            CAST(a AS HUGEINT) * dd - CAST(b AS HUGEINT) * c AS adbc,
            CAST(a + b AS HUGEINT) * (c + dd) * (a + c) * (b + dd)
              AS marg
          FROM cells
          WHERE a + b > 0 AND c + dd > 0 AND a + c > 0 AND b + dd > 0)
        SELECT event_type, a AS n1_above, b AS n1_below, c AS n2_above,
          dd AS n2_below,
          round(CAST(n AS DOUBLE) * CAST(adbc AS DOUBLE)
            * CAST(adbc AS DOUBLE) / CAST(marg AS DOUBLE), 6)
            AS mood_x2
        FROM fin ORDER BY event_type"""))(
      (s, dir) => {
        val g = dailyMass(s, dir).select(col("event_type"), col("day"),
          col("v"), (dayofmonth(col("day")) % 2).cast("int").as("grp"))
        val nv = g.groupBy("event_type", "v")
          .agg(count(lit(1)).cast("long").as("cnt"))
        val wCum = Window.partitionBy("event_type").orderBy("v")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wAll = Window.partitionBy("event_type")
        val ncum = nv.select(col("event_type"), col("v"), col("cnt"),
          sum(col("cnt")).over(wCum).as("cum"),
          sum(col("cnt")).over(wAll).cast("long").as("n_g"))
        val med = ncum.groupBy("event_type").agg(
          (min(when(col("cum") >= floor((col("n_g") + 1) / 2), col("v")))
            + min(when(col("cum") >= floor((col("n_g") + 2) / 2),
              col("v")))).as("med2"))
        val cells = g.join(broadcast(med), "event_type")
          .groupBy("event_type").agg(
            sum(when(col("grp") === 1 && lit(2) * col("v") > col("med2"),
              1).otherwise(0)).cast("long").as("a"),
            sum(when(col("grp") === 1 && lit(2) * col("v") <= col("med2"),
              1).otherwise(0)).cast("long").as("b"),
            sum(when(col("grp") === 0 && lit(2) * col("v") > col("med2"),
              1).otherwise(0)).cast("long").as("c"),
            sum(when(col("grp") === 0 && lit(2) * col("v") <= col("med2"),
              1).otherwise(0)).cast("long").as("dd"))
        val fin = cells
          .where(col("a") + col("b") > 0 && col("c") + col("dd") > 0 &&
            col("a") + col("c") > 0 && col("b") + col("dd") > 0)
          .select(col("event_type"), col("a"), col("b"), col("c"),
            col("dd"),
            (col("a") + col("b") + col("c") + col("dd")).as("n"),
            (col("a").cast("decimal(19,0)") * col("dd")
              - col("b").cast("decimal(19,0)") * col("c")).as("adbc"),
            ((col("a") + col("b")).cast("decimal(19,0)")
              * (col("c") + col("dd")) * (col("a") + col("c"))
              * (col("b") + col("dd"))).cast("decimal(38,0)").as("marg"))
        fin.select(col("event_type"), col("a").as("n1_above"),
            col("b").as("n1_below"), col("c").as("n2_above"),
            col("dd").as("n2_below"),
            round(col("n").cast("double") * col("adbc").cast("double")
              * col("adbc").cast("double") / col("marg").cast("double"),
              6).as("mood_x2"))
          .orderBy("event_type")
      })
  )
}
