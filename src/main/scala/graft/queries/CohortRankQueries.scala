package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables.{load => T}
import graft.ops.Relational.dsum
import graft.queries.Bases.{dailyMass, dailyMassSql, riskSets,
  riskSetsSql, survivalObs, survivalObsSql}

/** Round-10 batch 4: cohort, agreement, and rank-order diagnostics —
  * restricted mean survival time, the intraclass correlation, Granger
  * causality, Fleiss' kappa, Page's trend test, the Cochran-Armitage
  * trend test, and partial autocorrelation — each oracle-checked
  * bit-for-bit against DuckDB.
  */
object CohortRankQueries {

  def all: Seq[Q] = Seq(

    // Restricted mean survival time (Royston & Parmar BMC MRM'13) —
    // the area under q162's Kaplan-Meier curve up to the observation
    // horizon: the "expected error-free days" scalar that survival
    // curves get summarized to. The step integral pairs each death
    // time with its successor via a rank self-equi-join (rank from the
    // distributed prefix, NOT a global window); survival levels reuse
    // q162's rounded@6 exp(Σlog) chain, so the two queries agree
    // exactly; area terms are rounded@6 and DECIMAL-summed.
    Q("q397_rmst", Q.sql(s"""
        $survivalObsSql,
        $riskSetsSql,
        ev AS (
          SELECT t, d_t, n_t,
            CASE WHEN d_t < n_t
              THEN round(ln(1.0 - CAST(d_t AS DOUBLE) / n_t), 6)
              ELSE 0.0 END AS lt,
            CASE WHEN d_t = n_t THEN 1 ELSE 0 END AS collapse,
            row_number() OVER (ORDER BY t) AS rn
          FROM risk WHERE d_t > 0),
        km AS (
          SELECT t, rn, collapse,
            CASE WHEN max(collapse) OVER (ORDER BY t
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) = 1
              THEN 0.0
              ELSE round(exp(CAST(sum(CAST(lt AS DECIMAL(27,6))) OVER (
                ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                AND CURRENT ROW) AS DOUBLE)), 6) END AS s
          FROM ev),
        tau AS (SELECT CAST(max(t) AS BIGINT) AS tau FROM obs),
        segs AS (
          SELECT coalesce(prev.s, 1.0) AS s_prev,
            cur.t - coalesce(prev.t, 0) AS dt
          FROM km cur LEFT JOIN km prev ON prev.rn = cur.rn - 1
          UNION ALL
          SELECT last.s, tau.tau - last.t
          FROM (SELECT s, t, rn FROM km
                WHERE rn = (SELECT max(rn) FROM km)) last, tau)
        SELECT (SELECT CAST(count(*) AS BIGINT) FROM obs) AS n_subjects,
          tau.tau AS horizon_days,
          round(CAST(sum(CAST(round(s_prev * dt, 6) AS DECIMAL(27,6)))
            AS DOUBLE), 6) AS rmst
        FROM segs, tau GROUP BY 2"""))(
      (s, dir) => {
        // materialized: obs feeds three consumers (the two counts in
        // riskSets, tau) — without the barrier each re-executes the
        // signup/error join chain (3x the events scan, pure fixed cost
        // at bench scale)
        val obs = graft.ops.Frames.materialize(
          survivalObs(T(s, dir, "events")))
        val (nTotal, risk) = riskSets(obs)
        val ev = risk.where(col("d_t") > 0)
          .select(col("t"), col("d_t"), col("n_t"),
            when(col("d_t") < col("n_t"),
              round(log(lit(1.0) - col("d_t").cast("double") / col("n_t")),
                6)).otherwise(lit(0.0)).as("lt"),
            when(col("d_t") === col("n_t"), 1).otherwise(0).as("collapse"))
        // rank + cumulative log + cumulative collapse share ONE global
        // order (t), so they fuse into a single multi-series prefix pass
        // (one range partition + one local window + one offsets join,
        // instead of three chained runningTotal passes each paying its
        // own range sample + checkpoint — the q162 no-global-window
        // discipline, now at a third of the fixed cost)
        val withCum = graft.ops.Prefix.runningTotals(
          ev.withColumn("__one", lit(1L))
            .withColumn("__lt6", col("lt").cast("decimal(27,6)")),
          Seq(col("t")),
          Seq((col("__one"), "rn"), (col("__lt6"), "__cum"),
            (col("collapse").cast("long"), "__cumc")))
        val km = withCum.select(col("t"), col("rn"),
          when(col("__cumc") >= 1, lit(0.0))
            .otherwise(round(exp(col("__cum").cast("double")), 6)).as("s"))
        val kmPrev = km.select((col("rn") + 1).as("rn"),
          col("s").as("s_prev0"), col("t").as("t_prev0"))
        val tau = obs.agg(max(col("t")).as("tau"))
        val last = km.crossJoin(broadcast(
            km.agg(max(col("rn")).as("mx"))))
          .where(col("rn") === col("mx"))
          .crossJoin(broadcast(tau))
          .select(col("s").as("s_prev"),
            (col("tau") - col("t")).as("dt"))
        val segs = km.join(kmPrev, Seq("rn"), "left")
          .select(coalesce(col("s_prev0"), lit(1.0)).as("s_prev"),
            (col("t") - coalesce(col("t_prev0"), lit(0L))).as("dt"))
          .unionByName(last)
        segs.crossJoin(broadcast(tau)).crossJoin(broadcast(nTotal))
          .groupBy(col("tau").as("horizon_days"))
          .agg(max(col("n_total")).cast("long").as("n_subjects"),
            round(dsum(round(col("s_prev") * col("dt"), 6), 6), 6)
              .as("rmst"))
          .select(col("n_subjects"), col("horizon_days"), col("rmst"))
      }),

    // Intraclass correlation ICC(1) (Shrout & Fleiss PB'79) — how much
    // of supplier account-balance variance is BETWEEN nations? The
    // one-way random-effects reliability number on top of the ANOVA
    // family (q329/q330): MSB/MSW from exact cent moments (per-group
    // S²/n terms rounded@6 and DECIMAL-summed), the unbalanced-design
    // group size n₀ = (N − Σnᵢ²/N)/(k−1), ICC = (MSB−MSW)/(MSB+(n₀−1)MSW).
    Q("q398_icc", Q.sql("""
        WITH v AS (
          SELECT s_nationkey AS g,
            CAST(round(s_acctbal * 100, 0) AS BIGINT) AS x
          FROM supplier),
        m AS (
          SELECT g, CAST(count(*) AS BIGINT) AS n,
            CAST(sum(x) AS BIGINT) AS sx
          FROM v GROUP BY 1),
        tot AS (
          SELECT CAST(count(*) AS BIGINT) AS nn,
            CAST(sum(x) AS BIGINT) AS tt,
            CAST(sum(CAST(x AS HUGEINT) * x) AS DECIMAL(38,0)) AS q
          FROM v),
        btw AS (
          SELECT CAST(count(*) AS BIGINT) AS k,
            CAST(sum(CAST(round(CAST(sx AS DOUBLE) * sx / n, 6)
              AS DECIMAL(27,6))) AS DOUBLE) AS sq_over_n,
            CAST(sum(CAST(n AS HUGEINT) * n) AS BIGINT) AS sn2
          FROM m),
        f AS (
          SELECT btw.k, tot.nn,
            (btw.sq_over_n - CAST(tot.tt AS DOUBLE) * tot.tt / tot.nn)
              / (btw.k - 1) / 1e4 AS msb,
            (CAST(tot.q AS DOUBLE) - btw.sq_over_n)
              / (CASE WHEN tot.nn > btw.k THEN tot.nn - btw.k END)
              / 1e4 AS msw,
            (CAST(tot.nn AS DOUBLE) - CAST(btw.sn2 AS DOUBLE) / tot.nn)
              / (btw.k - 1) AS n0
          FROM btw, tot)
        SELECT k, nn AS n_obs, round(msb, 6) AS msb, round(msw, 6) AS msw,
          round(n0, 6) AS n0,
          round((msb - msw) / (msb + (n0 - 1) * msw), 6) AS icc
        FROM f"""))(
      (s, dir) => {
        val v = T(s, dir, "supplier")
          .select(col("s_nationkey").as("g"),
            round(col("s_acctbal") * 100, 0).cast("long").as("x"))
        val m = v.groupBy("g")
          .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"))
        val tot = v.agg(count(lit(1)).as("nn"), sum(col("x")).as("tt"),
          sum(col("x").cast("decimal(19,0)") * col("x"))
            .cast("decimal(38,0)").as("q"))
        val btw = m.agg(count(lit(1)).as("k"),
          dsum(round(col("sx").cast("double") * col("sx") / col("n"), 6),
            6).as("sq_over_n"),
          sum(col("n").cast("decimal(19,0)") * col("n")).cast("long")
            .as("sn2"))
        val f = btw.crossJoin(broadcast(tot))
          .select(col("k"), col("nn"),
            ((col("sq_over_n")
                - col("tt").cast("double") * col("tt") / col("nn"))
              / (col("k") - 1) / lit(1e4)).as("msb"),
            // degenerate design (every group a singleton, nn == k — the
            // sf0.001 supplier table) has no within-group variance: MSW
            // is NULL, not a divide-by-zero (ANSI mode throws on it)
            ((col("q").cast("double") - col("sq_over_n"))
              / when(col("nn") > col("k"),
                (col("nn") - col("k")).cast("double")) / lit(1e4))
              .as("msw"),
            ((col("nn").cast("double")
                - col("sn2").cast("double") / col("nn"))
              / (col("k") - 1)).as("n0"))
        f.select(col("k"), col("nn").as("n_obs"),
          round(col("msb"), 6).as("msb"), round(col("msw"), 6).as("msw"),
          round(col("n0"), 6).as("n0"),
          round((col("msb") - col("msw"))
            / (col("msb") + (col("n0") - 1) * col("msw")), 6).as("icc"))
      }),

    // Granger causality (Econometrica'69) — does yesterday's click
    // revenue help predict today's purchase revenue beyond purchase's
    // own lag? Unrestricted OLS y_t ~ (1, y_{t−1}, x_{t−1}) via the
    // q179 Cramer normal-equations shape (centered determinants from
    // DECIMAL(38,0)-exact moments), restricted y_t ~ (1, y_{t−1});
    // F = (RSS_r − RSS_u)/(RSS_u/(n−3)) with the 1/n factors cancelling
    // exactly. Lags via the q332 day−1 self-equi-join — no window.
    Q("q399_granger", Q.sql(s"""
        WITH d AS ($dailyMassSql),
        p AS (SELECT day, v FROM d WHERE event_type = 'purchase'),
        c AS (SELECT day, v FROM d WHERE event_type = 'click'),
        j AS (
          SELECT cur.v AS y, prev.v AS x1, cl.v AS x2
          FROM p cur
          JOIN p prev ON prev.day = cur.day - 1
          JOIN c cl ON cl.day = cur.day - 1),
        sm AS (
          SELECT CAST(count(*) AS BIGINT) AS n,
            CAST(sum(CAST(x1 AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sx1,
            CAST(sum(CAST(x2 AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sx2,
            CAST(sum(CAST(y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sy,
            CAST(sum(CAST(x1 AS HUGEINT) * x1) AS DECIMAL(38,0)) AS s11,
            CAST(sum(CAST(x2 AS HUGEINT) * x2) AS DECIMAL(38,0)) AS s22,
            CAST(sum(CAST(x1 AS HUGEINT) * x2) AS DECIMAL(38,0)) AS s12,
            CAST(sum(CAST(x1 AS HUGEINT) * y) AS DECIMAL(38,0)) AS s1y,
            CAST(sum(CAST(x2 AS HUGEINT) * y) AS DECIMAL(38,0)) AS s2y,
            CAST(sum(CAST(y AS HUGEINT) * y) AS DECIMAL(38,0)) AS syy
          FROM j),
        dd AS (
          SELECT n,
            CAST(n AS DOUBLE) * CAST(s11 AS DOUBLE)
              - CAST(sx1 AS DOUBLE) * CAST(sx1 AS DOUBLE) AS d11,
            CAST(n AS DOUBLE) * CAST(s22 AS DOUBLE)
              - CAST(sx2 AS DOUBLE) * CAST(sx2 AS DOUBLE) AS d22,
            CAST(n AS DOUBLE) * CAST(s12 AS DOUBLE)
              - CAST(sx1 AS DOUBLE) * CAST(sx2 AS DOUBLE) AS d12,
            CAST(n AS DOUBLE) * CAST(s1y AS DOUBLE)
              - CAST(sx1 AS DOUBLE) * CAST(sy AS DOUBLE) AS d1y,
            CAST(n AS DOUBLE) * CAST(s2y AS DOUBLE)
              - CAST(sx2 AS DOUBLE) * CAST(sy AS DOUBLE) AS d2y,
            CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
              - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS dyy
          FROM sm),
        b AS (
          SELECT n, dyy,
            (d1y * d22 - d2y * d12) / (d11 * d22 - d12 * d12) AS b1,
            (d2y * d11 - d1y * d12) / (d11 * d22 - d12 * d12) AS b2,
            d1y, d2y, d11,
            dyy - (d1y / d11) * d1y AS rss_r
          FROM dd)
        SELECT n AS n_obs,
          round(b2 / 10000, 6) AS beta_click,
          round((rss_r - (dyy - b1 * d1y - b2 * d2y))
            / ((dyy - b1 * d1y - b2 * d2y) / (n - 3)), 6) AS f_stat
        FROM b"""))(
      (s, dir) => {
        val d = dailyMass(s, dir)
        val p = d.where(col("event_type") === "purchase")
          .select(col("day"), col("v"))
        val cl = d.where(col("event_type") === "click")
          .select(col("day").as("cday"), col("v").as("x2"))
        val prev = p.select(col("day").as("pday"), col("v").as("x1"))
        val j = p
          .join(prev, col("pday") === date_sub(col("day"), 1))
          .join(cl, col("cday") === date_sub(col("day"), 1))
          .select(col("v").as("y"), col("x1"), col("x2"))
        val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(19,0)")
        val sm = j.agg(count(lit(1)).as("n"),
          sum(dec(col("x1"))).cast("decimal(38,0)").as("sx1"),
          sum(dec(col("x2"))).cast("decimal(38,0)").as("sx2"),
          sum(dec(col("y"))).cast("decimal(38,0)").as("sy"),
          sum(dec(col("x1")) * col("x1")).cast("decimal(38,0)").as("s11"),
          sum(dec(col("x2")) * col("x2")).cast("decimal(38,0)").as("s22"),
          sum(dec(col("x1")) * col("x2")).cast("decimal(38,0)").as("s12"),
          sum(dec(col("x1")) * col("y")).cast("decimal(38,0)").as("s1y"),
          sum(dec(col("x2")) * col("y")).cast("decimal(38,0)").as("s2y"),
          sum(dec(col("y")) * col("y")).cast("decimal(38,0)").as("syy"))
        val nD = col("n").cast("double")
        def ctr(sab: String, sa: String, sb: String) =
          (nD * col(sab).cast("double") -
            col(sa).cast("double") * col(sb).cast("double"))
        val dd = sm.select(col("n"),
          ctr("s11", "sx1", "sx1").as("d11"),
          ctr("s22", "sx2", "sx2").as("d22"),
          ctr("s12", "sx1", "sx2").as("d12"),
          ctr("s1y", "sx1", "sy").as("d1y"),
          ctr("s2y", "sx2", "sy").as("d2y"),
          ctr("syy", "sy", "sy").as("dyy"))
        val det = col("d11") * col("d22") - col("d12") * col("d12")
        val b = dd.select(col("n"), col("dyy"), col("d1y"), col("d2y"),
          ((col("d1y") * col("d22") - col("d2y") * col("d12")) / det)
            .as("b1"),
          ((col("d2y") * col("d11") - col("d1y") * col("d12")) / det)
            .as("b2"),
          (col("dyy") - (col("d1y") / col("d11")) * col("d1y"))
            .as("rss_r"))
        val rssU = (col("dyy") - col("b1") * col("d1y")
          - col("b2") * col("d2y"))
        b.select(col("n").as("n_obs"),
          round(col("b2") / 10000, 6).as("beta_click"),
          round((col("rss_r") - rssU) / (rssU / (col("n") - 3)), 6)
            .as("f_stat"))
      }),

    // Fleiss' kappa (PB'71) — do three mechanical quality raters agree
    // on which documents are "high quality"? Raters: char count ≥ 400,
    // whitespace-token count ≥ 80, distinct-token ratio ≥ 0.55 — three
    // binary judgments per document (the agreement layer over the
    // q31-style quality heuristics). P̄ comes from the all-integer
    // identity Σ(c0²+c1²−3)/6 per subject; P_e from squared category
    // shares; everything exact until the final kappa division.
    Q("q400_fleiss_kappa", Q.sql("""
        WITH w AS (
          SELECT doc_id,
            length(text) AS nc,
            len(string_split(lower(regexp_replace(trim(text),
              '\\s+', ' ', 'g')), ' ')) AS nt,
            len(list_distinct(string_split(lower(regexp_replace(trim(text),
              '\\s+', ' ', 'g')), ' '))) AS nu
          FROM documents),
        r AS (
          SELECT doc_id,
            (CASE WHEN nc >= 400 THEN 1 ELSE 0 END)
              + (CASE WHEN nt >= 80 THEN 1 ELSE 0 END)
              + (CASE WHEN CAST(nu AS DOUBLE) / nt >= 0.55 THEN 1
                 ELSE 0 END) AS c1
          FROM w),
        agg AS (
          SELECT CAST(count(*) AS BIGINT) AS n_docs,
            CAST(sum(c1) AS BIGINT) AS tot1,
            CAST(sum((3 - c1) * (3 - c1) + c1 * c1) AS BIGINT) AS sumsq
          FROM r),
        f AS (
          SELECT n_docs, tot1,
            CAST(sumsq - 3 * n_docs AS DOUBLE) / (6 * n_docs) AS p_bar,
            (CAST(tot1 AS DOUBLE) / (3 * n_docs))
              * (CAST(tot1 AS DOUBLE) / (3 * n_docs))
            + (1 - CAST(tot1 AS DOUBLE) / (3 * n_docs))
              * (1 - CAST(tot1 AS DOUBLE) / (3 * n_docs)) AS p_e
          FROM agg)
        SELECT n_docs, round(p_bar, 6) AS p_bar, round(p_e, 6) AS p_e,
          round((p_bar - p_e) / (1 - p_e), 6) AS fleiss_kappa
        FROM f"""))(
      (s, dir) => {
        val toks = graft.text.TextAnalysis.tokens(
          graft.text.TextAnalysis.normalizeText(col("text")))
        val w = T(s, dir, "documents")
          .select(col("doc_id"), length(col("text")).as("nc"),
            size(toks).as("nt"),
            size(array_distinct(toks)).as("nu"))
        val r = w.select(col("doc_id"),
          (when(col("nc") >= 400, 1).otherwise(0)
            + when(col("nt") >= 80, 1).otherwise(0)
            + when(col("nu").cast("double") / col("nt") >= 0.55, 1)
              .otherwise(0)).as("c1"))
        val agg = r.agg(count(lit(1)).cast("long").as("n_docs"),
          sum(col("c1")).cast("long").as("tot1"),
          sum((lit(3) - col("c1")) * (lit(3) - col("c1"))
            + col("c1") * col("c1")).cast("long").as("sumsq"))
        val share = col("tot1").cast("double") / (lit(3) * col("n_docs"))
        val f = agg.select(col("n_docs"), col("tot1"),
          ((col("sumsq") - lit(3) * col("n_docs")).cast("double")
            / (lit(6) * col("n_docs"))).as("p_bar"),
          (share * share + (lit(1) - share) * (lit(1) - share)).as("p_e"))
        f.select(col("n_docs"), round(col("p_bar"), 6).as("p_bar"),
          round(col("p_e"), 6).as("p_e"),
          round((col("p_bar") - col("p_e")) / (lit(1) - col("p_e")), 6)
            .as("fleiss_kappa"))
      }),

    // Page's trend test (Biometrika'63) — the ORDERED alternative to
    // q346's Friedman: do the five event types keep the same revenue
    // ordering day after day (alphabetical treatment order as the
    // tested ranking)? Within-day ranks are a day-PARTITIONED window
    // with the deterministic (v, type) tie-break; L = Σ j·R_j, and the
    // normal approximation z = (12L − 3bk(k+1)²)/√(b k²(k+1)²(k−1))
    // stays all-integer under the radical.
    Q("q401_page_trend", Q.sql(s"""
        WITH d AS ($dailyMassSql),
        rk AS (
          SELECT event_type, day,
            CAST(row_number() OVER (PARTITION BY day
              ORDER BY v, event_type) AS BIGINT) AS r
          FROM d),
        trt AS (
          SELECT event_type,
            CAST(row_number() OVER (ORDER BY event_type) AS BIGINT) AS j,
            CAST(sum(r) AS BIGINT) AS rj,
            CAST(count(*) AS BIGINT) AS b
          FROM rk GROUP BY 1),
        f AS (
          SELECT CAST(max(b) AS BIGINT) AS b,
            CAST(count(*) AS BIGINT) AS k,
            CAST(sum(j * rj) AS BIGINT) AS l
          FROM trt)
        SELECT b AS n_days, k AS n_treatments, l AS page_l,
          round((12.0 * l - 3.0 * b * k * (k + 1) * (k + 1))
            / sqrt(CAST(b * k * k * (k + 1) * (k + 1) * (k - 1)
              AS DOUBLE)), 6) AS z
        FROM f"""))(
      (s, dir) => {
        val d = dailyMass(s, dir)
        val rk = d.select(col("event_type"), col("day"),
          row_number().over(Window.partitionBy("day")
            .orderBy(col("v"), col("event_type"))).cast("long").as("r"))
        // treatment index j over the ≤5-type frame: broadcast self-join
        // rank (the q354 pattern — no global window)
        val sums = rk.groupBy("event_type")
          .agg(sum(col("r")).as("rj"), count(lit(1)).as("b"))
        val other = broadcast(sums.select(col("event_type").as("t2")))
        val trt = sums.crossJoin(other)
          .groupBy("event_type", "rj", "b")
          .agg((sum(when(col("t2") <= col("event_type"), 1).otherwise(0)))
            .cast("long").as("j"))
        val f = trt.agg(max(col("b")).cast("long").as("b"),
          count(lit(1)).cast("long").as("k"),
          sum(col("j") * col("rj")).cast("long").as("l"))
        f.select(col("b").as("n_days"), col("k").as("n_treatments"),
          col("l").as("page_l"),
          round((lit(12.0) * col("l") - lit(3.0) * col("b") * col("k")
              * (col("k") + 1) * (col("k") + 1))
            / sqrt((col("b") * col("k") * col("k") * (col("k") + 1)
              * (col("k") + 1) * (col("k") - 1)).cast("double")), 6)
            .as("z"))
      }),

    // Cochran-Armitage trend test (Biometrics'54/JASA'55) — does the
    // purchase share RISE across ordered spend bands (the q396 50-dollar
    // bins)? z = A/√(B·C/N) with A = N·Σwr − R·Σwn, B = R(N−R),
    // C = N·Σw²n − (Σwn)² — every term an exact BIGINT from one
    // hash agg over the 4-band frame, one final division.
    Q("q402_cochran_armitage", Q.sql("""
        WITH e AS (
          SELECT least(CAST(3 AS BIGINT),
              CAST(floor(value * 10000 + 0.5) AS BIGINT) // 500000) AS w,
            CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
          FROM events),
        g AS (
          SELECT w, CAST(count(*) AS BIGINT) AS n,
            CAST(sum(y) AS BIGINT) AS r
          FROM e GROUP BY 1),
        f AS (
          SELECT CAST(sum(n) AS BIGINT) AS nn,
            CAST(sum(r) AS BIGINT) AS rr,
            CAST(sum(w * n) AS BIGINT) AS swn,
            CAST(sum(w * r) AS BIGINT) AS swr,
            CAST(sum(w * w * n) AS BIGINT) AS sw2n
          FROM g)
        SELECT nn AS n_obs, rr AS n_success,
          round(CAST(nn * swr - rr * swn AS DOUBLE)
            / sqrt((CAST(rr AS DOUBLE) * (nn - rr))
              * (CAST(nn AS DOUBLE) * sw2n
                - CAST(swn AS DOUBLE) * swn) / nn), 6) AS z
        FROM f"""))(
      (s, dir) => {
        val e = T(s, dir, "events")
          .select(least(lit(3L), expr(
            "CAST(floor(value * 10000 + 0.5) AS BIGINT) div 500000"))
            .as("w"),
            when(col("event_type") === "purchase", 1L).otherwise(0L)
              .as("y"))
        val g = e.groupBy("w")
          .agg(count(lit(1)).as("n"), sum(col("y")).as("r"))
        val f = g.agg(sum(col("n")).cast("long").as("nn"),
          sum(col("r")).cast("long").as("rr"),
          sum(col("w") * col("n")).cast("long").as("swn"),
          sum(col("w") * col("r")).cast("long").as("swr"),
          sum(col("w") * col("w") * col("n")).cast("long").as("sw2n"))
        f.select(col("nn").as("n_obs"), col("rr").as("n_success"),
          round((col("nn") * col("swr") - col("rr") * col("swn"))
              .cast("double")
            / sqrt((col("rr").cast("double") * (col("nn") - col("rr")))
              * (col("nn").cast("double") * col("sw2n")
                - col("swn").cast("double") * col("swn")) / col("nn")),
            6).as("z"))
      }),

    // Partial autocorrelation (Durbin-Levinson, lags 1–3) — which AR
    // order does each type's daily series actually need, the
    // order-selection companion to q332's AR(1) and q364's Ljung-Box.
    // r₁..r₃ from the exact n·x−S deviation identity (DECIMAL(38,0)
    // lagged products via rank self-equi-joins, no window beyond the
    // type-partitioned rank); φ₁₁/φ₂₂/φ₃₃ are the closed-form
    // Durbin-Levinson doubles, fixed order.
    Q("q403_pacf", Q.sql(s"""
        WITH d AS ($dailyMassSql),
        i AS (
          SELECT event_type, v,
            CAST(row_number() OVER (PARTITION BY event_type
              ORDER BY day) AS BIGINT) AS rn
          FROM d),
        m AS (
          SELECT event_type, CAST(count(*) AS BIGINT) AS n,
            CAST(sum(v) AS BIGINT) AS sv
          FROM i GROUP BY 1),
        dev AS (
          SELECT i.event_type, i.rn, m.n,
            m.n * i.v - m.sv AS e
          FROM i JOIN m ON m.event_type = i.event_type),
        den AS (
          SELECT event_type, max(n) AS n,
            CAST(sum(CAST(e AS HUGEINT) * e) AS DECIMAL(38,0)) AS s0
          FROM dev GROUP BY 1),
        r AS (
          SELECT den.event_type, den.n,
            CAST((SELECT sum(CAST(a.e AS HUGEINT) * b.e)
              FROM dev a JOIN dev b ON b.event_type = a.event_type
                AND b.rn = a.rn + 1
              WHERE a.event_type = den.event_type) AS DECIMAL(38,0))
              AS s1,
            CAST((SELECT sum(CAST(a.e AS HUGEINT) * b.e)
              FROM dev a JOIN dev b ON b.event_type = a.event_type
                AND b.rn = a.rn + 2
              WHERE a.event_type = den.event_type) AS DECIMAL(38,0))
              AS s2,
            CAST((SELECT sum(CAST(a.e AS HUGEINT) * b.e)
              FROM dev a JOIN dev b ON b.event_type = a.event_type
                AND b.rn = a.rn + 3
              WHERE a.event_type = den.event_type) AS DECIMAL(38,0))
              AS s3,
            den.s0
          FROM den),
        rr AS (
          SELECT event_type, n,
            CAST(s1 AS DOUBLE) / CAST(s0 AS DOUBLE) AS r1,
            CAST(s2 AS DOUBLE) / CAST(s0 AS DOUBLE) AS r2,
            CAST(s3 AS DOUBLE) / CAST(s0 AS DOUBLE) AS r3
          FROM r),
        dl AS (
          SELECT event_type, n, r1, r2, r3,
            (r2 - r1 * r1) / (1 - r1 * r1) AS p2
          FROM rr),
        dl2 AS (
          SELECT event_type, n, r1, r2, r3, p2,
            r1 * (1 - p2) AS p21
          FROM dl)
        SELECT event_type, n AS n_days,
          round(r1, 6) AS r1, round(r2, 6) AS r2, round(r3, 6) AS r3,
          round(r1, 6) AS pacf1, round(p2, 6) AS pacf2,
          round((r3 - p21 * r2 - p2 * r1)
            / (1 - p21 * r1 - p2 * r2), 6) AS pacf3
        FROM dl2 ORDER BY event_type"""))(
      (s, dir) => {
        val d = dailyMass(s, dir)
        val i = d.select(col("event_type"), col("v"),
          row_number().over(Window.partitionBy("event_type")
            .orderBy("day")).cast("long").as("rn"))
        val m = i.groupBy("event_type")
          .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
        val dev = i.join(broadcast(m), "event_type")
          .select(col("event_type"), col("rn"), col("n"),
            (col("n") * col("v") - col("sv")).as("e"))
        val den = dev.groupBy("event_type")
          .agg(max(col("n")).as("n"),
            sum(col("e").cast("decimal(19,0)") * col("e"))
              .cast("decimal(38,0)").as("s0"))
        def lagSum(k: Int): DataFrame = dev
          .join(dev.select(col("event_type"),
            (col("rn") - k).as("rn"), col("e").as("e2")),
            Seq("event_type", "rn"))
          .groupBy("event_type")
          .agg(sum(col("e").cast("decimal(19,0)") * col("e2"))
            .cast("decimal(38,0)").as(s"s$k"))
        val r = den.join(lagSum(1), "event_type")
          .join(lagSum(2), "event_type")
          .join(lagSum(3), "event_type")
        val rr = r.select(col("event_type"), col("n"),
          (col("s1").cast("double") / col("s0").cast("double")).as("r1"),
          (col("s2").cast("double") / col("s0").cast("double")).as("r2"),
          (col("s3").cast("double") / col("s0").cast("double")).as("r3"))
        val p2 = (col("r2") - col("r1") * col("r1"))
          .divide(lit(1) - col("r1") * col("r1"))
        val dl = rr.select(col("event_type"), col("n"),
          col("r1"), col("r2"), col("r3"), p2.as("p2"))
        val dl2 = dl.withColumn("p21", col("r1") * (lit(1) - col("p2")))
        dl2.select(col("event_type"), col("n").as("n_days"),
            round(col("r1"), 6).as("r1"), round(col("r2"), 6).as("r2"),
            round(col("r3"), 6).as("r3"),
            round(col("r1"), 6).as("pacf1"),
            round(col("p2"), 6).as("pacf2"),
            round((col("r3") - col("p21") * col("r2")
                - col("p2") * col("r1"))
              / (lit(1) - col("p21") * col("r1")
                - col("p2") * col("r2")), 6).as("pacf3"))
          .orderBy("event_type")
      })
  )
}
