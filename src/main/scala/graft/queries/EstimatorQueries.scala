package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.{load => T}
import graft.queries.Bases.{dailyCents, dailyCentsSql}

/** Round-9 batch 5: estimation and trend machinery — the Mann-Kendall
  * trend test, Cochran's Q, Haar wavelet energy, inverse-propensity
  * weighting, logit-bin calibration, the Markov stationary distribution,
  * and jackknife variance — each oracle-checked bit-for-bit against
  * DuckDB.
  */
object EstimatorQueries {

  def all: Seq[Q] = Seq(

    // Mann-Kendall trend test (Mann Econometrica'45; Kendall '75) — the
    // nonparametric monotone-trend SIGNIFICANCE companion to q174's
    // Theil-Sen slope: S = Σ_{i<j} sign(x_j − x_i) over the daily
    // revenue series per event type, tie-corrected variance
    // [n(n−1)(2n+5) − Σ t(t−1)(2t+5)]/18, z = (S − sign(S))/√var.
    // Everything before z is EXACT integers (daily cents from a decimal
    // sum, the pair sweep is the calendar-bounded 30×30 per-type
    // equi-self-join); z is one fixed-order double.
    Q("q355_mann_kendall", Q.sql(s"""
        $dailyCentsSql,
        pr AS (
          SELECT a.event_type,
            CAST(sum(CASE WHEN b.cents > a.cents THEN 1
              WHEN b.cents < a.cents THEN -1 ELSE 0 END) AS BIGINT) AS s,
            CAST(count(*) AS BIGINT) AS np
          FROM d a JOIN d b
            ON b.event_type = a.event_type AND b.day > a.day
          GROUP BY 1),
        nn AS (
          SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM d
          GROUP BY 1),
        ties AS (
          SELECT event_type,
            CAST(sum(tc * (tc - 1) * (2 * tc + 5)) AS BIGINT) AS tsum
          FROM (
            SELECT event_type, cents, CAST(count(*) AS BIGINT) AS tc
            FROM d GROUP BY 1, 2) x
          GROUP BY 1)
        SELECT p.event_type, p.s AS mk_s, n.n AS n_days,
          CAST((n.n * (n.n - 1) * (2 * n.n + 5) - t.tsum) AS BIGINT)
            AS var_x18,
          round((CAST(p.s AS DOUBLE)
              - CASE WHEN p.s > 0 THEN 1.0 WHEN p.s < 0 THEN -1.0
                ELSE 0.0 END)
            / sqrt(CAST(n.n * (n.n - 1) * (2 * n.n + 5) - t.tsum
              AS DOUBLE) / 18.0), 6) AS z
        FROM pr p JOIN nn n ON n.event_type = p.event_type
        JOIN ties t ON t.event_type = p.event_type
        ORDER BY p.event_type"""))(
      (s, dir) => {
        val d = dailyCents(s, dir)
        val pr = d.as("a")
          .join(d.select(col("event_type"), col("day").as("day2"),
            col("cents").as("cents2")), Seq("event_type"))
          .where(col("day2") > col("day"))
          .groupBy("event_type")
          .agg(sum(when(col("cents2") > col("cents"), 1)
            .when(col("cents2") < col("cents"), -1).otherwise(0))
            .cast("long").as("s"),
            count(lit(1)).cast("long").as("np"))
        val nn = d.groupBy("event_type")
          .agg(count(lit(1)).cast("long").as("n"))
        val ties = d.groupBy("event_type", "cents")
          .agg(count(lit(1)).cast("long").as("tc"))
          .groupBy("event_type")
          .agg(sum(col("tc") * (col("tc") - 1) * (lit(2) * col("tc") + 5))
            .cast("long").as("tsum"))
        val varx18 = (col("n") * (col("n") - 1)
          * (lit(2) * col("n") + 5) - col("tsum")).cast("long")
        pr.join(nn, Seq("event_type")).join(ties, Seq("event_type"))
          .select(col("event_type"), col("s").as("mk_s"),
            col("n").as("n_days"), varx18.as("var_x18"),
            round((col("s").cast("double")
              - when(col("s") > 0, 1.0).when(col("s") < 0, -1.0)
                .otherwise(0.0))
              / sqrt(varx18.cast("double") / 18.0), 6).as("z"))
          .orderBy("event_type")
      }),

    // Cochran's Q test (Cochran Biometrika'50) — the k-treatment BINARY
    // repeated-measures test (the 0/1 Friedman, the k-sample McNemar):
    // are the same users HEAVY users of each event type equally often?
    // "Heavy" = the (user, type) count exceeds the global mean count —
    // an sf-adaptive cut (raw any-contact incidence is all-ones here,
    // which makes Q's denominator k·T − ΣR² exactly zero).
    // Q = ((k−1)·(k·ΣC_j² − T²)) / (k·T − ΣR_i²) over the 0/1 matrix —
    // EVERY term an exact integer from two hash aggs (per-user row
    // sums, per-type column sums); only the final division is double.
    Q("q356_cochran_q", Q.sql("""
        WITH c AS (
          SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
          FROM events GROUP BY 1, 2),
        thr AS (SELECT avg(n) AS t FROM c),
        inc AS (
          SELECT user_id, event_type FROM c, thr WHERE n > thr.t),
        users AS (SELECT DISTINCT user_id FROM events),
        k AS (SELECT CAST(count(DISTINCT event_type) AS BIGINT) AS k
          FROM events),
        rows_ AS (
          SELECT user_id, CAST(count(*) AS BIGINT) AS r FROM inc
          GROUP BY 1),
        cols AS (
          SELECT event_type, CAST(count(*) AS BIGINT) AS c FROM inc
          GROUP BY 1),
        agg AS (
          SELECT CAST(sum(c) AS BIGINT) AS t,
            CAST(sum(c * c) AS BIGINT) AS scc
          FROM cols),
        ragg AS (
          SELECT CAST(sum(r * r) AS BIGINT) AS srr FROM rows_),
        q AS (
          SELECT round(CAST((k.k - 1) * (k.k * a.scc - a.t * a.t)
              AS DOUBLE)
            / CAST(k.k * a.t - r.srr AS DOUBLE), 6) AS cochran_q
          FROM k, agg a, ragg r)
        SELECT c.event_type, c.c AS n_engaged,
          (SELECT count(*) FROM users) AS n_users, q.cochran_q
        FROM cols c, q ORDER BY c.event_type"""))(
      (s, dir) => {
        val ev = T(s, dir, "events")
        val c = ev.groupBy("user_id", "event_type")
          .agg(count(lit(1)).cast("long").as("n"))
        val thr = c.agg(avg(col("n")).as("t"))
        val inc = c.crossJoin(broadcast(thr))
          .where(col("n") > col("t"))
          .select("user_id", "event_type")
        val nUsers = ev.select("user_id").distinct()
          .agg(count(lit(1)).cast("long").as("n_users"))
        val k = ev.agg(countDistinct(col("event_type")).cast("long").as("k"))
        val rows = inc.groupBy("user_id")
          .agg(count(lit(1)).cast("long").as("r"))
        val cols_ = inc.groupBy("event_type")
          .agg(count(lit(1)).cast("long").as("c"))
        val agg = cols_.agg(sum(col("c")).cast("long").as("t"),
          sum(col("c") * col("c")).cast("long").as("scc"))
        val ragg = rows.agg(sum(col("r") * col("r")).cast("long").as("srr"))
        val q = k.crossJoin(broadcast(agg)).crossJoin(broadcast(ragg))
          .select(round(((col("k") - 1)
            * (col("k") * col("scc") - col("t") * col("t"))).cast("double")
            / (col("k") * col("t") - col("srr")).cast("double"), 6)
            .as("cochran_q"))
        cols_.crossJoin(broadcast(nUsers)).crossJoin(broadcast(q))
          .select(col("event_type"), col("c").as("n_engaged"),
            col("n_users"), col("cochran_q"))
          .orderBy("event_type")
      }),

    // Haar wavelet energy decomposition (Haar 1910; Mallat '89
    // multiresolution): the 32-day daily-revenue series per event type
    // run through 5 unrolled unnormalized Haar levels — level-l detail
    // d = s_even − s_odd over the previous level's sums, energy E_l =
    // Σ d² — which TIMESCALE carries the variance (day-to-day noise vs
    // weekly-ish structure vs the long trend), the multiscale screen
    // next to q210's single-scale ACF. EXACT integer cents end-to-end
    // (sums not averages, energies in DECIMAL(38,0)); the per-type
    // 32-slot spine is calendar-bounded.
    Q("q357_haar_energy", {
      val lvl = (from: String, to: String) => s"""
        $to AS (
          SELECT event_type, CAST(floor(pos / 2) AS INT) AS pos,
            CAST(sum(CASE WHEN pos % 2 = 0 THEN s ELSE 0 END)
              + sum(CASE WHEN pos % 2 = 1 THEN s ELSE 0 END) AS BIGINT)
              AS s,
            CAST(sum(CASE WHEN pos % 2 = 0 THEN s ELSE 0 END)
              - sum(CASE WHEN pos % 2 = 1 THEN s ELSE 0 END) AS BIGINT)
              AS dd
          FROM $from GROUP BY 1, 2),
        ${to}e AS (
          SELECT event_type, CAST(sum(CAST(dd AS DECIMAL(38,0)) * dd)
            AS DECIMAL(38,0)) AS e
          FROM $to GROUP BY 1)"""
      Q.sql(s"""
        $dailyCentsSql,
        b AS (SELECT min(day) AS d0 FROM d),
        spine AS (
          SELECT et.event_type, CAST(gs.pos AS INT) AS pos
          FROM (SELECT DISTINCT event_type FROM d) et,
            LATERAL (SELECT unnest(generate_series(0, 31)) AS pos) gs),
        l0 AS (
          SELECT sp.event_type, sp.pos,
            CAST(COALESCE(d.cents, 0) AS BIGINT) AS s
          FROM spine sp
          LEFT JOIN d ON d.event_type = sp.event_type
            AND (d.day - (SELECT d0 FROM b)) = sp.pos),
        ${lvl("l0", "l1")}, ${lvl("l1", "l2")}, ${lvl("l2", "l3")},
        ${lvl("l3", "l4")}, ${lvl("l4", "l5")}
        SELECT event_type, 1 AS level, CAST(e AS BIGINT) AS energy FROM l1e
        UNION ALL SELECT event_type, 2, CAST(e AS BIGINT) FROM l2e
        UNION ALL SELECT event_type, 3, CAST(e AS BIGINT) FROM l3e
        UNION ALL SELECT event_type, 4, CAST(e AS BIGINT) FROM l4e
        UNION ALL SELECT event_type, 5, CAST(e AS BIGINT) FROM l5e
        ORDER BY event_type, level""")
    })(
      (s, dir) => {
        val d = dailyCents(s, dir)
        val b = d.agg(min(col("day")).as("d0"))
        val spine = d.select("event_type").distinct()
          .crossJoin(broadcast(s.range(32).select(col("id").cast("int")
            .as("pos"))))
        val l0 = spine
          .join(d.crossJoin(broadcast(b))
            .select(col("event_type"), datediff(col("day"), col("d0"))
              .cast("int").as("pos"), col("cents")),
            Seq("event_type", "pos"), "left")
          .select(col("event_type"), col("pos"),
            coalesce(col("cents"), lit(0L)).as("s"))
        def level(prev: DataFrame): (DataFrame, DataFrame) = {
          val nxt = prev.groupBy(col("event_type"),
              floor(col("pos") / 2).cast("int").as("pos"))
            .agg(
              (sum(when(col("pos") % 2 === 0, col("s")).otherwise(0L))
                + sum(when(col("pos") % 2 === 1, col("s")).otherwise(0L)))
                .cast("long").as("s"),
              (sum(when(col("pos") % 2 === 0, col("s")).otherwise(0L))
                - sum(when(col("pos") % 2 === 1, col("s")).otherwise(0L)))
                .cast("long").as("dd"))
          val e = nxt.groupBy("event_type")
            .agg(sum(col("dd").cast("decimal(38,0)") * col("dd"))
              .cast("decimal(38,0)").as("e"))
          (nxt, e)
        }
        val (l1, e1) = level(l0)
        val (l2, e2) = level(l1)
        val (l3, e3) = level(l2)
        val (l4, e4) = level(l3)
        val (_, e5) = level(l4)
        // BIGINT (not decimal128) on the wire: Spark decimal vs DuckDB
        // HUGEINT→float64 fail the driver's stringify-hash even when
        // equal; Σd² fits int64 through sf≈10 (7.1e13 at sf0.1).
        def tag(e: DataFrame, l: Int): DataFrame =
          e.select(col("event_type"), lit(l).as("level"),
            col("e").cast("long").as("energy"))
        tag(e1, 1).unionByName(tag(e2, 2)).unionByName(tag(e3, 3))
          .unionByName(tag(e4, 4)).unionByName(tag(e5, 5))
          .orderBy("event_type", "level")
      }),

    // Inverse-propensity-weighted treatment effect (Horvitz & Thompson
    // JASA'52; Rosenbaum & Rubin Biometrika'83): does the BUILDING
    // segment spend more, reweighting away nation composition? Strata =
    // nations, p-hat_s = T_s/n_s (exact rational), each customer's
    // outcome (total order spend in exact cents) weighted by 1/p-hat or
    // 1/(1−p-hat); per-stratum terms are exact-integer products divided
    // once, rounded at 6 dp, DECIMAL-summed. Strata without overlap
    // (p-hat ∈ {0,1}) are excluded — the positivity condition stated in
    // the output. Per-stratum rows beside the pooled ATE.
    Q("q358_ipw_ate", Q.sql("""
        WITH cust AS (
          SELECT c_custkey AS ck, c_nationkey AS nk,
            CAST(c_mktsegment = 'BUILDING' AS INT) AS t
          FROM customer),
        spend AS (
          SELECT o_custkey AS ck,
            CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
              AS BIGINT) AS cents
          FROM orders GROUP BY 1),
        u AS (
          SELECT c.nk, c.t, COALESCE(s.cents, 0) AS y
          FROM cust c LEFT JOIN spend s ON s.ck = c.ck),
        strata AS (
          SELECT nk, CAST(count(*) AS BIGINT) AS n,
            CAST(sum(t) AS BIGINT) AS nt,
            CAST(sum(CASE WHEN t = 1 THEN y ELSE 0 END) AS BIGINT) AS yt,
            CAST(sum(CASE WHEN t = 0 THEN y ELSE 0 END) AS BIGINT) AS yc
          FROM u GROUP BY 1),
        ok AS (SELECT * FROM strata WHERE nt > 0 AND nt < n),
        terms AS (
          SELECT nk, n, nt,
            CAST(round(CAST(yt AS DOUBLE) * n / nt / 100.0, 6)
              AS DECIMAL(28,6)) AS wt,
            CAST(round(CAST(yc AS DOUBLE) * n / (n - nt) / 100.0, 6)
              AS DECIMAL(28,6)) AS wc
          FROM ok),
        pooled AS (
          SELECT CAST(sum(n) AS BIGINT) AS nn,
            round((CAST(sum(wt) AS DOUBLE) - CAST(sum(wc) AS DOUBLE))
              / CAST(sum(n) AS BIGINT), 6) AS ate
          FROM terms)
        SELECT t.nk AS nation, t.n, t.nt AS n_treated,
          round(CAST(t.nt AS DOUBLE) / t.n, 6) AS p_hat,
          p.nn AS n_used, p.ate
        FROM terms t, pooled p ORDER BY nation"""))(
      (s, dir) => {
        val cust = T(s, dir, "customer")
          .select(col("c_custkey").as("ck"), col("c_nationkey").as("nk"),
            (col("c_mktsegment") === "BUILDING").cast("int").as("t"))
        val spend = T(s, dir, "orders")
          .groupBy(col("o_custkey").as("ck"))
          .agg(sum(round(col("o_totalprice") * 100, 0).cast("long"))
            .cast("long").as("cents"))
        val u = cust.join(spend, Seq("ck"), "left")
          .select(col("nk"), col("t"),
            coalesce(col("cents"), lit(0L)).as("y"))
        val strata = u.groupBy("nk")
          .agg(count(lit(1)).cast("long").as("n"),
            sum(col("t")).cast("long").as("nt"),
            sum(when(col("t") === 1, col("y")).otherwise(0L)).cast("long")
              .as("yt"),
            sum(when(col("t") === 0, col("y")).otherwise(0L)).cast("long")
              .as("yc"))
        val ok = strata.where(col("nt") > 0 && col("nt") < col("n"))
        val terms = ok.select(col("nk"), col("n"), col("nt"),
          round(col("yt").cast("double") * col("n") / col("nt") / 100.0, 6)
            .cast("decimal(28,6)").as("wt"),
          round(col("yc").cast("double") * col("n") / (col("n") - col("nt"))
            / 100.0, 6).cast("decimal(28,6)").as("wc"))
        val pooled = terms.agg(sum(col("n")).cast("long").as("nn"),
          round((sum(col("wt")).cast("double")
            - sum(col("wc")).cast("double"))
            / sum(col("n")).cast("long"), 6).as("ate"))
        terms.crossJoin(broadcast(pooled))
          .select(col("nk").as("nation"), col("n"),
            col("nt").as("n_treated"),
            round(col("nt").cast("double") / col("n"), 6).as("p_hat"),
            col("nn").as("n_used"), col("ate"))
          .orderBy("nation")
      }),

    // Logit-bin calibration fit (binned Platt-style recalibration,
    // Platt '99 §2 linear-in-score form): empirical purchase rate per
    // value bin, logit = ln(p/(1−p)) per bin, OLS of logit vs bin
    // midpoint — slope/intercept ARE the calibration map a·s+b a score
    // pipeline applies downstream. Counts are exact integers; logits
    // are rounded at 9 dp; the OLS moments are DECIMAL-summed over the
    // 10-row bin frame.
    Q("q359_logit_calibration", Q.sql("""
        WITH b AS (
          SELECT CAST(least(floor(value / 50.0), 9) AS INT) AS bin,
            CAST(event_type = 'purchase' AS INT) AS y
          FROM events),
        cells AS (
          SELECT bin, CAST(count(*) AS BIGINT) AS n,
            CAST(sum(y) AS BIGINT) AS pos
          FROM b GROUP BY 1),
        lg AS (
          SELECT bin, n, pos,
            CAST(round(ln((CAST(pos AS DOUBLE) / n)
              / (1.0 - CAST(pos AS DOUBLE) / n)), 9) AS DECIMAL(28,9))
              AS logit
          FROM cells WHERE pos > 0 AND pos < n),
        mo AS (
          SELECT CAST(count(*) AS BIGINT) AS k,
            CAST(sum(CAST(bin AS DECIMAL(28,9))) AS DOUBLE) AS sx,
            CAST(sum(logit) AS DOUBLE) AS sy,
            CAST(sum(CAST(round(bin * CAST(logit AS DOUBLE), 9)
              AS DECIMAL(28,9))) AS DOUBLE) AS sxy,
            CAST(sum(CAST(bin AS DECIMAL(28,9)) * bin) AS DOUBLE) AS sxx
          FROM lg),
        fit AS (
          SELECT round((sxy - sx * sy / k) / (sxx - sx * sx / k), 6)
              AS slope,
            round(sy / k - (sxy - sx * sy / k) / (sxx - sx * sx / k)
              * sx / k, 6) AS intercept
          FROM mo)
        SELECT l.bin, l.n, l.pos, round(CAST(l.logit AS DOUBLE), 6)
            AS logit,
          f.slope, f.intercept
        FROM lg l, fit f ORDER BY l.bin"""))(
      (s, dir) => {
        val b = T(s, dir, "events")
          .select(least(floor(col("value") / 50.0), lit(9L)).cast("int")
            .as("bin"),
            (col("event_type") === "purchase").cast("int").as("y"))
        val cells = b.groupBy("bin")
          .agg(count(lit(1)).cast("long").as("n"),
            sum(col("y")).cast("long").as("pos"))
        val p = col("pos").cast("double") / col("n")
        val lg = cells.where(col("pos") > 0 && col("pos") < col("n"))
          .select(col("bin"), col("n"), col("pos"),
            round(log(p / (lit(1.0) - p)), 9).cast("decimal(28,9)")
              .as("logit"))
        val mo = lg.agg(count(lit(1)).cast("long").as("k"),
          sum(col("bin").cast("decimal(28,9)")).cast("double").as("sx"),
          sum(col("logit")).cast("double").as("sy"),
          sum(round(col("bin") * col("logit").cast("double"), 9)
            .cast("decimal(28,9)")).cast("double").as("sxy"),
          sum(col("bin").cast("decimal(28,9)") * col("bin")).cast("double")
            .as("sxx"))
        val slope = (col("sxy") - col("sx") * col("sy") / col("k")) /
          (col("sxx") - col("sx") * col("sx") / col("k"))
        val fit = mo.select(round(slope, 6).as("slope"),
          round(col("sy") / col("k") - slope * col("sx") / col("k"), 6)
            .as("intercept"))
        lg.crossJoin(broadcast(fit))
          .select(col("bin"), col("n"), col("pos"),
            round(col("logit").cast("double"), 6).as("logit"),
            col("slope"), col("intercept"))
          .orderBy("bin")
      }),

    // Markov stationary distribution (power iteration on q132's
    // transition matrix): two rounds of pi' = pi·P from uniform, then
    // renormalize — where user journeys SETTLE, the long-run page-mix
    // forecast q132's one-step matrix doesn't give. P's rows are exact
    // count rationals; per-entry products are rounded at 9 dp and
    // DECIMAL-summed per destination (order-independent); the 5-state
    // vector is a broadcast model frame at every step.
    Q("q360_markov_stationary", Q.sql("""
        WITH seq AS (
          SELECT event_type AS cur,
            lead(event_type) OVER (PARTITION BY user_id
              ORDER BY ts, event_id) AS nxt
          FROM events),
        tc AS (
          SELECT cur, nxt, CAST(count(*) AS BIGINT) AS n
          FROM seq WHERE nxt IS NOT NULL GROUP BY 1, 2),
        rt AS (SELECT cur, CAST(sum(n) AS BIGINT) AS rn FROM tc GROUP BY 1),
        k AS (SELECT CAST(count(*) AS BIGINT) AS k FROM rt),
        p1 AS (
          SELECT t.nxt AS st,
            CAST(sum(CAST(round((1.0 / k.k) * t.n / r.rn, 9)
              AS DECIMAL(28,9))) AS DOUBLE) AS pi
          FROM tc t JOIN rt r ON r.cur = t.cur, k GROUP BY 1),
        p2 AS (
          SELECT t.nxt AS st,
            CAST(sum(CAST(round(p1.pi * t.n / r.rn, 9) AS DECIMAL(28,9)))
              AS DOUBLE) AS pi
          FROM tc t JOIN rt r ON r.cur = t.cur JOIN p1 ON p1.st = t.cur
          GROUP BY 1),
        z AS (
          SELECT CAST(sum(CAST(round(pi, 9) AS DECIMAL(28,9))) AS DOUBLE)
            AS zs
          FROM p2)
        SELECT p2.st AS event_type, round(p2.pi / z.zs, 6) AS pi
        FROM p2, z ORDER BY event_type"""))(
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        val tc = T(s, dir, "events")
          .select(col("event_type").as("cur"),
            lead(col("event_type"), 1).over(w).as("nxt"))
          .where(col("nxt").isNotNull)
          .groupBy("cur", "nxt").agg(count(lit(1)).cast("long").as("n"))
        val rt = tc.groupBy("cur").agg(sum(col("n")).cast("long").as("rn"))
        val k = rt.agg(count(lit(1)).cast("long").as("k"))
        val p1 = tc.join(broadcast(rt), Seq("cur"))
          .crossJoin(broadcast(k))
          .groupBy(col("nxt").as("st"))
          .agg(sum(round((lit(1.0) / col("k")) * col("n") / col("rn"), 9)
            .cast("decimal(28,9)")).cast("double").as("pi"))
        val p2 = tc.join(broadcast(rt), Seq("cur"))
          .join(broadcast(p1.select(col("st").as("cur"),
            col("pi").as("pc"))), Seq("cur"))
          .groupBy(col("nxt").as("st"))
          .agg(sum(round(col("pc") * col("n") / col("rn"), 9)
            .cast("decimal(28,9)")).cast("double").as("pi"))
        val z = p2.agg(sum(round(col("pi"), 9).cast("decimal(28,9)"))
          .cast("double").as("zs"))
        p2.crossJoin(broadcast(z))
          .select(col("st").as("event_type"),
            round(col("pi") / col("zs"), 6).as("pi"))
          .orderBy("event_type")
      }),

    // Jackknife variance of a ratio estimator (Quenouille '49; Tukey
    // '58): R = Σ revenue / Σ quantity over lineitem, strata = 25
    // supplier groups; each leave-one-out replicate is EXACT decimal
    // arithmetic (totals minus the stratum), var_jack =
    // (G−1)/G·Σ(R_g − R̄)² — THE cheap distributed variance for any
    // nonlinear statistic a closed-form SE doesn't cover. Replicates
    // are rounded at 9 dp; the spread moments are DECIMAL-summed.
    Q("q361_jackknife_ratio", Q.sql("""
        WITH g AS (
          SELECT CAST(l_suppkey % 25 AS BIGINT) AS grp,
            CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
              AS BIGINT) AS rev,
            CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
          FROM lineitem GROUP BY 1),
        tot AS (
          SELECT CAST(sum(rev) AS BIGINT) AS srev,
            CAST(sum(qty) AS BIGINT) AS sqty,
            CAST(count(*) AS BIGINT) AS gn
          FROM g),
        rep AS (
          SELECT g.grp,
            CAST(round(CAST(t.srev - g.rev AS DOUBLE)
              / CAST(t.sqty - g.qty AS DOUBLE) / 100.0, 9)
              AS DECIMAL(28,9)) AS r_g,
            t.gn, t.srev, t.sqty
          FROM g, tot t),
        mo AS (
          SELECT CAST(max(gn) AS BIGINT) AS gn,
            CAST(sum(r_g) AS DOUBLE) AS sr
          FROM rep),
        rb AS (SELECT gn, round(sr / gn, 9) AS rbar FROM mo),
        ctr AS (
          SELECT rb.gn,
            CAST(sum(CAST(round((CAST(r_g AS DOUBLE) - rbar)
              * (CAST(r_g AS DOUBLE) - rbar), 9) AS DECIMAL(28,9)))
              AS DOUBLE) AS css
          FROM rep, rb GROUP BY rb.gn),
        vj AS (
          SELECT gn,
            round(CAST(gn - 1 AS DOUBLE) / gn * css, 9) AS var_jack
          FROM ctr)
        SELECT r.grp, round(CAST(r.r_g AS DOUBLE), 6) AS r_loo,
          round(CAST(r.srev AS DOUBLE) / r.sqty / 100.0, 6) AS r_full,
          v.var_jack, round(sqrt(v.var_jack), 6) AS se_jack
        FROM rep r, vj v ORDER BY r.grp"""))(
      (s, dir) => {
        val g = T(s, dir, "lineitem")
          .groupBy((col("l_suppkey") % 25).cast("long").as("grp"))
          .agg(sum(round(col("l_extendedprice") * 100, 0).cast("long"))
            .cast("long").as("rev"),
            sum(col("l_quantity").cast("long")).cast("long").as("qty"))
        val tot = g.agg(sum(col("rev")).cast("long").as("srev"),
          sum(col("qty")).cast("long").as("sqty"),
          count(lit(1)).cast("long").as("gn"))
        val rep = g.crossJoin(broadcast(tot))
          .select(col("grp"),
            round((col("srev") - col("rev")).cast("double")
              / (col("sqty") - col("qty")).cast("double") / 100.0, 9)
              .cast("decimal(28,9)").as("r_g"),
            col("gn"), col("srev"), col("sqty"))
        // CENTERED spread about the 9dp-rounded mean: the raw-moment
        // form (srr − sr²/gn) cancels ~8 digits, amplifying the 1-ulp
        // decimal→double cast divergence between engines above the
        // round@9 floor (sf0.001); centering first keeps every term
        // O(spread), and rbar's own round@9 absorbs the ulp.
        val mo = rep.agg(max(col("gn")).cast("long").as("gn"),
          sum(col("r_g")).cast("double").as("sr"))
        val rb = mo.select(round(col("sr") / col("gn"), 9).as("rbar"))
        val ctr = rep.crossJoin(broadcast(rb))
          .groupBy("gn")
          .agg(sum(round((col("r_g").cast("double") - col("rbar"))
              * (col("r_g").cast("double") - col("rbar")), 9)
            .cast("decimal(28,9)")).cast("double").as("css"))
        val vj = ctr.select(col("gn"),
          round((col("gn") - 1).cast("double") / col("gn") * col("css"), 9)
            .as("var_jack"))
        rep.crossJoin(broadcast(vj))
          .select(col("grp"), round(col("r_g").cast("double"), 6)
            .as("r_loo"),
            round(col("srev").cast("double") / col("sqty") / 100.0, 6)
              .as("r_full"),
            col("var_jack"), round(sqrt(col("var_jack")), 6).as("se_jack"))
          .orderBy("grp")
      })
  )
}
