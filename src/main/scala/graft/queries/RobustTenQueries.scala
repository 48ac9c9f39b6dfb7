package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables.{load => T}
import graft.ops.Relational.dsum
import graft.queries.Bases.{dailyMass, dailyMassSql}
import graft.text.TextAnalysis

/** Round-10 batch 10: robust-tail, diversity, ranking-cascade,
  * inequality, and competing-risk operators — the medcouple with
  * adjusted boxplot fences, Hill diversity numbers, expected reciprocal
  * rank, the Atkinson inequality index, and Aalen-Johansen cumulative
  * incidence — each oracle-checked bit-for-bit against DuckDB.
  */
object RobustTenQueries {

  def all: Seq[Q] = Seq(

    // Medcouple + adjusted boxplot (Brys-Hubert-Struyf JCGS'04; Hubert
    // & Vandervieren CSDA'08) — the robust SKEW statistic that fixes
    // Tukey fences on asymmetric data: MC = median of the kernel
    // h(x_i,x_j) = ((x_j−m)−(m−x_i))/(x_j−x_i) over strictly-below ×
    // strictly-above-median pairs, fences [Q1 − 1.5e^{−4MC}·IQR,
    // Q3 + 1.5e^{3MC}·IQR]. Pairs live on the calendar-bounded daily
    // frame (days², broadcast — never event-level); h is a ratio of
    // exact integers so both engines walk identical doubles, and the
    // kernel median picks rank ⌈k/2⌉ under the deterministic
    // (h, xi, xj) order. Quartiles/median from the value-grouped
    // prefix.
    Q("q426_medcouple_fences", Q.sql(s"""
        WITH d AS ($dailyMassSql),
        vc AS (
          SELECT event_type, v, CAST(count(*) AS BIGINT) AS c
          FROM d GROUP BY 1, 2),
        cum AS (
          SELECT a.event_type, a.v, CAST(sum(b.c) AS BIGINT) AS cc
          FROM vc a JOIN vc b ON b.event_type = a.event_type
            AND b.v <= a.v
          GROUP BY 1, 2),
        nn AS (
          SELECT event_type, CAST(count(*) AS BIGINT) AS n
          FROM d GROUP BY 1),
        med AS (
          SELECT cum.event_type, min(v) AS m
          FROM cum JOIN nn ON nn.event_type = cum.event_type
          WHERE cc >= (nn.n + 1) // 2 GROUP BY 1),
        q1 AS (
          SELECT cum.event_type, min(v) AS q1
          FROM cum JOIN nn ON nn.event_type = cum.event_type
          WHERE cc >= (nn.n + 3) // 4 GROUP BY 1),
        q3 AS (
          SELECT cum.event_type, min(v) AS q3
          FROM cum JOIN nn ON nn.event_type = cum.event_type
          WHERE cc >= (3 * nn.n + 3) // 4 GROUP BY 1),
        h AS (
          SELECT lo.event_type,
            (CAST(hi.v - med.m AS DOUBLE) - (med.m - lo.v))
              / (hi.v - lo.v) AS h, lo.v AS xi, hi.v AS xj
          FROM d lo
          JOIN med ON med.event_type = lo.event_type
          JOIN d hi ON hi.event_type = lo.event_type
          WHERE lo.v < med.m AND hi.v > med.m),
        hr AS (
          SELECT event_type, h,
            row_number() OVER (PARTITION BY event_type
              ORDER BY h, xi, xj) AS rk,
            CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS k
          FROM h),
        mc AS (
          SELECT event_type, h AS mc FROM hr WHERE rk = (k + 1) // 2),
        f AS (
          SELECT mc.event_type, mc.mc, med.m, q1.q1, q3.q3,
            q1.q1 - 1.5 * exp(-4 * mc.mc) * (q3.q3 - q1.q1) AS lo_fence,
            q3.q3 + 1.5 * exp(3 * mc.mc) * (q3.q3 - q1.q1) AS hi_fence
          FROM mc
          JOIN med ON med.event_type = mc.event_type
          JOIN q1 ON q1.event_type = mc.event_type
          JOIN q3 ON q3.event_type = mc.event_type),
        out_c AS (
          SELECT d.event_type,
            CAST(sum(CASE WHEN d.v < f.lo_fence OR d.v > f.hi_fence
              THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
          FROM d JOIN f ON f.event_type = d.event_type GROUP BY 1)
        SELECT f.event_type, round(f.mc, 6) AS medcouple,
          round(f.lo_fence / 1e7, 6) AS lo_fence_kd,
          round(f.hi_fence / 1e7, 6) AS hi_fence_kd,
          out_c.n_outliers
        FROM f JOIN out_c ON out_c.event_type = f.event_type
        ORDER BY f.event_type"""))(
      (s, dir) => {
        // cached: d feeds five consumers (vc, nn, lo, hi, outC) — one
        // events scan instead of five. cache, NOT localCheckpoint:
        // descendants of d carry broadcast hints (hi, f), and a
        // checkpoint's LogicalRDD would hide the domain-keyed lineage
        // PlanInvariantsSpec traces (cache boundaries are transparent)
        val d = graft.ops.Frames.cached(dailyMass(s, dir).coalesce(4))
        val vc = d.groupBy("event_type", "v").agg(count(lit(1)).as("c"))
        val cum = graft.ops.Prefix.runningTotal(
          vc, Seq(col("v")), col("c"), "cc", strataCols = Seq("event_type"))
        val nn = d.groupBy("event_type").agg(count(lit(1)).as("n"))
        val withN = cum.join(broadcast(nn), "event_type")
        def pick(thr: String, as: String): DataFrame =
          withN.where(col("cc") >= expr(thr))
            .groupBy("event_type").agg(min(col("v")).as(as))
        val med = pick("(n + 1) div 2", "m")
        val q1 = pick("(n + 3) div 4", "q1")
        val q3 = pick("(3 * n + 3) div 4", "q3")
        val lo = d.join(broadcast(med), "event_type")
          .where(col("v") < col("m"))
          .select(col("event_type"), col("m"), col("v").as("xi"))
        val hi = broadcast(d.join(broadcast(med), "event_type")
          .where(col("v") > col("m"))
          .select(col("event_type").as("et2"), col("v").as("xj")))
        val h = lo.join(hi, col("et2") === col("event_type"))
          .select(col("event_type"),
            (((col("xj") - col("m")).cast("double") - (col("m") - col("xi")))
              / (col("xj") - col("xi"))).as("h"), col("xi"), col("xj"))
        val w = Window.partitionBy("event_type")
        val hr = h.select(col("event_type"), col("h"),
          row_number().over(w.orderBy("h", "xi", "xj")).as("rk"),
          count(lit(1)).over(w).as("k"))
        val mc = hr.where(col("rk") === expr("(k + 1) div 2"))
          .select(col("event_type"), col("h").as("mc"))
        // cached (|types|-row frame): f feeds the outlier count and the
        // final join — the barrier runs the medcouple kernel (the
        // lo x hi pair window) once. cache, NOT localCheckpoint: f is
        // broadcast-hinted below, and a checkpoint's LogicalRDD would
        // hide the domain-keyed lineage PlanInvariantsSpec traces to
        // prove the hint model-sized (cache boundaries are transparent)
        val f = graft.ops.Frames.cached(
          mc.join(broadcast(med), "event_type")
          .join(broadcast(q1), "event_type")
          .join(broadcast(q3), "event_type")
          .select(col("event_type"), col("mc"),
            (col("q1") - lit(1.5) * exp(lit(-4) * col("mc"))
              * (col("q3") - col("q1"))).as("lo_fence"),
            (col("q3") + lit(1.5) * exp(lit(3) * col("mc"))
              * (col("q3") - col("q1"))).as("hi_fence")).coalesce(1))
        val outC = d.join(broadcast(f), "event_type")
          .groupBy("event_type")
          .agg(sum(when(col("v") < col("lo_fence")
            || col("v") > col("hi_fence"), 1L).otherwise(0L))
            .as("n_outliers"))
        f.join(outC, "event_type")
          .select(col("event_type"), round(col("mc"), 6).as("medcouple"),
            round(col("lo_fence") / lit(1e7), 6).as("lo_fence_kd"),
            round(col("hi_fence") / lit(1e7), 6).as("hi_fence_kd"),
            col("n_outliers"))
          .orderBy("event_type")
      }),

    // Hill diversity numbers (Hill Ecology'73) — the q-profile that
    // unifies the corpus-diversity zoo: D0 = vocabulary richness
    // (q273's Chao1 input), D1 = exp(Shannon H) (q111's entropy),
    // D2 = inverse Simpson = N²/Σc² (q321's HHI reciprocal) — per
    // source, from ONE tokenize pass and one token-count agg. D2 is an
    // exact integer ratio; D1 follows the q149 rounded-ln/DECIMAL
    // discipline; evenness = D1/D0.
    Q("q427_hill_numbers", Q.sql("""
        WITH toks AS (
          SELECT source, unnest(string_split(lower(regexp_replace(
            trim(text), '\\s+', ' ', 'g')), ' ')) AS tok
          FROM documents),
        tc AS (
          SELECT source, tok, CAST(count(*) AS BIGINT) AS c
          FROM toks GROUP BY 1, 2),
        tot AS (
          SELECT source, CAST(sum(c) AS BIGINT) AS nt
          FROM tc GROUP BY 1),
        g AS (
          SELECT tc.source, CAST(count(*) AS BIGINT) AS d0,
            CAST(sum(c) AS BIGINT) AS n,
            CAST(sum(CAST(c AS HUGEINT) * c) AS DECIMAL(38,0)) AS sc2,
            CAST(sum(CAST(round(
              -(CAST(c AS DOUBLE) / tot.nt)
                * round(ln(CAST(c AS DOUBLE) / tot.nt), 6), 8)
              AS DECIMAL(27,8))) AS DOUBLE) AS h
          FROM tc JOIN tot ON tot.source = tc.source GROUP BY 1),
        f AS (
          SELECT source, d0, n, round(exp(h), 6) AS d1,
            round(CAST(n AS DOUBLE) * n / CAST(sc2 AS DOUBLE), 6) AS d2
          FROM g)
        SELECT source, n AS n_tokens, d0 AS richness, d1 AS shannon_d1,
          d2 AS simpson_d2, round(d1 / d0, 6) AS evenness
        FROM f ORDER BY source"""))(
      (s, dir) => {
        val toks = T(s, dir, "documents")
          .select(col("source"), explode(TextAnalysis.tokens(
            TextAnalysis.normalizeText(col("text")))).as("tok"))
        val tc = toks.groupBy("source", "tok").agg(count(lit(1)).as("c"))
        val tot = tc.groupBy("source").agg(sum(col("c")).as("nt"))
        val g = tc.join(broadcast(tot), "source")
          .groupBy("source")
          .agg(count(lit(1)).as("d0"), sum(col("c")).as("n"),
            sum(col("c").cast("decimal(19,0)") * col("c"))
              .cast("decimal(38,0)").as("sc2"),
            dsum(round(-(col("c").cast("double") / col("nt"))
              * round(log(col("c").cast("double") / col("nt")), 6), 8), 8)
              .as("h"))
        val f = g.select(col("source"), col("d0"), col("n"),
          round(exp(col("h")), 6).as("d1"),
          round(col("n").cast("double") * col("n")
            / col("sc2").cast("double"), 6).as("d2"))
        f.select(col("source"), col("n").as("n_tokens"),
            col("d0").as("richness"), col("d1").as("shannon_d1"),
            col("d2").as("simpson_d2"),
            round(col("d1") / col("d0"), 6).as("evenness"))
          .orderBy("source")
      }),

    // Expected reciprocal rank (Chapelle CIKM'09) — the cascade-model
    // companion to q341's MRR/q150's nDCG: graded relevance from spend
    // bands R = (2^g − 1)/8, g ∈ 0..3, over each user's first 20
    // events; ERR = Σ_r (1/r)·R_r·Π_{i<r}(1−R_i). The stop
    // probabilities Π(1−R) ride a user-PARTITIONED prefix of
    // rounded@6 lns of the four dyadic constants, per-rank terms
    // rounded@9, per-user ERRs rounded@6 and DECIMAL-averaged per
    // user-id cohort. Windows are user-partitioned; lists capped at 20.
    Q("q428_err", Q.sql("""
        WITH ev AS (
          SELECT user_id, ts, event_id,
            least(CAST(3 AS BIGINT),
              CAST(floor(value * 10000 + 0.5) AS BIGINT) // 500000) AS g
          FROM events),
        rk AS (
          SELECT user_id, g,
            CAST(row_number() OVER (PARTITION BY user_id
              ORDER BY ts, event_id) AS BIGINT) AS r
          FROM ev),
        top20 AS (
          SELECT user_id, r,
            (power(2, g) - 1) / 8 AS rel,
            CASE WHEN g = 0 THEN 0.0
              ELSE round(ln(1 - (power(2, g) - 1) / 8), 6) END AS lnr
          FROM rk WHERE r <= 20),
        walk AS (
          SELECT user_id, r, rel,
            exp(CAST(coalesce(sum(CAST(lnr AS DECIMAL(27,6)))
              OVER (PARTITION BY user_id ORDER BY r
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
              CAST(0 AS DECIMAL(27,6))) AS DOUBLE)) AS stop_prob
          FROM top20),
        per_user AS (
          SELECT user_id,
            round(CAST(sum(CAST(round(rel / r * stop_prob, 9)
              AS DECIMAL(27,9))) AS DOUBLE), 6) AS err
          FROM walk GROUP BY 1),
        coh AS (
          SELECT user_id % 3 AS cohort, CAST(count(*) AS BIGINT) AS users,
            CAST(sum(CAST(err AS DECIMAL(27,6))) AS DOUBLE) AS s
          FROM per_user GROUP BY 1)
        SELECT CAST(cohort AS BIGINT) AS cohort, users,
          round(s / users, 6) AS mean_err
        FROM coh ORDER BY cohort"""))(
      (s, dir) => {
        val ev = T(s, dir, "events")
          .select(col("user_id"), col("ts"), col("event_id"),
            least(lit(3L), expr(
              "CAST(floor(value * 10000 + 0.5) AS BIGINT) div 500000"))
              .as("g"))
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val rk = ev.select(col("user_id"), col("g"),
          row_number().over(w).cast("long").as("r"))
        val rel = (pow(lit(2), col("g")) - 1) / 8
        val top20 = rk.where(col("r") <= 20)
          .select(col("user_id"), col("r"), rel.as("rel"),
            when(col("g") === 0, lit(0.0))
              .otherwise(round(log(lit(1) - rel), 6)).as("lnr"))
        val wPrev = Window.partitionBy("user_id").orderBy("r")
          .rowsBetween(Window.unboundedPreceding, -1)
        val walk = top20.select(col("user_id"), col("r"), col("rel"),
          exp(coalesce(sum(col("lnr").cast("decimal(27,6)")).over(wPrev),
            lit(0).cast("decimal(27,6)")).cast("double")).as("stop_prob"))
        val perUser = walk.groupBy("user_id")
          .agg(round(dsum(round(col("rel") / col("r") * col("stop_prob"),
            9), 9), 6).as("err"))
        val coh = perUser.groupBy((col("user_id") % 3).as("cohort"))
          .agg(count(lit(1)).as("users"),
            dsum(col("err"), 6).as("s"))
        coh.select(col("cohort").cast("long").as("cohort"), col("users"),
            round(col("s") / col("users"), 6).as("mean_err"))
          .orderBy("cohort")
      }),

    // Atkinson inequality index (Atkinson JET'70) — the
    // welfare-grounded companion to Gini (q188) / Theil (q326): per
    // type over daily revenues, A(1) = 1 − geomean/mean (geometric
    // mean via the rounded-ln DECIMAL chain) and A(2) = 1 −
    // harmonic/mean (reciprocals in kilodollar units rounded@9 so the
    // sum is order-free). One agg per type; exact arithmetic mean.
    Q("q429_atkinson", Q.sql(s"""
        WITH d AS ($dailyMassSql),
        g AS (
          SELECT event_type, CAST(count(*) AS BIGINT) AS n,
            CAST(sum(v) AS BIGINT) AS sv,
            CAST(sum(CAST(round(ln(v / 1e7), 6) AS DECIMAL(27,6)))
              AS DOUBLE) AS sln,
            CAST(sum(CAST(round(1 / (v / 1e7), 9) AS DECIMAL(27,9)))
              AS DOUBLE) AS srec
          FROM d WHERE v > 0 GROUP BY 1),
        f AS (
          SELECT event_type, n,
            CAST(sv AS DOUBLE) / n / 1e7 AS mean_kd,
            exp(sln / n) AS geo_kd,
            n / srec AS harm_kd
          FROM g)
        SELECT event_type, n AS n_days, round(mean_kd, 6) AS mean_kd,
          round(1 - geo_kd / mean_kd, 6) AS atkinson_1,
          round(1 - harm_kd / mean_kd, 6) AS atkinson_2
        FROM f ORDER BY event_type"""))(
      (s, dir) => {
        val d = dailyMass(s, dir).where(col("v") > 0)
        val vkd = col("v") / lit(1e7)
        val g = d.groupBy("event_type").agg(count(lit(1)).as("n"),
          sum(col("v")).as("sv"),
          dsum(round(log(vkd), 6), 6).as("sln"),
          dsum(round(lit(1) / vkd, 9), 9).as("srec"))
        val f = g.select(col("event_type"), col("n"),
          (col("sv").cast("double") / col("n") / lit(1e7)).as("mean_kd"),
          exp(col("sln") / col("n")).as("geo_kd"),
          (col("n") / col("srec")).as("harm_kd"))
        f.select(col("event_type"), col("n").as("n_days"),
            round(col("mean_kd"), 6).as("mean_kd"),
            round(lit(1) - col("geo_kd") / col("mean_kd"), 6)
              .as("atkinson_1"),
            round(lit(1) - col("harm_kd") / col("mean_kd"), 6)
              .as("atkinson_2"))
          .orderBy("event_type")
      }),

    // Aalen-Johansen cumulative incidence under competing risks
    // (Aalen & Johansen SJS'78) — after signup, does a user hit an
    // ERROR or a PURCHASE first? Treating the loser as censoring (the
    // 1−KM mistake) overstates both; the CIF is the honest split:
    // CIF_k(t) = Σ_{s≤t} S(s⁻)·d_k(s)/n(s) with S the all-cause KM.
    // Risk sets, the S(s⁻) log-chain, and both CIF accumulations are
    // distributed-prefix passes over the day-grouped event-time frame
    // (calendar-bounded) — the q162/q397 machinery, never a global
    // window; increments rounded@9 and DECIMAL-prefix-summed.
    Q("q430_competing_risks", Q.sql("""
        WITH su AS (
          SELECT user_id, min(epoch_us(ts)) AS s_us
          FROM events WHERE event_type = 'signup' GROUP BY 1),
        cand AS (
          SELECT e.user_id, epoch_us(e.ts) AS us, e.event_type
          FROM events e JOIN su ON e.user_id = su.user_id
          WHERE e.event_type IN ('error', 'purchase')
            AND epoch_us(e.ts) > su.s_us),
        ft AS (
          SELECT user_id, min(us) AS f_us FROM cand GROUP BY 1),
        first_ev AS (
          SELECT cand.user_id, min(cand.event_type) AS cause,
            ft.f_us
          FROM cand JOIN ft ON ft.user_id = cand.user_id
            AND ft.f_us = cand.us
          GROUP BY 1, 3),
        horizon AS (SELECT max(epoch_us(ts)) AS h_us FROM events),
        obs AS (
          SELECT su.user_id,
            CAST(floor((coalesce(f.f_us, horizon.h_us) - su.s_us)
              / 86400000000.0) AS BIGINT) AS t,
            CASE WHEN f.cause = 'error' THEN 1
              WHEN f.cause = 'purchase' THEN 2 ELSE 0 END AS cause
          FROM su LEFT JOIN first_ev f ON su.user_id = f.user_id, horizon),
        tc AS (
          SELECT t, CAST(sum(CASE WHEN cause = 1 THEN 1 ELSE 0 END)
              AS BIGINT) AS d1,
            CAST(sum(CASE WHEN cause = 2 THEN 1 ELSE 0 END) AS BIGINT)
              AS d2,
            CAST(count(*) AS BIGINT) AS ending
          FROM obs GROUP BY 1),
        risk AS (
          SELECT a.t, a.d1, a.d2,
            CAST((SELECT count(*) FROM obs)
              - sum(CASE WHEN b.t < a.t THEN b.ending ELSE 0 END)
              AS BIGINT) AS n_t
          FROM tc a JOIN tc b ON TRUE GROUP BY 1, 2, 3),
        ev AS (
          SELECT t, d1, d2, n_t,
            CASE WHEN d1 + d2 < n_t
              THEN CAST(round(ln(1 - CAST(d1 + d2 AS DOUBLE) / n_t), 6)
                AS DECIMAL(27,6))
              ELSE CAST(0 AS DECIMAL(27,6)) END AS lt,
            CASE WHEN d1 + d2 >= n_t THEN 1 ELSE 0 END AS collapse
          FROM risk WHERE d1 + d2 > 0),
        km AS (
          SELECT t, d1, d2, n_t,
            CASE WHEN coalesce(max(collapse) OVER (ORDER BY t
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) = 1
              THEN 0.0
              ELSE round(exp(CAST(coalesce(sum(lt) OVER (ORDER BY t
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                CAST(0 AS DECIMAL(27,6))) AS DOUBLE)), 6) END AS s_minus
          FROM ev),
        inc AS (
          SELECT t, d1, d2, n_t, s_minus,
            CAST(round(s_minus * d1 / n_t, 9) AS DECIMAL(27,9)) AS i1,
            CAST(round(s_minus * d2 / n_t, 9) AS DECIMAL(27,9)) AS i2
          FROM km),
        cif AS (
          SELECT t, d1, d2, n_t, s_minus,
            CAST(sum(i1) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED
              PRECEDING AND CURRENT ROW) AS DOUBLE) AS cif_error,
            CAST(sum(i2) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED
              PRECEDING AND CURRENT ROW) AS DOUBLE) AS cif_purchase
          FROM inc)
        SELECT t AS day, d1 AS d_error, d2 AS d_purchase, n_t,
          s_minus, round(cif_error, 6) AS cif_error,
          round(cif_purchase, 6) AS cif_purchase
        FROM cif ORDER BY t"""))(
      (s, dir) => {
        val evts = T(s, dir, "events")
        val su = evts.where(col("event_type") === "signup")
          .groupBy(col("user_id"))
          .agg(min(unix_micros(col("ts"))).as("s_us"))
        val cand = evts
          .where(col("event_type").isin("error", "purchase"))
          .join(su, "user_id")
          .where(unix_micros(col("ts")) > col("s_us"))
          .select(col("user_id"), unix_micros(col("ts")).as("us"),
            col("event_type"))
        // first event per user = lexicographic struct min over
        // (us, event_type): identical to "min(us), then min(event_type)
        // among ties" but ONE hash aggregation instead of two aggs + a
        // self-join re-deriving cand (the events scan ran twice)
        val fe = cand.groupBy(col("user_id"))
          .agg(min(struct(col("us"), col("event_type"))).as("__m"))
          .select(col("user_id"), col("__m.event_type").as("cause"),
            col("__m.us").as("f_us"))
        val horizon = evts.agg(max(unix_micros(col("ts"))).as("h_us"))
        // materialized: obs feeds two consumers (nTotal, tc) — without
        // the barrier each re-executes the signup/first-event join chain
        val obs = graft.ops.Frames.materialize(
          su.join(fe, Seq("user_id"), "left")
          .crossJoin(broadcast(horizon))
          .select(
            floor((coalesce(col("f_us"), col("h_us")) - col("s_us"))
              / lit(86400000000.0)).cast("long").as("t"),
            when(col("cause") === "error", 1)
              .when(col("cause") === "purchase", 2).otherwise(0)
              .as("cause")))
        val nTotal = obs.agg(count(lit(1)).as("n_total"))
        val tc = obs.groupBy("t")
          .agg(sum(when(col("cause") === 1, 1L).otherwise(0L)).as("d1"),
            sum(when(col("cause") === 2, 1L).otherwise(0L)).as("d2"),
            count(lit(1)).as("ending"))
        val risk = graft.ops.Prefix.runningTotal(
            tc.crossJoin(broadcast(nTotal)), Seq(col("t")),
            col("ending"), "__cum")
          .select(col("t"), col("d1"), col("d2"),
            (col("n_total") - (col("__cum") - col("ending")))
              .cast("long").as("n_t"))
        val dd = col("d1") + col("d2")
        val ev = risk.where(dd > 0)
          .select(col("t"), col("d1"), col("d2"), col("n_t"),
            when(dd < col("n_t"),
              round(log(lit(1) - dd.cast("double") / col("n_t")), 6))
              .otherwise(lit(0.0)).cast("decimal(27,6)").as("lt"),
            when(dd >= col("n_t"), 1L).otherwise(0L).as("collapse"))
        // EXCLUSIVE prefixes (S(s-) and collapse-before-s): subtract the
        // current row from the inclusive running totals. Both series
        // share the order key t, so one multi-series prefix pass covers
        // them (half the range-sample/checkpoint fixed cost of two
        // chained passes).
        val cum1 = graft.ops.Prefix.runningTotals(ev, Seq(col("t")),
          Seq((col("lt"), "__cl"), (col("collapse"), "__cc")))
        val km = cum1.select(col("t"), col("d1"), col("d2"), col("n_t"),
          when(col("__cc") - col("collapse") >= 1, lit(0.0))
            .otherwise(round(exp((col("__cl") - col("lt")).cast("double")),
              6)).as("s_minus"))
        val inc = km.select(col("t"), col("d1"), col("d2"), col("n_t"),
          col("s_minus"),
          round(col("s_minus") * col("d1") / col("n_t"), 9)
            .cast("decimal(27,9)").as("i1"),
          round(col("s_minus") * col("d2") / col("n_t"), 9)
            .cast("decimal(27,9)").as("i2"))
        val cif = graft.ops.Prefix.runningTotals(inc, Seq(col("t")),
          Seq((col("i1"), "__c1"), (col("i2"), "__c2")))
        cif.select(col("t").as("day"), col("d1").as("d_error"),
            col("d2").as("d_purchase"), col("n_t"), col("s_minus"),
            round(col("__c1").cast("double"), 6).as("cif_error"),
            round(col("__c2").cast("double"), 6).as("cif_purchase"))
          .orderBy("day")
      })
  )
}
