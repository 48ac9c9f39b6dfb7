package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.{load => T}
import graft.ops.Relational.dsum
import graft.queries.Bases.{dailyMass, dailyMassSql, signupError,
  signupErrorSql}
import graft.text.TextAnalysis

/** Round-10 batch 13: reliability-engineering and agreement operators —
  * Deming errors-in-both-variables regression, the Weibull median-rank
  * fit, process capability indices, mean absolute scaled error, and
  * Krippendorff's alpha — each oracle-checked bit-for-bit against
  * DuckDB.
  */
object ReliabilityQueries {

  def all: Seq[Q] = Seq(

    // Deming regression (Deming '43, λ = 1) — the errors-in-BOTH-
    // variables line that method comparison needs where OLS (which
    // blames x for nothing) attenuates: β = (s_yy − s_xx +
    // √((s_yy−s_xx)² + 4s_xy²))/(2s_xy) from exact centered DECIMAL
    // moments over the paired purchase/click days, OLS slope beside it
    // to show the attenuation. One scan, one agg, closed form.
    Q("q440_deming_regression", Q.sql(s"""
        WITH d AS ($dailyMassSql),
        w AS (
          SELECT day,
            max(CASE WHEN event_type = 'click' THEN v END) AS x,
            max(CASE WHEN event_type = 'purchase' THEN v END) AS y
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
          SELECT n, sx, sy,
            n * CAST(qx AS DOUBLE) - CAST(sx AS DOUBLE) * sx AS cxx,
            n * CAST(qy AS DOUBLE) - CAST(sy AS DOUBLE) * sy AS cyy,
            n * CAST(qxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy AS cxy
          FROM m),
        fit AS (
          SELECT n, sx, sy, cxy, cxx,
            (cyy - cxx + sqrt((cyy - cxx) * (cyy - cxx)
              + 4 * cxy * cxy)) / (2 * cxy) AS beta
          FROM c)
        SELECT n AS n_days, round(beta, 6) AS deming_slope,
          round((CAST(sy AS DOUBLE) - beta * sx) / n / 1e7, 6)
            AS deming_intercept_kd,
          round(cxy / cxx, 6) AS ols_slope
        FROM fit"""))(
      (s, dir) => {
        val d = dailyMass(s, dir)
          .where(col("event_type").isin("purchase", "click"))
        val w = d.groupBy("day").agg(
          max(when(col("event_type") === "click", col("v"))).as("x"),
          max(when(col("event_type") === "purchase", col("v"))).as("y"))
        val f = w.where(col("x").isNotNull && col("y").isNotNull)
        val m = f.agg(count(lit(1)).as("n"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x").cast("decimal(19,0)") * col("x"))
            .cast("decimal(38,0)").as("qx"),
          sum(col("y").cast("decimal(19,0)") * col("y"))
            .cast("decimal(38,0)").as("qy"),
          sum(col("x").cast("decimal(19,0)") * col("y"))
            .cast("decimal(38,0)").as("qxy"))
        val c = m.select(col("n"), col("sx"), col("sy"),
          (col("n") * col("qx").cast("double")
            - col("sx").cast("double") * col("sx")).as("cxx"),
          (col("n") * col("qy").cast("double")
            - col("sy").cast("double") * col("sy")).as("cyy"),
          (col("n") * col("qxy").cast("double")
            - col("sx").cast("double") * col("sy")).as("cxy"))
        val beta = (col("cyy") - col("cxx")
          + sqrt((col("cyy") - col("cxx")) * (col("cyy") - col("cxx"))
            + lit(4) * col("cxy") * col("cxy")))
          .divide(lit(2) * col("cxy"))
        val fit = c.select(col("n"), col("sx"), col("sy"), col("cxy"),
          col("cxx"), beta.as("beta"))
        fit.select(col("n").as("n_days"),
          round(col("beta"), 6).as("deming_slope"),
          round((col("sy").cast("double") - col("beta") * col("sx"))
            / col("n") / lit(1e7), 6).as("deming_intercept_kd"),
          round(col("cxy") / col("cxx"), 6).as("ols_slope"))
      }),

    // Weibull median-rank fit (Weibull '51; Benard's approximation) —
    // the reliability-engineering distribution fit for q162's
    // signup→first-error times: order the uncensored times under the
    // total (t, user_id) order (rank from the DISTRIBUTED prefix),
    // F_i = (i − 0.3)/(n + 0.4) (literals DOUBLE-cast), regress
    // y = ln(−ln(1−F)) on x = ln(t+1); shape k = slope, scale λ =
    // exp(−α/k) − 1 days. Both axes rounded@6, products rounded@8 and
    // DECIMAL-summed so the OLS moments are order-free.
    Q("q441_weibull_fit", Q.sql(s"""
        $signupErrorSql,
        obs AS (
          SELECT su.user_id,
            CAST(floor((er.e_us - su.s_us) / 86400000000.0) AS BIGINT)
              AS t
          FROM su JOIN er ON su.user_id = er.user_id),
        nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM obs),
        rk AS (
          SELECT a.t, CAST(count(*) AS BIGINT) AS i
          FROM obs a JOIN obs b
            ON (b.t, b.user_id) <= (a.t, a.user_id)
          GROUP BY a.t, a.user_id),
        xy AS (
          SELECT round(ln(CAST(t + 1 AS DOUBLE)), 6) AS x,
            round(ln(-ln(1 - (i - CAST(0.3 AS DOUBLE))
              / (nn.n + CAST(0.4 AS DOUBLE)))), 6) AS y
          FROM rk, nn),
        m AS (
          SELECT CAST(count(*) AS BIGINT) AS n,
            CAST(sum(CAST(round(x, 6) AS DECIMAL(27,6))) AS DOUBLE) AS sx,
            CAST(sum(CAST(round(y, 6) AS DECIMAL(27,6))) AS DOUBLE) AS sy,
            CAST(sum(CAST(round(x * x, 8) AS DECIMAL(27,8))) AS DOUBLE)
              AS qx,
            CAST(sum(CAST(round(x * y, 8) AS DECIMAL(27,8))) AS DOUBLE)
              AS qxy
          FROM xy),
        fit AS (
          SELECT n,
            (n * qxy - sx * sy) / (n * qx - sx * sx) AS k,
            sx, sy
          FROM m)
        SELECT n AS n_events, round(k, 6) AS shape_k,
          round(exp(-((sy - k * sx) / n) / k) - 1, 6) AS scale_days
        FROM fit"""))(
      (s, dir) => {
        val evts = T(s, dir, "events")
        val (su, er) = signupError(evts)
        val obs = su.join(er, "user_id")
          .select(col("user_id"),
            floor((col("e_us") - col("s_us")) / lit(86400000000.0))
              .cast("long").as("t"))
        val nn = obs.agg(count(lit(1)).as("n"))
        val rk = graft.ops.Prefix.runningTotal(
          obs.withColumn("__one", lit(1L)),
          Seq(col("t"), col("user_id")), col("__one"), "i")
        val xy = rk.crossJoin(broadcast(nn))
          .select(round(log((col("t") + 1).cast("double")), 6).as("x"),
            round(log(-log(lit(1) - (col("i") - lit(0.3))
              / (col("n") + lit(0.4)))), 6).as("y"))
        val m = xy.agg(count(lit(1)).as("n"),
          dsum(round(col("x"), 6), 6).as("sx"),
          dsum(round(col("y"), 6), 6).as("sy"),
          dsum(round(col("x") * col("x"), 8), 8).as("qx"),
          dsum(round(col("x") * col("y"), 8), 8).as("qxy"))
        val k = (col("n") * col("qxy") - col("sx") * col("sy"))
          .divide(col("n") * col("qx") - col("sx") * col("sx"))
        val fit = m.select(col("n"), k.as("k"), col("sx"), col("sy"))
        fit.select(col("n").as("n_events"),
          round(col("k"), 6).as("shape_k"),
          round(exp(-((col("sy") - col("k") * col("sx")) / col("n"))
            / col("k")) - 1, 6).as("scale_days"))
      }),

    // Process capability Cp/Cpk (Juran's QC handbook) — freeze spec
    // limits at mean ± 3σ of the FIRST calendar half (exact cutoff =
    // lower-median day), then ask whether the second half still fits:
    // Cp = (USL−LSL)/6σ₂, Cpk = min(USL−μ₂, μ₂−LSL)/3σ₂ — the
    // industrial-QC twin of the drift screens (q182 PSI / q384
    // Page-Hinkley), all moments exact per half.
    Q("q442_process_capability", Q.sql(s"""
        WITH d AS ($dailyMassSql),
        dc AS (
          SELECT a.day, CAST(count(DISTINCT b.day) AS BIGINT) AS rk
          FROM d a JOIN d b ON b.day <= a.day GROUP BY 1),
        nn AS (SELECT CAST(count(DISTINCT day) AS BIGINT) AS n FROM d),
        cut AS (
          SELECT min(day) AS c FROM dc, nn WHERE rk >= (nn.n + 1) // 2),
        m AS (
          SELECT event_type,
            CASE WHEN d.day >= cut.c THEN 1 ELSE 0 END AS half,
            CAST(count(*) AS BIGINT) AS n,
            CAST(sum(v) AS BIGINT) AS sv,
            CAST(sum(CAST(v AS HUGEINT) * v) AS DECIMAL(38,0)) AS q
          FROM d, cut GROUP BY 1, 2),
        g AS (
          SELECT event_type, half, n,
            CAST(sv AS DOUBLE) / n / 1e7 AS mean_kd,
            sqrt(CAST(n * q - CAST(sv AS HUGEINT) * sv AS DOUBLE)
              / n / (n - 1)) / 1e7 AS sd_kd
          FROM m),
        f AS (
          SELECT a.event_type, a.n AS n_base, b.n AS n_mon,
            a.mean_kd - 3 * a.sd_kd AS lsl,
            a.mean_kd + 3 * a.sd_kd AS usl,
            b.mean_kd AS mu2, b.sd_kd AS sd2
          FROM g a JOIN g b ON b.event_type = a.event_type
          WHERE a.half = 0 AND b.half = 1)
        SELECT event_type, n_base, n_mon,
          round(lsl, 6) AS lsl_kd, round(usl, 6) AS usl_kd,
          round((usl - lsl) / (6 * sd2), 6) AS cp,
          round(least(usl - mu2, mu2 - lsl) / (3 * sd2), 6) AS cpk
        FROM f ORDER BY event_type"""))(
      (s, dir) => {
        val d = dailyMass(s, dir)
        val days = d.select("day").distinct()
        val dc = graft.ops.Prefix.runningTotal(
          days.withColumn("__one", lit(1L)), Seq(col("day")),
          col("__one"), "rk")
        val nn = days.agg(count(lit(1)).as("n"))
        val cut = dc.crossJoin(broadcast(nn))
          .where(col("rk") >= expr("(n + 1) div 2"))
          .agg(min(col("day")).as("c"))
        val m = d.crossJoin(broadcast(cut))
          .groupBy(col("event_type"),
            when(col("day") >= col("c"), 1).otherwise(0).as("half"))
          .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"),
            sum(col("v").cast("decimal(19,0)") * col("v"))
              .cast("decimal(38,0)").as("q"))
        val g = m.select(col("event_type"), col("half"), col("n"),
          (col("sv").cast("double") / col("n") / lit(1e7)).as("mean_kd"),
          (sqrt((col("n") * col("q")
              - col("sv").cast("decimal(19,0)") * col("sv"))
            .cast("double") / col("n") / (col("n") - 1)) / lit(1e7))
            .as("sd_kd"))
        val a = g.where(col("half") === 0).select(col("event_type"),
          col("n").as("n_base"),
          (col("mean_kd") - lit(3) * col("sd_kd")).as("lsl"),
          (col("mean_kd") + lit(3) * col("sd_kd")).as("usl"))
        val b = g.where(col("half") === 1).select(col("event_type"),
          col("n").as("n_mon"), col("mean_kd").as("mu2"),
          col("sd_kd").as("sd2"))
        a.join(b, "event_type")
          .select(col("event_type"), col("n_base"), col("n_mon"),
            round(col("lsl"), 6).as("lsl_kd"),
            round(col("usl"), 6).as("usl_kd"),
            round((col("usl") - col("lsl")) / (lit(6) * col("sd2")), 6)
              .as("cp"),
            round(least(col("usl") - col("mu2"), col("mu2") - col("lsl"))
              / (lit(3) * col("sd2")), 6).as("cpk"))
          .orderBy("event_type")
      }),

    // Mean absolute scaled error (Hyndman & Koehler IJF'06) — the
    // scale-free forecast metric beside q407's DM test: MASE of the
    // seasonal-naive (lag-7) forecast scaled by the naive (lag-1)
    // in-sample MAE, per type over the common t ≥ 8 window. Absolute
    // errors are exact 4-dp integers, so MASE is a ratio of two exact
    // rationals — one division, no doubles until the last mile.
    Q("q443_mase", Q.sql(s"""
        WITH d AS ($dailyMassSql),
        lg AS (
          SELECT event_type, v,
            lag(v, 1) OVER (PARTITION BY event_type ORDER BY day) AS v1,
            lag(v, 7) OVER (PARTITION BY event_type ORDER BY day) AS v7
          FROM d),
        e AS (
          SELECT event_type,
            abs(v - v1) AS e1, abs(v - v7) AS e7
          FROM lg WHERE v1 IS NOT NULL AND v7 IS NOT NULL),
        m AS (
          SELECT event_type, CAST(count(*) AS BIGINT) AS n,
            CAST(sum(e1) AS BIGINT) AS s1,
            CAST(sum(e7) AS BIGINT) AS s7
          FROM e GROUP BY 1)
        SELECT event_type, n AS n_obs,
          round(CAST(s1 AS DOUBLE) / n / 1e7, 6) AS mae_naive_kd,
          round(CAST(s7 AS DOUBLE) / n / 1e7, 6) AS mae_seasonal_kd,
          round(CAST(s7 AS DOUBLE) / s1, 6) AS mase
        FROM m ORDER BY event_type"""))(
      (s, dir) => {
        val d = dailyMass(s, dir)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("event_type").orderBy("day")
        val lg = d.select(col("event_type"), col("v"),
          lag(col("v"), 1).over(w).as("v1"),
          lag(col("v"), 7).over(w).as("v7"))
        val e = lg.where(col("v1").isNotNull && col("v7").isNotNull)
          .select(col("event_type"),
            abs(col("v") - col("v1")).as("e1"),
            abs(col("v") - col("v7")).as("e7"))
        val m = e.groupBy("event_type").agg(count(lit(1)).as("n"),
          sum(col("e1")).as("s1"), sum(col("e7")).as("s7"))
        m.select(col("event_type"), col("n").as("n_obs"),
            round(col("s1").cast("double") / col("n") / lit(1e7), 6)
              .as("mae_naive_kd"),
            round(col("s7").cast("double") / col("n") / lit(1e7), 6)
              .as("mae_seasonal_kd"),
            round(col("s7").cast("double") / col("s1"), 6).as("mase"))
          .orderBy("event_type")
      }),

    // Krippendorff's alpha (Krippendorff '70; Hayes & Krippendorff
    // CMM'07 binary form) — the agreement coefficient that subsumes
    // kappa-family metrics (q249/q270/q400/q406): for m = 3 binary
    // raters over N units, α = 1 − (nm−1)·Σ_u c1_u·c0_u/(m−1) /
    // (n1·n0). EVERY term is an exact integer (c1(3−c1) is even), so α
    // is one division — the agreement layer over the same mechanical
    // raters, now chance-corrected the content-analysis way.
    Q("q444_krippendorff_alpha", Q.sql("""
        WITH w AS (
          SELECT doc_id,
            (CASE WHEN length(text) >= 400 THEN 1 ELSE 0 END)
            + (CASE WHEN len(string_split(lower(regexp_replace(trim(text),
                '\\s+', ' ', 'g')), ' ')) >= 80 THEN 1 ELSE 0 END)
            + (CASE WHEN CAST(len(list_distinct(string_split(lower(
                  regexp_replace(trim(text), '\\s+', ' ', 'g')), ' ')))
                  AS DOUBLE)
                / len(string_split(lower(regexp_replace(trim(text),
                  '\\s+', ' ', 'g')), ' ')) >= 0.55 THEN 1 ELSE 0 END)
              AS c1
          FROM documents),
        agg AS (
          SELECT CAST(count(*) AS BIGINT) AS n_docs,
            CAST(sum(c1) AS BIGINT) AS n1,
            CAST(sum(c1 * (3 - c1)) AS BIGINT) AS dsum2
          FROM w)
        SELECT n_docs, n1, 3 * n_docs - n1 AS n0,
          round(1 - CAST((3 * n_docs - 1) AS DOUBLE)
            * (CAST(dsum2 AS DOUBLE) / 2)
            / (CAST(n1 AS DOUBLE) * (3 * n_docs - n1)), 6)
            AS krippendorff_alpha
        FROM agg"""))(
      (s, dir) => {
        val toks = TextAnalysis.tokens(
          TextAnalysis.normalizeText(col("text")))
        val w = T(s, dir, "documents")
          .select(col("doc_id"),
            (when(length(col("text")) >= 400, 1).otherwise(0)
              + when(size(toks) >= 80, 1).otherwise(0)
              + when(size(array_distinct(toks)).cast("double")
                / size(toks) >= 0.55, 1).otherwise(0)).as("c1"))
        val agg = w.agg(count(lit(1)).cast("long").as("n_docs"),
          sum(col("c1")).cast("long").as("n1"),
          sum(col("c1") * (lit(3) - col("c1"))).cast("long").as("dsum2"))
        agg.select(col("n_docs"), col("n1"),
          (lit(3) * col("n_docs") - col("n1")).as("n0"),
          round(lit(1) - (lit(3) * col("n_docs") - 1).cast("double")
            * (col("dsum2").cast("double") / 2)
            / (col("n1").cast("double")
              * (lit(3) * col("n_docs") - col("n1"))), 6)
            .as("krippendorff_alpha"))
      })
  )
}
