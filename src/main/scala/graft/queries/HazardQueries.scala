package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables.{load => T}
import graft.functions.PortableSql
import graft.ops.Prefix
import graft.queries.Bases.{centsSeries, centsSeriesSql, dailyCents,
  riskSets, riskSetsSql, survivalObs, survivalObsSql}

/** Round-9 batch 8: long-memory, hazard, and tail diagnostics — the
  * Hurst R/S exponent, the Nelson-Aalen cumulative hazard, a Gumbel
  * block-maxima fit, and the Dickey-Fuller unit-root test — each
  * oracle-checked bit-for-bit against DuckDB.
  */
object HazardQueries {

  /** The zero-filled daily cents series `l0(event_type, pos, x)` of
    * [[Bases.centsSeries]], with a barrier after `d` and after `l0`;
    * its oracle is [[Bases.centsSeriesSql]]. */
  private def series(s: SparkSession, dir: String): DataFrame = {
    // materialized twice: d feeds three consumers (bounds, spine,
    // join) and the returned frame is re-referenced by callers (q373
    // reads it for both bounds and rows) — barriers run the events
    // scan once and keep caller plans flat. The frame is calendar-
    // bounded (|types| x |days|), so the checkpoints are model-sized.
    val d = graft.ops.Frames.materialize(dailyCents(s, dir).coalesce(4))
    val (_, l0) = centsSeries(d)
    graft.ops.Frames.materialize(l0.coalesce(4))
  }

  def all: Seq[Q] = Seq(

    // Hurst rescaled-range exponent (Hurst TASCE'51; Mandelbrot &
    // Wallis WRR'69): does daily revenue have LONG MEMORY (H > 0.5,
    // shocks persist) or mean-revert (H < 0.5)? Per type and block
    // size m in {5,10,15,30}: within-block cumulative deviations via
    // the EXACT m-scaled identity z_t = m*cumsum - t*S_block (all
    // integers), R = max z - min z, S = sqrt(m*Q - S^2) (DECIMAL(38,0)
    // under the sqrt — overflow-proof), R/S averaged per size
    // (rounded@9 DECIMAL mean), H = OLS slope of log2(avg R/S) vs
    // log2(m) over the 4-point frame (q359 moment routing). Windows
    // are partitioned by (type, m, block).
    Q("q373_hurst_rs", Q.sql(s"""
        $centsSeriesSql,
        sz AS (SELECT CAST(m AS BIGINT) AS m FROM (VALUES (5), (10),
          (15), (30)) AS t(m)),
        rows_ AS (
          SELECT l.event_type, s.m, CAST(floor(l.pos / s.m) AS BIGINT)
              AS bl,
            l.pos, l.pos - s.m * CAST(floor(l.pos / s.m) AS BIGINT)
              AS idx,
            l.x
          FROM l0 l, sz s
          WHERE l.pos < s.m * CAST(floor((SELECT n FROM b) / s.m)
            AS BIGINT)),
        cum AS (
          SELECT event_type, m, bl, idx, x,
            CAST(sum(x) OVER (PARTITION BY event_type, m, bl ORDER BY pos
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cumx
          FROM rows_),
        blk AS (
          SELECT event_type, m, bl, CAST(sum(x) AS BIGINT) AS s,
            CAST(sum(CAST(x AS DECIMAL(38,0)) * x) AS DECIMAL(38,0)) AS q
          FROM rows_ GROUP BY 1, 2, 3),
        z AS (
          SELECT c.event_type, c.m, c.bl,
            CAST(max(c.m * c.cumx - (c.idx + 1) * k.s) AS BIGINT) AS zmax,
            CAST(min(c.m * c.cumx - (c.idx + 1) * k.s) AS BIGINT) AS zmin
          FROM cum c JOIN blk k
            ON k.event_type = c.event_type AND k.m = c.m AND k.bl = c.bl
          GROUP BY 1, 2, 3),
        rsb AS (
          SELECT z.event_type, z.m,
            round(CAST(z.zmax - z.zmin AS DOUBLE)
              / sqrt(CAST(CAST(k.m AS DECIMAL(38,0)) * k.q
                - CAST(k.s AS DECIMAL(38,0)) * k.s AS DOUBLE)), 9) AS rs
          FROM z JOIN blk k
            ON k.event_type = z.event_type AND k.m = z.m AND k.bl = z.bl
          WHERE CAST(k.m AS DECIMAL(38,0)) * k.q
            - CAST(k.s AS DECIMAL(38,0)) * k.s > 0),
        av AS (
          SELECT event_type, m, CAST(count(*) AS BIGINT) AS n_blocks,
            CAST(sum(CAST(rs AS DECIMAL(28,9))) AS DOUBLE) / count(*)
              AS avg_rs
          FROM rsb GROUP BY 1, 2),
        lg AS (
          SELECT event_type, m, n_blocks, avg_rs,
            CAST(round(log2(CAST(m AS DOUBLE)), 9) AS DECIMAL(28,9))
              AS lx,
            CAST(round(log2(avg_rs), 9) AS DECIMAL(28,9)) AS ly
          FROM av),
        mo AS (
          SELECT event_type, CAST(count(*) AS BIGINT) AS k,
            CAST(sum(lx) AS DOUBLE) AS sx, CAST(sum(ly) AS DOUBLE) AS sy,
            CAST(sum(CAST(round(CAST(lx AS DOUBLE) * CAST(ly AS DOUBLE),
              9) AS DECIMAL(28,9))) AS DOUBLE) AS sxy,
            CAST(sum(CAST(round(CAST(lx AS DOUBLE) * CAST(lx AS DOUBLE),
              9) AS DECIMAL(28,9))) AS DOUBLE) AS sxx
          FROM lg GROUP BY 1),
        h AS (
          SELECT event_type,
            round((sxy - sx * sy / k) / (sxx - sx * sx / k), 6) AS hurst
          FROM mo)
        SELECT l.event_type, l.m, l.n_blocks, round(l.avg_rs, 6)
            AS avg_rs,
          h.hurst
        FROM lg l JOIN h ON h.event_type = l.event_type
        ORDER BY l.event_type, l.m"""))(
      (s, dir) => {
        val l0 = series(s, dir)
        val b = l0.agg((max(col("pos")) + 1).as("n"))
        val sz = s.range(0, 4).select(
          element_at(array(lit(5L), lit(10L), lit(15L), lit(30L)),
            (col("id") + 1).cast("int")).as("m"))
        val rows = l0.crossJoin(broadcast(sz))
          .crossJoin(broadcast(b))
          .where(col("pos") < col("m") * floor(col("n") / col("m"))
            .cast("long"))
          .select(col("event_type"), col("m"),
            floor(col("pos") / col("m")).cast("long").as("bl"),
            col("pos"),
            (col("pos") - col("m") * floor(col("pos") / col("m"))
              .cast("long")).as("idx"),
            col("x"))
        val wCum = Window.partitionBy("event_type", "m", "bl")
          .orderBy("pos")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val cum = rows.select(col("event_type"), col("m"), col("bl"),
          col("idx"), col("x"),
          sum(col("x")).over(wCum).cast("long").as("cumx"))
        // materialized: blk is consumed by the z join and the rsb join
        val blk = graft.ops.Frames.materialize(
          rows.groupBy("event_type", "m", "bl")
          .agg(sum(col("x")).cast("long").as("s"),
            sum(col("x").cast("decimal(38,0)") * col("x"))
              .cast("decimal(38,0)").as("q")).coalesce(4))
        val zm = col("m") * col("cumx") - (col("idx") + 1) * col("s")
        val z = cum.join(blk, Seq("event_type", "m", "bl"))
          .groupBy("event_type", "m", "bl")
          .agg(max(zm).cast("long").as("zmax"),
            min(zm).cast("long").as("zmin"))
        val den = (col("m").cast("decimal(38,0)") * col("q") -
          col("s").cast("decimal(38,0)") * col("s"))
        val rsb = z.join(blk, Seq("event_type", "m", "bl"))
          .where(den > 0)
          .select(col("event_type"), col("m"),
            round((col("zmax") - col("zmin")).cast("double") /
              sqrt(den.cast("double")), 9).as("rs"))
        val av = rsb.groupBy("event_type", "m")
          .agg(count(lit(1)).cast("long").as("n_blocks"),
            (sum(col("rs").cast("decimal(28,9)")).cast("double") /
              count(lit(1))).as("avg_rs"))
        // materialized (|types| x 4-row frame): lg feeds mo and the
        // final join — one R/S kernel pass instead of two
        val lg = graft.ops.Frames.materialize(
          av.select(col("event_type"), col("m"), col("n_blocks"),
          col("avg_rs"),
          round(log2(col("m").cast("double")), 9).cast("decimal(28,9)")
            .as("lx"),
          round(log2(col("avg_rs")), 9).cast("decimal(28,9)").as("ly"))
          .coalesce(1))
        val mo = lg.groupBy("event_type")
          .agg(count(lit(1)).cast("long").as("k"),
            sum(col("lx")).cast("double").as("sx"),
            sum(col("ly")).cast("double").as("sy"),
            sum(round(col("lx").cast("double") * col("ly").cast("double"),
              9).cast("decimal(28,9)")).cast("double").as("sxy"),
            sum(round(col("lx").cast("double") * col("lx").cast("double"),
              9).cast("decimal(28,9)")).cast("double").as("sxx"))
        val h = mo.select(col("event_type"),
          round((col("sxy") - col("sx") * col("sy") / col("k")) /
            (col("sxx") - col("sx") * col("sx") / col("k")), 6)
            .as("hurst"))
        lg.join(broadcast(h), Seq("event_type"))
          .select(col("event_type"), col("m"), col("n_blocks"),
            round(col("avg_rs"), 6).as("avg_rs"), col("hurst"))
          .orderBy("event_type", "m")
      }),

    // Nelson-Aalen cumulative hazard (Nelson Technometrics'72; Aalen
    // AOS'78): the hazard-scale companion to q162's Kaplan-Meier on the
    // SAME signup -> first-error cohort — H(t) = sum d_i/n_i with
    // variance sum d_i/n_i^2, plus the Fleming-Harrington survival
    // exp(-H). Risk sets reuse the q162 distributed-prefix shape (no
    // unpartitioned window); hazard terms are rounded@9/@12 and
    // DECIMAL-prefix-summed, so the chain is order-free and
    // bit-reproducible.
    Q("q374_nelson_aalen", Q.sql(s"""
        $survivalObsSql,
        $riskSetsSql,
        ev AS (
          SELECT t, d_t, n_t,
            CAST(round(CAST(d_t AS DOUBLE) / n_t, 9) AS DECIMAL(28,9))
              AS th,
            CAST(round(CAST(d_t AS DOUBLE) / n_t / n_t, 12)
              AS DECIMAL(38,12)) AS tv
          FROM risk WHERE d_t > 0),
        na AS (
          SELECT t, d_t, n_t,
            CAST(sum(th) OVER (ORDER BY t
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS DOUBLE) AS h,
            CAST(sum(tv) OVER (ORDER BY t
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS DOUBLE) AS v
          FROM ev)
        SELECT t, n_t AS n_risk, d_t AS n_events,
          round(h, 6) AS cum_hazard, round(v, 9) AS var_hazard,
          round(exp(-h), 6) AS fh_survival
        FROM na ORDER BY t"""))(
      (s, dir) => {
        // materialized: riskSets reads obs twice (total and per-time
        // counts) — one signup/error join
        val obs = graft.ops.Frames.materialize(
          survivalObs(T(s, dir, "events")))
        val (_, risk) = riskSets(obs)
        val evt = risk.where(col("d_t") > 0)
          .select(col("t"), col("d_t"), col("n_t"),
            round(col("d_t").cast("double") / col("n_t"), 9)
              .cast("decimal(28,9)").as("th"),
            round(col("d_t").cast("double") / col("n_t") / col("n_t"), 12)
              .cast("decimal(38,12)").as("tv"))
        // hazard and variance prefixes share the order key t: one
        // multi-series pass instead of two chained runningTotal passes
        val withV = Prefix.runningTotals(evt, Seq(col("t")),
          Seq((col("th"), "__na_h"), (col("tv"), "__na_v")))
        withV.select(col("t"), col("n_t").as("n_risk"),
            col("d_t").as("n_events"),
            round(col("__na_h").cast("double"), 6).as("cum_hazard"),
            round(col("__na_v").cast("double"), 9).as("var_hazard"),
            round(exp(-col("__na_h").cast("double")), 6).as("fh_survival"))
          .orderBy("t")
      }),

    // Gumbel block-maxima fit (Gumbel '58; Fisher-Tippett '28): fit the
    // daily-maximum event value per type by method of moments — beta =
    // s*sqrt(6)/pi, mu = mean - gamma*beta (Euler-Mascheroni) — and
    // read off the 30-day return level mu - beta*ln(-ln(1-1/30)). The
    // daily maxima and their moments are EXACT (integer cents,
    // DECIMAL(38,0) squares); sqrt/pi are correctly-rounded IEEE; the
    // one ln constant is inlined as a shared round-trip double literal
    // so both engines start from identical bits.
    Q("q375_gumbel_maxima", {
      val c30 = PortableSql.doubleLit(
        math.log(-math.log(1.0 - 1.0 / 30.0)))
      Q.sql(s"""
        WITH dm AS (
          SELECT event_type, CAST(ts AS DATE) AS day,
            CAST(max(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
              AS mx
          FROM events GROUP BY 1, 2),
        mo AS (
          SELECT event_type, CAST(count(*) AS BIGINT) AS n,
            CAST(sum(mx) AS BIGINT) AS s,
            CAST(sum(CAST(mx AS DECIMAL(38,0)) * mx) AS DECIMAL(38,0))
              AS q
          FROM dm GROUP BY 1),
        fit AS (
          SELECT event_type, n,
            CAST(s AS DOUBLE) / n AS mean_c,
            sqrt(CAST(CAST(n AS DECIMAL(38,0)) * q
                - CAST(s AS DECIMAL(38,0)) * s AS DOUBLE)
              / (CAST(n AS DOUBLE) * (n - 1))) * sqrt(CAST(6 AS DOUBLE))
              / pi() AS beta_c
          FROM mo),
        g AS (
          SELECT event_type, n, mean_c, beta_c,
            mean_c - CAST(0.577215664901532 AS DOUBLE) * beta_c AS mu_c
          FROM fit)
        SELECT event_type, n AS n_days,
          round(mean_c / 100.0, 6) AS mean_max,
          round(beta_c / 100.0, 6) AS beta,
          round(mu_c / 100.0, 6) AS mu,
          round((mu_c - beta_c * CAST($c30 AS DOUBLE)) / 100.0, 6)
            AS ret30
        FROM g ORDER BY event_type""")
    })(
      (s, dir) => {
        val c30 = math.log(-math.log(1.0 - 1.0 / 30.0))
        val dm = T(s, dir, "events")
          .groupBy(col("event_type"), to_date(col("ts")).as("day"))
          .agg(max(round(col("value") * 100, 0).cast("long")).cast("long")
            .as("mx"))
        val mo = dm.groupBy("event_type")
          .agg(count(lit(1)).cast("long").as("n"),
            sum(col("mx")).cast("long").as("s"),
            sum(col("mx").cast("decimal(38,0)") * col("mx"))
              .cast("decimal(38,0)").as("q"))
        val varNum = (col("n").cast("decimal(38,0)") * col("q") -
          col("s").cast("decimal(38,0)") * col("s"))
        val fit = mo.select(col("event_type"), col("n"),
          (col("s").cast("double") / col("n")).as("mean_c"),
          (sqrt(varNum.cast("double") /
            (col("n").cast("double") * (col("n") - 1))) *
            sqrt(lit(6.0)) / lit(math.Pi)).as("beta_c"))
        val g = fit.select(col("event_type"), col("n"), col("mean_c"),
          col("beta_c"),
          (col("mean_c") - lit(0.577215664901532) * col("beta_c"))
            .as("mu_c"))
        g.select(col("event_type"), col("n").as("n_days"),
            round(col("mean_c") / 100.0, 6).as("mean_max"),
            round(col("beta_c") / 100.0, 6).as("beta"),
            round(col("mu_c") / 100.0, 6).as("mu"),
            round((col("mu_c") - col("beta_c") * lit(c30)) / 100.0, 6)
              .as("ret30"))
          .orderBy("event_type")
      }),

    // Dickey-Fuller unit-root test (Dickey & Fuller JASA'79), with
    // intercept: regress delta x_t on x_{t-1} per type over the
    // zero-filled daily series — gamma near 0 means a random walk
    // (unit root), strongly negative means mean reversion; DF = gamma /
    // SE(gamma) is the statistic tables are indexed by. Lagged pairs
    // come from a window PARTITIONED by type; all OLS moments are exact
    // (DECIMAL(38,0) products); RSS/SE/DF are fixed-order double
    // expressions with only the O(1) outputs rounded (q370 discipline).
    Q("q376_dickey_fuller", Q.sql(s"""
        $centsSeriesSql,
        pr AS (
          SELECT event_type, pos, x,
            lag(x) OVER (PARTITION BY event_type ORDER BY pos) AS xl
          FROM l0),
        py AS (
          SELECT event_type, CAST(xl AS BIGINT) AS xx,
            CAST(x - xl AS BIGINT) AS y
          FROM pr WHERE xl IS NOT NULL),
        mo AS (
          SELECT event_type, CAST(count(*) AS BIGINT) AS n,
            CAST(sum(xx) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
            CAST(sum(CAST(xx AS DECIMAL(38,0)) * xx) AS DECIMAL(38,0))
              AS sxx,
            CAST(sum(CAST(xx AS DECIMAL(38,0)) * y) AS DECIMAL(38,0))
              AS sxy,
            CAST(sum(CAST(y AS DECIMAL(38,0)) * y) AS DECIMAL(38,0))
              AS syy
          FROM py GROUP BY 1),
        st AS (
          SELECT event_type, n,
            (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n)
              / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n)
              AS gamma,
            CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n
              - (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n)
              * (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n)
              / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n)
              AS rss,
            CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n AS sxxc
          FROM mo)
        SELECT event_type, n AS n_pairs, round(gamma, 6) AS gamma,
          round(gamma / sqrt(rss / (n - 2) / sxxc), 6) AS df_stat
        FROM st ORDER BY event_type"""))(
      (s, dir) => {
        val l0 = series(s, dir)
        val w = Window.partitionBy("event_type").orderBy("pos")
        val pr = l0.select(col("event_type"), col("pos"), col("x"),
          lag(col("x"), 1).over(w).as("xl"))
        val py = pr.where(col("xl").isNotNull)
          .select(col("event_type"), col("xl").cast("long").as("xx"),
            (col("x") - col("xl")).cast("long").as("y"))
        val mo = py.groupBy("event_type")
          .agg(count(lit(1)).cast("long").as("n"),
            sum(col("xx")).cast("long").as("sx"),
            sum(col("y")).cast("long").as("sy"),
            sum(col("xx").cast("decimal(38,0)") * col("xx"))
              .cast("decimal(38,0)").as("sxx"),
            sum(col("xx").cast("decimal(38,0)") * col("y"))
              .cast("decimal(38,0)").as("sxy"),
            sum(col("y").cast("decimal(38,0)") * col("y"))
              .cast("decimal(38,0)").as("syy"))
        val sxyC = (col("sxy").cast("double") -
          col("sx").cast("double") * col("sy") / col("n"))
        val sxxC = (col("sxx").cast("double") -
          col("sx").cast("double") * col("sx") / col("n"))
        val syyC = (col("syy").cast("double") -
          col("sy").cast("double") * col("sy") / col("n"))
        val st = mo.select(col("event_type"), col("n"),
          (sxyC / sxxC).as("gamma"),
          (syyC - sxyC * sxyC / sxxC).as("rss"),
          sxxC.as("sxxc"))
        st.select(col("event_type"), col("n").as("n_pairs"),
            round(col("gamma"), 6).as("gamma"),
            round(col("gamma") /
              sqrt(col("rss") / (col("n") - 2) / col("sxxc")), 6)
              .as("df_stat"))
          .orderBy("event_type")
      })
  )
}
