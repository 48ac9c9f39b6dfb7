package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables.{load => T}
import graft.ops.Relational.dsum
import graft.queries.Bases.{dailyMass, dailyMassSql}

/** Round-10 batch 5: spatial, reliability, and forecast-comparison
  * diagnostics — Moran's I + Geary's C spatial autocorrelation, the
  * Cox-Stuart trend test, KR-20 / Cronbach's alpha rater reliability,
  * and the Diebold-Mariano forecast accuracy test — each oracle-checked
  * bit-for-bit against DuckDB.
  */
object SpatialEvalQueries {

  def all: Seq[Q] = Seq(

    // Moran's I (Moran Biometrika'50) + Geary's C (Geary '54) — is
    // supplier wealth spatially clustered? Spatial units are the 25
    // nations (value = mean account balance in cents, rounded@6),
    // contiguity = shared region (w_ij = 1, i ≠ j). Both statistics
    // reduce to REGION-GROUPED sums of the deviations: Σ_ij w d_i d_j =
    // Σ_r [(Σd)² − Σd²] and Σ_ij w (d_i−d_j)² = Σ_r 2(n_r Σd² − (Σd)²),
    // so the whole computation is one supplier scan, one 25-row nation
    // agg, one 5-row region agg — the unit/weight frames are model-sized
    // broadcasts and nothing pairwise ever materializes (the W-matrix
    // identity is what scales this to millions of units: group-sum per
    // contiguity block, never i×j). Deviations are rounded@6 and region
    // sums DECIMAL-routed so the 5-term reductions are order-free.
    Q("q404_spatial_autocorr", Q.sql("""
        WITH nat AS (
          SELECT s_nationkey AS nk, CAST(count(*) AS BIGINT) AS n,
            CAST(sum(CAST(round(s_acctbal * 100, 0) AS BIGINT)) AS BIGINT)
              AS sv
          FROM supplier GROUP BY 1),
        m AS (
          SELECT nat.nk, n_regionkey AS rk,
            round(CAST(sv AS DOUBLE) / n, 6) AS m6
          FROM nat JOIN nation ON n_nationkey = nat.nk),
        xbar AS (
          SELECT CAST(count(*) AS BIGINT) AS k,
            CAST(sum(CAST(m6 AS DECIMAL(27,6))) AS DOUBLE) / count(*)
              AS xb
          FROM m),
        dev AS (
          SELECT rk, round(m6 - xbar.xb, 6) AS d6 FROM m, xbar),
        reg AS (
          SELECT rk, CAST(count(*) AS BIGINT) AS nr,
            CAST(sum(CAST(d6 AS DECIMAL(27,6))) AS DOUBLE) AS sd,
            sum(CAST(round(d6 * d6, 9) AS DECIMAL(27,9))) AS sq
          FROM dev GROUP BY 1),
        s AS (
          SELECT CAST(sum(nr * (nr - 1)) AS BIGINT) AS s0,
            CAST(sum(CAST(round(sd * sd - CAST(sq AS DOUBLE), 9)
              AS DECIMAL(27,9))) AS DOUBLE) AS num_i,
            CAST(sum(CAST(round(2 * (nr * CAST(sq AS DOUBLE) - sd * sd), 9)
              AS DECIMAL(27,9))) AS DOUBLE) AS num_c,
            CAST(sum(sq) AS DOUBLE) AS den
          FROM reg)
        SELECT xbar.k AS n_units, s.s0,
          round((CAST(xbar.k AS DOUBLE) / s.s0) * s.num_i / s.den, 6)
            AS moran_i,
          round((CAST(xbar.k - 1 AS DOUBLE) / (2 * s.s0)) * s.num_c / s.den,
            6) AS geary_c
        FROM s, xbar"""))(
      (s, dir) => {
        val nat = T(s, dir, "supplier")
          .groupBy(col("s_nationkey").as("nk"))
          .agg(count(lit(1)).as("n"),
            sum(round(col("s_acctbal") * 100, 0).cast("long")).as("sv"))
        val m = nat.join(broadcast(T(s, dir, "nation")),
            col("n_nationkey") === col("nk"))
          .select(col("nk"), col("n_regionkey").as("rk"),
            round(col("sv").cast("double") / col("n"), 6).as("m6"))
        val xbar = m.agg(count(lit(1)).as("k"),
          (sum(col("m6").cast("decimal(27,6)")).cast("double")
            / count(lit(1))).as("xb"))
        val dev = m.crossJoin(broadcast(xbar))
          .select(col("rk"), round(col("m6") - col("xb"), 6).as("d6"))
        val reg = dev.groupBy("rk").agg(
          count(lit(1)).as("nr"),
          sum(col("d6").cast("decimal(27,6)")).cast("double").as("sd"),
          sum(round(col("d6") * col("d6"), 9).cast("decimal(27,9)"))
            .as("sq"))
        val st = reg.agg(
          sum(col("nr") * (col("nr") - 1)).cast("long").as("s0"),
          sum(round(col("sd") * col("sd") - col("sq").cast("double"), 9)
            .cast("decimal(27,9)")).cast("double").as("num_i"),
          sum(round(lit(2) * (col("nr") * col("sq").cast("double")
              - col("sd") * col("sd")), 9)
            .cast("decimal(27,9)")).cast("double").as("num_c"),
          sum(col("sq")).cast("double").as("den"))
        st.crossJoin(broadcast(xbar))
          .select(col("k").as("n_units"), col("s0"),
            round((col("k").cast("double") / col("s0"))
              * col("num_i") / col("den"), 6).as("moran_i"),
            round(((col("k") - 1).cast("double") / (lit(2) * col("s0")))
              * col("num_c") / col("den"), 6).as("geary_c"))
      }),

    // Cox-Stuart trend test (Biometrika'55) — the sign-test-on-halves
    // trend screen beside q355's Mann-Kendall (which is O(pairs)); this
    // one is O(n) and the shape that survives when a series has millions
    // of points: pair observation i with i + ⌈n/2⌉ via ONE rank
    // self-equi-join per type (type-PARTITIONED rank window only),
    // count S⁺/S⁻ over non-ties, z = (2S⁺ − n')/√n'. All integers
    // until the final division.
    Q("q405_cox_stuart", Q.sql(s"""
        WITH d AS ($dailyMassSql),
        i AS (
          SELECT event_type, v,
            CAST(row_number() OVER (PARTITION BY event_type ORDER BY day)
              AS BIGINT) AS rn
          FROM d),
        n AS (
          SELECT event_type, CAST(count(*) AS BIGINT) AS n
          FROM i GROUP BY 1),
        pr AS (
          SELECT a.event_type,
            CASE WHEN b.v > a.v THEN 1 ELSE 0 END AS up,
            CASE WHEN b.v < a.v THEN 1 ELSE 0 END AS dn
          FROM i a
          JOIN n ON n.event_type = a.event_type
          JOIN i b ON b.event_type = a.event_type
            AND b.rn = a.rn + (n.n + 1) // 2
          WHERE a.rn <= n.n // 2),
        f AS (
          SELECT pr.event_type,
            CAST(sum(up) AS BIGINT) AS s_plus,
            CAST(sum(up) + sum(dn) AS BIGINT) AS n_eff
          FROM pr GROUP BY 1)
        SELECT f.event_type, n.n AS n_days, f.s_plus, f.n_eff,
          round(CAST(2 * f.s_plus - f.n_eff AS DOUBLE)
            / sqrt(CAST(f.n_eff AS DOUBLE)), 6) AS z
        FROM f JOIN n ON n.event_type = f.event_type
        ORDER BY f.event_type"""))(
      (s, dir) => {
        val d = dailyMass(s, dir)
        val i = d.select(col("event_type"), col("v"),
          row_number().over(Window.partitionBy("event_type")
            .orderBy("day")).cast("long").as("rn"))
        val n = i.groupBy("event_type").agg(count(lit(1)).as("n"))
        val a = i.join(broadcast(n), "event_type")
          .where(col("rn") <= expr("n div 2"))
        val b = i.select(col("event_type").as("et2"), col("rn").as("rn2"),
          col("v").as("v2"))
        val pr = a.join(b, col("et2") === col("event_type")
            && col("rn2") === col("rn") + expr("(n + 1) div 2"))
          .select(col("event_type"),
            when(col("v2") > col("v"), 1L).otherwise(0L).as("up"),
            when(col("v2") < col("v"), 1L).otherwise(0L).as("dn"))
        val f = pr.groupBy("event_type")
          .agg(sum(col("up")).as("s_plus"),
            (sum(col("up")) + sum(col("dn"))).as("n_eff"))
        f.join(broadcast(n), "event_type")
          .select(col("event_type"), col("n").as("n_days"),
            col("s_plus"), col("n_eff"),
            round((lit(2) * col("s_plus") - col("n_eff")).cast("double")
              / sqrt(col("n_eff").cast("double")), 6).as("z"))
          .orderBy("event_type")
      }),

    // KR-20 / Cronbach's alpha (Kuder & Richardson Psychometrika'37;
    // Cronbach '51) — the internal-consistency layer over q400's Fleiss
    // kappa: do the three mechanical quality raters measure ONE trait?
    // Item means p_i and the total-score variance come from exact
    // integer aggregates in one documents scan (item frame is 3 rows);
    // α = k/(k−1)·(1 − Σp_i q_i / σ²_X) with population variance
    // σ²_X = (N·ΣX² − (ΣX)²)/N², every term exact until the divisions.
    Q("q406_kr20_alpha", Q.sql("""
        WITH w AS (
          SELECT doc_id,
            CASE WHEN length(text) >= 400 THEN 1 ELSE 0 END AS i1,
            CASE WHEN len(string_split(lower(regexp_replace(trim(text),
              '\\s+', ' ', 'g')), ' ')) >= 80 THEN 1 ELSE 0 END AS i2,
            CASE WHEN CAST(len(list_distinct(string_split(lower(
                regexp_replace(trim(text), '\\s+', ' ', 'g')), ' ')))
                AS DOUBLE)
              / len(string_split(lower(regexp_replace(trim(text),
                '\\s+', ' ', 'g')), ' ')) >= 0.55 THEN 1 ELSE 0 END AS i3
          FROM documents),
        agg AS (
          SELECT CAST(count(*) AS BIGINT) AS n,
            CAST(sum(i1) AS BIGINT) AS t1,
            CAST(sum(i2) AS BIGINT) AS t2,
            CAST(sum(i3) AS BIGINT) AS t3,
            CAST(sum(i1 + i2 + i3) AS BIGINT) AS sx,
            CAST(sum((i1 + i2 + i3) * (i1 + i2 + i3)) AS BIGINT) AS sxx
          FROM w),
        f AS (
          SELECT n, t1, t2, t3,
            (CAST(t1 AS DOUBLE) / n) * (1 - CAST(t1 AS DOUBLE) / n)
            + (CAST(t2 AS DOUBLE) / n) * (1 - CAST(t2 AS DOUBLE) / n)
            + (CAST(t3 AS DOUBLE) / n) * (1 - CAST(t3 AS DOUBLE) / n)
              AS spq,
            CAST(n * sxx - sx * sx AS DOUBLE) / (CAST(n AS DOUBLE) * n)
              AS varx
          FROM agg)
        SELECT n AS n_docs,
          round(CAST(t1 AS DOUBLE) / n, 6) AS p1,
          round(CAST(t2 AS DOUBLE) / n, 6) AS p2,
          round(CAST(t3 AS DOUBLE) / n, 6) AS p3,
          round(spq, 6) AS sum_pq, round(varx, 6) AS var_total,
          round(1.5 * (1 - spq / varx), 6) AS kr20_alpha
        FROM f"""))(
      (s, dir) => {
        val toks = graft.text.TextAnalysis.tokens(
          graft.text.TextAnalysis.normalizeText(col("text")))
        val w = T(s, dir, "documents")
          .select(col("doc_id"),
            when(length(col("text")) >= 400, 1L).otherwise(0L).as("i1"),
            when(size(toks) >= 80, 1L).otherwise(0L).as("i2"),
            when(size(array_distinct(toks)).cast("double")
              / size(toks) >= 0.55, 1L).otherwise(0L).as("i3"))
        val x = (col("i1") + col("i2") + col("i3"))
        val agg = w.agg(count(lit(1)).as("n"),
          sum(col("i1")).as("t1"), sum(col("i2")).as("t2"),
          sum(col("i3")).as("t3"),
          sum(x).as("sx"), sum(x * x).as("sxx"))
        def p(t: String) = col(t).cast("double") / col("n")
        val f = agg.select(col("n"), col("t1"), col("t2"), col("t3"),
          (p("t1") * (lit(1) - p("t1")) + p("t2") * (lit(1) - p("t2"))
            + p("t3") * (lit(1) - p("t3"))).as("spq"),
          ((col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
            / (col("n").cast("double") * col("n"))).as("varx"))
        f.select(col("n").as("n_docs"),
          round(p("t1"), 6).as("p1"), round(p("t2"), 6).as("p2"),
          round(p("t3"), 6).as("p3"),
          round(col("spq"), 6).as("sum_pq"),
          round(col("varx"), 6).as("var_total"),
          round(lit(1.5) * (lit(1) - col("spq") / col("varx")), 6)
            .as("kr20_alpha"))
      }),

    // Diebold-Mariano test (JBES'95) — is the naive (lag-1) daily
    // forecast significantly worse than the seasonal-naive (lag-7) one?
    // Per type: errors in whole dollars (floor(Δ/10⁴ + ½) — the q382
    // kilodollar discipline keeps d² inside DECIMAL(38,0) through
    // sf≈100), loss differential d = e₁² − e₂², DM = S√n/√(nQ − S²)
    // from the exact-moment identity — one lag window pass
    // (type-PARTITIONED), one hash agg, doubles only in the last mile.
    Q("q407_diebold_mariano", Q.sql(s"""
        WITH d AS ($dailyMassSql),
        lg AS (
          SELECT event_type, v,
            lag(v, 1) OVER (PARTITION BY event_type ORDER BY day) AS v1,
            lag(v, 7) OVER (PARTITION BY event_type ORDER BY day) AS v7
          FROM d),
        e AS (
          SELECT event_type,
            CAST(floor((v - v1) / 10000.0 + 0.5) AS BIGINT) AS e1,
            CAST(floor((v - v7) / 10000.0 + 0.5) AS BIGINT) AS e2
          FROM lg WHERE v1 IS NOT NULL AND v7 IS NOT NULL),
        m AS (
          SELECT event_type, CAST(count(*) AS BIGINT) AS n,
            CAST(sum(e1 * e1) AS BIGINT) AS q1,
            CAST(sum(e2 * e2) AS BIGINT) AS q2,
            CAST(sum(e1 * e1 - e2 * e2) AS BIGINT) AS sd,
            CAST(sum(CAST(e1 * e1 - e2 * e2 AS HUGEINT)
              * (e1 * e1 - e2 * e2)) AS DECIMAL(38,0)) AS qd
          FROM e GROUP BY 1)
        SELECT event_type, n AS n_obs,
          round(CAST(q1 AS DOUBLE) / q2, 6) AS mse_ratio,
          round(CAST(sd AS DOUBLE) * sqrt(CAST(n AS DOUBLE))
            / sqrt(CAST(n AS DOUBLE) * CAST(qd AS DOUBLE)
              - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE)), 6) AS dm
        FROM m ORDER BY event_type"""))(
      (s, dir) => {
        val d = dailyMass(s, dir)
        val w = Window.partitionBy("event_type").orderBy("day")
        val lg = d.select(col("event_type"), col("v"),
          lag(col("v"), 1).over(w).as("v1"),
          lag(col("v"), 7).over(w).as("v7"))
        val e = lg.where(col("v1").isNotNull && col("v7").isNotNull)
          .select(col("event_type"),
            floor((col("v") - col("v1")) / 10000.0 + 0.5).cast("long")
              .as("e1"),
            floor((col("v") - col("v7")) / 10000.0 + 0.5).cast("long")
              .as("e2"))
        val dl = (col("e1") * col("e1") - col("e2") * col("e2"))
        val m = e.groupBy("event_type").agg(
          count(lit(1)).as("n"),
          sum(col("e1") * col("e1")).as("q1"),
          sum(col("e2") * col("e2")).as("q2"),
          sum(dl).as("sd"),
          sum(dl.cast("decimal(19,0)") * dl).cast("decimal(38,0)")
            .as("qd"))
        m.select(col("event_type"), col("n").as("n_obs"),
            round(col("q1").cast("double") / col("q2"), 6).as("mse_ratio"),
            round(col("sd").cast("double") * sqrt(col("n").cast("double"))
              / sqrt(col("n").cast("double") * col("qd").cast("double")
                - col("sd").cast("double") * col("sd").cast("double")), 6)
              .as("dm"))
          .orderBy("event_type")
      })
  )
}
