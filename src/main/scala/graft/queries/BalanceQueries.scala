package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables.{load => T}
import graft.ops.Relational.dsum
import graft.queries.Bases.{dailyMass, dailyMassSql, purchaseClickPool,
  purchaseClickPoolSql}

/** Round-10 batch 14: causal-diagnostic and randomness operators —
  * the covariate-balance (SMD) table, Kuiper's test, Gwet's AC1, and
  * the turning-point test — each oracle-checked bit-for-bit against
  * DuckDB.
  */
object BalanceQueries {

  def all: Seq[Q] = Seq(

    // Covariate balance table (Rosenbaum & Rubin '85; the Table-1 SMD
    // audit every q422-style comparison should ship): are weekend and
    // weekday days comparable on the OTHER series (click/view/error
    // masses)? SMD_j = (x̄₁−x̄₀)/√((s₁²+s₀²)/2) per covariate from
    // exact n·Q−S² moments, |SMD| < 0.1 flagged as balanced. One scan,
    // a 3×2-cell frame.
    Q("q445_covariate_balance", Q.sql(s"""
        WITH d AS ($dailyMassSql),
        g AS (
          SELECT event_type AS covariate,
            CASE WHEN isodow(day) >= 6 THEN 1 ELSE 0 END AS tr, v
          FROM d WHERE event_type IN ('click', 'view', 'error')),
        m AS (
          SELECT covariate, tr, CAST(count(*) AS BIGINT) AS n,
            CAST(sum(v) AS BIGINT) AS sv,
            CAST(sum(CAST(v AS HUGEINT) * v) AS DECIMAL(38,0)) AS q
          FROM g GROUP BY 1, 2),
        s AS (
          SELECT covariate, tr, n,
            CAST(sv AS DOUBLE) / n / 1e7 AS mean_kd,
            CAST(n * q - CAST(sv AS HUGEINT) * sv AS DOUBLE)
              / n / (n - 1) / 1e14 AS var_kd
          FROM m),
        f AS (
          SELECT a.covariate, a.n AS n_weekend, b.n AS n_weekday,
            a.mean_kd AS mean_we, b.mean_kd AS mean_wd,
            (a.mean_kd - b.mean_kd)
              / sqrt((a.var_kd + b.var_kd) / 2) AS smd
          FROM s a JOIN s b ON b.covariate = a.covariate
          WHERE a.tr = 1 AND b.tr = 0)
        SELECT covariate, n_weekend, n_weekday,
          round(mean_we, 6) AS mean_weekend_kd,
          round(mean_wd, 6) AS mean_weekday_kd,
          round(smd, 6) AS smd,
          CASE WHEN abs(smd) < CAST(0.1 AS DOUBLE) THEN 1 ELSE 0 END
            AS balanced
        FROM f ORDER BY covariate"""))(
      (s, dir) => {
        val g = dailyMass(s, dir)
          .where(col("event_type").isin("click", "view", "error"))
          .select(col("event_type").as("covariate"),
            when(weekday(col("day")) + 1 >= 6, 1).otherwise(0).as("tr"),
            col("v"))
        val m = g.groupBy("covariate", "tr")
          .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"),
            sum(col("v").cast("decimal(19,0)") * col("v"))
              .cast("decimal(38,0)").as("q"))
        val st = m.select(col("covariate"), col("tr"), col("n"),
          (col("sv").cast("double") / col("n") / lit(1e7)).as("mean_kd"),
          ((col("n") * col("q")
              - col("sv").cast("decimal(19,0)") * col("sv"))
            .cast("double") / col("n") / (col("n") - 1) / lit(1e14))
            .as("var_kd"))
        val a = st.where(col("tr") === 1).select(col("covariate"),
          col("n").as("n_weekend"), col("mean_kd").as("mean_we"),
          col("var_kd").as("va"))
        val b = st.where(col("tr") === 0).select(col("covariate"),
          col("n").as("n_weekday"), col("mean_kd").as("mean_wd"),
          col("var_kd").as("vb"))
        val f = a.join(b, "covariate")
          .select(col("covariate"), col("n_weekend"), col("n_weekday"),
            col("mean_we"), col("mean_wd"),
            ((col("mean_we") - col("mean_wd"))
              / sqrt((col("va") + col("vb")) / 2)).as("smd"))
        f.select(col("covariate"), col("n_weekend"), col("n_weekday"),
            round(col("mean_we"), 6).as("mean_weekend_kd"),
            round(col("mean_wd"), 6).as("mean_weekday_kd"),
            round(col("smd"), 6).as("smd"),
            when(abs(col("smd")) < lit(0.1), 1).otherwise(0)
              .as("balanced"))
          .orderBy("covariate")
      }),

    // Kuiper's test (Kuiper '60) — the rotation-invariant EDF statistic
    // V = D⁺ + D⁻ that closes the family (KS q181, CvM q393, AD q435)
    // and catches shifts KS misses in both tails equally: purchase vs
    // click daily masses, EDF gaps as EXACT integers M_i·m − (i−M_i)·n
    // off the same two distributed-prefix passes as q435, both maxima
    // and V one division each.
    Q("q446_kuiper", Q.sql(s"""
        $purchaseClickPoolSql,
        nm AS (
          SELECT CAST(sum(s1) AS BIGINT) AS n,
            CAST(sum(1 - s1) AS BIGINT) AS m
          FROM pool),
        rk AS (
          SELECT CAST(count(*) AS BIGINT) AS i,
            CAST(sum(b.s1) AS BIGINT) AS mi
          FROM pool a JOIN pool b
            ON (b.v, b.s1, b.day) <= (a.v, a.s1, a.day)
          GROUP BY a.day, a.v, a.s1),
        gaps AS (
          SELECT CAST(max(mi * nm.m - (i - mi) * nm.n) AS BIGINT)
              AS d_plus_num,
            CAST(max((i - mi) * nm.n - mi * nm.m) AS BIGINT)
              AS d_minus_num
          FROM rk, nm)
        SELECT nm.n, nm.m,
          round(greatest(CAST(d_plus_num AS DOUBLE), 0)
            / (CAST(nm.n AS DOUBLE) * nm.m), 6) AS d_plus,
          round(greatest(CAST(d_minus_num AS DOUBLE), 0)
            / (CAST(nm.n AS DOUBLE) * nm.m), 6) AS d_minus,
          round((greatest(CAST(d_plus_num AS DOUBLE), 0)
            + greatest(CAST(d_minus_num AS DOUBLE), 0))
            / (CAST(nm.n AS DOUBLE) * nm.m), 6) AS kuiper_v
        FROM gaps, nm"""))(
      (s, dir) => {
        val pool = purchaseClickPool(s, dir)
        val nm = pool.agg(sum(col("s1")).as("n"),
          sum(lit(1L) - col("s1")).as("m"))
        val withI = graft.ops.Prefix.runningTotal(
          pool.withColumn("__one", lit(1L)),
          Seq(col("v"), col("s1"), col("day")), col("__one"), "i")
        val rk = graft.ops.Prefix.runningTotal(
          withI, Seq(col("v"), col("s1"), col("day")), col("s1"), "mi")
        val gaps = rk.crossJoin(broadcast(nm)).agg(
          max(col("mi") * col("m") - (col("i") - col("mi")) * col("n"))
            .cast("long").as("d_plus_num"),
          max((col("i") - col("mi")) * col("n") - col("mi") * col("m"))
            .cast("long").as("d_minus_num"))
        val den = col("n").cast("double") * col("m")
        gaps.crossJoin(broadcast(nm))
          .select(col("n"), col("m"),
            round(greatest(col("d_plus_num").cast("double"), lit(0))
              / den, 6).as("d_plus"),
            round(greatest(col("d_minus_num").cast("double"), lit(0))
              / den, 6).as("d_minus"),
            round((greatest(col("d_plus_num").cast("double"), lit(0))
              + greatest(col("d_minus_num").cast("double"), lit(0)))
              / den, 6).as("kuiper_v"))
      }),

    // Gwet's AC1 (Gwet BJMSP'08) — the agreement coefficient that fixes
    // the kappa paradox (high observed agreement, low kappa under
    // skewed prevalence) for the same three mechanical raters as
    // q400/q444: P_o from the all-integer within-unit pair counts,
    // P_e(γ) = 2π(1−π) with π the overall positive share — exact
    // integers until the final two divisions, reported beside the
    // kappa-family values for the paradox audit.
    Q("q447_gwet_ac1", Q.sql("""
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
            CAST(sum(c1 * (c1 - 1) + (3 - c1) * (2 - c1)) AS BIGINT)
              AS po_num
          FROM w),
        f AS (
          SELECT n_docs, n1,
            CAST(po_num AS DOUBLE) / (6 * n_docs) AS po,
            2 * (CAST(n1 AS DOUBLE) / (3 * n_docs))
              * (1 - CAST(n1 AS DOUBLE) / (3 * n_docs)) AS pe
          FROM agg)
        SELECT n_docs, round(po, 6) AS p_o, round(pe, 6) AS p_e_gamma,
          round((po - pe) / (1 - pe), 6) AS gwet_ac1
        FROM f"""))(
      (s, dir) => {
        val toks = graft.text.TextAnalysis.tokens(
          graft.text.TextAnalysis.normalizeText(col("text")))
        val w = T(s, dir, "documents")
          .select(col("doc_id"),
            (when(length(col("text")) >= 400, 1).otherwise(0)
              + when(size(toks) >= 80, 1).otherwise(0)
              + when(size(array_distinct(toks)).cast("double")
                / size(toks) >= 0.55, 1).otherwise(0)).as("c1"))
        val agg = w.agg(count(lit(1)).cast("long").as("n_docs"),
          sum(col("c1")).cast("long").as("n1"),
          sum(col("c1") * (col("c1") - 1)
            + (lit(3) - col("c1")) * (lit(2) - col("c1"))).cast("long")
            .as("po_num"))
        val share = col("n1").cast("double") / (lit(3) * col("n_docs"))
        val f = agg.select(col("n_docs"), col("n1"),
          (col("po_num").cast("double") / (lit(6) * col("n_docs")))
            .as("po"),
          (lit(2) * share * (lit(1) - share)).as("pe"))
        f.select(col("n_docs"), round(col("po"), 6).as("p_o"),
          round(col("pe"), 6).as("p_e_gamma"),
          round((col("po") - col("pe")) / (lit(1) - col("pe")), 6)
            .as("gwet_ac1"))
      }),

    // Turning-point test (Kendall '73) — the O(n) local-extrema
    // randomness screen beside the runs test (q211): T = # strict
    // local maxima/minima of each type's daily series (lag/lead from
    // ONE type-PARTITIONED window pass), E[T] = 2(n−2)/3,
    // Var[T] = (16n−29)/90, z from exact integers DOUBLE-cast at the
    // last mile. Ties produce neither a peak nor a trough (strict
    // inequalities) — deterministic by construction.
    Q("q448_turning_points", Q.sql(s"""
        WITH d AS ($dailyMassSql),
        lg AS (
          SELECT event_type, v,
            lag(v) OVER (PARTITION BY event_type ORDER BY day) AS vp,
            lead(v) OVER (PARTITION BY event_type ORDER BY day) AS vn
          FROM d),
        t AS (
          SELECT event_type,
            CAST(sum(CASE WHEN (v > vp AND v > vn)
              OR (v < vp AND v < vn) THEN 1 ELSE 0 END) AS BIGINT) AS tp,
            CAST(count(*) AS BIGINT) AS n
          FROM lg WHERE vp IS NOT NULL AND vn IS NOT NULL GROUP BY 1),
        f AS (SELECT event_type, tp, n + 2 AS n FROM t)
        SELECT event_type, n AS n_days, tp AS turning_points,
          round(CAST(2 * (n - 2) AS DOUBLE) / 3, 6) AS expected,
          round((tp - CAST(2 * (n - 2) AS DOUBLE) / 3)
            / sqrt(CAST(16 * n - 29 AS DOUBLE) / 90), 6) AS z
        FROM f ORDER BY event_type"""))(
      (s, dir) => {
        val d = dailyMass(s, dir)
        val w = Window.partitionBy("event_type").orderBy("day")
        val lg = d.select(col("event_type"), col("v"),
          lag(col("v"), 1).over(w).as("vp"),
          lead(col("v"), 1).over(w).as("vn"))
        val t = lg.where(col("vp").isNotNull && col("vn").isNotNull)
          .groupBy("event_type")
          .agg(sum(when((col("v") > col("vp") && col("v") > col("vn"))
            || (col("v") < col("vp") && col("v") < col("vn")), 1L)
            .otherwise(0L)).as("tp"),
            count(lit(1)).as("n"))
        val f = t.select(col("event_type"), col("tp"),
          (col("n") + 2).as("n"))
        f.select(col("event_type"), col("n").as("n_days"),
            col("tp").as("turning_points"),
            round((lit(2) * (col("n") - 2)).cast("double") / 3, 6)
              .as("expected"),
            round((col("tp") - (lit(2) * (col("n") - 2)).cast("double")
              / 3) / sqrt((lit(16) * col("n") - 29).cast("double")
                / 90), 6).as("z"))
          .orderBy("event_type")
      })
  )
}
