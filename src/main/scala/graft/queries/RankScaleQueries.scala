package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.{load => T}
import graft.queries.Bases.{dailyMass, dailyMassSql}

/** Round-11 batch 3: the dispersion/rank corner — Ansari-Bradley
  * (two-sample scale), the Quade test (weighted within-block rank
  * ANOVA, the small-k power upgrade over q346's Friedman), and the
  * variance-homogeneity ratio panel (Hartley's Fmax + Cochran's C
  * beside q389's Bartlett and q330's Brown-Forsythe). Rank machinery is
  * doubled-midrank INTEGER arithmetic throughout (ties land on .5, so
  * ×2 keeps every score exact); the Spark side ranks via the
  * distributed prefix, never a quadratic self-join or global window.
  */
object RankScaleQueries {

  def all: Seq[Q] = Seq(

    // Ansari-Bradley two-sample scale test (Ansari & Bradley AMS'60) —
    // do odd- and even-day revenues differ in DISPERSION? The location
    // twin is q410's Mood median. Scores count in from both ends of the
    // pooled order: s = min(midrank, n+1−midrank); doubled midranks
    // (2·less + ties + 1) keep every score integer under ties. The
    // less-counts ride the per-type distributed prefix over the
    // value-grouped frame; μ and σ² use the exact even/odd-n formulas
    // in one fixed-order double expression each.
    Q("q465_ansari_bradley", Q.sql(s"""
        WITH d AS ($dailyMassSql),
        g AS (
          SELECT event_type, v, CAST(dayofmonth(day) % 2 AS INT) AS grp
          FROM d),
        m AS (
          SELECT event_type, CAST(count(*) AS BIGINT) AS n,
            CAST(sum(grp) AS BIGINT) AS n1
          FROM g GROUP BY 1),
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
        sc AS (
          SELECT rk.event_type, rk.c1,
            2 * rk.less + rk.c + 1 AS m2, m.n
          FROM rk JOIN m ON m.event_type = rk.event_type),
        ab AS (
          SELECT event_type, max(n) AS n,
            CAST(sum(c1 * least(m2, 2 * (n + 1) - m2)) AS BIGINT) AS ab2
          FROM sc GROUP BY 1),
        fin AS (
          SELECT ab.event_type, ab.n, m.n1, ab.n - m.n1 AS n2,
            CAST(ab.ab2 AS DOUBLE) / 2 AS abstat,
            CASE WHEN ab.n % 2 = 0
              THEN CAST(m.n1 AS DOUBLE) * (ab.n + 2) / 4
              ELSE CAST(m.n1 AS DOUBLE) * (ab.n + 1) * (ab.n + 1)
                / (4 * ab.n)
            END AS mu,
            CASE WHEN ab.n % 2 = 0
              THEN CAST(m.n1 AS DOUBLE) * (ab.n - m.n1) * (ab.n + 2)
                * (ab.n - 2) / (48.0 * (ab.n - 1))
              ELSE CAST(m.n1 AS DOUBLE) * (ab.n - m.n1) * (ab.n + 1)
                * (3 + ab.n * ab.n) / (48.0 * ab.n * ab.n)
            END AS vv
          FROM ab JOIN m ON m.event_type = ab.event_type)
        SELECT event_type, n1, n2, round(abstat, 6) AS ab_stat,
          round(CASE WHEN vv > 0 THEN (abstat - mu) / sqrt(vv) END, 6)
            AS z
        FROM fin ORDER BY event_type"""))(
      (s, dir) => {
        val g = dailyMass(s, dir).select(col("event_type"), col("v"),
          (dayofmonth(col("day")) % 2).cast("int").as("grp"))
        val m = g.groupBy("event_type").agg(
          count(lit(1)).cast("long").as("n"),
          sum(col("grp")).cast("long").as("n1"))
        val vc = g.groupBy("event_type", "v").agg(
          count(lit(1)).cast("long").as("c"),
          sum(col("grp")).cast("long").as("c1"))
        // less-than counts = per-type prefix of the value-grouped c
        val rk = graft.ops.Prefix.runningTotal(vc, Seq(col("v")),
            col("c"), "cum", strataCols = Seq("event_type"))
          .withColumn("less", col("cum") - col("c"))
        val sc = rk.join(m, "event_type")
          .select(col("event_type"), col("c1"),
            (lit(2) * col("less") + col("c") + 1).as("m2"), col("n"))
        val ab = sc.groupBy("event_type").agg(max(col("n")).as("n"),
          sum(col("c1") * least(col("m2"),
            lit(2) * (col("n") + 1) - col("m2"))).cast("long").as("ab2"))
        val nD = col("n").cast("double")
        val n1D = col("n1").cast("double")
        val fin = ab.join(m.select(col("event_type"), col("n1")),
            "event_type")
          .select(col("event_type"), col("n"), col("n1"),
            (col("n") - col("n1")).as("n2"),
            (col("ab2").cast("double") / 2).as("abstat"),
            when(col("n") % 2 === 0, n1D * (col("n") + 2) / 4)
              .otherwise(n1D * (col("n") + 1) * (col("n") + 1)
                / (lit(4) * col("n"))).as("mu"),
            when(col("n") % 2 === 0,
              n1D * (col("n") - col("n1")) * (col("n") + 2)
                * (col("n") - 2) / (lit(48.0) * (col("n") - 1)))
              .otherwise(n1D * (col("n") - col("n1")) * (col("n") + 1)
                * (lit(3) + col("n") * col("n"))
                / (lit(48.0) * col("n") * col("n"))).as("vv"))
        fin.select(col("event_type"), col("n1"), col("n2"),
            round(col("abstat"), 6).as("ab_stat"),
            round(when(col("vv") > 0,
              (col("abstat") - col("mu")) / sqrt(col("vv"))), 6).as("z"))
          .orderBy("event_type")
      }),

    // Quade test (Quade JASA'79) — weighted within-block rank ANOVA:
    // blocks are days, treatments the five event types, and blocks are
    // weighted by the rank of their value RANGE, so high-signal days
    // count more than flat ones (the small-k power upgrade over q346's
    // Friedman). Doubled midranks within blocks (k = 5 values — one
    // equi-join per day) and doubled range ranks (distributed prefix
    // over the value-grouped range frame) keep S_ij = W_i(R_ij−(k+1)/2)
    // exact as 4·S; F rides exact BIGINT/DECIMAL sums with a
    // NULL-degenerate guard on the A−B denominator.
    Q("q466_quade", Q.sql(s"""
        WITH d AS ($dailyMassSql),
        r AS (
          SELECT a.event_type, a.day,
            CAST(sum(CASE WHEN b.v < a.v THEN 2 WHEN b.v = a.v THEN 1
              ELSE 0 END) + 1 AS BIGINT) AS r2
          FROM d a JOIN d b ON b.day = a.day
          GROUP BY 1, 2),
        k AS (SELECT CAST(count(DISTINCT event_type) AS BIGINT) AS k
              FROM d),
        rng AS (
          SELECT day, max(v) - min(v) AS range FROM d GROUP BY 1),
        rc AS (
          SELECT range, CAST(count(*) AS BIGINT) AS cr
          FROM rng GROUP BY 1),
        rcc AS (
          SELECT a.range, a.cr,
            CAST(coalesce(sum(b.cr), 0) AS BIGINT) AS less
          FROM rc a LEFT JOIN rc b ON b.range < a.range
          GROUP BY 1, 2),
        w AS (
          SELECT rng.day, 2 * rcc.less + rcc.cr + 1 AS w2
          FROM rng JOIN rcc ON rcc.range = rng.range),
        s AS (
          SELECT r.event_type, r.day, w.w2 * (r.r2 - (k.k + 1)) AS s4
          FROM r JOIN w ON w.day = r.day, k),
        b AS (SELECT CAST(count(DISTINCT day) AS BIGINT) AS b FROM d),
        qj AS (
          SELECT event_type, CAST(sum(s4) AS BIGINT) AS q4
          FROM s GROUP BY 1),
        tot AS (
          SELECT CAST(sum(CAST(s4 AS HUGEINT) * s4) AS DECIMAL(38,0))
            AS a16
          FROM s),
        bb AS (
          SELECT CAST(sum(CAST(q4 AS HUGEINT) * q4) AS DECIMAL(38,0))
            AS sq16
          FROM qj)
        SELECT qj.event_type, round(CAST(qj.q4 AS DOUBLE) / 4, 6) AS q_j,
          round(CASE WHEN CAST(tot.a16 AS DOUBLE)
              - CAST(bb.sq16 AS DOUBLE) / b.b > 0
            THEN (b.b - 1) * (CAST(bb.sq16 AS DOUBLE) / b.b)
              / (CAST(tot.a16 AS DOUBLE) - CAST(bb.sq16 AS DOUBLE) / b.b)
            END, 6) AS quade_f
        FROM qj, tot, bb, b
        ORDER BY qj.event_type"""))(
      (s, dir) => {
        val d = graft.ops.Frames.cached(dailyMass(s, dir))
        val r = d.as("a")
          .join(d.select(col("day"), col("v").as("vb")), "day")
          .groupBy("event_type", "day")
          .agg((sum(when(col("vb") < col("v"), 2)
            .when(col("vb") === col("v"), 1).otherwise(0)) + 1)
            .cast("long").as("r2"))
        val k = d.agg(countDistinct(col("event_type")).cast("long")
          .as("k"))
        val rng = d.groupBy("day")
          .agg((max(col("v")) - min(col("v"))).as("range"))
        val rc = rng.groupBy("range")
          .agg(count(lit(1)).cast("long").as("cr"))
        val rcc = graft.ops.Prefix.runningTotal(rc, Seq(col("range")),
            col("cr"), "cum")
          .withColumn("less", col("cum") - col("cr"))
        val w = rng.join(rcc, "range")
          .select(col("day"),
            (lit(2) * col("less") + col("cr") + 1).as("w2"))
        // materialized: sF feeds qj and tot — one rank/weight join pass
        val sF = graft.ops.Frames.materialize(
          r.join(w, "day").crossJoin(broadcast(k))
          .select(col("event_type"), col("day"),
            (col("w2") * (col("r2") - (col("k") + 1))).as("s4"))
          .coalesce(4))
        val bC = d.agg(countDistinct(col("day")).cast("long").as("b"))
        val qj = graft.ops.Frames.materialize(sF.groupBy("event_type")
          .agg(sum(col("s4")).cast("long").as("q4")).coalesce(1))
        // squares in decimal(19,0) BEFORE the multiply (q467's svv
        // pattern): s4/q4 scale with the data, so long*long would wrap
        // silently where the oracle's HUGEINT stays exact
        val tot = sF.agg(sum(col("s4").cast("decimal(19,0)") * col("s4"))
          .cast("decimal(38,0)").as("a16"))
        val bb = qj.agg(sum(col("q4").cast("decimal(19,0)") * col("q4"))
          .cast("decimal(38,0)").as("sq16"))
        val den = col("a16").cast("double") -
          col("sq16").cast("double") / col("b")
        qj.crossJoin(broadcast(tot)).crossJoin(broadcast(bb))
          .crossJoin(broadcast(bC))
          .select(col("event_type"),
            round(col("q4").cast("double") / 4, 6).as("q_j"),
            round(when(den > 0,
              (col("b") - 1) * (col("sq16").cast("double") / col("b"))
                / den), 6).as("quade_f"))
          .orderBy("event_type")
      }),

    // Variance-homogeneity ratio panel — Hartley's Fmax (max/min
    // variance) and Cochran's C (max/sum) across the five types,
    // the quick-screen siblings of q389's Bartlett and q330's
    // Brown-Forsythe. Variances come from exact BIGINT/DECIMAL(38,0)
    // moments, RESCALED to original value units (÷10⁸ for the 4-dp
    // fixed point) BEFORE any rounding — round(x, 4) on a ~1e12 double
    // needs more significand than a double has and diverges across
    // engines (the q330 trap); at ~1e4 it is exact.
    Q("q467_variance_ratio_panel", Q.sql(s"""
        WITH d AS ($dailyMassSql),
        m AS (
          SELECT event_type, CAST(count(*) AS BIGINT) AS n,
            CAST(sum(v) AS BIGINT) AS sv,
            CAST(sum(CAST(v AS HUGEINT) * v) AS DECIMAL(38,0)) AS svv
          FROM d GROUP BY 1),
        vr AS (
          SELECT event_type, n,
            (n * CAST(svv AS DOUBLE) - CAST(sv AS DOUBLE) * sv)
              / (CAST(n AS DOUBLE) * n * (n - 1)) / 100000000.0 AS s2
          FROM m),
        agg AS (
          SELECT CAST(count(*) AS BIGINT) AS k,
            max(s2) AS mx, min(s2) AS mn,
            CAST(sum(CAST(round(s2, 4) AS DECIMAL(38,4))) AS DOUBLE)
              AS tot
          FROM vr)
        SELECT vr.event_type, vr.n AS n_days, round(vr.s2, 4)
            AS variance,
          round(CASE WHEN agg.mn > 0 THEN agg.mx / agg.mn END, 6)
            AS hartley_fmax,
          round(CASE WHEN agg.tot > 0 THEN agg.mx / agg.tot END, 6)
            AS cochran_c,
          agg.k AS k_groups
        FROM vr, agg
        ORDER BY vr.event_type"""))(
      (s, dir) => {
        val m = dailyMass(s, dir).groupBy("event_type").agg(
          count(lit(1)).cast("long").as("n"),
          sum(col("v")).cast("long").as("sv"),
          sum(col("v").cast("decimal(19,0)") * col("v"))
            .cast("decimal(38,0)").as("svv"))
        val nD = col("n").cast("double")
        val vr = m.select(col("event_type"), col("n"),
          ((nD * col("svv").cast("double")
            - col("sv").cast("double") * col("sv"))
            / (nD * col("n") * (col("n") - 1)) / 100000000.0).as("s2"))
        val agg = vr.agg(count(lit(1)).cast("long").as("k"),
          max(col("s2")).as("mx"), min(col("s2")).as("mn"),
          sum(round(col("s2"), 4).cast("decimal(38,4)")).cast("double")
            .as("tot"))
        vr.crossJoin(broadcast(agg))
          .select(col("event_type"), col("n").as("n_days"),
            round(col("s2"), 4).as("variance"),
            round(when(col("mn") > 0, col("mx") / col("mn")), 6)
              .as("hartley_fmax"),
            round(when(col("tot") > 0, col("mx") / col("tot")), 6)
              .as("cochran_c"),
            col("k").as("k_groups"))
          .orderBy("event_type")
      })
  )
}
