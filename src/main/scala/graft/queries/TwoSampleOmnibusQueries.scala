package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.Bases.{dailyMass, dailyMassSql}

/** Round-14 depth addition: the Epps-Singleton two-sample omnibus — the
  * characteristic-function test the round-13 verdict named as the panel's
  * last classic gap (works on DISCRETE data, where Wald-Wolfowitz runs
  * (q482) lose power; complements Cucconi q477 / Lepage q478).
  *
  * Engine-portability design: every scalar stage is ONE generated SQL
  * expression string evaluated by BOTH engines (Spark via `selectExpr`/
  * `expr`, DuckDB verbatim in the oracle CTEs) — the
  * [[graft.functions.Probit]] precedent extended to a whole
  * linear-algebra ladder. All doubles flow through identical
  * fully-parenthesized, left-associated IEEE operation sequences; the
  * only order-dependent reductions (feature and product sums) are
  * rounded@9 and summed in exact DECIMAL(38,9).
  */
object TwoSampleOmnibusQueries {

  /** Upper-triangle index pairs of the 4×4 feature covariance. */
  private val esPairs: Seq[(Int, Int)] =
    for { j <- 1 to 4; k <- j to 4 } yield (j, k)

  /** g(x) = (cos t₁x, sin t₁x, cos t₂x, sin t₂x) with t_j = {0.4, 0.8}
    * scaled by the pooled semi-interquartile range (Epps & Singleton
    * JSCS'86 §4's recommended points). Rounded@9 so the downstream
    * decimal sums are order-independent; both engines compute cos/sin of
    * the IDENTICAL double argument.
    */
  private val esFeatCols: Seq[String] = {
    def arg(t: String) =
      s"((CAST($t AS DOUBLE) / sigma) * CAST(v AS DOUBLE))"
    Seq(s"round(cos(${arg("0.4")}), 9) AS c1",
      s"round(sin(${arg("0.4")}), 9) AS c2",
      s"round(cos(${arg("0.8")}), 9) AS c3",
      s"round(sin(${arg("0.8")}), 9) AS c4")
  }

  /** Per-(type, group) moment aggregates: count, 4 feature sums, 10
    * product sums — exact DECIMAL(38,9) over rounded@9 doubles, emitted
    * as DOUBLE.
    */
  private val esMomAggs: Seq[String] =
    Seq("CAST(count(*) AS BIGINT) AS ng") ++
      (1 to 4).map(j =>
        s"CAST(sum(CAST(c$j AS DECIMAL(38,9))) AS DOUBLE) AS s$j") ++
      esPairs.map { case (j, k) =>
        s"CAST(sum(CAST(round(c$j * c$k, 9) AS DECIMAL(38,9))) AS DOUBLE) AS p$j$k"
      }

  /** x-side (odd days) / y-side (even days) column split. */
  private val esXyCols: Seq[String] =
    Seq("x.event_type AS event_type", "x.ng AS nx", "y.ng AS ny") ++
      (1 to 4).flatMap(j => Seq(s"x.s$j AS sx$j", s"y.s$j AS sy$j")) ++
      esPairs.flatMap { case (j, k) =>
        Seq(s"x.p$j$k AS px$j$k", s"y.p$j$k AS py$j$k")
      }

  /** Difference vector d and pooled covariance Ω̂ = (n/n₁)Ŝ_x + (n/n₂)Ŝ_y
    * (ML covariances, ES86 eq. 2.4): 4 + 10 named doubles.
    */
  private val esMidCols: Seq[String] = {
    def mean(g: Char, j: Int) = s"(s$g$j / CAST(n$g AS DOUBLE))"
    Seq("event_type", "nx", "ny") ++
      (1 to 4).map(j => s"(${mean('x', j)} - ${mean('y', j)}) AS d$j") ++
      esPairs.map { case (j, k) =>
        def cov(g: Char) =
          s"((p$g$j$k / CAST(n$g AS DOUBLE)) - (${mean(g, j)} * ${mean(g, k)}))"
        s"(((CAST(nx + ny AS DOUBLE) / CAST(nx AS DOUBLE)) * ${cov('x')})" +
          s" + ((CAST(nx + ny AS DOUBLE) / CAST(ny AS DOUBLE)) * ${cov('y')})) AS o$j$k"
      }
  }

  private def om(j: Int, k: Int): String = {
    val (a, b) = (j min k, j max k); s"o$a$b"
  }

  /** 3×3 determinant over named entries — fixed order, fully
    * parenthesized, so both engines run the identical IEEE sequence.
    */
  private def det3(rows: Seq[Int], cols: Seq[Int]): String = {
    def e(r: Int, c: Int) = om(rows(r), cols(c))
    val p1 = s"((${e(0, 0)} * ${e(1, 1)}) * ${e(2, 2)})"
    val p2 = s"((${e(0, 1)} * ${e(1, 2)}) * ${e(2, 0)})"
    val p3 = s"((${e(0, 2)} * ${e(1, 0)}) * ${e(2, 1)})"
    val p4 = s"((${e(0, 2)} * ${e(1, 1)}) * ${e(2, 0)})"
    val p5 = s"((${e(0, 1)} * ${e(1, 0)}) * ${e(2, 2)})"
    val p6 = s"((${e(0, 0)} * ${e(1, 2)}) * ${e(2, 1)})"
    s"((((($p1 + $p2) + $p3) - $p4) - $p5) - $p6)"
  }

  private val esIdx = Seq(1, 2, 3, 4)

  /** Adjugate entries (symmetric Ω: adj_jk = (−1)^{j+k}·M_jk) and the
    * 4×4 determinant (first-row cofactor expansion).
    */
  private val esAdjCols: Seq[String] = {
    val adj = esPairs.map { case (j, k) =>
      val d = det3(esIdx.filterNot(_ == j), esIdx.filterNot(_ == k))
      val body = if ((j + k) % 2 == 0) d else s"(CAST(0 AS DOUBLE) - $d)"
      s"$body AS a$j$k"
    }
    val det4 = {
      val terms = esIdx.map { k =>
        val d = det3(esIdx.filterNot(_ == 1), esIdx.filterNot(_ == k))
        val t = s"(${om(1, k)} * $d)"
        if ((1 + k) % 2 == 0) t else s"(CAST(0 AS DOUBLE) - $t)"
      }
      s"(((${terms(0)} + ${terms(1)}) + ${terms(2)}) + ${terms(3)}) AS det4"
    }
    Seq("event_type", "nx", "ny", "d1", "d2", "d3", "d4") ++ adj :+ det4
  }

  /** Quadratic form dᵀ·adj(Ω)·d (left-associated pair order), then
    * W² = n·quad/det (Ω⁻¹ = adj/det), ES86's small-sample correction
    * applied below n₁∧n₂ < 25 (the scipy convention).
    */
  private val esFinCols: Seq[String] = {
    val quad = esPairs.map { case (j, k) =>
      if (j == k) s"((d$j * d$j) * a$j$j)"
      else s"((CAST(2 AS DOUBLE) * (d$j * d$k)) * a$j$k)"
    }.reduce((a, b) => s"($a + $b)")
    val w2 = s"(CASE WHEN abs(det4) > CAST(1e-12 AS DOUBLE) " +
      s"THEN ((CAST(nx + ny AS DOUBLE) * $quad) / det4) END)"
    val corr = "(CAST(1 AS DOUBLE) / ((CAST(1 AS DOUBLE) " +
      "+ power(CAST(nx + ny AS DOUBLE), CAST(-0.45 AS DOUBLE))) " +
      "+ (CAST(10.1 AS DOUBLE) * (power(CAST(nx AS DOUBLE), CAST(-1.7 AS DOUBLE)) " +
      "+ power(CAST(ny AS DOUBLE), CAST(-1.7 AS DOUBLE))))))"
    Seq("event_type", "nx AS n1", "ny AS n2",
      s"round($w2, 6) AS w2",
      s"round((CASE WHEN least(nx, ny) < 25 THEN ($w2 * $corr) ELSE $w2 END), 6) AS w2_small")
  }

  /** Scholz-Stephens variance coefficient / statistic ladder — shared
    * expression strings, ES-style: inputs (n, k, s, hh, hsum, gsum).
    */
  private val adCoefCols: Seq[String] = Seq(
    "event_type", "n", "k",
    "((CAST(n - 1 AS DOUBLE) / CAST(n AS DOUBLE)) * s) AS a2",
    "((CAST(4 AS DOUBLE) * gsum - CAST(6 AS DOUBLE)) * CAST(k - 1 AS DOUBLE)" +
      " + (CAST(10 AS DOUBLE) - CAST(6 AS DOUBLE) * gsum) * hh) AS ca",
    "((CAST(2 AS DOUBLE) * gsum - CAST(4 AS DOUBLE)) * CAST(k AS DOUBLE) * CAST(k AS DOUBLE)" +
      " + CAST(8 AS DOUBLE) * hsum * CAST(k AS DOUBLE)" +
      " + (CAST(2 AS DOUBLE) * gsum - CAST(14 AS DOUBLE) * hsum - CAST(4 AS DOUBLE)) * hh" +
      " - CAST(8 AS DOUBLE) * hsum + CAST(4 AS DOUBLE) * gsum - CAST(6 AS DOUBLE)) AS cb",
    "((CAST(6 AS DOUBLE) * hsum + CAST(2 AS DOUBLE) * gsum - CAST(2 AS DOUBLE)) * CAST(k AS DOUBLE) * CAST(k AS DOUBLE)" +
      " + (CAST(4 AS DOUBLE) * hsum - CAST(4 AS DOUBLE) * gsum + CAST(6 AS DOUBLE)) * CAST(k AS DOUBLE)" +
      " + (CAST(2 AS DOUBLE) * hsum - CAST(6 AS DOUBLE)) * hh + CAST(4 AS DOUBLE) * hsum) AS cc",
    "((CAST(2 AS DOUBLE) * hsum + CAST(6 AS DOUBLE)) * CAST(k AS DOUBLE) * CAST(k AS DOUBLE)" +
      " - CAST(4 AS DOUBLE) * hsum * CAST(k AS DOUBLE)) AS cd")

  private val adFinCols: Seq[String] = {
    val sigma2 = "((ca * CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)" +
      " + cb * CAST(n AS DOUBLE) * CAST(n AS DOUBLE) + cc * CAST(n AS DOUBLE) + cd)" +
      " / CAST((n - 1) * (n - 2) * (n - 3) AS DOUBLE))"
    Seq("event_type", "n", "k",
      "round(a2, 6) AS a2",
      // sigma guarded like t: an unguarded sqrt of a non-positive
      // variance is NaN on Spark but a hard ERROR on DuckDB — the
      // engine-divergence class the sf0.001 gate exists to catch
      s"round((CASE WHEN $sigma2 > 0 THEN sqrt($sigma2) END), 6) AS sigma",
      s"round((CASE WHEN $sigma2 > 0" +
        s" THEN (a2 - CAST(k - 1 AS DOUBLE)) / sqrt($sigma2) END), 6) AS t")
  }

  def all: Seq[Q] = Seq(

    // k-sample Anderson-Darling (Scholz & Stephens JASA'87, the
    // ties/midrank statistic A²_akN): does the daily-mass DISTRIBUTION
    // differ across the three day-of-month residue groups? This is the
    // k-sample distributional omnibus the panel lacked — q329
    // Kruskal-Wallis / q346 Friedman / q466 Quade compare LOCATION
    // across k groups; AD weighs the whole ECDF with emphasis on the
    // tails. Everything up to the final ladder is EXACT integers:
    // doubled midrank cumulatives m2 = 2M+lᵢ and b2 = 2B+l make each
    // j-term the ratio l·(N·m2 − nᵢ·b2)² / (N·(b2·(2N−b2) − N·l)) of
    // two BIGINTs; per-term doubles are rounded@9 into DECIMAL sums.
    // The variance's harmonic sums h = Σ1/i and g = ΣΣ1/((N−i)j) are
    // rounded@12 reciprocal DECIMAL sums over generated index frames
    // (N ≤ days, so the g grid is tiny); the coefficient polynomial and
    // T = (A² − (k−1))/σ ride ONE shared expression ladder on both
    // engines (the q485 pattern). The formula path reproduces the
    // paper's worked example (A² 8.3926, σ 1.2038, T 4.480) — pinned in
    // EsSpec's sibling check. Scale: two hash aggs for multiplicities,
    // cumulatives on the distinct-value frame (prefix-sum shaped, value
    // domain ≪ rows), one generated index frame per type — nothing
    // touches row pairs.
    Q("q486_ksample_ad", Q.sql(s"""
        WITH d AS ($dailyMassSql),
        g AS (SELECT event_type, day, v,
                CAST(dayofmonth(day) % 3 AS INT) AS grp FROM d),
        zl AS (SELECT event_type, v, CAST(count(*) AS BIGINT) AS l
               FROM g GROUP BY 1, 2),
        zli AS (SELECT event_type, grp, v, CAST(count(*) AS BIGINT) AS li
                FROM g GROUP BY 1, 2, 3),
        nn AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                 CAST(count(DISTINCT v) AS BIGINT) AS lc
               FROM g GROUP BY 1),
        ni AS (SELECT event_type, grp, CAST(count(*) AS BIGINT) AS nig
               FROM g GROUP BY 1, 2),
        kk AS (SELECT event_type, CAST(count(*) AS BIGINT) AS k
               FROM ni GROUP BY 1),
        cb2 AS (
          SELECT a.event_type, a.v, a.l,
            2 * CAST(coalesce(sum(b.l), 0) AS BIGINT) + a.l AS b2
          FROM zl a LEFT JOIN zl b
            ON b.event_type = a.event_type AND b.v < a.v
          GROUP BY a.event_type, a.v, a.l),
        cm AS (
          SELECT gr.event_type, gr.grp, gr.v,
            2 * CAST(coalesce(sum(CASE WHEN z2.v < gr.v THEN z2.li END), 0)
              AS BIGINT)
              + CAST(coalesce(max(CASE WHEN z2.v = gr.v THEN z2.li END), 0)
              AS BIGINT) AS m2
          FROM (SELECT zl.event_type, ni.grp, zl.v
                FROM zl JOIN ni ON ni.event_type = zl.event_type) gr
          LEFT JOIN zli z2
            ON z2.event_type = gr.event_type AND z2.grp = gr.grp
              AND z2.v <= gr.v
          GROUP BY 1, 2, 3),
        tm AS (
          SELECT cm.event_type, cm.grp,
            round(CAST(cb2.l * (nn.n * cm.m2 - ni.nig * cb2.b2)
                * (nn.n * cm.m2 - ni.nig * cb2.b2) AS DOUBLE)
              / CAST(nn.n * (cb2.b2 * (2 * nn.n - cb2.b2) - nn.n * cb2.l)
                AS DOUBLE), 9) AS t
          FROM cm
          JOIN cb2 ON cb2.event_type = cm.event_type AND cb2.v = cm.v
          JOIN nn ON nn.event_type = cm.event_type
          JOIN ni ON ni.event_type = cm.event_type AND ni.grp = cm.grp),
        in1 AS (
          SELECT event_type, grp,
            CAST(sum(CAST(t AS DECIMAL(38,9))) AS DOUBLE) AS inner_g
          FROM tm GROUP BY 1, 2),
        in2 AS (
          SELECT i.event_type,
            CAST(sum(CAST(round(i.inner_g / ni.nig, 9) AS DECIMAL(38,9)))
              AS DOUBLE) AS s
          FROM in1 i JOIN ni
            ON ni.event_type = i.event_type AND ni.grp = i.grp
          GROUP BY 1),
        hc AS (
          SELECT event_type,
            CAST(sum(CAST(round(CAST(1 AS DOUBLE) / nig, 12)
              AS DECIMAL(38,12))) AS DOUBLE) AS hh
          FROM ni GROUP BY 1),
        hs AS (
          SELECT nn.event_type,
            CAST(sum(CAST(round(CAST(1 AS DOUBLE) / ii.i, 12)
              AS DECIMAL(38,12))) AS DOUBLE) AS hsum
          FROM nn, LATERAL (SELECT unnest(generate_series(1,
            CAST(nn.n - 1 AS INT))) AS i) ii
          GROUP BY 1),
        gs AS (
          SELECT nn.event_type,
            CAST(sum(CAST(round(CAST(1 AS DOUBLE) / ((nn.n - ii.i) * jj.j),
              12) AS DECIMAL(38,12))) AS DOUBLE) AS gsum
          FROM nn,
            LATERAL (SELECT unnest(generate_series(1,
              CAST(nn.n - 2 AS INT))) AS i) ii,
            LATERAL (SELECT unnest(generate_series(ii.i + 1,
              CAST(nn.n - 1 AS INT))) AS j) jj
          GROUP BY 1),
        base AS (
          SELECT nn.event_type, nn.n, kk.k, in2.s, hc.hh, hs.hsum, gs.gsum
          FROM nn JOIN kk ON kk.event_type = nn.event_type
          JOIN in2 ON in2.event_type = nn.event_type
          JOIN hc ON hc.event_type = nn.event_type
          JOIN hs ON hs.event_type = nn.event_type
          JOIN gs ON gs.event_type = nn.event_type
          WHERE nn.n >= 5 AND kk.k >= 2 AND nn.lc >= 2),
        coef AS (SELECT ${adCoefCols.mkString(", ")} FROM base)
        SELECT ${adFinCols.mkString(", ")} FROM coef
        ORDER BY event_type"""))(
      (s, dir) => {
        // materialized: g feeds zl/zli/nn/ni — one events scan, flat plan
        val g = graft.ops.Frames.materialize(
          dailyMass(s, dir).select(col("event_type"), col("day"),
          col("v"), (dayofmonth(col("day")) % 3).cast("int").as("grp"))
          .coalesce(4))
        val zl = g.groupBy("event_type", "v")
          .agg(count(lit(1)).cast("long").as("l"))
        val zli = g.groupBy("event_type", "grp", "v")
          .agg(count(lit(1)).cast("long").as("li"))
        val nn = g.groupBy("event_type")
          .agg(count(lit(1)).cast("long").as("n"),
            countDistinct(col("v")).cast("long").as("lc"))
        val ni = g.groupBy("event_type", "grp")
          .agg(count(lit(1)).cast("long").as("nig"))
        val kk = ni.groupBy("event_type")
          .agg(count(lit(1)).cast("long").as("k"))
        // doubled pooled cumulative b2 = 2B+l: a PARTITIONED window over
        // the distinct-value frame — per-type row count is bounded by
        // the calendar (≤ days), so unlike a corpus-sized prefix this
        // window is a fixed-size per-type scan, cheaper than the
        // distributed-prefix machinery by its two materialize barriers
        import org.apache.spark.sql.expressions.Window
        val wPool = Window.partitionBy("event_type").orderBy("v")
          .rowsBetween(Window.unboundedPreceding, 0)
        val cb2 = zl
          .withColumn("__cum", sum(col("l")).over(wPool))
          .select(col("event_type"), col("v"), col("l"),
            (lit(2) * col("__cum") - col("l")).as("b2"))
        // per-sample doubled cumulative m2 = 2M+li on the FULL
        // (type, grp, distinct-v) grid — absent (grp, v) cells carry
        // li = 0 but still contribute their cumulative position
        val grid = zl.select(col("event_type"), col("v"))
          .join(ni.select(col("event_type"), col("grp")), "event_type")
          .join(zli, Seq("event_type", "grp", "v"), "left")
          .na.fill(0L, Seq("li"))
        val wGrp = Window.partitionBy("event_type", "grp").orderBy("v")
          .rowsBetween(Window.unboundedPreceding, 0)
        val cm = grid
          .withColumn("__cumi", sum(col("li")).over(wGrp))
          .select(col("event_type"), col("grp"), col("v"),
            (lit(2) * col("__cumi") - col("li")).as("m2"))
        val tm = cm
          .join(cb2, Seq("event_type", "v"))
          .join(nn.select("event_type", "n"), "event_type")
          .join(ni, Seq("event_type", "grp"))
          .select(col("event_type"), col("grp"),
            round((col("l") * (col("n") * col("m2") - col("nig") * col("b2"))
                * (col("n") * col("m2") - col("nig") * col("b2")))
                .cast("double")
              / (col("n") * (col("b2") * (lit(2) * col("n") - col("b2"))
                - col("n") * col("l"))).cast("double"), 9).as("t"))
        val in1 = tm.groupBy("event_type", "grp")
          .agg(sum(col("t").cast("decimal(38,9)")).cast("double")
            .as("inner_g"))
        val in2 = in1.join(ni, Seq("event_type", "grp"))
          .groupBy("event_type")
          .agg(sum(round(col("inner_g") / col("nig"), 9)
            .cast("decimal(38,9)")).cast("double").as("s"))
        val hc = ni.groupBy("event_type")
          .agg(sum(round(lit(1.0) / col("nig"), 12)
            .cast("decimal(38,12)")).cast("double").as("hh"))
        val hs = nn.select(col("event_type"), col("n"),
            explode(sequence(lit(1L), col("n") - 1)).as("i"))
          .groupBy("event_type")
          .agg(sum(round(lit(1.0) / col("i"), 12)
            .cast("decimal(38,12)")).cast("double").as("hsum"))
        val gsum = nn.select(col("event_type"), col("n"),
            explode(sequence(lit(1L), col("n") - 2)).as("i"))
          .select(col("event_type"), col("n"), col("i"),
            explode(sequence(col("i") + 1, col("n") - 1)).as("j"))
          .groupBy("event_type")
          .agg(sum(round(lit(1.0) / ((col("n") - col("i")) * col("j")), 12)
            .cast("decimal(38,12)")).cast("double").as("gsum"))
        val base = nn.join(kk, "event_type").join(in2, "event_type")
          .join(hc, "event_type").join(hs, "event_type")
          .join(gsum, "event_type")
          .where(col("n") >= 5 && col("k") >= 2 && col("lc") >= 2)
          .select("event_type", "n", "k", "s", "hh", "hsum", "gsum")
        base.selectExpr(adCoefCols: _*)
          .selectExpr(adFinCols: _*)
          .orderBy("event_type")
      }),

    // Epps-Singleton two-sample test (Epps & Singleton JSCS'86): compare
    // the EMPIRICAL CHARACTERISTIC FUNCTIONS of the odd- and even-day
    // daily-mass samples per event type at two frequencies scaled by the
    // pooled semi-IQR — an omnibus that, unlike rank tests, keeps power
    // on discrete/tied data. W² = n·dᵀΩ̂⁻¹d with d the 4-dim difference
    // of (cos, sin) feature means and Ω̂ the pooled ML covariance; the
    // inverse rides the adjugate (10 3×3 cofactors + one 4×4
    // determinant), every stage ONE shared expression string on both
    // engines. Quartiles are type-1 (value at rank ⌈pn⌉) on the strict
    // (v, day) total order — exact integers, no interpolation ambiguity.
    // Scale: one narrow per-type aggregation for ranks (distributed
    // prefix on the Spark side — the oracle replays it as the quadratic
    // count join, q482's pattern), one feature projection, one 30-column
    // hash aggregation, then per-type scalar algebra on SINGLE rows —
    // nothing grows faster than the event table itself.
    Q("q485_epps_singleton", Q.sql(s"""
        WITH d AS ($dailyMassSql),
        g AS (SELECT event_type, day, v,
                CAST(dayofmonth(day) % 2 AS INT) AS grp FROM d),
        m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM g
              GROUP BY 1),
        pos AS (
          SELECT a.event_type, a.v, CAST(count(b.day) + 1 AS BIGINT) AS i
          FROM g a LEFT JOIN g b
            ON b.event_type = a.event_type
            AND (b.v < a.v OR (b.v = a.v AND b.day < a.day))
          GROUP BY a.event_type, a.day, a.v),
        quart AS (
          SELECT pos.event_type,
            max(CASE WHEN i = CAST(floor((n + 3) / 4.0) AS BIGINT)
                THEN v END) AS q1v,
            max(CASE WHEN i = CAST(floor((n * 3 + 3) / 4.0) AS BIGINT)
                THEN v END) AS q3v
          FROM pos JOIN m ON m.event_type = pos.event_type
          GROUP BY 1),
        sig AS (
          SELECT event_type,
            CAST(q3v - q1v AS DOUBLE) / CAST(2 AS DOUBLE) AS sigma
          FROM quart
          WHERE CAST(q3v - q1v AS DOUBLE) > 0),
        feat AS (
          SELECT g.event_type, grp, ${esFeatCols.mkString(", ")}
          FROM g JOIN sig ON sig.event_type = g.event_type),
        mom AS (
          SELECT event_type, grp, ${esMomAggs.mkString(", ")}
          FROM feat GROUP BY 1, 2),
        xy AS (
          SELECT ${esXyCols.mkString(", ")}
          FROM mom x JOIN mom y
            ON y.event_type = x.event_type AND x.grp = 1 AND y.grp = 0
          WHERE x.ng >= 2 AND y.ng >= 2),
        mid AS (SELECT ${esMidCols.mkString(", ")} FROM xy),
        adj AS (SELECT ${esAdjCols.mkString(", ")} FROM mid)
        SELECT ${esFinCols.mkString(", ")} FROM adj
        ORDER BY event_type"""))(
      (s, dir) => {
        // materialized: g feeds m, the quartile prefix and feat — one
        // events scan instead of three
        val g = graft.ops.Frames.materialize(
          dailyMass(s, dir).select(col("event_type"), col("day"),
          col("v"), (dayofmonth(col("day")) % 2).cast("int").as("grp"))
          .coalesce(4))
        val m = g.groupBy("event_type")
          .agg(count(lit(1)).cast("long").as("n"))
        val pos = graft.ops.Prefix.runningTotal(
          g.withColumn("__one", lit(1L)),
          Seq(col("v"), col("day")), col("__one"), "i",
          strataCols = Seq("event_type"))
          .select(col("event_type"), col("v"), col("i"))
        val quart = pos.join(m, "event_type")
          .groupBy("event_type")
          .agg(
            expr("max(CASE WHEN i = CAST(floor((n + 3) / 4.0) AS BIGINT)" +
              " THEN v END)").as("q1v"),
            expr("max(CASE WHEN i = CAST(floor((n * 3 + 3) / 4.0) AS BIGINT)" +
              " THEN v END)").as("q3v"))
        val sig = quart.selectExpr("event_type",
            "CAST(q3v - q1v AS DOUBLE) / CAST(2 AS DOUBLE) AS sigma")
          .where(col("sigma") > 0)
        val feat = g.join(sig, "event_type")
          .selectExpr(Seq("event_type", "grp") ++ esFeatCols: _*)
        val mom = graft.ops.Frames.cached(
          feat.groupBy("event_type", "grp")
            .agg(expr(esMomAggs.head),
              esMomAggs.tail.map(expr): _*))
        val xy = mom.as("x")
          .join(mom.as("y"),
            col("y.event_type") === col("x.event_type") &&
              col("x.grp") === 1 && col("y.grp") === 0)
          .where(col("x.ng") >= 2 && col("y.ng") >= 2)
          .selectExpr(esXyCols: _*)
        xy.selectExpr(esMidCols: _*)
          .selectExpr(esAdjCols: _*)
          .selectExpr(esFinCols: _*)
          .orderBy("event_type")
      })
  )
}
