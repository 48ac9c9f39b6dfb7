package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.{load => T}
import graft.functions.PortableSql
import graft.ops.Relational.dsum
import graft.queries.Bases.{dailyMass, dailyMassSql}
import graft.text.TextAnalysis

/** Round-10 batch 6: ordered-alternative and calibration diagnostics —
  * the Jonckheere-Terpstra trend test, expected calibration error of
  * the lang-ID confidence, and Mood's median test — each oracle-checked
  * bit-for-bit against DuckDB.
  */
object RankEvalQueries {

  def all: Seq[Q] = Seq(

    // Jonckheere-Terpstra test (Biometrika'54) — does daily revenue
    // RISE across the ordered weekday groups Mon→Sun? The K-sample
    // ordered alternative beside q401 (Page, repeated measures) and
    // q402 (Cochran-Armitage, binary): J* = Σ_{j<k} [2·#(x_j < x_k) +
    // #(x_j = x_k)] — the doubled-count identity keeps ties exact —
    // with the no-tie null moments μ = (N² − Σn_j²)/2 (doubled) and
    // σ² = (N²(2N+3) − Σn_j²(2n_j+3))/72. The pair sweep runs over the
    // calendar-bounded daily frame (≤ ~400 rows at any SF — days, not
    // events — broadcast; the q393 precedent), group sizes are a 7-row
    // agg.
    Q("q408_jonckheere", Q.sql(s"""
        WITH d AS ($dailyMassSql),
        g AS (
          SELECT CAST(isodow(day) AS BIGINT) AS grp, v
          FROM d),
        pr AS (
          SELECT CAST(sum(CASE WHEN a.grp < b.grp AND a.v < b.v
              THEN 2 ELSE 0 END) AS BIGINT) AS dbl_less,
            CAST(sum(CASE WHEN a.grp < b.grp AND a.v = b.v
              THEN 1 ELSE 0 END) AS BIGINT) AS ties
          FROM g a, g b),
        nz AS (
          SELECT CAST(count(*) AS BIGINT) AS nj FROM g GROUP BY grp),
        mm AS (
          SELECT CAST(sum(nj) AS BIGINT) AS n,
            CAST(sum(nj * nj) AS BIGINT) AS sn2,
            CAST(sum(nj * nj * (2 * nj + 3)) AS BIGINT) AS sn23
          FROM nz),
        f AS (
          SELECT pr.dbl_less + pr.ties AS j2, mm.n, mm.sn2,
            (CAST(mm.n AS DOUBLE) * mm.n * (2 * mm.n + 3) - mm.sn23)
              / 72.0 AS var_j
          FROM pr, mm)
        SELECT n AS n_days, j2 AS j_doubled,
          round((CAST(j2 AS DOUBLE) / 2
              - (CAST(n AS DOUBLE) * n - sn2) / 4)
            / sqrt(var_j), 6) AS z
        FROM f"""))(
      (s, dir) => {
        val g = dailyMass(s, dir)
          .select((weekday(col("day")) + 1).cast("long").as("grp"),
            col("v"))
        val other = broadcast(g.select(col("grp").as("g2"),
          col("v").as("v2")))
        val pr = g.crossJoin(other).agg(
          sum(when(col("grp") < col("g2") && col("v") < col("v2"), 2L)
            .otherwise(0L)).as("dbl_less"),
          sum(when(col("grp") < col("g2") && col("v") === col("v2"), 1L)
            .otherwise(0L)).as("ties"))
        val nz = g.groupBy("grp").agg(count(lit(1)).as("nj"))
        val mm = nz.agg(sum(col("nj")).as("n"),
          sum(col("nj") * col("nj")).as("sn2"),
          sum(col("nj") * col("nj") * (lit(2) * col("nj") + 3)).as("sn23"))
        val f = pr.crossJoin(broadcast(mm))
          .select((col("dbl_less") + col("ties")).as("j2"),
            col("n"), col("sn2"),
            ((col("n").cast("double") * col("n") * (lit(2) * col("n") + 3)
              - col("sn23")) / lit(72.0)).as("var_j"))
        f.select(col("n").as("n_days"), col("j2").as("j_doubled"),
          round((col("j2").cast("double") / 2
              - (col("n").cast("double") * col("n") - col("sn2")) / 4)
            / sqrt(col("var_j")), 6).as("z"))
      }),

    // Expected calibration error (Naeini AAAI'15 / Guo ICML'17) of the
    // n-gram lang-ID confidence: confidence = max marker score / total
    // marker mass, correctness = prediction equals the labeled lang.
    // Ten fixed-width confidence bins; ECE = Σ (n_b/N)·|acc_b − conf_b|.
    // One documents scan with the padded-normalization hoisted ONCE
    // (the q30 codegen discipline), a 10-row bin agg; per-bin
    // confidences rounded@9 and DECIMAL-summed so the bin means are
    // order-free. Zero-marker docs predict 'und' with confidence 0 and
    // stay in bin 0 — the audit covers them too.
    Q("q409_ece_langid", {
      val normSql = "lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))"
      val paddedSql = s"(' ' || $normSql || ' ')"
      def scoreSql(lang: String): String =
        TextAnalysis.LangMarkers.toMap.apply(lang)
          .map(m => PortableSql.countOccurrences(paddedSql, m))
          .mkString("(", " + ", ")")
      val scores = TextAnalysis.LangMarkers
        .map { case (l, _) => s"${scoreSql(l)} AS score_$l" }
        .mkString(", ")
      val maxExpr = TextAnalysis.LangMarkers
        .map { case (l, _) => s"score_$l" }.mkString("greatest(", ", ", ")")
      val totExpr = TextAnalysis.LangMarkers
        .map { case (l, _) => s"score_$l" }.mkString(" + ")
      val caseArms = TextAnalysis.LangMarkers.map { case (l, _) =>
        s"WHEN mx > 0 AND score_$l = mx THEN '$l'"
      }.mkString(" ")
      Q.sql(s"""
        WITH sc AS (
          SELECT doc_id, lang, $scores FROM documents),
        pred AS (
          SELECT doc_id, lang, mx, tot,
            CASE $caseArms ELSE 'und' END AS lang_pred,
            CASE WHEN tot > 0 THEN CAST(mx AS DOUBLE) / tot ELSE 0.0 END
              AS conf
          FROM (SELECT *, $maxExpr AS mx, $totExpr AS tot FROM sc)),
        b AS (
          SELECT least(9, CAST(floor(conf * 10) AS BIGINT)) AS bin,
            CAST(count(*) AS BIGINT) AS n,
            CAST(sum(CASE WHEN lang_pred = lang THEN 1 ELSE 0 END)
              AS BIGINT) AS correct,
            CAST(sum(CAST(round(conf, 9) AS DECIMAL(27,9))) AS DOUBLE)
              AS sconf
          FROM pred GROUP BY 1),
        tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn FROM b),
        r AS (
          SELECT bin, n, correct,
            round(sconf / n, 6) AS conf_avg,
            round(CAST(correct AS DOUBLE) / n, 6) AS acc,
            abs(CAST(correct AS DOUBLE) / n - sconf / n) * n AS w_gap
          FROM b),
        e AS (
          SELECT CAST(sum(CAST(round(w_gap, 9) AS DECIMAL(27,9)))
            AS DOUBLE) AS sgap FROM r)
        SELECT r.bin, r.n, r.correct, r.conf_avg, r.acc,
          round(e.sgap / tot.nn, 6) AS ece
        FROM r, e, tot ORDER BY r.bin""")
    })(
      (s, dir) => {
        val langs = TextAnalysis.LangMarkers.map(_._1)
        val base = T(s, dir, "documents")
          .withColumn("__pad",
            TextAnalysis.padNorm(TextAnalysis.normalizeText(col("text"))))
        val sc = langs.foldLeft(base) { (df, l) =>
          df.withColumn(s"score_$l",
            TextAnalysis.langScoreFromPadded(col("__pad"), l))
        }
        val mx = langs.map(l => col(s"score_$l"))
          .reduce((a, b) => greatest(a, b))
        val tot = langs.map(l => col(s"score_$l")).reduce(_ + _)
        val pred = sc
          .withColumn("mx", mx).withColumn("tot", tot)
          .withColumn("lang_pred", TextAnalysis.langIdFromScores(
            langs.map(l => l -> col(s"score_$l"))))
          .select(col("lang"), col("lang_pred"),
            when(col("tot") > 0, col("mx").cast("double") / col("tot"))
              .otherwise(lit(0.0)).as("conf"))
        val b = pred
          .groupBy(least(lit(9), floor(col("conf") * 10)).cast("long")
            .as("bin"))
          .agg(count(lit(1)).as("n"),
            sum(when(col("lang_pred") === col("lang"), 1L).otherwise(0L))
              .as("correct"),
            dsum(round(col("conf"), 9), 9).as("sconf"))
        val nn = b.agg(sum(col("n")).cast("long").as("nn"))
        val r = b.select(col("bin"), col("n"), col("correct"),
          round(col("sconf") / col("n"), 6).as("conf_avg"),
          round(col("correct").cast("double") / col("n"), 6).as("acc"),
          (abs(col("correct").cast("double") / col("n")
            - col("sconf") / col("n")) * col("n")).as("w_gap"))
        val e = r.agg(dsum(round(col("w_gap"), 9), 9).as("sgap"))
        r.crossJoin(broadcast(e)).crossJoin(broadcast(nn))
          .select(col("bin"), col("n"), col("correct"), col("conf_avg"),
            col("acc"), round(col("sgap") / col("nn"), 6).as("ece"))
          .orderBy("bin")
      }),

    // Mood's median test ('50) — are the event types' daily revenues
    // centered the same? Grand LOWER median from the value-grouped
    // distinct frame via the distributed prefix (position ⌈N/2⌉ — no
    // global window, no sort of raw rows), then the 2×k above/≤ table
    // and χ² with expected counts from exact margins; χ² terms
    // rounded@9 and DECIMAL-summed.
    Q("q410_mood_median", Q.sql(s"""
        WITH d AS ($dailyMassSql),
        vc AS (
          SELECT v, CAST(count(*) AS BIGINT) AS c FROM d GROUP BY 1),
        cum AS (
          SELECT a.v, CAST(sum(b.c) AS BIGINT) AS cc
          FROM vc a JOIN vc b ON b.v <= a.v GROUP BY 1),
        nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d),
        med AS (
          SELECT min(v) AS m FROM cum, nn WHERE cc >= (nn.n + 1) // 2),
        tab AS (
          SELECT event_type,
            CAST(sum(CASE WHEN v > med.m THEN 1 ELSE 0 END) AS BIGINT)
              AS above,
            CAST(count(*) AS BIGINT) AS nj
          FROM d, med GROUP BY 1),
        marg AS (
          SELECT CAST(sum(above) AS BIGINT) AS ta,
            CAST(sum(nj) AS BIGINT) AS n
          FROM tab),
        chi AS (
          SELECT CAST(sum(CAST(round(
              (above - nj * (CAST(ta AS DOUBLE) / n))
                * (above - nj * (CAST(ta AS DOUBLE) / n))
                / (nj * (CAST(ta AS DOUBLE) / n))
              + ((nj - above) - nj * (1 - CAST(ta AS DOUBLE) / n))
                * ((nj - above) - nj * (1 - CAST(ta AS DOUBLE) / n))
                / (nj * (1 - CAST(ta AS DOUBLE) / n)), 9)
            AS DECIMAL(27,9))) AS DOUBLE) AS chi2,
            CAST(count(*) AS BIGINT) AS k
          FROM tab, marg)
        SELECT marg.n AS n_days, med.m AS grand_median_v, chi.k,
          round(chi.chi2, 6) AS chi2
        FROM chi, med, marg"""))(
      (s, dir) => {
        val d = dailyMass(s, dir)
        val vc = d.groupBy("v").agg(count(lit(1)).as("c"))
        val cum = graft.ops.Prefix.runningTotal(
          vc, Seq(col("v")), col("c"), "cc")
        val nn = d.agg(count(lit(1)).as("n"))
        val med = cum.crossJoin(broadcast(nn))
          .where(col("cc") >= expr("(n + 1) div 2"))
          .agg(min(col("v")).as("m"))
        val tab = d.crossJoin(broadcast(med))
          .groupBy("event_type")
          .agg(sum(when(col("v") > col("m"), 1L).otherwise(0L)).as("above"),
            count(lit(1)).as("nj"))
        val marg = tab.agg(sum(col("above")).cast("long").as("ta"),
          sum(col("nj")).cast("long").as("n"))
        val pa = col("ta").cast("double") / col("n")
        val chi = tab.crossJoin(broadcast(marg))
          .select(((col("above") - col("nj") * pa)
              * (col("above") - col("nj") * pa) / (col("nj") * pa)
            + ((col("nj") - col("above")) - col("nj") * (lit(1) - pa))
              * ((col("nj") - col("above")) - col("nj") * (lit(1) - pa))
              / (col("nj") * (lit(1) - pa))).as("term"))
          .agg(dsum(round(col("term"), 9), 9).as("chi2"),
            count(lit(1)).as("k"))
        chi.crossJoin(broadcast(med)).crossJoin(broadcast(marg))
          .select(col("n").as("n_days"), col("m").as("grand_median_v"),
            col("k"), round(col("chi2"), 6).as("chi2"))
      })
  )
}
