package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables.{load => T}
import graft.queries.Bases.{centsSeries, centsSeriesSql, dailyCents,
  dailyCentsSql}

/** Round-9 batch 6: robust location, agreement, and diagnostic
  * statistics — the Hodges-Lehmann estimator, Kendall's coefficient of
  * concordance, the Ljung-Box autocorrelation test, Chapman
  * capture-recapture, precision-recall AUC, and Cohen's kappa — each
  * oracle-checked bit-for-bit against DuckDB.
  */
object RobustNineQueries {

  def all: Seq[Q] = Seq(

    // Hodges-Lehmann location estimator (Hodges & Lehmann AOMS'63):
    // median of the Walsh averages (x_i+x_j)/2 over all day pairs i<=j
    // of the per-type daily revenue series — the robust center that
    // pairs with q174's Theil-Sen slope and q355's Mann-Kendall test.
    // The pair sweep is the calendar-bounded ~30x30 per-type
    // equi-self-join; Walsh sums stay EXACT integer cents x2, the
    // median comes from the q330 dual-min cumulative trick (window
    // partitioned by type), and the only division is the final /4/100.
    Q("q362_hodges_lehmann", Q.sql(s"""
        $dailyCentsSql,
        w AS (
          SELECT a.event_type,
            CAST(a.cents + b.cents AS BIGINT) AS w2
          FROM d a JOIN d b
            ON b.event_type = a.event_type AND b.day >= a.day),
        wc AS (
          SELECT event_type, w2, CAST(count(*) AS BIGINT) AS cnt
          FROM w GROUP BY 1, 2),
        cum AS (
          SELECT event_type, w2, cnt,
            sum(cnt) OVER (PARTITION BY event_type ORDER BY w2
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
            CAST(sum(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS n_g
          FROM wc),
        med AS (
          SELECT event_type, CAST(max(n_g) AS BIGINT) AS n_pairs,
            (min(CASE WHEN cum >= floor((n_g + 1) / 2) THEN w2 END)
              + min(CASE WHEN cum >= floor((n_g + 2) / 2) THEN w2 END))
              AS med4
          FROM cum GROUP BY 1)
        SELECT event_type, n_pairs,
          round(CAST(med4 AS DOUBLE) / 4.0 / 100.0, 6) AS hl_estimate
        FROM med ORDER BY event_type"""))(
      (s, dir) => {
        val d = dailyCents(s, dir)
        val w = d.join(d.select(col("event_type"), col("day").as("day2"),
            col("cents").as("cents2")), Seq("event_type"))
          .where(col("day2") >= col("day"))
          .select(col("event_type"),
            (col("cents") + col("cents2")).cast("long").as("w2"))
        val wc = w.groupBy("event_type", "w2")
          .agg(count(lit(1)).cast("long").as("cnt"))
        val wCum = Window.partitionBy("event_type").orderBy("w2")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wAll = Window.partitionBy("event_type")
        val cum = wc.select(col("event_type"), col("w2"), col("cnt"),
          sum(col("cnt")).over(wCum).as("cum"),
          sum(col("cnt")).over(wAll).cast("long").as("n_g"))
        val med = cum.groupBy("event_type")
          .agg(max(col("n_g")).cast("long").as("n_pairs"),
            (min(when(col("cum") >= floor((col("n_g") + 1) / 2), col("w2")))
              + min(when(col("cum") >= floor((col("n_g") + 2) / 2),
                col("w2")))).as("med4"))
        med.select(col("event_type"), col("n_pairs"),
            round(col("med4").cast("double") / 4.0 / 100.0, 6)
              .as("hl_estimate"))
          .orderBy("event_type")
      }),

    // Kendall's coefficient of concordance W (Kendall & Babington Smith
    // AOMS'39): do the days AGREE on which event types earn the most?
    // Judges = calendar days, items = the k event types, each day ranks
    // types by daily revenue cents (zero-filled from the calendar
    // spine; ties broken deterministically by type name — documented,
    // so no tie correction is needed). R_i = rank sums, S = sum of
    // squared deviations from the mean rank m(k+1)/2 (an exact integer
    // since k+1 is even x m), W = 12S / (m^2 k(k^2-1)) — everything
    // integer until that one final division.
    Q("q363_kendall_w", Q.sql(s"""
        $dailyCentsSql,
        days AS (SELECT DISTINCT day FROM d),
        types AS (SELECT DISTINCT event_type FROM d),
        cell AS (
          SELECT dy.day, t.event_type,
            CAST(COALESCE(d.cents, 0) AS BIGINT) AS cents
          FROM days dy CROSS JOIN types t
          LEFT JOIN d ON d.day = dy.day AND d.event_type = t.event_type),
        rk AS (
          SELECT day, event_type,
            CAST(rank() OVER (PARTITION BY day
              ORDER BY cents DESC, event_type) AS BIGINT) AS r
          FROM cell),
        rs AS (
          SELECT event_type, CAST(sum(r) AS BIGINT) AS r_sum FROM rk
          GROUP BY 1),
        mk AS (
          SELECT CAST((SELECT count(*) FROM days) AS BIGINT) AS m,
            CAST((SELECT count(*) FROM types) AS BIGINT) AS k),
        sdev AS (
          SELECT CAST(sum((r_sum - m * (k + 1) / 2)
              * (r_sum - m * (k + 1) / 2)) AS BIGINT) AS s2, m, k
          FROM rs, mk GROUP BY m, k)
        SELECT r.event_type, r.r_sum, s.m AS n_days,
          round(12.0 * s.s2
            / (CAST(s.m * s.m AS DOUBLE) * s.k * (s.k * s.k - 1)), 6)
            AS kendall_w
        FROM rs r, sdev s ORDER BY r.event_type"""))(
      (s, dir) => {
        val d = dailyCents(s, dir)
        val days = d.select("day").distinct()
        val types = d.select("event_type").distinct()
        val cell = days.crossJoin(broadcast(types))
          .join(d, Seq("day", "event_type"), "left")
          .select(col("day"), col("event_type"),
            coalesce(col("cents"), lit(0L)).as("cents"))
        val wDay = Window.partitionBy("day")
          .orderBy(col("cents").desc, col("event_type"))
        val rk = cell.select(col("day"), col("event_type"),
          rank().over(wDay).cast("long").as("r"))
        val rs = rk.groupBy("event_type")
          .agg(sum(col("r")).cast("long").as("r_sum"))
        val mk = days.agg(count(lit(1)).cast("long").as("m"))
          .crossJoin(broadcast(
            types.agg(count(lit(1)).cast("long").as("k"))))
        val dev = col("r_sum") - col("m") * (col("k") + 1) / 2
        val sdev = rs.crossJoin(broadcast(mk))
          .groupBy("m", "k")
          .agg(sum(dev * dev).cast("long").as("s2"))
        rs.crossJoin(broadcast(sdev))
          .select(col("event_type"), col("r_sum"), col("m").as("n_days"),
            round(lit(12.0) * col("s2")
              / ((col("m") * col("m")).cast("double") * col("k")
                * (col("k") * col("k") - 1)), 6).as("kendall_w"))
          .orderBy("event_type")
      }),

    // Ljung-Box portmanteau test (Ljung & Box Biometrika'78): is the
    // per-type daily revenue series white noise? Autocorrelations
    // r_1..r_5 over the zero-filled calendar span, computed from the
    // EXACT integer identity dev_n = n*x_t - S (n x the mean deviation,
    // so no division before the ratio): r_k = sum(dev_t*dev_{t+k}) /
    // sum(dev^2) with DECIMAL(38,0) products (overflow-proof at any
    // sf), Q = n(n+2) * sum r_k^2/(n-k) with the per-lag terms
    // rounded@9 and DECIMAL-summed — the multi-lag companion to q210's
    // single-lag ACF and q332's AR(1).
    Q("q364_ljung_box", Q.sql(s"""
        $centsSeriesSql,
        st AS (
          SELECT event_type, CAST(sum(x) AS BIGINT) AS sx FROM l0
          GROUP BY 1),
        dv AS (
          SELECT l.event_type, l.pos,
            CAST((SELECT n FROM b) * l.x - s.sx AS BIGINT) AS devn
          FROM l0 l JOIN st s ON s.event_type = l.event_type),
        den AS (
          SELECT event_type,
            CAST(sum(CAST(devn AS DECIMAL(38,0)) * devn) AS DECIMAL(38,0))
              AS den
          FROM dv GROUP BY 1),
        num AS (
          SELECT a.event_type, CAST(c.pos - a.pos AS BIGINT) AS lag,
            CAST(sum(CAST(a.devn AS DECIMAL(38,0)) * c.devn)
              AS DECIMAL(38,0)) AS num
          FROM dv a JOIN dv c
            ON c.event_type = a.event_type
            AND c.pos - a.pos BETWEEN 1 AND 5
          GROUP BY 1, 2),
        rks AS (
          SELECT n.event_type, n.lag,
            round(CAST(n.num AS DOUBLE) / CAST(d2.den AS DOUBLE), 9)
              AS r_k
          FROM num n JOIN den d2 ON d2.event_type = n.event_type),
        terms AS (
          SELECT event_type,
            CAST(sum(CAST(round(r_k * r_k
              / ((SELECT n FROM b) - lag), 9) AS DECIMAL(28,9)))
              AS DOUBLE) AS tsum,
            round(max(CASE WHEN lag = 1 THEN r_k END), 6) AS r1
          FROM rks GROUP BY 1)
        SELECT t.event_type, b.n AS n_days, t.r1,
          round(b.n * (b.n + 2) * t.tsum, 6) AS q_lb
        FROM terms t, b ORDER BY t.event_type"""))(
      (s, dir) => {
        val d = dailyCents(s, dir)
        val (b, l0) = centsSeries(d)
        val st = l0.groupBy("event_type")
          .agg(sum(col("x")).cast("long").as("sx"))
        val dv = l0.join(st, Seq("event_type"))
          .crossJoin(broadcast(b.select(col("n"))))
          .select(col("event_type"), col("pos"),
            (col("n") * col("x") - col("sx")).cast("long").as("devn"))
        val den = dv.groupBy("event_type")
          .agg(sum(col("devn").cast("decimal(38,0)") * col("devn"))
            .cast("decimal(38,0)").as("den"))
        val num = dv.join(dv.select(col("event_type"),
            col("pos").as("pos2"), col("devn").as("devn2")),
            Seq("event_type"))
          .where((col("pos2") - col("pos")).between(1, 5))
          .groupBy(col("event_type"),
            (col("pos2") - col("pos")).cast("long").as("lag"))
          .agg(sum(col("devn").cast("decimal(38,0)") * col("devn2"))
            .cast("decimal(38,0)").as("num"))
        val rks = num.join(den, Seq("event_type"))
          .select(col("event_type"), col("lag"),
            round(col("num").cast("double") / col("den").cast("double"), 9)
              .as("r_k"))
        val terms = rks.crossJoin(broadcast(b.select(col("n"))))
          .groupBy("event_type")
          .agg(sum(round(col("r_k") * col("r_k")
              / (col("n") - col("lag")), 9).cast("decimal(28,9)"))
              .cast("double").as("tsum"),
            round(max(when(col("lag") === 1, col("r_k"))), 6).as("r1"))
        terms.crossJoin(broadcast(b.select(col("n"))))
          .select(col("event_type"), col("n").as("n_days"), col("r1"),
            round(col("n") * (col("n") + 2) * col("tsum"), 6).as("q_lb"))
          .orderBy("event_type")
      }),

    // Chapman capture-recapture estimate (Lincoln-Petersen; Chapman
    // UCB'51): how many TOTAL users does the platform have, from the
    // overlap between week-1 and week-2 active sets? One pass builds
    // per-user (seen_w1, seen_w2) flags, exact integer marginals, the
    // bias-corrected N_hat = (n1+1)(n2+1)/(m+1) - 1 and its Seber SE —
    // the panel-coverage estimator run where exhaustive counting is the
    // thing you cannot do.
    Q("q365_capture_recapture", Q.sql("""
        WITH b AS (SELECT min(CAST(ts AS DATE)) AS d0 FROM events),
        u AS (
          SELECT user_id,
            CAST(max(CASE WHEN CAST(ts AS DATE) - (SELECT d0 FROM b)
              BETWEEN 0 AND 6 THEN 1 ELSE 0 END) AS BIGINT) AS w1,
            CAST(max(CASE WHEN CAST(ts AS DATE) - (SELECT d0 FROM b)
              BETWEEN 7 AND 13 THEN 1 ELSE 0 END) AS BIGINT) AS w2
          FROM events GROUP BY 1),
        m AS (
          SELECT CAST(sum(w1) AS BIGINT) AS n1,
            CAST(sum(w2) AS BIGINT) AS n2,
            CAST(sum(w1 * w2) AS BIGINT) AS m_both
          FROM u)
        SELECT n1, n2, m_both,
          round(CAST((n1 + 1) * (n2 + 1) AS DOUBLE) / (m_both + 1) - 1.0,
            6) AS n_hat,
          round(sqrt(CAST((n1 + 1) * (n2 + 1) AS DOUBLE)
            * (n1 - m_both) * (n2 - m_both)
            / (CAST(m_both + 1 AS DOUBLE) * (m_both + 1) * (m_both + 2))),
            6) AS se_hat
        FROM m"""))(
      (s, dir) => {
        val ev = T(s, dir, "events")
        val b = ev.agg(min(to_date(col("ts"))).as("d0"))
        val off = datediff(to_date(col("ts")), col("d0"))
        val u = ev.crossJoin(broadcast(b))
          .groupBy("user_id")
          .agg(max(when(off.between(0, 6), 1).otherwise(0)).cast("long")
            .as("w1"),
            max(when(off.between(7, 13), 1).otherwise(0)).cast("long")
              .as("w2"))
        val m = u.agg(sum(col("w1")).cast("long").as("n1"),
          sum(col("w2")).cast("long").as("n2"),
          sum(col("w1") * col("w2")).cast("long").as("m_both"))
        m.select(col("n1"), col("n2"), col("m_both"),
          round(((col("n1") + 1) * (col("n2") + 1)).cast("double")
            / (col("m_both") + 1) - 1.0, 6).as("n_hat"),
          round(sqrt(((col("n1") + 1) * (col("n2") + 1)).cast("double")
            * (col("n1") - col("m_both")) * (col("n2") - col("m_both"))
            / ((col("m_both") + 1).cast("double") * (col("m_both") + 1)
              * (col("m_both") + 2))), 6).as("se_hat"))
      }),

    // Precision-recall AUC (Davis & Goadrich ICML'06): the
    // class-imbalance-honest companion to q205's ROC AUC — purchase as
    // the positive class, value as the score, 20 threshold bins.
    // Cumulative TP/FP come from the house broadcast self-join
    // cumulative pattern over the model-sized bin frame (no global
    // window anywhere); precision/recall are exact count ratios
    // rounded@9; the trapezoid terms are DECIMAL-summed with the first
    // segment anchored at recall 0 with the first precision.
    Q("q366_pr_auc", Q.sql("""
        WITH s AS (
          SELECT CAST(least(floor(value / 25.0), 19) AS INT) AS bin,
            CAST(event_type = 'purchase' AS INT) AS y
          FROM events),
        cells AS (
          SELECT bin, CAST(count(*) AS BIGINT) AS n,
            CAST(sum(y) AS BIGINT) AS pos
          FROM s GROUP BY 1),
        tot AS (
          SELECT CAST(sum(pos) AS BIGINT) AS p_all FROM cells),
        cum AS (
          SELECT a.bin, CAST(max(a.n) AS BIGINT) AS n,
            CAST(max(a.pos) AS BIGINT) AS pos,
            CAST(sum(c.pos) AS BIGINT) AS tp,
            CAST(sum(c.n - c.pos) AS BIGINT) AS fp,
            CAST(sum(CASE WHEN c.bin > a.bin THEN 1 ELSE 0 END) + 1
              AS BIGINT) AS rnk
          FROM cells a JOIN cells c ON c.bin >= a.bin
          GROUP BY a.bin),
        pr AS (
          SELECT bin, n, pos, tp, fp, rnk,
            round(CAST(tp AS DOUBLE) / (tp + fp), 9) AS prec,
            round(CAST(tp AS DOUBLE) / (SELECT p_all FROM tot), 9) AS rec
          FROM cum),
        seg AS (
          SELECT a.rnk, a.prec, a.rec,
            COALESCE(p.rec, 0.0) AS rec0, COALESCE(p.prec, a.prec) AS prec0
          FROM pr a LEFT JOIN pr p ON p.rnk = a.rnk - 1),
        auc AS (
          SELECT CAST(sum(CAST(round((rec - rec0) * (prec + prec0) / 2.0,
            9) AS DECIMAL(28,9))) AS DOUBLE) AS pr_auc
          FROM seg)
        SELECT p.bin, p.n, p.pos, round(p.prec, 6) AS prec,
          round(p.rec, 6) AS rec, round(a.pr_auc, 6) AS pr_auc
        FROM pr p, auc a ORDER BY p.bin"""))(
      (s, dir) => {
        val sc = T(s, dir, "events")
          .select(least(floor(col("value") / 25.0), lit(19L)).cast("int")
            .as("bin"),
            (col("event_type") === "purchase").cast("int").as("y"))
        val cells = sc.groupBy("bin")
          .agg(count(lit(1)).cast("long").as("n"),
            sum(col("y")).cast("long").as("pos"))
        val tot = cells.agg(sum(col("pos")).cast("long").as("p_all"))
        val cum = cells.crossJoin(broadcast(cells.select(
            col("bin").as("bin2"), col("n").as("n2"),
            col("pos").as("pos2"))))
          .where(col("bin2") >= col("bin"))
          .groupBy("bin")
          .agg(max(col("n")).cast("long").as("n"),
            max(col("pos")).cast("long").as("pos"),
            sum(col("pos2")).cast("long").as("tp"),
            sum(col("n2") - col("pos2")).cast("long").as("fp"),
            (sum(when(col("bin2") > col("bin"), 1).otherwise(0)) + 1)
              .cast("long").as("rnk"))
        val pr = cum.crossJoin(broadcast(tot))
          .select(col("bin"), col("n"), col("pos"), col("tp"), col("fp"),
            col("rnk"),
            round(col("tp").cast("double") / (col("tp") + col("fp")), 9)
              .as("prec"),
            round(col("tp").cast("double") / col("p_all"), 9).as("rec"))
        val seg = pr.join(broadcast(pr.select(col("rnk").as("rnkp"),
            col("rec").as("recp"), col("prec").as("precp"))),
            col("rnkp") === col("rnk") - 1, "left")
          .select(col("rnk"), col("prec"), col("rec"),
            coalesce(col("recp"), lit(0.0)).as("rec0"),
            coalesce(col("precp"), col("prec")).as("prec0"))
        val auc = seg.agg(sum(round((col("rec") - col("rec0"))
            * (col("prec") + col("prec0")) / 2.0, 9)
            .cast("decimal(28,9)")).cast("double").as("pr_auc"))
        pr.crossJoin(broadcast(auc))
          .select(col("bin"), col("n"), col("pos"),
            round(col("prec"), 6).as("prec"), round(col("rec"), 6)
              .as("rec"),
            round(col("pr_auc"), 6).as("pr_auc"))
          .orderBy("bin")
      }),

    // Cohen's kappa + Matthews correlation (Cohen EPM'60; Matthews
    // BBA'75): chance-corrected agreement between two document-quality
    // raters — rater A flags long documents (n_chars >= 400), rater B
    // flags word-rich ones (space-count + 1 >= 80, an exact-integer
    // word proxy both engines compute identically). The 2x2 confusion
    // matrix is exact integers; kappa uses the all-integer identity
    // (N(a+d) - Spe) / (N^2 - Spe) with Spe = (a+b)(a+c)+(c+d)(b+d);
    // MCC divides once by a double sqrt of the four marginals.
    Q("q367_cohen_kappa", Q.sql("""
        WITH r AS (
          SELECT
            CAST(n_chars >= 400 AS INT) AS ra,
            CAST(length(text) - length(replace(text, ' ', '')) + 1 >= 80
              AS INT) AS rb
          FROM documents),
        c AS (
          SELECT
            CAST(sum(ra * rb) AS BIGINT) AS a,
            CAST(sum(ra * (1 - rb)) AS BIGINT) AS b,
            CAST(sum((1 - ra) * rb) AS BIGINT) AS c,
            CAST(sum((1 - ra) * (1 - rb)) AS BIGINT) AS d,
            CAST(count(*) AS BIGINT) AS n
          FROM r),
        k AS (
          SELECT a, b, c, d, n,
            CAST((a + b) * (a + c) + (c + d) * (b + d) AS BIGINT) AS spe
          FROM c)
        SELECT a, b, c, d,
          round(CAST(a + d AS DOUBLE) / n, 6) AS po,
          round(CAST(spe AS DOUBLE) / n / n, 6) AS pe,
          round(CAST(n * (a + d) - spe AS DOUBLE) / (n * n - spe), 6)
            AS kappa,
          round(CAST(a * d - b * c AS DOUBLE)
            / sqrt(CAST((a + b) AS DOUBLE) * (a + c) * (b + d) * (c + d)),
            6) AS mcc
        FROM k"""))(
      (s, dir) => {
        val r = T(s, dir, "documents")
          .select((col("n_chars") >= 400).cast("int").as("ra"),
            (length(col("text"))
              - length(regexp_replace(col("text"), " ", "")) + 1 >= 80)
              .cast("int").as("rb"))
        val c = r.agg(
          sum(col("ra") * col("rb")).cast("long").as("a"),
          sum(col("ra") * (lit(1) - col("rb"))).cast("long").as("b"),
          sum((lit(1) - col("ra")) * col("rb")).cast("long").as("c"),
          sum((lit(1) - col("ra")) * (lit(1) - col("rb"))).cast("long")
            .as("d"),
          count(lit(1)).cast("long").as("n"))
        val k = c.select(col("a"), col("b"), col("c"), col("d"), col("n"),
          ((col("a") + col("b")) * (col("a") + col("c"))
            + (col("c") + col("d")) * (col("b") + col("d"))).cast("long")
            .as("spe"))
        k.select(col("a"), col("b"), col("c"), col("d"),
          round((col("a") + col("d")).cast("double") / col("n"), 6)
            .as("po"),
          round(col("spe").cast("double") / col("n") / col("n"), 6)
            .as("pe"),
          round((col("n") * (col("a") + col("d")) - col("spe"))
            .cast("double") / (col("n") * col("n") - col("spe")), 6)
            .as("kappa"),
          round((col("a") * col("d") - col("b") * col("c")).cast("double")
            / sqrt((col("a") + col("b")).cast("double")
              * (col("a") + col("c")) * (col("b") + col("d"))
              * (col("c") + col("d"))), 6).as("mcc"))
      })
  )
}
