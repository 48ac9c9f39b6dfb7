package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.{load => T}
import graft.queries.Bases.{dailyCents, dailyCentsSql}
import graft.functions.PortableSql
import graft.sketch.Kmv

/** Round-9 batch 7: sketch set-algebra and effect-size diagnostics —
  * the KMV/theta bottom-k sketch (cardinality + intersection), the Chow
  * structural-break test, Cramér's V, and Cliff's delta — each
  * oracle-checked bit-for-bit against DuckDB.
  */
object AuditNineQueries {

  /** KMV sketch size used by q368/q369. */
  private val KmvK = 256

  /** 2^48 as an exactly-representable double literal (8 significant
    * bits x 2^48), shared by the Spark impl and the oracle text. */
  private val Pow48 = "CAST(281474976710656 AS DOUBLE)"

  private def hash48Sql(expr: String): String =
    PortableSql.hexToLong(s"md5(CAST($expr AS VARCHAR))", 12)

  def all: Seq[Q] = Seq(

    // KMV / bottom-k cardinality sketch (Bar-Yossef et al. RANDOM'02;
    // Beyer et al. SIGMOD'07): per return-flag, keep the k=256 smallest
    // distinct 48-bit md5 hashes of l_partkey; theta = the k-th
    // smallest, estimate = (k-1)*2^48/theta (exact when the group holds
    // fewer than k distinct keys). Unlike HLL (q66/q125) the retained
    // sample supports set algebra — q369 intersects two of these. The
    // oracle replays the identical integer hash derivation; the
    // estimator is one fixed-order double division.
    Q("q368_kmv_distinct", Q.sql(s"""
        WITH h AS (
          SELECT DISTINCT l_returnflag AS g,
            ${hash48Sql("l_partkey")} AS h
          FROM lineitem),
        rk AS (
          SELECT g, h,
            row_number() OVER (PARTITION BY g ORDER BY h) AS rk
          FROM h),
        sk AS (SELECT g, h FROM rk WHERE rk <= $KmvK),
        ag AS (
          SELECT g, CAST(count(*) AS BIGINT) AS n_kept,
            CAST(max(h) AS BIGINT) AS theta
          FROM sk GROUP BY 1),
        ex AS (
          SELECT l_returnflag AS g,
            CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_nd
          FROM lineitem GROUP BY 1)
        SELECT a.g AS returnflag, a.n_kept, a.theta,
          round(CASE WHEN a.n_kept < $KmvK
            THEN CAST(a.n_kept AS DOUBLE)
            ELSE CAST(${KmvK - 1} AS DOUBLE) * $Pow48 / a.theta END, 6) AS kmv_est,
          e.exact_nd,
          round(CASE WHEN a.n_kept < $KmvK
            THEN CAST(a.n_kept AS DOUBLE)
            ELSE CAST(${KmvK - 1} AS DOUBLE) * $Pow48 / a.theta END
            / e.exact_nd, 6) AS est_ratio
        FROM ag a JOIN ex e ON e.g = a.g
        ORDER BY returnflag"""))(
      (s, dir) => {
        val li = T(s, dir, "lineitem")
        val sk = Kmv.minValuesBy(li, col("l_partkey"),
          Seq("l_returnflag"), KmvK)
        val ag = Kmv.estimateBy(sk, Seq("l_returnflag"), KmvK)
        val ex = li.groupBy(col("l_returnflag"))
          .agg(countDistinct(col("l_partkey")).cast("long").as("exact_nd"))
        ag.join(ex, Seq("l_returnflag"))
          .select(col("l_returnflag").as("returnflag"), col("n_kept"),
            col("theta"), round(col("kmv_est"), 6).as("kmv_est"),
            col("exact_nd"),
            round(col("kmv_est") / col("exact_nd"), 6).as("est_ratio"))
          .orderBy("returnflag")
      }),

    // Theta-sketch intersection (Dasgupta et al. 2016): estimate the
    // overlap between the part-key sets of return-flag R and A lines
    // from their two k=256 KMV sketches ALONE — the union's bottom-k is
    // recomputed from the merged <= 2k hashes, matches = union-sample
    // hashes present in both sides, est_intersect = matches/k' *
    // est_union — next to the exact intersection for calibration. At
    // 100 TB the exact column is the thing you cannot afford; the
    // sketch path touches 2k rows.
    Q("q369_kmv_intersect", Q.sql(s"""
        WITH h AS (
          SELECT DISTINCT l_returnflag AS g,
            ${hash48Sql("l_partkey")} AS h
          FROM lineitem WHERE l_returnflag IN ('R', 'A')),
        rk AS (
          SELECT g, h,
            row_number() OVER (PARTITION BY g ORDER BY h) AS rk
          FROM h),
        sk AS (SELECT g, h FROM rk WHERE rk <= $KmvK),
        u AS (SELECT DISTINCT h FROM sk),
        urk AS (
          SELECT h, row_number() OVER (ORDER BY h) AS rk FROM u),
        bott AS (SELECT h FROM urk WHERE rk <= $KmvK),
        ms AS (
          SELECT CAST(count(*) AS BIGINT) AS matches
          FROM bott
          WHERE h IN (SELECT h FROM sk WHERE g = 'R')
            AND h IN (SELECT h FROM sk WHERE g = 'A')),
        ua AS (
          SELECT CAST(count(*) AS BIGINT) AS k_used,
            CAST(max(h) AS BIGINT) AS theta_u
          FROM bott),
        est AS (
          SELECT u.k_used, u.theta_u, m.matches,
            CASE WHEN u.k_used < $KmvK THEN CAST(u.k_used AS DOUBLE)
              ELSE CAST(${KmvK - 1} AS DOUBLE) * $Pow48 / u.theta_u END AS est_union
          FROM ua u, ms m),
        ex AS (
          SELECT CAST(count(*) AS BIGINT) AS exact_inter FROM (
            SELECT DISTINCT l_partkey FROM lineitem WHERE l_returnflag = 'R'
            INTERSECT
            SELECT DISTINCT l_partkey FROM lineitem WHERE l_returnflag = 'A'
          ) t)
        SELECT e.k_used, e.theta_u, e.matches,
          round(e.est_union, 6) AS est_union,
          round(CAST(e.matches AS DOUBLE) / e.k_used * e.est_union, 6)
            AS est_intersect,
          x.exact_inter
        FROM est e, ex x"""))(
      (s, dir) => {
        val li = T(s, dir, "lineitem")
          .where(col("l_returnflag").isin("R", "A"))
        val sk = Kmv.minValuesBy(li, col("l_partkey"),
          Seq("l_returnflag"), KmvK)
        val a = sk.where(col("l_returnflag") === "R").select(col("h"))
        val b = sk.where(col("l_returnflag") === "A").select(col("h"))
        val est = Kmv.intersectEstimate(a, b, KmvK)
        val ex = T(s, dir, "lineitem").where(col("l_returnflag") === "R")
          .select(col("l_partkey")).distinct()
          .join(T(s, dir, "lineitem").where(col("l_returnflag") === "A")
            .select(col("l_partkey")).distinct(), Seq("l_partkey"), "semi")
          .agg(count(lit(1)).cast("long").as("exact_inter"))
        est.crossJoin(broadcast(ex))
          .select(col("k_used"), col("theta_u"), col("matches"),
            round(col("est_union"), 6).as("est_union"),
            round(col("est_intersect"), 6).as("est_intersect"),
            col("exact_inter"))
      }),

    // Chow structural-break test (Chow Econometrica'60): did the
    // daily-revenue trend CHANGE mid-window? Per event type, OLS of
    // daily cents on day index over the zero-filled calendar span, fit
    // separately on the two halves and pooled; F = ((RSS_p - RSS_1 -
    // RSS_2)/2) / ((RSS_1 + RSS_2)/(n - 4)). All OLS moments are EXACT
    // (integer x/y, DECIMAL(38,0) products — overflow-proof at any sf);
    // each RSS and the F ratio are fixed-order double expressions, and
    // only O(1)-magnitude outputs (slopes, F) are rounded — never the
    // big RSS doubles (the q187/q330 big-double-round trap).
    Q("q370_chow_test", Q.sql(s"""
        $dailyCentsSql,
        b AS (
          SELECT min(day) AS d0,
            CAST(max(day) - min(day) AS BIGINT) + 1 AS n
          FROM d),
        spine AS (
          SELECT et.event_type, CAST(gs.pos AS BIGINT) AS pos
          FROM (SELECT DISTINCT event_type FROM d) et,
            LATERAL (SELECT unnest(generate_series(0,
              (SELECT n - 1 FROM b))) AS pos) gs),
        l0 AS (
          SELECT sp.event_type, sp.pos,
            CAST(COALESCE(d.cents, 0) AS BIGINT) AS y,
            CASE WHEN sp.pos < CAST(floor((SELECT n FROM b) / 2) AS BIGINT)
              THEN 1 ELSE 2 END AS half
          FROM spine sp
          LEFT JOIN d ON d.event_type = sp.event_type
            AND (d.day - (SELECT d0 FROM b)) = sp.pos),
        mo AS (
          SELECT event_type, half, CAST(count(*) AS BIGINT) AS n,
            CAST(sum(pos) AS BIGINT) AS sx,
            CAST(sum(y) AS BIGINT) AS sy,
            CAST(sum(pos * pos) AS BIGINT) AS sxx,
            CAST(sum(CAST(pos AS DECIMAL(38,0)) * y) AS DECIMAL(38,0))
              AS sxy,
            CAST(sum(CAST(y AS DECIMAL(38,0)) * y) AS DECIMAL(38,0))
              AS syy
          FROM l0 GROUP BY 1, 2),
        mp AS (
          SELECT event_type, CAST(sum(n) AS BIGINT) AS n,
            CAST(sum(sx) AS BIGINT) AS sx, CAST(sum(sy) AS BIGINT) AS sy,
            CAST(sum(sxx) AS BIGINT) AS sxx,
            CAST(sum(sxy) AS DECIMAL(38,0)) AS sxy,
            CAST(sum(syy) AS DECIMAL(38,0)) AS syy
          FROM mo GROUP BY 1),
        rs AS (
          SELECT event_type,
            CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n
              - (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n)
              * (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n)
              / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n)
              AS rss,
            (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n)
              / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n)
              AS slope,
            n
          FROM mp),
        rh AS (
          SELECT event_type, half,
            CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n
              - (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n)
              * (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n)
              / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n)
              AS rss,
            (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n)
              / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n)
              AS slope
          FROM mo),
        agg AS (
          SELECT r.event_type, r.n, r.rss AS rss_p,
            sum(CASE WHEN h.half = 1 THEN h.rss ELSE 0 END) AS rss_1,
            sum(CASE WHEN h.half = 2 THEN h.rss ELSE 0 END) AS rss_2,
            max(CASE WHEN h.half = 1 THEN h.slope END) AS slope_1,
            max(CASE WHEN h.half = 2 THEN h.slope END) AS slope_2,
            max(r.slope) AS slope_p
          FROM rs r JOIN rh h ON h.event_type = r.event_type
          GROUP BY 1, 2, 3)
        SELECT event_type, n AS n_days,
          round(slope_p / 100.0, 6) AS slope_pooled,
          round(slope_1 / 100.0, 6) AS slope_h1,
          round(slope_2 / 100.0, 6) AS slope_h2,
          round(((rss_p - rss_1 - rss_2) / 2.0)
            / ((rss_1 + rss_2) / (n - 4)), 6) AS f_chow
        FROM agg ORDER BY event_type"""))(
      (s, dir) => {
        val d = dailyCents(s, dir)
        val b = d.agg(min(col("day")).as("d0"),
          (datediff(max(col("day")), min(col("day"))).cast("long") + 1)
            .as("n"))
        val spine = d.select("event_type").distinct()
          .crossJoin(broadcast(b))
          .select(col("event_type"),
            explode(sequence(lit(0L), col("n") - 1)).as("pos"))
        val l0 = spine
          .join(d.crossJoin(broadcast(b.select(col("d0"))))
            .select(col("event_type"), datediff(col("day"), col("d0"))
              .cast("long").as("pos"), col("cents")),
            Seq("event_type", "pos"), "left")
          .crossJoin(broadcast(b.select(col("n"))))
          .select(col("event_type"), col("pos"),
            coalesce(col("cents"), lit(0L)).as("y"),
            when(col("pos") < floor(col("n") / 2).cast("long"), 1)
              .otherwise(2).as("half"))
        def moments(df: DataFrame, keys: Seq[String]): DataFrame =
          df.groupBy(keys.map(col): _*)
            .agg(count(lit(1)).cast("long").as("n"),
              sum(col("pos")).cast("long").as("sx"),
              sum(col("y")).cast("long").as("sy"),
              sum(col("pos") * col("pos")).cast("long").as("sxx"),
              sum(col("pos").cast("decimal(38,0)") * col("y"))
                .cast("decimal(38,0)").as("sxy"),
              sum(col("y").cast("decimal(38,0)") * col("y"))
                .cast("decimal(38,0)").as("syy"))
        val mo = moments(l0, Seq("event_type", "half"))
        val mp = mo.groupBy("event_type")
          .agg(sum(col("n")).cast("long").as("n"),
            sum(col("sx")).cast("long").as("sx"),
            sum(col("sy")).cast("long").as("sy"),
            sum(col("sxx")).cast("long").as("sxx"),
            sum(col("sxy")).cast("decimal(38,0)").as("sxy"),
            sum(col("syy")).cast("decimal(38,0)").as("syy"))
        // NOTE trailing operators: a line-leading `-` would parse as a
        // NEW statement with unary minus (silently discarding the term)
        val sxyC = (col("sxy").cast("double") -
          col("sx").cast("double") * col("sy") / col("n"))
        val sxxC = (col("sxx").cast("double") -
          col("sx").cast("double") * col("sx") / col("n"))
        val rssE = (col("syy").cast("double") -
          col("sy").cast("double") * col("sy") / col("n") -
          sxyC * sxyC / sxxC)
        val rs = mp.select(col("event_type"), rssE.as("rss"),
          (sxyC / sxxC).as("slope"), col("n"))
        val rh = mo.select(col("event_type"), col("half"),
          rssE.as("rss"), (sxyC / sxxC).as("slope"))
        val agg = rs.select(col("event_type"), col("rss").as("rss_p"),
            col("slope").as("slope_p"), col("n"))
          .join(rh.select(col("event_type"), col("half"),
            col("rss").as("rss_h"), col("slope").as("slope_h")),
            Seq("event_type"))
          .groupBy("event_type", "n", "rss_p", "slope_p")
          .agg(
            sum(when(col("half") === 1, col("rss_h")).otherwise(0.0))
              .as("rss_1"),
            sum(when(col("half") === 2, col("rss_h")).otherwise(0.0))
              .as("rss_2"),
            max(when(col("half") === 1, col("slope_h"))).as("slope_1"),
            max(when(col("half") === 2, col("slope_h"))).as("slope_2"))
        agg.select(col("event_type"), col("n").as("n_days"),
            round(col("slope_p") / 100.0, 6).as("slope_pooled"),
            round(col("slope_1") / 100.0, 6).as("slope_h1"),
            round(col("slope_2") / 100.0, 6).as("slope_h2"),
            round(((col("rss_p") - col("rss_1") - col("rss_2")) / 2.0)
              / ((col("rss_1") + col("rss_2")) / (col("n") - 4)), 6)
              .as("f_chow"))
          .orderBy("event_type")
      }),

    // Cramer's V effect size (Cramer '46 ch. 21): HOW STRONG is the
    // event-type x weekday association q149's chi-square only calls
    // significant? chi^2 from exact integer counts with expected =
    // row x col / N as one fixed-order double per cell (terms rounded@9
    // and DECIMAL-summed, order-free), V = sqrt(chi^2 / (N * min(r-1,
    // c-1))). Contingency cells, marginals, N are all hash aggs.
    Q("q371_cramers_v", Q.sql("""
        WITH o AS (
          SELECT event_type, CAST(dayofweek(CAST(ts AS DATE)) AS BIGINT)
            AS dow
          FROM events),
        cell AS (
          SELECT event_type, dow, CAST(count(*) AS BIGINT) AS n
          FROM o GROUP BY 1, 2),
        rm AS (
          SELECT event_type, CAST(sum(n) AS BIGINT) AS rn FROM cell
          GROUP BY 1),
        cm AS (
          SELECT dow, CAST(sum(n) AS BIGINT) AS cn FROM cell GROUP BY 1),
        nn AS (
          SELECT CAST(sum(n) AS BIGINT) AS nn,
            CAST(count(DISTINCT event_type) AS BIGINT) AS r,
            CAST(count(DISTINCT dow) AS BIGINT) AS c
          FROM cell),
        chi AS (
          SELECT CAST(sum(CAST(round(
              (c2.n - CAST(r.rn AS DOUBLE) * c.cn / n2.nn)
              * (c2.n - CAST(r.rn AS DOUBLE) * c.cn / n2.nn)
              / (CAST(r.rn AS DOUBLE) * c.cn / n2.nn), 9)
              AS DECIMAL(28,9))) AS DOUBLE) AS chi2,
            max(n2.nn) AS nn, max(n2.r) AS r, max(n2.c) AS c
          FROM cell c2
          JOIN rm r ON r.event_type = c2.event_type
          JOIN cm c ON c.dow = c2.dow, nn n2)
        SELECT nn AS n_events, r AS n_types, c AS n_dows,
          round(chi2, 6) AS chi2,
          round(sqrt(chi2 / (nn * CAST(least(r - 1, c - 1) AS DOUBLE))), 6)
            AS cramers_v
        FROM chi"""))(
      (s, dir) => {
        // DuckDB dayofweek is Sunday=0..Saturday=6; Spark's is Sunday=1
        val o = T(s, dir, "events")
          .select(col("event_type"),
            (dayofweek(to_date(col("ts"))) - 1).cast("long").as("dow"))
        val cell = o.groupBy("event_type", "dow")
          .agg(count(lit(1)).cast("long").as("n"))
        val rm = cell.groupBy("event_type")
          .agg(sum(col("n")).cast("long").as("rn"))
        val cm = cell.groupBy("dow")
          .agg(sum(col("n")).cast("long").as("cn"))
        val nn = cell.agg(sum(col("n")).cast("long").as("nn"),
          countDistinct(col("event_type")).cast("long").as("r"),
          countDistinct(col("dow")).cast("long").as("c"))
        val e = col("rn").cast("double") * col("cn") / col("nn")
        val chi = cell.join(broadcast(rm), Seq("event_type"))
          .join(broadcast(cm), Seq("dow"))
          .crossJoin(broadcast(nn))
          .agg(sum(round((col("n") - e) * (col("n") - e) / e, 9)
            .cast("decimal(28,9)")).cast("double").as("chi2"),
            max(col("nn")).as("nn"), max(col("r")).as("r"),
            max(col("c")).as("c"))
        chi.select(col("nn").as("n_events"), col("r").as("n_types"),
          col("c").as("n_dows"), round(col("chi2"), 6).as("chi2"),
          round(sqrt(col("chi2")
            / (col("nn") * least(col("r") - 1, col("c") - 1)
              .cast("double"))), 6).as("cramers_v"))
      }),

    // Cliff's delta ordinal effect size (Cliff PB'93): the
    // direction-only companion to q338's Mann-Whitney U — over all
    // (purchase-day, click-day) daily-revenue pairs, delta =
    // (#(x > y) - #(x < y)) / (n1*n2), in [-1, 1], with the standard
    // negligible/small/medium/large band. The pair sweep is the
    // calendar-bounded ~30x30 cross of two 5-type daily frames
    // (broadcast one side); every count is an exact integer and the
    // only division is the final delta.
    Q("q372_cliffs_delta", Q.sql("""
        WITH d AS (
          SELECT event_type, CAST(ts AS DATE) AS day,
            CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
              AS cents
          FROM events WHERE event_type IN ('purchase', 'click')
          GROUP BY 1, 2),
        p AS (SELECT day, cents FROM d WHERE event_type = 'purchase'),
        c AS (SELECT day, cents FROM d WHERE event_type = 'click'),
        cnt AS (
          SELECT CAST(sum(CASE WHEN p.cents > c.cents THEN 1 ELSE 0 END)
              AS BIGINT) AS gt,
            CAST(sum(CASE WHEN p.cents < c.cents THEN 1 ELSE 0 END)
              AS BIGINT) AS lt,
            CAST(count(*) AS BIGINT) AS np
          FROM p, c),
        dl AS (
          SELECT gt, lt, np,
            round(CAST(gt - lt AS DOUBLE) / np, 6) AS delta
          FROM cnt)
        SELECT gt, lt, np, delta,
          CASE WHEN abs(delta) < 0.147 THEN 'negligible'
               WHEN abs(delta) < 0.33 THEN 'small'
               WHEN abs(delta) < 0.474 THEN 'medium'
               ELSE 'large' END AS magnitude
        FROM dl"""))(
      (s, dir) => {
        val d = T(s, dir, "events")
          .where(col("event_type").isin("purchase", "click"))
          .groupBy(col("event_type"), to_date(col("ts")).as("day"))
          .agg(sum(round(col("value") * 100, 0).cast("long")).cast("long")
            .as("cents"))
        val p = d.where(col("event_type") === "purchase")
          .select(col("cents").as("pc"))
        val c = d.where(col("event_type") === "click")
          .select(col("cents").as("cc"))
        val cnt = p.crossJoin(broadcast(c))
          .agg(sum(when(col("pc") > col("cc"), 1).otherwise(0))
            .cast("long").as("gt"),
            sum(when(col("pc") < col("cc"), 1).otherwise(0))
              .cast("long").as("lt"),
            count(lit(1)).cast("long").as("np"))
        val dl = cnt.select(col("gt"), col("lt"), col("np"),
          round((col("gt") - col("lt")).cast("double") / col("np"), 6)
            .as("delta"))
        dl.select(col("gt"), col("lt"), col("np"), col("delta"),
          when(abs(col("delta")) < 0.147, "negligible")
            .when(abs(col("delta")) < 0.33, "small")
            .when(abs(col("delta")) < 0.474, "medium")
            .otherwise("large").as("magnitude"))
      })
  )
}
