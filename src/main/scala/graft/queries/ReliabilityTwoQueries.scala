package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.{load => T}

/** Round-11 batch: three named diagnostics that close the remaining
  * epidemiology/psychometrics/calibration gaps — the Mantel-Haenszel
  * common odds ratio with the CMH test, Cronbach's alpha over
  * continuous item scores (the general form of q406's binary KR-20),
  * and the Hosmer-Lemeshow calibration chi-square (the TEST companion
  * to q195's calibration bins and q409's ECE). Each oracle-checked
  * bit-for-bit against DuckDB.
  */
object ReliabilityTwoQueries {

  def all: Seq[Q] = Seq(

    // Mantel-Haenszel common odds ratio + Cochran-Mantel-Haenszel test
    // (Mantel & Haenszel JNCI'59) — the stratified 2×2 classic beside
    // q370's Chow (structural break) and q402's Cochran-Armitage
    // (trend): does account-balance exposure associate with urgent
    // orders, controlling for market segment? All cell counts are one
    // conditional aggregation per stratum; the pooled Σ a·d/n, Σ b·c/n,
    // ΣE, ΣV ride rounded@9 DECIMAL sums (order-free), and the two
    // final ratios are single double divisions. Pooled stats repeat as
    // constant columns (no nullable-int union shapes on the wire).
    Q("q457_mantel_haenszel", Q.sql("""
        WITH j AS (
          SELECT c_mktsegment AS stratum,
            CASE WHEN c_acctbal > 0 THEN 1 ELSE 0 END AS ex,
            CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                 THEN 1 ELSE 0 END AS outc
          FROM orders JOIN customer ON o_custkey = c_custkey),
        t AS (
          SELECT stratum,
            CAST(sum(ex * outc) AS BIGINT) AS a,
            CAST(sum(ex * (1 - outc)) AS BIGINT) AS b,
            CAST(sum((1 - ex) * outc) AS BIGINT) AS c,
            CAST(sum((1 - ex) * (1 - outc)) AS BIGINT) AS d
          FROM j GROUP BY 1),
        terms AS (
          SELECT stratum, a, b, c, d,
            CAST(round(CAST(a AS DOUBLE) * d / (a + b + c + d), 9)
              AS DECIMAL(28,9)) AS rad,
            CAST(round(CAST(b AS DOUBLE) * c / (a + b + c + d), 9)
              AS DECIMAL(28,9)) AS rbc,
            CAST(round(CAST(a + b AS DOUBLE) * (a + c) / (a + b + c + d),
              9) AS DECIMAL(28,9)) AS e1,
            CAST(round(CAST(a + b AS DOUBLE) * (c + d) * (a + c) * (b + d)
              / (CAST(a + b + c + d AS DOUBLE) * (a + b + c + d)
                * (a + b + c + d - 1)), 9) AS DECIMAL(28,9)) AS v1
          FROM t),
        pooled AS (
          SELECT CAST(sum(a) AS BIGINT) AS sa,
            CAST(sum(e1) AS DOUBLE) AS se,
            CAST(sum(v1) AS DOUBLE) AS sv,
            CAST(sum(rad) AS DOUBLE) AS srad,
            CAST(sum(rbc) AS DOUBLE) AS srbc
          FROM terms)
        SELECT stratum, a, b, c, d,
          round(CASE WHEN b * c > 0
            THEN CAST(a AS DOUBLE) * d / (b * c) END, 6) AS odds_ratio,
          round(CASE WHEN srbc > 0 THEN srad / srbc END, 6)
            AS mh_common_or,
          round(CASE WHEN sv > 0
            THEN (sa - se) * (sa - se) / sv END, 6) AS cmh_chi2
        FROM terms, pooled
        ORDER BY stratum"""))(
      (s, dir) => {
        val j = T(s, dir, "orders")
          .join(T(s, dir, "customer"),
            col("o_custkey") === col("c_custkey"))
          .select(col("c_mktsegment").as("stratum"),
            when(col("c_acctbal") > 0, 1).otherwise(0).as("ex"),
            when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1)
              .otherwise(0).as("outc"))
        val t = j.groupBy("stratum").agg(
          sum(col("ex") * col("outc")).cast("long").as("a"),
          sum(col("ex") * (lit(1) - col("outc"))).cast("long").as("b"),
          sum((lit(1) - col("ex")) * col("outc")).cast("long").as("c"),
          sum((lit(1) - col("ex")) * (lit(1) - col("outc"))).cast("long")
            .as("d"))
        val n = col("a") + col("b") + col("c") + col("d")
        def dec9(c: org.apache.spark.sql.Column) =
          round(c, 9).cast("decimal(28,9)")
        val terms = t.select(col("stratum"), col("a"), col("b"),
          col("c"), col("d"),
          dec9(col("a").cast("double") * col("d") / n).as("rad"),
          dec9(col("b").cast("double") * col("c") / n).as("rbc"),
          dec9((col("a") + col("b")).cast("double") * (col("a") + col("c"))
            / n).as("e1"),
          dec9((col("a") + col("b")).cast("double") * (col("c") + col("d"))
            * (col("a") + col("c")) * (col("b") + col("d"))
            / (n.cast("double") * n * (n - 1))).as("v1"))
        val pooled = terms.agg(
          sum(col("a")).cast("long").as("sa"),
          sum(col("e1")).cast("double").as("se"),
          sum(col("v1")).cast("double").as("sv"),
          sum(col("rad")).cast("double").as("srad"),
          sum(col("rbc")).cast("double").as("srbc"))
        terms.crossJoin(broadcast(pooled))
          .select(col("stratum"), col("a"), col("b"), col("c"), col("d"),
            round(when(col("b") * col("c") > 0,
              col("a").cast("double") * col("d") / (col("b") * col("c"))),
              6).as("odds_ratio"),
            // degenerate strata (all-exposed / all-unexposed) zero the
            // pooled denominators: NULL-guard like q454, or Spark's
            // non-ANSI NULL diverges from DuckDB's Inf/NaN
            round(when(col("srbc") > 0, col("srad") / col("srbc")), 6)
              .as("mh_common_or"),
            round(when(col("sv") > 0,
              (col("sa") - col("se")) * (col("sa") - col("se"))
                / col("sv")), 6).as("cmh_chi2"))
          .orderBy("stratum")
      }),

    // Cronbach's alpha (Cronbach Psychometrika'51) — internal
    // consistency over CONTINUOUS item scores: the five event types are
    // the "items", a user's per-type event count the item score. The
    // generalization of q406's KR-20 (binary items). Everything up to
    // the last mile is INTEGER-EXACT: item and total sample variances
    // share the n(n−1) denominator, so α = k/(k−1)·(1 − Σnumᵢ/num_t)
    // needs just one double division of two BIGINT sums. The user×type
    // grid is zero-filled via a broadcast of the 5-row type frame.
    Q("q458_cronbach_alpha", Q.sql("""
        WITH u AS (SELECT DISTINCT user_id FROM events),
        ty AS (SELECT DISTINCT event_type FROM events),
        grid AS (SELECT u.user_id, ty.event_type FROM u, ty),
        cnt AS (
          SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS x
          FROM events GROUP BY 1, 2),
        x AS (
          SELECT g.user_id, g.event_type, coalesce(c.x, 0) AS x
          FROM grid g LEFT JOIN cnt c
            ON c.user_id = g.user_id AND c.event_type = g.event_type),
        item AS (
          SELECT event_type, CAST(count(*) AS BIGINT) AS n,
            CAST(sum(x) AS BIGINT) AS s,
            CAST(sum(x * x) AS BIGINT) AS q
          FROM x GROUP BY 1),
        tot AS (
          SELECT CAST(count(*) AS BIGINT) AS n,
            CAST(sum(t) AS BIGINT) AS s, CAST(sum(t * t) AS BIGINT) AS q
          FROM (SELECT user_id, CAST(sum(x) AS BIGINT) AS t
                FROM x GROUP BY 1)),
        agg AS (
          SELECT CAST(count(*) AS BIGINT) AS k,
            CAST(sum(CAST(n AS HUGEINT) * q - CAST(s AS HUGEINT) * s)
              AS DECIMAL(38,0)) AS item_num
          FROM item)
        SELECT agg.k AS k_items, tot.n AS n_users,
          round(CAST(agg.item_num AS DOUBLE)
            / (CAST(tot.n AS DOUBLE) * (tot.n - 1)), 6)
            AS sum_item_var,
          round(CAST(CAST(tot.n AS HUGEINT) * tot.q
              - CAST(tot.s AS HUGEINT) * tot.s AS DOUBLE)
            / (CAST(tot.n AS DOUBLE) * (tot.n - 1)), 6) AS total_var,
          round(CAST(agg.k AS DOUBLE) / (agg.k - 1)
            * (1 - CAST(agg.item_num AS DOUBLE)
              / CAST(CAST(tot.n AS HUGEINT) * tot.q
                - CAST(tot.s AS HUGEINT) * tot.s AS DOUBLE)), 6)
            AS cronbach_alpha
        FROM agg, tot"""))(
      (s, dir) => {
        val ev = T(s, dir, "events")
        val u = ev.select("user_id").distinct()
        val ty = ev.select("event_type").distinct()
        val grid = u.crossJoin(broadcast(ty)) // 5-row domain frame
        val cnt = ev.groupBy("user_id", "event_type")
          .agg(count(lit(1)).cast("long").as("x0"))
        val x = grid.join(cnt, Seq("user_id", "event_type"), "left")
          .select(col("user_id"), col("event_type"),
            coalesce(col("x0"), lit(0L)).as("x"))
        val item = x.groupBy("event_type").agg(
          count(lit(1)).cast("long").as("n"),
          sum(col("x")).cast("long").as("s"),
          sum(col("x") * col("x")).cast("long").as("q"))
        val tot = x.groupBy("user_id")
          .agg(sum(col("x")).cast("long").as("t"))
          .agg(count(lit(1)).cast("long").as("n"),
            sum(col("t")).cast("long").as("s"),
            sum(col("t") * col("t")).cast("long").as("q"))
        // n scales with the data (users), so n·q and s² are computed in
        // decimal(19,0)→decimal(38,0) like q467's svv — long·long would
        // wrap silently at ~n>1e8 while the oracle's HUGEINT stays exact
        val agg = item.agg(count(lit(1)).cast("long").as("k"),
          sum(col("n").cast("decimal(19,0)") * col("q") -
              col("s").cast("decimal(19,0)") * col("s"))
            .cast("decimal(38,0)").as("item_num"))
        val totNum = (col("n").cast("decimal(19,0)") * col("q") -
          col("s").cast("decimal(19,0)") * col("s")).cast("decimal(38,0)")
        val denNN = col("n").cast("double") * (col("n") - lit(1))
        agg.crossJoin(broadcast(tot))
          .select(col("k").as("k_items"), col("n").as("n_users"),
            round(col("item_num").cast("double") / denNN, 6)
              .as("sum_item_var"),
            round(totNum.cast("double") / denNN, 6).as("total_var"),
            round(col("k").cast("double") / (col("k") - 1)
              * (lit(1) - col("item_num").cast("double")
                / totNum.cast("double")), 6)
              .as("cronbach_alpha"))
      }),

    // Hosmer-Lemeshow goodness-of-fit (Hosmer & Lemeshow Comm.Stat'80)
    // — the calibration TEST beside q195's bins and q409's ECE: decile
    // the model score p = value/(value+100) (monotone in value, so the
    // decile cut is a value rank — distributed prefix, never a global
    // window on the Spark side), then χ² = Σ (O−E)²/V with E = Σp and
    // V = Σp(1−p) as rounded@9 DECIMAL sums per bin. The statistic
    // repeats as a constant column beside the per-decile diagnostics.
    Q("q459_hosmer_lemeshow", Q.sql("""
        WITH e AS (
          SELECT event_id, value,
            CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,
            value / (value + 100.0) AS p
          FROM events WHERE value IS NOT NULL AND value >= 0),
        r AS (
          SELECT event_id, y, p,
            CAST(row_number() OVER (ORDER BY p, event_id) AS BIGINT)
              AS rk,
            CAST(count(*) OVER () AS BIGINT) AS n
          FROM e),
        b AS (
          SELECT ((rk - 1) * 10) // n AS decile, y, p FROM r),
        bins AS (
          SELECT decile, CAST(count(*) AS BIGINT) AS n_obs,
            CAST(sum(y) AS BIGINT) AS observed,
            CAST(sum(CAST(round(p, 9) AS DECIMAL(28,9))) AS DOUBLE)
              AS expected,
            CAST(sum(CAST(round(p * (1 - p), 9) AS DECIMAL(28,9)))
              AS DOUBLE) AS vterm
          FROM b GROUP BY 1),
        hl AS (
          SELECT CAST(sum(CAST(round(
              (observed - expected) * (observed - expected) / vterm, 9)
              AS DECIMAL(28,9))) AS DOUBLE) AS stat
          FROM bins)
        SELECT decile, n_obs, observed, round(expected, 6) AS expected,
          round((observed - expected) * (observed - expected) / vterm, 6)
            AS bin_term,
          round(hl.stat, 6) AS hl_chi2
        FROM bins, hl
        ORDER BY decile"""))(
      (s, dir) => {
        val e = T(s, dir, "events")
          .where(col("value").isNotNull && col("value") >= 0)
          .select(col("event_id"),
            when(col("event_type") === "purchase", 1).otherwise(0)
              .as("y"),
            (col("value") / (col("value") + 100.0)).as("p"))
        val r = graft.ops.Prefix.runningTotal(
          e.withColumn("__one", lit(1L)),
          Seq(col("p"), col("event_id")), col("__one"), "rk")
        val n = e.agg(count(lit(1)).cast("long").as("n"))
        val b = r.crossJoin(broadcast(n))
          .select(expr("((rk - 1) * 10) div n").as("decile"),
            col("y"), col("p"))
        def dec9(c: org.apache.spark.sql.Column) =
          round(c, 9).cast("decimal(28,9)")
        val bins = b.groupBy("decile").agg(
          count(lit(1)).cast("long").as("n_obs"),
          sum(col("y")).cast("long").as("observed"),
          sum(dec9(col("p"))).cast("double").as("expected"),
          sum(dec9(col("p") * (lit(1) - col("p")))).cast("double")
            .as("vterm"))
        val hl = bins.agg(
          sum(dec9((col("observed") - col("expected"))
            * (col("observed") - col("expected")) / col("vterm")))
            .cast("double").as("stat"))
        bins.crossJoin(broadcast(hl))
          .select(col("decile"), col("n_obs"), col("observed"),
            round(col("expected"), 6).as("expected"),
            round((col("observed") - col("expected"))
              * (col("observed") - col("expected")) / col("vterm"), 6)
              .as("bin_term"),
            round(col("stat"), 6).as("hl_chi2"))
          .orderBy("decile")
      })
  )
}
