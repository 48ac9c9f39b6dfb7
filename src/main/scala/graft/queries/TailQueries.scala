package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables.{load => T}
import graft.functions.PortableSql
import graft.ops.Relational.dsum
import graft.sketch.Hll
import graft.text.TextAnalysis

/** Round-5 batch 13: sketch-algebra set intersection (HLL
  * inclusion-exclusion), one-way ANOVA, the Gini coefficient,
  * least-squares mean-shift changepoint, and the Hill tail-index
  * estimator — each oracle-checked bit-for-bit vs DuckDB.
  */
object TailQueries {

  private val normSql = "lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))"

  /** HLL precision for the vocab-overlap sketches (2^8 = 256 buckets —
    * ±6.5% standard error, plenty to rank overlaps; the point is the
    * ALGEBRA: intersection estimated from three sketches, no rescan).
    */
  private val P = 8

  private val HillK = 500

  def all: Seq[Q] = Seq(

    // HLL set intersection via inclusion-exclusion: vocabulary overlap
    // of two document sources from THREE sketches (A, B, max-merged
    // union) — |A∩B| ≈ est(A)+est(B)−est(A∪B), plus the sketch Jaccard.
    // Exact values computed alongside for calibration. At 100 TB the
    // sketches are 2^p rows each, built in one pass, mergeable shard-by-
    // shard; the exact path exists only because the fixture is small.
    Q("q186_hll_intersect", {
      val m = (1 << P).toDouble
      val alpha = 0.7213 / (1.0 + 1.079 / m)
      val alphaM2 = PortableSql.doubleLit(alpha * m * m)
      val mi = 1 << P
      val maxRho = 48 - P + 1
      Q.sql(s"""
        WITH tok AS (
          SELECT source, unnest(string_split($normSql, ' ')) AS w
          FROM documents WHERE source IN ('src0', 'src1')),
        dw AS (SELECT DISTINCT source, w FROM tok),
        h AS (
          SELECT source, ${PortableSql.hexToLong("md5(w)", 12)} AS h
          FROM dw),
        b AS (
          SELECT source, h % $mi AS bucket,
            CAST(floor(h / $mi) AS BIGINT) AS w
          FROM h),
        r AS (
          SELECT source, bucket,
            max(CASE WHEN w = 0 THEN $maxRho
                     ELSE CAST(bit_count((w & (-w)) - 1) AS BIGINT) + 1 END) AS max_rho
          FROM b GROUP BY 1, 2),
        ar AS (
          SELECT source AS scope, bucket, max_rho FROM r
          UNION ALL
          SELECT 'UNION', bucket, max(max_rho) FROM r GROUP BY 2),
        ${Hll.oracleEstimatorCtes("hx", "ar", "scope", P)},
        w_est AS (
          SELECT
            max(CASE WHEN scope = 'src0' THEN est END) AS est_a,
            max(CASE WHEN scope = 'src1' THEN est END) AS est_b,
            max(CASE WHEN scope = 'UNION' THEN est END) AS est_u
          FROM hx),
        exact AS (
          SELECT
            count(DISTINCT CASE WHEN source = 'src0' THEN w END) AS exact_a,
            count(DISTINCT CASE WHEN source = 'src1' THEN w END) AS exact_b,
            count(DISTINCT w) AS exact_u
          FROM dw)
        SELECT round(est_a, 6) AS est_a, round(est_b, 6) AS est_b,
          round(est_u, 6) AS est_union,
          round(est_a + est_b - est_u, 6) AS est_intersect,
          round((est_a + est_b - est_u) / est_u, 6) AS jaccard_est,
          exact_a, exact_b, exact_u AS exact_union,
          exact_a + exact_b - exact_u AS exact_intersect
        FROM w_est CROSS JOIN exact""")
    })(
      (s, dir) => {
        val dw = T(s, dir, "documents")
          .where(col("source").isin("src0", "src1"))
          .select(col("source"), explode(split(
            TextAnalysis.normalizeText(col("text")), " ")).as("w"))
          .distinct()
        val r = Hll.registersBy(dw, col("w"), Seq("source"), P)
        val ar = r.select(col("source").as("scope"), col("bucket"), col("max_rho"))
          .unionAll(Hll.mergeBy(r, Nil)
            .select(lit("UNION").as("scope"), col("bucket"), col("max_rho")))
        val est = Hll.estimateBy(ar, Seq("scope"), P)
        val wEst = est.agg(
          max(when(col("scope") === "src0", col("hll_est"))).as("est_a"),
          max(when(col("scope") === "src1", col("hll_est"))).as("est_b"),
          max(when(col("scope") === "UNION", col("hll_est"))).as("est_u"))
        val exact = dw.agg(
          countDistinct(when(col("source") === "src0", col("w"))).as("exact_a"),
          countDistinct(when(col("source") === "src1", col("w"))).as("exact_b"),
          countDistinct(col("w")).as("exact_u"))
        wEst.crossJoin(broadcast(exact))
          .select(round(col("est_a"), 6).as("est_a"),
            round(col("est_b"), 6).as("est_b"),
            round(col("est_u"), 6).as("est_union"),
            round(col("est_a") + col("est_b") - col("est_u"), 6).as("est_intersect"),
            round((col("est_a") + col("est_b") - col("est_u")) / col("est_u"), 6)
              .as("jaccard_est"),
            col("exact_a"), col("exact_b"), col("exact_u").as("exact_union"),
            (col("exact_a") + col("exact_b") - col("exact_u")).as("exact_intersect"))
      }),

    // One-way ANOVA: does mean daily revenue differ by weekday? F from
    // per-group decimal-exact moments (ONE agg over the day frame);
    // between/within sums-of-squares are rounded per-group terms,
    // decimal-summed — order-free on both engines. DuckDB dayofweek is
    // 0=Sunday vs Spark 1=Sunday: the oracle adds 1. Revenue is scaled
    // to MILLIONS first (SS in (M$)²): DuckDB's round(x, s) goes
    // through x·10^s in binary double, so rounded values must stay ≲1e9
    // or the two engines' roundings drift — keep every moment small.
    Q("q187_anova_weekday", Q.sql("""
        WITH daily AS (
          SELECT CAST(o_orderdate AS DATE) AS day,
            round(CAST(sum(CAST(o_totalprice AS DECIMAL(27,4))) AS DOUBLE)
              / CAST(1000000 AS DOUBLE), 10) AS rev
          FROM orders GROUP BY 1),
        g AS (
          SELECT dayofweek(day) + 1 AS dow, count(*) AS n_g,
            CAST(sum(CAST(rev AS DECIMAL(27,10)) ) AS DOUBLE) AS s1,
            CAST(sum(CAST(round(rev * rev, 10) AS DECIMAL(27,10))) AS DOUBLE) AS s2
          FROM daily GROUP BY 1),
        tot AS (
          SELECT CAST(sum(n_g) AS BIGINT) AS n, count(*) AS k,
            CAST(sum(CAST(s1 AS DECIMAL(27,10))) AS DOUBLE) AS gsum
          FROM g),
        parts AS (
          SELECT
            CAST(sum(CAST(round(s1 * s1 / n_g, 6) AS DECIMAL(27,6))) AS DOUBLE) AS sum_sq_over_n,
            CAST(sum(CAST(round(s2 - s1 * s1 / n_g, 6) AS DECIMAL(27,6))) AS DOUBLE) AS ssw
          FROM g)
        SELECT k, n,
          round(sum_sq_over_n - gsum * gsum / n, 6) AS ssb,
          round(ssw, 6) AS ssw,
          round(((sum_sq_over_n - gsum * gsum / n) / (k - 1)) / (ssw / (n - k)), 6) AS f_stat
        FROM parts CROSS JOIN tot"""))(
      (s, dir) => {
        val daily = T(s, dir, "orders")
          .groupBy(to_date(col("o_orderdate")).as("day"))
          .agg(round(dsum(col("o_totalprice"), 4) /
            lit(1000000).cast("double"), 10).as("rev"))
        val g = daily.groupBy(dayofweek(col("day")).as("dow"))
          .agg(count(lit(1)).as("n_g"),
            dsum(col("rev"), 10).as("s1"),
            dsum(round(col("rev") * col("rev"), 10), 10).as("s2"))
        val tot = g.agg(sum(col("n_g")).as("n"), count(lit(1)).as("k"),
          dsum(col("s1"), 10).as("gsum"))
        val parts = g.agg(
          sum(round(col("s1") * col("s1") / col("n_g"), 6)
            .cast("decimal(27,6)")).cast("double").as("sum_sq_over_n"),
          sum(round(col("s2") - col("s1") * col("s1") / col("n_g"), 6)
            .cast("decimal(27,6)")).cast("double").as("ssw"))
        parts.crossJoin(broadcast(tot))
          .select(col("k"), col("n"),
            round(col("sum_sq_over_n") - col("gsum") * col("gsum") / col("n"), 6)
              .as("ssb"),
            round(col("ssw"), 6).as("ssw"),
            round(((col("sum_sq_over_n") - col("gsum") * col("gsum") / col("n")) /
              (col("k") - 1)) / (col("ssw") / (col("n") - col("k"))), 6)
              .as("f_stat"))
      }),

    // Gini coefficient of customer revenue concentration via the exact
    // rank formula G = (2·Σi·xᵢ − (n+1)·Σx)/(n·Σx) on ascending-sorted
    // integer cents — every term integer-exact (rank·cents products
    // decimal(38,0)-summed), ONE final double division. The rank window
    // runs over the per-customer frame.
    Q("q188_gini", Q.sql("""
        WITH cr AS (
          SELECT o_custkey,
            CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS cents
          FROM orders GROUP BY 1),
        rk AS (
          SELECT cents,
            row_number() OVER (ORDER BY cents, o_custkey) AS i
          FROM cr),
        s AS (
          SELECT count(*) AS n,
            CAST(sum(cents) AS DECIMAL(38,0)) AS sx,
            CAST(sum(i * cents) AS DECIMAL(38,0)) AS six
          FROM rk)
        SELECT n,
          round(CAST(sx AS DOUBLE) / n / CAST(100 AS DOUBLE), 6) AS mean_revenue,
          round(CAST(2 * six - (n + 1) * sx AS DOUBLE) /
            CAST(n * sx AS DOUBLE), 6) AS gini
        FROM s"""))(
      (s, dir) => {
        val cr = T(s, dir, "orders")
          .groupBy(col("o_custkey"))
          .agg(sum(round(col("o_totalprice") * 100, 0).cast("long"))
            .as("cents"))
        // distributed global rank (three-phase prefix of 1s) — a bare
        // row_number window here would move every customer to one task
        val rk = graft.ops.Prefix.runningTotal(cr,
            Seq(col("cents"), col("o_custkey")), lit(1L), out = "i")
          .select(col("cents"), col("i"))
        val sm = rk.agg(count(lit(1)).as("n"),
          sum(col("cents").cast("decimal(38,0)")).as("sx"),
          sum((col("i") * col("cents")).cast("decimal(38,0)")).as("six"))
        sm.select(col("n"),
          round(col("sx").cast("double") / col("n") / lit(100).cast("double"), 6)
            .as("mean_revenue"),
          round((lit(2) * col("six") - (col("n") + 1) * col("sx")).cast("double") /
            (col("n") * col("sx")).cast("double"), 6).as("gini"))
      }),

    // Least-squares mean-shift changepoint over the daily revenue
    // series: the split maximizing L²/t + R²/(n−t) (equivalently the
    // max between-segment sum of squares). Prefix sums are integer
    // cents over the DAY frame; the scan is one window pass + one
    // ranked selection, tie-break earliest day.
    Q("q189_mean_shift", Q.sql("""
        WITH daily AS (
          SELECT CAST(o_orderdate AS DATE) AS day,
            CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS cents
          FROM orders GROUP BY 1),
        tot AS (
          SELECT CAST(sum(cents) AS BIGINT) AS g, count(*) AS n FROM daily),
        cum AS (
          SELECT day,
            CAST(sum(cents) OVER (ORDER BY day) AS BIGINT) AS l,
            row_number() OVER (ORDER BY day) AS t
          FROM daily),
        sc AS (
          SELECT day, t, l, g, n,
            CAST(l AS DOUBLE) * l / t + CAST(g - l AS DOUBLE) * (g - l) / (n - t) AS score
          FROM cum CROSS JOIN tot WHERE t < n),
        best AS (
          SELECT * FROM (
            SELECT *, row_number() OVER (ORDER BY score DESC, day) AS rn FROM sc) b
          WHERE rn = 1)
        SELECT day AS split_day, t AS n_left, n - t AS n_right,
          round(CAST(l AS DOUBLE) / t / CAST(100 AS DOUBLE), 6) AS mean_left,
          round(CAST(g - l AS DOUBLE) / (n - t) / CAST(100 AS DOUBLE), 6) AS mean_right,
          round(CAST(g - l AS DOUBLE) / (n - t) / CAST(100 AS DOUBLE)
            - CAST(l AS DOUBLE) / t / CAST(100 AS DOUBLE), 6) AS shift
        FROM best"""))(
      (s, dir) => {
        val daily = T(s, dir, "orders")
          .groupBy(to_date(col("o_orderdate")).as("day"))
          .agg(sum(round(col("o_totalprice") * 100, 0).cast("long"))
            .as("cents"))
        val tot = daily.agg(sum(col("cents")).as("g"), count(lit(1)).as("n"))
        // both running series (cents prefix + position) in one
        // distributed-prefix pass — no unpartitioned window
        val cum = graft.ops.Prefix.runningTotals(daily, Seq(col("day")),
            Seq(col("cents") -> "l", lit(1L) -> "t"))
          .select(col("day"), col("l"), col("t"))
        val sc = cum.crossJoin(broadcast(tot))
          .where(col("t") < col("n"))
          .select(col("day"), col("t"), col("l"), col("g"), col("n"),
            (col("l").cast("double") * col("l") / col("t") +
              (col("g") - col("l")).cast("double") * (col("g") - col("l")) /
                (col("n") - col("t"))).as("score"))
        // argmax via distributed sort-limit, not a ranked window
        val best = sc.orderBy(col("score").desc, col("day").asc).limit(1)
        best.select(col("day").as("split_day"),
          col("t").as("n_left"), (col("n") - col("t")).as("n_right"),
          round(col("l").cast("double") / col("t") / lit(100).cast("double"), 6)
            .as("mean_left"),
          round((col("g") - col("l")).cast("double") / (col("n") - col("t")) /
            lit(100).cast("double"), 6).as("mean_right"),
          round((col("g") - col("l")).cast("double") / (col("n") - col("t")) /
            lit(100).cast("double") -
            col("l").cast("double") / col("t") / lit(100).cast("double"), 6)
            .as("shift"))
      }),

    // Hill tail-index estimator over the top-k order statistics of
    // o_totalprice: H = mean(ln xᵢ − ln x₍ₖ₊₁₎), α̂ = 1/H — the
    // heavy-tail exponent behind capacity planning and power-law
    // checks. Rank window + rounded-log decimal sum; k is fixed so the
    // tail frame is constant-bounded at any scale.
    Q("q190_hill_tail", Q.sql(s"""
        WITH rk AS (
          SELECT o_totalprice AS x,
            row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS r
          FROM orders),
        xk1 AS (SELECT x AS xk FROM rk WHERE r = ${HillK + 1}),
        tail AS (
          SELECT round(ln(x) - ln(xk), 8) AS lterm
          FROM rk CROSS JOIN xk1 WHERE r <= $HillK)
        SELECT $HillK AS k, round(max(xk), 6) AS x_k1,
          round(CAST(sum(CAST(lterm AS DECIMAL(27,8))) AS DOUBLE) / $HillK, 6) AS hill_h,
          round(CAST($HillK AS DOUBLE) /
            CAST(sum(CAST(lterm AS DECIMAL(27,8))) AS DOUBLE), 6) AS tail_alpha
        FROM tail CROSS JOIN xk1"""))(
      (s, dir) => {
        // top-(k+1) via distributed sort-limit (TakeOrderedAndProject):
        // ranking ALL orders globally for a fixed-k tail would be a
        // single-partition sort of the fact table
        // top-(k+1) tail + rank over ONE stated order (rankTop:
        // distributed sort-limit, then prefix ranks — no unpartitioned
        // window, no global sort of the fact table)
        val rk = graft.ops.Prefix.rankTop(
            T(s, dir, "orders").select(col("o_totalprice").as("x"),
              col("o_orderkey")),
            Seq(col("x").desc, col("o_orderkey")), k = HillK + 1, out = "r")
          .select(col("x"), col("r"))
        val xk1 = rk.where(col("r") === HillK + 1).limit(1)
          .select(col("x").as("xk"))
        val tail = rk.where(col("r") <= HillK)
          .crossJoin(broadcast(xk1))
          .select(round(log(col("x")) - log(col("xk")), 8).as("lterm"),
            col("xk"))
        tail.agg(
            sum(col("lterm").cast("decimal(27,8)")).cast("double").as("sl"),
            max(col("xk")).as("xk"))
          .select(lit(HillK).as("k"), round(col("xk"), 6).as("x_k1"),
            round(col("sl") / HillK, 6).as("hill_h"),
            round(lit(HillK).cast("double") / col("sl"), 6).as("tail_alpha"))
      }),

    // Chao1 vocabulary-richness estimate per language: observed types
    // plus the singleton/doubleton correction f1(f1-1)/(2(f2+1)) — "how
    // much vocabulary is this slice still hiding", the saturation triage
    // next to the Heaps growth fit (q177). Two hash aggregations of
    // exact integers, one final double (see text.VocabStats).
    Q("q273_vocab_richness", Q.sql(s"""
        WITH toks AS (
          SELECT lang, unnest(string_split_regex($normSql, '\\s+')) AS tok
          FROM documents),
        cnts AS (SELECT lang, tok, count(*) AS cnt FROM toks GROUP BY 1, 2),
        r AS (
          SELECT lang, count(*) AS v_obs, CAST(sum(cnt) AS BIGINT) AS n_tokens,
            CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
            CAST(sum(CASE WHEN cnt = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
          FROM cnts GROUP BY 1)
        SELECT lang, n_tokens, v_obs, f1, f2,
          round(v_obs + (f1 * (f1 - 1)) * 1.0 / (2 * (f2 + 1)), 4) AS chao1
        FROM r ORDER BY lang"""))(
      (s, dir) => {
        val toks = T(s, dir, "documents").select(col("lang"),
          explode(TextAnalysis.tokens(
            TextAnalysis.normalizeText(col("text")))).as("tok"))
        graft.text.VocabStats.chao1(toks, Seq("lang"))
          .select("lang", "n_tokens", "v_obs", "f1", "f2", "chao1")
          .orderBy("lang")
      }),

    // Value-at-Risk + Expected Shortfall (CVaR) per market segment —
    // the coherent tail-risk pair (Artzner et al. '99; ES is what
    // Basel moved to precisely because VaR ignores how bad the tail
    // IS): VaR95 = the k-th largest order value (k = ceil(n/20),
    // rank-based so ties are deterministic via orderkey), ES95 = the
    // exact DECIMAL mean of the top-k. One segment-partitioned rank
    // window (never unpartitioned; ties fully broken); at 100 TB with
    // few fat segments the same numbers route through the two-pass
    // histogram order-statistic (q237's machinery) instead of a
    // per-segment sort — the rank form here keeps the oracle exact.
    Q("q327_cvar", Q.sql("""
        WITH oc AS (
          SELECT c_mktsegment AS seg,
            CAST(o_totalprice AS DECIMAL(27,4)) AS price, o_orderkey AS ok
          FROM orders JOIN customer ON c_custkey = o_custkey),
        r AS (
          SELECT seg, price,
            row_number() OVER (PARTITION BY seg ORDER BY price DESC, ok)
              AS rn,
            CAST(count(*) OVER (PARTITION BY seg) AS BIGINT) AS n
          FROM oc),
        t AS (
          SELECT seg, price, rn, n,
            greatest(CAST(1 AS BIGINT),
              CAST(floor((n + 19) / 20.0) AS BIGINT)) AS k
          FROM r),
        agg AS (
          SELECT seg, n, k,
            CAST(sum(CASE WHEN rn <= k THEN price END) AS DECIMAL(38,4))
              AS tail_sum,
            CAST(max(CASE WHEN rn = k THEN price END) AS DECIMAL(27,4))
              AS var_p
          FROM t GROUP BY 1, 2, 3)
        SELECT seg, n, k AS tail_n,
          round(CAST(var_p AS DOUBLE), 6) AS var95,
          round(CAST(tail_sum AS DOUBLE) / CAST(k AS DOUBLE), 6) AS es95
        FROM agg ORDER BY seg"""))(
      (s, dir) => {
        val oc = T(s, dir, "orders")
          .join(T(s, dir, "customer")
            .select(col("c_custkey"), col("c_mktsegment")),
            col("c_custkey") === col("o_custkey"))
          .select(col("c_mktsegment").as("seg"),
            col("o_totalprice").cast("decimal(27,4)").as("price"),
            col("o_orderkey").as("ok"))
        val r = oc.select(col("seg"), col("price"),
          row_number().over(Window.partitionBy("seg")
            .orderBy(col("price").desc, col("ok"))).as("rn"),
          count(lit(1)).over(Window.partitionBy("seg")).cast("bigint")
            .as("n"))
        val t = r.withColumn("k", greatest(lit(1L),
          floor((col("n") + 19) / lit(20.0)).cast("long")))
        val agg = t.groupBy("seg", "n", "k")
          .agg(sum(when(col("rn") <= col("k"), col("price")))
            .cast("decimal(38,4)").as("tail_sum"),
            max(when(col("rn") === col("k"), col("price")))
              .cast("decimal(27,4)").as("var_p"))
        agg.select(col("seg"), col("n"), col("k").as("tail_n"),
            round(col("var_p").cast("double"), 6).as("var95"),
            round(col("tail_sum").cast("double") / col("k").cast("double"), 6)
              .as("es95"))
          .orderBy("seg")
      }))
}
