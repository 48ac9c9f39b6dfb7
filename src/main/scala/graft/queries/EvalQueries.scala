package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables.{load => T}
import graft.ops.{Bootstrap, Percentiles}
import graft.ops.Relational.dsum
import graft.queries.Bases.wordsCte
import graft.text.Bm25

/** Round-5 batch 7: evaluation & diagnostics — NDCG ranking quality,
  * Poisson-bootstrap confidence intervals, gaps-and-islands activity
  * analysis, and a join-skew report — each oracle-checked bit-for-bit
  * against DuckDB.
  */
object EvalQueries {

  private val Bm25Terms = Seq("table", "spark", "merge")
  private val BootB = 100

  def all: Seq[Q] = Seq(

    // CUPED variance reduction (Deng et al. WSDM'13 — "Improving the
    // sensitivity of online controlled experiments"): adjust each
    // user's outcome y by θ·(x − x̄) where x is a pre-period covariate
    // and θ = cov(x,y)/var(x) pooled — the experimentation-platform
    // standard that cuts metric variance without biasing the treatment
    // contrast. Here: md5-parity arms, x = the user's even-day value
    // mass, y = odd-day (the pre/post proxy this fixture affords).
    // Values ride EXACT 4-dp fixed-point longs (the q304 discipline);
    // cross-products go through DECIMAL(38) so every moment is an
    // order-independent integer, and θ / means / variances are single
    // fixed IEEE expressions off those exact aggregates. At 100 TB: one
    // per-user agg, one 2-row arm agg, one scalar broadcast.
    Q("q318_cuped", Q.sql(s"""
        WITH e AS (
          SELECT user_id,
            ${graft.functions.PortableSql.hexToLong(
              "md5(CAST(user_id AS VARCHAR))", 12)} % 2 AS arm,
            CAST(floor(value * 10000 + 0.5) AS BIGINT) AS v,
            day(CAST(ts AS DATE)) % 2 AS odd
          FROM events),
        u AS (
          SELECT user_id, max(arm) AS arm,
            CAST(sum(CASE WHEN odd = 0 THEN v ELSE 0 END) AS BIGINT) AS x,
            CAST(sum(CASE WHEN odd = 1 THEN v ELSE 0 END) AS BIGINT) AS y
          FROM e GROUP BY 1),
        g AS (
          SELECT count(*) AS n,
            CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
            CAST(sum(CAST(x AS DECIMAL(19,0)) * x) AS DECIMAL(38,0)) AS sxx,
            CAST(sum(CAST(x AS DECIMAL(19,0)) * y) AS DECIMAL(38,0)) AS sxy
          FROM u),
        th AS (
          SELECT n, CAST(sx AS DOUBLE) / n AS mxg,
            (CAST(sxy AS DOUBLE) / n
              - (CAST(sx AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n))
            / (CAST(sxx AS DOUBLE) / n
              - (CAST(sx AS DOUBLE) / n) * (CAST(sx AS DOUBLE) / n)) AS theta
          FROM g),
        a AS (
          SELECT arm, count(*) AS n_users,
            CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
            CAST(sum(CAST(x AS DECIMAL(19,0)) * x) AS DECIMAL(38,0)) AS sxx,
            CAST(sum(CAST(x AS DECIMAL(19,0)) * y) AS DECIMAL(38,0)) AS sxy,
            CAST(sum(CAST(y AS DECIMAL(19,0)) * y) AS DECIMAL(38,0)) AS syy
          FROM u GROUP BY 1),
        f AS (
          SELECT a.arm, a.n_users,
            CAST(a.sx AS DOUBLE) / a.n_users AS mx,
            CAST(a.sy AS DOUBLE) / a.n_users AS my,
            CAST(a.sxx AS DOUBLE) / a.n_users
              - (CAST(a.sx AS DOUBLE) / a.n_users) * (CAST(a.sx AS DOUBLE) / a.n_users) AS vx,
            CAST(a.syy AS DOUBLE) / a.n_users
              - (CAST(a.sy AS DOUBLE) / a.n_users) * (CAST(a.sy AS DOUBLE) / a.n_users) AS vy,
            CAST(a.sxy AS DOUBLE) / a.n_users
              - (CAST(a.sx AS DOUBLE) / a.n_users) * (CAST(a.sy AS DOUBLE) / a.n_users) AS cxy,
            th.theta AS theta, th.mxg AS mxg
          FROM a, th)
        SELECT arm, n_users,
          round(my / 10000, 6) AS mean_y,
          round((my - theta * (mx - mxg)) / 10000, 6) AS mean_y_cuped,
          round(vy / 100000000, 6) AS var_y,
          round((vy - 2 * theta * cxy + theta * theta * vx) / 100000000, 6)
            AS var_y_cuped
        FROM f ORDER BY arm"""))(
      (s, dir) => {
        import graft.functions.Md5Long
        val e = T(s, dir, "events").select(col("user_id"),
          (Md5Long.md5PrefixLong(col("user_id").cast("string"), 0, 6) % 2)
            .as("arm"),
          floor(col("value") * 10000 + 0.5).cast("long").as("v"),
          (dayofmonth(to_date(col("ts"))) % 2).as("odd"))
        val u = e.groupBy("user_id").agg(max(col("arm")).as("arm"),
          sum(when(col("odd") === 0, col("v")).otherwise(0L)).as("x"),
          sum(when(col("odd") === 1, col("v")).otherwise(0L)).as("y"))
        def moments(df: org.apache.spark.sql.RelationalGroupedDataset) =
          df.agg(count(lit(1)).as("n_users"),
            sum(col("x")).as("sx"), sum(col("y")).as("sy"),
            sum(col("x").cast("decimal(19,0)") * col("x"))
              .cast("decimal(38,0)").as("sxx"),
            sum(col("x").cast("decimal(19,0)") * col("y"))
              .cast("decimal(38,0)").as("sxy"),
            sum(col("y").cast("decimal(19,0)") * col("y"))
              .cast("decimal(38,0)").as("syy"))
        val g = moments(u.groupBy())
        val dn = col("n_users").cast("double")
        val th = g.select(
          (col("sx").cast("double") / dn).as("mxg"),
          ((col("sxy").cast("double") / dn
            - (col("sx").cast("double") / dn) * (col("sy").cast("double") / dn))
          / (col("sxx").cast("double") / dn
            - (col("sx").cast("double") / dn) * (col("sx").cast("double") / dn)))
            .as("theta"))
        val a = moments(u.groupBy("arm"))
        val mx = col("sx").cast("double") / dn
        val my = col("sy").cast("double") / dn
        val f = a.crossJoin(broadcast(th)).select(col("arm"), col("n_users"),
          mx.as("mx"), my.as("my"),
          (col("sxx").cast("double") / dn - mx * mx).as("vx"),
          (col("syy").cast("double") / dn - my * my).as("vy"),
          (col("sxy").cast("double") / dn - mx * my).as("cxy"),
          col("theta"), col("mxg"))
        f.select(col("arm"), col("n_users"),
            round(col("my") / 10000, 6).as("mean_y"),
            round((col("my") - col("theta") * (col("mx") - col("mxg")))
              / 10000, 6).as("mean_y_cuped"),
            round(col("vy") / 100000000, 6).as("var_y"),
            round((col("vy") - lit(2) * col("theta") * col("cxy")
              + col("theta") * col("theta") * col("vx")) / 100000000, 6)
              .as("var_y_cuped"))
          .orderBy("arm")
      }),

    // NDCG@k for the BM25 ranking (q133) against a binary relevance
    // label (lang='en') — the serving-quality metric a retrieval layer
    // reports. Ranks come from one global top-window over the scored
    // frame (score-sized, not corpus-sized); per-rank terms round the
    // log2 discount, sums are decimal-routed.
    Q("q150_ndcg", Q.sql(s"""
        $wordsCte,
        toks AS (SELECT id, unnest(ws) AS tok FROM w),
        ${Bm25.oracleSql("toks", Bm25Terms)},
        scored AS (
          SELECT b.id, b.score, CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS rel
          FROM bm25 b JOIN documents d ON b.id = d.doc_id),
        ranked AS (
          SELECT rel, row_number() OVER (ORDER BY score DESC, id) AS r
          FROM scored),
        ideal AS (
          SELECT row_number() OVER (ORDER BY rel DESC, r) AS ri, rel
          FROM ranked),
        dcg AS (
          SELECT
            CAST(sum(CAST(CASE WHEN r <= 10 THEN round(rel / log2(r + 1), 6) ELSE 0 END AS DECIMAL(27,6))) AS DOUBLE) AS dcg10,
            CAST(sum(CAST(CASE WHEN r <= 20 THEN round(rel / log2(r + 1), 6) ELSE 0 END AS DECIMAL(27,6))) AS DOUBLE) AS dcg20
          FROM ranked),
        idcg AS (
          SELECT
            CAST(sum(CAST(CASE WHEN ri <= 10 THEN round(rel / log2(ri + 1), 6) ELSE 0 END AS DECIMAL(27,6))) AS DOUBLE) AS idcg10,
            CAST(sum(CAST(CASE WHEN ri <= 20 THEN round(rel / log2(ri + 1), 6) ELSE 0 END AS DECIMAL(27,6))) AS DOUBLE) AS idcg20
          FROM ideal)
        SELECT round(dcg10, 6) AS dcg10, round(dcg20, 6) AS dcg20,
          round(dcg10 / idcg10, 6) AS ndcg10,
          round(dcg20 / idcg20, 6) AS ndcg20
        FROM dcg, idcg"""))(
      (s, dir) => {
        import graft.ops.Frames.cached
        // cached narrow projection: the BM25 scoring pass feeds both the
        // top-20 cut and the rel count — one corpus pass, not two
        val scored = cached(Bm25.score(T(s, dir, "documents"), col("doc_id"),
            col("text"), Bm25Terms)
          .join(T(s, dir, "documents").select(col("doc_id").as("id"),
            when(col("lang") === "en", 1).otherwise(0).as("rel")), "id")
          .select(col("rel"), col("score"), col("id")))
        // Only ranks <= 20 contribute a non-zero DCG term (the CASE is a
        // literal 0 beyond k, and summing zeros changes nothing), so the
        // corpus-wide distributed rank pass collapses to rankTop(20):
        // TakeOrdered the 20 survivors, then rank just those — no
        // corpus-sized range-partition sort at any scale
        val ranked = graft.ops.Prefix.rankTop(scored,
            Seq(col("score").desc, col("id")), k = 20, out = "r")
          .select(col("rel"), col("r"))
        // The ideal ranking sorts by (rel desc, r): only rel=1 rows carry
        // a non-zero numerator, and the i-th rel=1 row has ideal rank i,
        // so idcg_k = sum_{i=1..min(k, n1)} round(1/log2(i+1), 6) — a
        // closed form of the single scalar n1 = count(rel=1), unrolled
        // over a <=20-element sequence instead of a second corpus pass
        val n1 = scored.agg(sum(col("rel")).cast("long").as("n1"))
        val ideal = n1.select(col("n1"),
            explode(sequence(lit(1L),
              greatest(least(col("n1"), lit(20L)), lit(1L)))).as("ri"))
          .where(col("ri") <= col("n1"))
          .withColumn("rel", lit(1))
        def term(rank: org.apache.spark.sql.Column, k: Int) =
          when(rank <= k, round(col("rel") / log2(rank + 1), 6)).otherwise(lit(0))
        val dcg = ranked.agg(
          dsum(term(col("r"), 10), 6).as("dcg10"),
          dsum(term(col("r"), 20), 6).as("dcg20"))
        val idcg = ideal.agg(
          coalesce(dsum(term(col("ri"), 10), 6), lit(0.0)).as("idcg10"),
          coalesce(dsum(term(col("ri"), 20), 6), lit(0.0)).as("idcg20"))
        dcg.crossJoin(idcg)
          .select(round(col("dcg10"), 6).as("dcg10"),
            round(col("dcg20"), 6).as("dcg20"),
            round(col("dcg10") / col("idcg10"), 6).as("ndcg10"),
            round(col("dcg20") / col("idcg20"), 6).as("ndcg20"))
      }),

    // Rank-biased overlap (Webber et al., TOIS 2010) between the
    // revenue and order-count customer rankings, truncated at depth 50:
    // RBO@D = (1-p)·Σ_{d<=D} p^(d-1)·X_d/d, where X_d = |top-d ∩ top-d|.
    // An item with ranks (ra, rb) enters every prefix overlap from depth
    // max(ra, rb), so X_d is one count over the <=D-row frontier frame —
    // the whole metric costs two distributed-prefix ranks plus a 50-row
    // depth join. p = 1/2 so every weight p^(d-1) is an exact dyadic
    // double on both engines (no transcendental-parity risk); terms are
    // rounded at 12 and decimal-summed.
    Q("q275_rank_biased_overlap", Q.sql("""
        WITH r AS (
          SELECT o_custkey, count(*) AS n_orders,
            CAST(sum(CAST(o_totalprice AS DECIMAL(27,4))) AS DOUBLE) AS rev
          FROM orders GROUP BY 1),
        rk AS (
          SELECT o_custkey,
            row_number() OVER (ORDER BY rev DESC, o_custkey) AS r_rev,
            row_number() OVER (ORDER BY n_orders DESC, o_custkey) AS r_cnt
          FROM r),
        m AS (
          SELECT greatest(r_rev, r_cnt) AS m FROM rk
          WHERE greatest(r_rev, r_cnt) <= 50),
        dep AS (SELECT unnest(generate_series(1, 50)) AS d),
        xd AS (
          SELECT d, count(m.m) AS x
          FROM dep LEFT JOIN m ON m.m <= dep.d
          GROUP BY 1),
        terms AS (
          SELECT d, x,
            round(power(0.5, d - 1) * x / d, 12) AS term
          FROM xd)
        SELECT 50 AS depth, CAST(max(CASE WHEN d = 50 THEN x END) AS BIGINT)
            AS overlap_at_depth,
          round((1 - 0.5) *
            CAST(sum(CAST(term AS DECIMAL(27,12))) AS DOUBLE), 6) AS rbo
        FROM terms"""))(
      (s, dir) => {
        import graft.ops.Prefix.runningTotal
        val r = T(s, dir, "orders")
          .groupBy(col("o_custkey"))
          .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice"), 4).as("rev"))
        val rk = runningTotal(
          runningTotal(r, Seq(col("rev").desc, col("o_custkey")),
            lit(1L), out = "r_rev"),
          Seq(col("n_orders").desc, col("o_custkey")), lit(1L), out = "r_cnt")
        val m = rk.select(greatest(col("r_rev"), col("r_cnt")).as("m"))
          .where(col("m") <= 50).limit(50) // ranks are unique: <= 50 rows
        val dep = T(s, dir, "orders").sparkSession.range(1, 51)
          .select(col("id").cast("int").as("d"))
        // non-equi LEFT join: broadcast the <=50-row frontier (the
        // preserved depth side cannot be the broadcast side)
        val xd = dep.join(broadcast(m), col("m") <= col("d"), "left")
          .groupBy("d").agg(count(col("m")).as("x"))
        val terms = xd.select(col("d"), col("x"),
          round(pow(lit(0.5), col("d") - 1) * col("x") / col("d"), 12)
            .as("term"))
        terms.agg(
          max(when(col("d") === 50, col("x"))).as("overlap_at_depth"),
          round((lit(1) - lit(0.5)) *
            sum(col("term").cast("decimal(27,12)")).cast("double"), 6)
            .as("rbo"))
          .select(lit(50).as("depth"), col("overlap_at_depth"), col("rbo"))
      }),

    // Poisson-bootstrap 95% CI for the mean purchase value: B=100
    // replicates in ONE pass (per-row Poisson(1) weights from md5 —
    // deterministic on any engine/partitioning), exact percentiles over
    // the replicate means. The at-scale uncertainty estimate: no
    // per-replicate resampling pass, no RNG state (see ops.Bootstrap).
    Q("q151_bootstrap_ci", Q.sql(s"""
        WITH src AS (
          SELECT CAST(event_id AS VARCHAR) AS rk, value AS x
          FROM events WHERE event_type = 'purchase'),
        ${Bootstrap.oracleSql("src", BootB)},
        pts AS (SELECT 'all' AS g, mean_b FROM reps),
        ${Percentiles.oracleCtes("ci", "pts", Seq("g"), "mean_b",
          Seq("lo" -> 0.025, "hi" -> 0.975))},
        full_mean AS (
          SELECT round(CAST(sum(CAST(x AS DECIMAL(27,6))) AS DOUBLE) / count(*), 6) AS mean_full
          FROM src)
        SELECT count(*) AS n_reps, mean_full,
          round(ci.lo, 6) AS ci_lo, round(ci.hi, 6) AS ci_hi
        FROM reps, ci, full_mean
        GROUP BY mean_full, ci.lo, ci.hi"""))(
      (s, dir) => {
        val src = T(s, dir, "events")
          .where(col("event_type") === "purchase")
          .select(col("event_id").cast("string").as("rk"),
            col("value").as("x"))
        val reps = graft.ops.Frames.cached(
          Bootstrap.replicateMeans(src, col("rk"), col("x"), BootB))
        // global percentiles over the B-row replicate frame via the
        // prefix-ranked form — a constant 'g' key would fold into an
        // unpartitioned window
        val ci = Percentiles.exactGlobal(reps, col("mean_b"), col("rep"),
          Seq("lo" -> 0.025, "hi" -> 0.975))
        val fullMean = src.agg(
          round(dsum(col("x"), 6) / count(lit(1)), 6).as("mean_full"))
        reps.agg(count(lit(1)).as("n_reps"))
          .crossJoin(broadcast(fullMean))
          .crossJoin(broadcast(ci))
          .select(col("n_reps"), col("mean_full"),
            round(col("lo"), 6).as("ci_lo"), round(col("hi"), 6).as("ci_hi"))
      }),

    // Gaps-and-islands: per-user activity gaps over distinct event days
    // (lag diff within user) — days active, number of inactivity gaps,
    // longest gap. One distinct + one windowed pass, all integers.
    Q("q152_gaps", Q.sql("""
        WITH days AS (
          SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        gaps AS (
          SELECT user_id, day,
            date_diff('day',
              lag(day) OVER (PARTITION BY user_id ORDER BY day), day) AS d
          FROM days)
        SELECT user_id, count(*) AS n_active_days,
          CAST(sum(CASE WHEN d > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_gaps,
          CAST(coalesce(max(CASE WHEN d > 1 THEN d - 1 END), 0) AS BIGINT) AS max_gap_days
        FROM gaps GROUP BY 1 ORDER BY 1"""))(
      (s, dir) => {
        val days = T(s, dir, "events")
          .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
        val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
        days.select(col("user_id"),
            datediff(col("day"), lag(col("day"), 1).over(w)).as("d"))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_active_days"),
            sum(when(col("d") > 1, 1L).otherwise(0L)).as("n_gaps"),
            coalesce(max(when(col("d") > 1, col("d") - 1)), lit(0))
              .cast("long").as("max_gap_days"))
          .orderBy("user_id")
      }),

    // Join-skew diagnostics: hottest join keys with their share of the
    // fact table and the skew factor (hot-key count / mean count) — the
    // report that decides between plain, broadcast, and salted joins
    // (q28). Two hash aggregations; the heavy output is top-10 only.
    Q("q153_skew_report", Q.sql("""
        WITH kc AS (
          SELECT l_partkey, count(*) AS cnt FROM lineitem GROUP BY 1),
        stats AS (
          SELECT count(*) AS n_keys, CAST(sum(cnt) AS BIGINT) AS total
          FROM kc),
        top AS (
          SELECT l_partkey, cnt,
            row_number() OVER (ORDER BY cnt DESC, l_partkey) AS rank
          FROM kc)
        SELECT rank, l_partkey, cnt,
          round(CAST(cnt AS DOUBLE) / total, 6) AS share,
          round(CAST(cnt AS DOUBLE) / (CAST(total AS DOUBLE) / n_keys), 6) AS skew_factor
        FROM top, stats
        WHERE rank <= 10 ORDER BY rank"""))(
      (s, dir) => {
        val kc = T(s, dir, "lineitem")
          .groupBy(col("l_partkey")).agg(count(lit(1)).as("cnt"))
        val stats = kc.agg(count(lit(1)).as("n_keys"),
          sum(col("cnt")).as("total"))
        // shortlist + rank share ONE stated order (rankTop) — zero
        // unpartitioned windows anywhere
        graft.ops.Prefix.rankTop(kc,
            Seq(col("cnt").desc, col("l_partkey")), k = 10, out = "rank")
          .select(col("l_partkey"), col("cnt"),
            col("rank").cast("int").as("rank"))
          .crossJoin(broadcast(stats))
          .select(col("rank"), col("l_partkey"), col("cnt"),
            round(col("cnt").cast("double") / col("total"), 6).as("share"),
            round(col("cnt").cast("double") /
              (col("total").cast("double") / col("n_keys")), 6).as("skew_factor"))
          .orderBy("rank")
      }),

    // Randomization tests with Benjamini-Hochberg FDR control — the
    // multiple-testing discipline an experimentation platform needs: per
    // event type t, H0 "mean(value) for type-t events equals the rest",
    // tested by 12 seeded relabelings (proportion-preserving in
    // expectation: event e joins the pseudo-treatment iff u_p < the
    // per-type threshold n_t·2^48/N — five doubles computed once, the
    // identical IEEE expression both engines, compared against the
    // exactly-representable u_p = (h1 + p·h2) mod 2^48, which
    // double-hashes the two 48-bit halves of ONE md5(e|t): the 60×
    // fan-out pays one digest and one long-vs-double compare), with
    // p = (1 + #{|diff_perm| ≥ |diff_obs|}) / 13. The BH step-up is then
    // PURE INTEGER arithmetic: with p = c/13 and threshold rank·(q=1/4)/5
    // = rank/20, the condition p ≤ rank·q/m becomes 20·c ≤ 13·rank —
    // no float in the decision. Ranking the 5 p-values is a 5×5
    // model-frame self-join (no window at all); values carry as exact 4-dp fixed-point LONGS, so every sum is order-independent integer arithmetic.
    Q("q304_permutation_fdr", {
      val perms = (0 until 12).mkString("[", ", ", "]")
      Q.sql(s"""
        WITH e AS (
          SELECT event_id, event_type,
            CAST(floor(value * 10000 + 0.5) AS BIGINT) AS v
          FROM events),
        tot AS (
          SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(v) AS BIGINT) AS s
          FROM e),
        g AS (
          SELECT event_type, CAST(count(*) AS BIGINT) AS n_t,
            CAST(sum(v) AS BIGINT) AS s_t
          FROM e GROUP BY 1),
        obs AS (
          SELECT event_type, n_t,
            ((CAST(s_t AS DOUBLE) / n_t)
              - (CAST(tot.s - s_t AS DOUBLE) / (tot.n - n_t))) / 10000.0
              AS diff_obs
          FROM g, tot),
        pp AS (SELECT unnest($perms) AS p),
        gt AS (
          SELECT event_type, n_t,
            CAST(n_t AS DOUBLE) * ${1L << 48} / tot.n AS thr
          FROM g, tot),
        hh AS (
          SELECT gt.event_type, gt.thr, e.v,
            ${graft.functions.PortableSql.hexToLong(
              "md5(CAST(e.event_id AS VARCHAR) || '|' || gt.event_type)", 12)} AS h1,
            ${graft.functions.PortableSql.hexToLong(
              "substr(md5(CAST(e.event_id AS VARCHAR) || '|' || gt.event_type), 13, 12)",
              12)} AS h2
          FROM e, gt),
        asg AS (
          SELECT event_type, pp.p, v,
            ((h1 + pp.p * h2) % ${1L << 48} < thr) AS a
          FROM hh, pp),
        pd AS (
          SELECT event_type, p,
            ((CAST(sum(CASE WHEN a THEN v ELSE 0 END) AS DOUBLE)
              / sum(CASE WHEN a THEN 1 ELSE 0 END))
            - (CAST(sum(CASE WHEN a THEN 0 ELSE v END) AS DOUBLE)
              / sum(CASE WHEN a THEN 0 ELSE 1 END))) / 10000.0 AS diff_p
          FROM asg GROUP BY 1, 2),
        cc AS (
          SELECT o.event_type, o.n_t, o.diff_obs,
            CAST(1 + sum(CASE WHEN abs(pd.diff_p) >= abs(o.diff_obs)
              THEN 1 ELSE 0 END) AS BIGINT) AS c
          FROM obs o JOIN pd ON pd.event_type = o.event_type
          GROUP BY 1, 2, 3),
        rk AS (
          SELECT a.event_type, a.n_t, a.diff_obs, a.c,
            CAST(count(*) AS BIGINT) AS rank
          FROM cc a JOIN cc b
            ON b.c < a.c OR (b.c = a.c AND b.event_type <= a.event_type)
          GROUP BY 1, 2, 3, 4),
        khat AS (
          SELECT coalesce(max(rank), CAST(0 AS BIGINT)) AS k
          FROM rk WHERE 20 * c <= 13 * rank)
        SELECT event_type, n_t, round(diff_obs, 6) AS diff_obs, c,
          round(c / 13.0, 6) AS p_value,
          rank, CAST(rank <= khat.k AS INT) AS rejected
        FROM rk, khat
        ORDER BY event_type""")
    })(
      (s, dir) => {
        import graft.functions.Md5Long
        // value in exact 4-dp fixed point: every sum is a plain LONG —
        // order-independent AND fast (a 6M-row DECIMAL(27,8) sum ran
        // ~3x slower); the /10000.0 rescale is one deterministic
        // division at the end of each mean
        val e = T(s, dir, "events")
          .select(col("event_id"), col("event_type"),
            floor(col("value") * 10000 + 0.5).cast("long").as("v"))
        val tot = e.agg(count(lit(1)).as("n"), sum(col("v")).as("s"))
        val g = e.groupBy("event_type")
          .agg(count(lit(1)).as("n_t"), sum(col("v")).as("s_t"))
        val obs = g.crossJoin(broadcast(tot))
          .select(col("event_type"), col("n_t"),
            (((col("s_t").cast("double") / col("n_t"))
              - ((col("s") - col("s_t")).cast("double")
                / (col("n") - col("n_t")))) / 10000.0).as("diff_obs"))
        // ONE md5 per (event, test); the 12 per-permutation hashes are
        // double-hashed (h1 + p·h2 mod 2^48, Kirsch-Mitzenmacher — the
        // minhash/bloom trick). The 5× type fan-out rides a constant-key
        // BroadcastHashJoin and the 12× perm fan-out a generator explode
        // — both stay inside whole-stage codegen, where a crossJoin
        // chain would run the 6M-row pipeline through nested-loop
        // iterators (~4× slower measured).
        val key = concat(col("event_id").cast("string"), lit("|"),
          col("t_type"))
        // the per-type threshold u < n_t·2^48/N is computed ONCE per
        // test as a double (deterministic: same IEEE expression both
        // engines; u < 2^48 is exact as a double) — a per-row
        // DECIMAL(38) product here cost ~5s on the 6M-row fan-out
        val gt = g.crossJoin(broadcast(tot.select(col("n"))))
          .select(col("event_type").as("t_type"),
            (col("n_t").cast("double") * lit((1L << 48).toDouble)
              / col("n")).as("thr"))
        val hh = e.withColumn("j", lit(1))
          .join(broadcast(gt.withColumn("j", lit(1))), "j")
          .select(col("t_type"), col("thr"), col("v"),
            Md5Long.md5PrefixLong(key, 0, 6).as("h1"),
            Md5Long.md5PrefixLong(key, 6, 6).as("h2"))
        val asg = hh
          .withColumn("p", explode(typedlit((0 until 12).toList)))
          .select(col("t_type"), col("p"), col("v"),
            (((col("h1") + col("p") * col("h2")) % lit(1L << 48))
              < col("thr")).as("a"))
        val pd = asg.groupBy(col("t_type").as("event_type"), col("p"))
          .agg(
            (((sum(when(col("a"), col("v")).otherwise(lit(0L)))
              .cast("double")
              / sum(when(col("a"), 1).otherwise(0)))
            - (sum(when(col("a"), lit(0L)).otherwise(col("v")))
              .cast("double")
              / sum(when(col("a"), 0).otherwise(1)))) / 10000.0)
              .as("diff_p"))
        val cc = obs.join(pd, "event_type")
          .groupBy("event_type", "n_t", "diff_obs")
          .agg((lit(1L) + sum(when(abs(col("diff_p")) >= abs(col("diff_obs")),
            1L).otherwise(0L))).as("c"))
        // per-type rank via a broadcast non-equi self-join of the
        // |event_type|-row (model-sized) counts frame — the global
        // row_number this replaces would be an unpartitioned window
        val rk = cc.as("a").join(
            broadcast(cc.select(col("event_type").as("b_type"),
              col("c").as("b_c"))),
            col("b_c") < col("c") ||
              (col("b_c") === col("c") && col("b_type") <= col("event_type")))
          .groupBy("event_type", "n_t", "diff_obs", "c")
          .agg(count(lit(1)).as("rank"))
        val khat = rk.where(lit(20) * col("c") <= lit(13) * col("rank"))
          .agg(coalesce(max(col("rank")), lit(0L)).as("k"))
        rk.crossJoin(broadcast(khat))
          .select(col("event_type"), col("n_t"),
            round(col("diff_obs"), 6).as("diff_obs"), col("c"),
            round(col("c") / lit(13.0), 6).as("p_value"),
            col("rank"), (col("rank") <= col("k")).cast("int").as("rejected"))
          .orderBy("event_type")
      }),

    // Brier score + Murphy (1973) decomposition — REL − RES + UNC, the
    // forecast-verification classic behind every probability-calibration
    // report. The forecaster under audit is a deterministic length
    // heuristic p = min(n_chars/2000, 1) predicting lang='en'; 10
    // fixed-width forecast bins. Per-doc squared errors and per-bin
    // means are rounded then DECIMAL-summed (order-independent); the
    // residual column is the within-bin forecast variance the binned
    // decomposition doesn't capture — emitted, not hidden. One doc
    // scan, one 10-row agg, scalar broadcasts at any scale.
    Q("q323_brier_decomposition", Q.sql("""
        WITH d AS (
          SELECT round(least(CAST(n_chars AS DOUBLE) / 2000.0, 1.0), 6) AS p,
            CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
          FROM documents),
        g AS (
          SELECT CAST(count(*) AS BIGINT) AS n,
            CAST(sum(y) AS BIGINT) AS sy,
            CAST(sum(CAST(round((p - y) * (p - y), 9)
              AS DECIMAL(18,9))) AS DECIMAL(27,9)) AS ssq
          FROM d),
        b AS (
          SELECT least(9, CAST(floor(p * 10) AS INT)) AS bin,
            CAST(count(*) AS BIGINT) AS nb,
            CAST(sum(CAST(p AS DECIMAL(18,6))) AS DECIMAL(27,6)) AS sp,
            CAST(sum(y) AS BIGINT) AS sb
          FROM d GROUP BY 1),
        bm AS (
          SELECT bin, nb,
            round(CAST(sp AS DOUBLE) / CAST(nb AS DOUBLE), 9) AS pb,
            round(CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE), 9) AS yb,
            round(CAST(sy AS DOUBLE) / CAST(n AS DOUBLE), 9) AS ybar
          FROM b, g),
        terms AS (
          SELECT
            CAST(sum(CAST(round(CAST(nb AS DOUBLE) * (pb - yb) * (pb - yb), 9)
              AS DECIMAL(18,9))) AS DECIMAL(27,9)) AS rel_s,
            CAST(sum(CAST(round(CAST(nb AS DOUBLE) * (yb - ybar) * (yb - ybar), 9)
              AS DECIMAL(18,9))) AS DECIMAL(27,9)) AS res_s
          FROM bm)
        SELECT n,
          round(CAST(ssq AS DOUBLE) / CAST(n AS DOUBLE), 6) AS brier,
          round(CAST(rel_s AS DOUBLE) / CAST(n AS DOUBLE), 6) AS reliability,
          round(CAST(res_s AS DOUBLE) / CAST(n AS DOUBLE), 6) AS resolution,
          round(round(CAST(sy AS DOUBLE) / CAST(n AS DOUBLE), 9)
            * (1 - round(CAST(sy AS DOUBLE) / CAST(n AS DOUBLE), 9)), 6)
            AS uncertainty,
          round(CAST(ssq AS DOUBLE) / CAST(n AS DOUBLE)
            - (CAST(rel_s AS DOUBLE) / CAST(n AS DOUBLE)
               - CAST(res_s AS DOUBLE) / CAST(n AS DOUBLE)
               + round(CAST(sy AS DOUBLE) / CAST(n AS DOUBLE), 9)
                 * (1 - round(CAST(sy AS DOUBLE) / CAST(n AS DOUBLE), 9))), 6)
            AS within_bin_var
        FROM g, terms"""))(
      (s, dir) => {
        val d = T(s, dir, "documents").select(
          round(least(col("n_chars").cast("double") / 2000.0, lit(1.0)), 6)
            .as("p"),
          when(col("lang") === "en", 1).otherwise(0).as("y"))
        val g = d.agg(count(lit(1)).cast("bigint").as("n"),
          sum(col("y")).cast("bigint").as("sy"),
          sum(round((col("p") - col("y")) * (col("p") - col("y")), 9)
            .cast("decimal(18,9)")).cast("decimal(27,9)").as("ssq"))
        val b = d.groupBy(least(lit(9), floor(col("p") * 10).cast("int"))
            .as("bin"))
          .agg(count(lit(1)).cast("bigint").as("nb"),
            sum(col("p").cast("decimal(18,6)")).cast("decimal(27,6)")
              .as("sp"),
            sum(col("y")).cast("bigint").as("sb"))
        val bm = b.crossJoin(broadcast(g))
          .select(col("bin"), col("nb"),
            round(col("sp").cast("double") / col("nb").cast("double"), 9)
              .as("pb"),
            round(col("sb").cast("double") / col("nb").cast("double"), 9)
              .as("yb"),
            round(col("sy").cast("double") / col("n").cast("double"), 9)
              .as("ybar"))
        val terms = bm.agg(
          sum(round(col("nb").cast("double")
              * (col("pb") - col("yb")) * (col("pb") - col("yb")), 9)
            .cast("decimal(18,9)")).cast("decimal(27,9)").as("rel_s"),
          sum(round(col("nb").cast("double")
              * (col("yb") - col("ybar")) * (col("yb") - col("ybar")), 9)
            .cast("decimal(18,9)")).cast("decimal(27,9)").as("res_s"))
        val ybarR = round(col("sy").cast("double") / col("n").cast("double"), 9)
        g.crossJoin(broadcast(terms)).select(col("n"),
          round(col("ssq").cast("double") / col("n").cast("double"), 6)
            .as("brier"),
          round(col("rel_s").cast("double") / col("n").cast("double"), 6)
            .as("reliability"),
          round(col("res_s").cast("double") / col("n").cast("double"), 6)
            .as("resolution"),
          round(ybarR * (lit(1) - ybarR), 6).as("uncertainty"),
          round(col("ssq").cast("double") / col("n").cast("double")
            - (col("rel_s").cast("double") / col("n").cast("double")
               - col("res_s").cast("double") / col("n").cast("double")
               + ybarR * (lit(1) - ybarR)), 6).as("within_bin_var"))
      }),

    // Decile lift / cumulative-gains table — the campaign-targeting
    // readout every propensity score ships with: rank customers by
    // account balance band (descending), measure how fast the
    // converters (customers with >= 1 order) are captured vs random.
    // Fixed-width bands (shuffle-free), cumulative sums via a
    // triangle join on the 10-row band frame — NOT an unpartitioned
    // window; at 100 TB the band agg is one shuffle and everything
    // after runs on broadcast model-sized frames.
    Q("q324_decile_lift", Q.sql("""
        WITH buyers AS (SELECT DISTINCT o_custkey AS ck FROM orders),
        f AS (
          SELECT least(9, greatest(0,
              CAST(floor((c_acctbal + 1000.0) / 1100.0) AS INT))) AS band,
            CASE WHEN b.ck IS NULL THEN 0 ELSE 1 END AS resp
          FROM customer c LEFT JOIN buyers b ON b.ck = c.c_custkey),
        bb AS (
          SELECT band, CAST(count(*) AS BIGINT) AS n,
            CAST(sum(resp) AS BIGINT) AS r
          FROM f GROUP BY 1),
        tot AS (
          SELECT CAST(sum(n) AS BIGINT) AS tn,
            CAST(sum(r) AS BIGINT) AS tr FROM bb),
        cum AS (
          SELECT a.band, a.n, a.r,
            CAST(sum(b.n) AS BIGINT) AS cum_n,
            CAST(sum(b.r) AS BIGINT) AS cum_r
          FROM bb a JOIN bb b ON b.band >= a.band
          GROUP BY 1, 2, 3)
        SELECT band, n, r,
          round(CAST(r AS DOUBLE) / CAST(n AS DOUBLE), 6) AS resp_rate,
          cum_n, cum_r,
          round(CAST(cum_r AS DOUBLE) / CAST(tr AS DOUBLE), 6) AS cum_capture,
          round((CAST(cum_r AS DOUBLE) / CAST(cum_n AS DOUBLE))
            / (CAST(tr AS DOUBLE) / CAST(tn AS DOUBLE)), 6) AS cum_lift
        FROM cum, tot ORDER BY band DESC"""))(
      (s, dir) => {
        val buyers = T(s, dir, "orders")
          .select(col("o_custkey").as("ck")).distinct()
          .withColumn("hit", lit(1))
        val f = T(s, dir, "customer")
          .select(col("c_custkey").as("ck"),
            least(lit(9), greatest(lit(0),
              floor((col("c_acctbal") + 1000.0) / 1100.0).cast("int")))
              .as("band"))
          .join(buyers, Seq("ck"), "left")
          .select(col("band"),
            when(col("hit").isNull, 0).otherwise(1).as("resp"))
        val bb = f.groupBy("band")
          .agg(count(lit(1)).cast("bigint").as("n"),
            sum(col("resp")).cast("bigint").as("r"))
        val tot = bb.agg(sum(col("n")).cast("bigint").as("tn"),
          sum(col("r")).cast("bigint").as("tr"))
        val cum = bb.as("a")
          .join(broadcast(bb.select(col("band").as("b_band"),
              col("n").as("b_n"), col("r").as("b_r"))),
            col("b_band") >= col("band"))
          .groupBy("band", "n", "r")
          .agg(sum(col("b_n")).cast("bigint").as("cum_n"),
            sum(col("b_r")).cast("bigint").as("cum_r"))
        cum.crossJoin(broadcast(tot))
          .select(col("band"), col("n"), col("r"),
            round(col("r").cast("double") / col("n").cast("double"), 6)
              .as("resp_rate"),
            col("cum_n"), col("cum_r"),
            round(col("cum_r").cast("double") / col("tr").cast("double"), 6)
              .as("cum_capture"),
            round((col("cum_r").cast("double") / col("cum_n").cast("double"))
              / (col("tr").cast("double") / col("tn").cast("double")), 6)
              .as("cum_lift"))
          .orderBy(col("band").desc)
      }),

    // Isotonic calibration (pool-adjacent-violators, Ayer et al. AOMS'55;
    // Zadrozny-Elkan KDD'02 for classifier calibration): the monotone
    // best-fit of purchase rate against the activity-magnitude score,
    // computed through the minimax identity iso_i = max_{j≤i} min_{k≥i}
    // rate(j..k) — PAV without the sequential stack. The data-sized work
    // is ONE hash agg into ≤10 score bins; every join after it is
    // against a broadcast ≤10-row bin frame (cumulative, segment-rate,
    // minimax — ~10³ combinations total at any data scale). The segment
    // rate is one long-ratio division, identical IEEE in both engines.
    Q("q331_isotonic_calibration", Q.sql("""
        WITH cells AS (
          SELECT CAST(least(floor(value / 50), 9) AS INT) AS bin,
            CAST(count(*) AS BIGINT) AS n,
            CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS p
          FROM events GROUP BY 1),
        cum AS (
          SELECT bin, n, p,
            CAST(sum(n) OVER (ORDER BY bin) AS BIGINT) AS cn,
            CAST(sum(p) OVER (ORDER BY bin) AS BIGINT) AS cp
          FROM cells),
        lo AS (
          SELECT bin AS lb, cn AS lcn, cp AS lcp FROM cum
          UNION ALL SELECT -1, CAST(0 AS BIGINT), CAST(0 AS BIGINT)),
        seg AS (
          SELECT lb, c.bin AS hb,
            CAST(c.cp - lcp AS DOUBLE) / CAST(c.cn - lcn AS DOUBLE) AS r
          FROM lo JOIN cum c ON c.bin > lb),
        mm AS (
          SELECT c.bin AS i, s.lb, min(s.r) AS mr
          FROM seg s JOIN cells c ON s.lb < c.bin AND s.hb >= c.bin
          GROUP BY 1, 2),
        iso AS (SELECT i, max(mr) AS iso FROM mm GROUP BY 1)
        SELECT c.bin, c.n, c.p,
          round(CAST(c.p AS DOUBLE) / CAST(c.n AS DOUBLE), 6) AS rate,
          round(iso.iso, 6) AS iso
        FROM cells c JOIN iso ON iso.i = c.bin
        ORDER BY c.bin"""))(
      (s, dir) => {
        val cells = T(s, dir, "events")
          .select(least(floor(col("value") / 50), lit(9L)).cast("int").as("bin"),
            (col("event_type") === "purchase").cast("int").as("y"))
          .groupBy("bin")
          .agg(count(lit(1)).as("n"), sum(col("y")).cast("long").as("p"))
        // every frame below is the ≤10-row bin frame — broadcast by
        // construction, bounded by the bin DOMAIN at any data scale
        val cum = cells.as("a")
          .join(broadcast(cells.select(col("bin").as("b2"),
            col("n").as("n2"), col("p").as("p2"))), col("b2") <= col("bin"))
          .groupBy("bin", "n", "p")
          .agg(sum(col("n2")).cast("long").as("cn"),
            sum(col("p2")).cast("long").as("cp"))
        val lo = cum.select(col("bin").as("lb"), col("cn").as("lcn"),
            col("cp").as("lcp"))
          .unionByName(s.range(1).select(lit(-1).cast("int").as("lb"),
            lit(0L).as("lcn"), lit(0L).as("lcp")))
        val seg = lo.join(broadcast(cum.select(col("bin").as("hb"),
            col("cn").as("hcn"), col("cp").as("hcp"))), col("hb") > col("lb"))
          .select(col("lb"), col("hb"),
            ((col("hcp") - col("lcp")).cast("double")
              / (col("hcn") - col("lcn")).cast("double")).as("r"))
        val iso = seg
          .join(broadcast(cells.select(col("bin").as("i"))),
            col("lb") < col("i") && col("hb") >= col("i"))
          .groupBy("i", "lb").agg(min(col("r")).as("mr"))
          .groupBy("i").agg(max(col("mr")).as("iso"))
        cells.join(broadcast(iso), col("bin") === col("i"))
          .select(col("bin"), col("n"), col("p"),
            round(col("p").cast("double") / col("n").cast("double"), 6)
              .as("rate"),
            round(col("iso"), 6).as("iso"))
          .orderBy("bin")
      })
  )
}
