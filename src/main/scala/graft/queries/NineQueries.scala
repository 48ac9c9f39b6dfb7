package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables.{load => T}
import graft.ops.Relational.dsum

/** Round-9 batch: t-closeness (closing the k-anonymity → l-diversity →
  * t-closeness privacy ladder), a portable Count-Min sketch, the
  * Mann-Whitney two-sample rank test with effect size, Croston's
  * intermittent-demand forecast, k-truss edge support, and mean
  * reciprocal rank — each oracle-checked bit-for-bit against DuckDB.
  */
object NineQueries {

  /** t-closeness threshold (Li et al. ICDE'07 use 0.15–0.2 as examples). */
  private val TClosenessT = 0.2

  def all: Seq[Q] = Seq(

    // t-closeness (Li, Li & Venkatasubramanian ICDE'07) — the third
    // rung of the privacy ladder after k-anonymity (q228) and
    // l-diversity (q296): an equivalence class leaks if its SENSITIVE
    // distribution diverges from the global one, measured by the
    // ordered-attribute Earth Mover's Distance
    // t = (1/(m−1))·Σ_i |CumP_i − CumQ_i| over m=10 balance bands.
    // Exactness: CumP−CumQ = (cc·N − cg·n_c)/(n_c·N), so the numerators
    // are exact integers summed in DECIMAL(38,0) with ONE final double
    // division. Shape: one data-sized hash agg into ≤250 (class, band)
    // cells; the dense band spine, global cumulative, and EMD terms are
    // all joins over broadcast domain-bounded frames (the global
    // cumulative is a 10-row triangle join, not an unpartitioned
    // window).
    Q("q336_t_closeness", Q.sql(s"""
        WITH j AS (
          SELECT c_mktsegment AS seg, r_name AS reg,
            CAST(greatest(least(floor((c_acctbal + 1000.0) / 1100.0), 9), 0)
              AS INT) AS band
          FROM customer
          JOIN nation ON c_nationkey = n_nationkey
          JOIN region ON n_regionkey = r_regionkey),
        cells AS (
          SELECT seg, reg, band, CAST(count(*) AS BIGINT) AS c
          FROM j GROUP BY 1, 2, 3),
        cl AS (
          SELECT seg, reg, CAST(sum(c) AS BIGINT) AS n_c
          FROM cells GROUP BY 1, 2),
        bands AS (SELECT CAST(unnest(generate_series(0, 9)) AS INT) AS band),
        gb AS (
          SELECT b.band, CAST(COALESCE(sum(c.c), 0) AS BIGINT) AS g
          FROM bands b LEFT JOIN cells c ON c.band = b.band GROUP BY 1),
        gn AS (SELECT CAST(sum(g) AS BIGINT) AS nn FROM gb),
        gcum AS (
          SELECT a.band, CAST(sum(b.g) AS BIGINT) AS cg
          FROM gb a JOIN gb b ON b.band <= a.band GROUP BY 1),
        dense AS (
          SELECT cl.seg, cl.reg, cl.n_c, b.band, COALESCE(c.c, 0) AS c
          FROM cl CROSS JOIN bands b
          LEFT JOIN cells c
            ON c.seg = cl.seg AND c.reg = cl.reg AND c.band = b.band),
        cum AS (
          SELECT seg, reg, n_c, band,
            CAST(sum(c) OVER (PARTITION BY seg, reg ORDER BY band)
              AS BIGINT) AS cc
          FROM dense),
        terms AS (
          SELECT cum.seg, cum.reg, cum.n_c,
            abs(CAST(cum.cc AS DECIMAL(38,0)) * gn.nn
              - CAST(gcum.cg AS DECIMAL(38,0)) * cum.n_c) AS num
          FROM cum JOIN gcum ON gcum.band = cum.band, gn)
        SELECT seg, reg, CAST(n_c AS BIGINT) AS class_size,
          round(CAST(sum(num) AS DOUBLE)
            / (9.0 * CAST(n_c AS DOUBLE) * CAST(max(nn) AS DOUBLE)), 6)
            AS t_emd,
          CAST(round(CAST(sum(num) AS DOUBLE)
            / (9.0 * CAST(n_c AS DOUBLE) * CAST(max(nn) AS DOUBLE)), 6)
            > $TClosenessT AS INT) AS violates_t
        FROM terms, gn GROUP BY seg, reg, n_c ORDER BY 1, 2"""))(
      (s, dir) => {
        val j = T(s, dir, "customer")
          .join(broadcast(T(s, dir, "nation")),
            col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(T(s, dir, "region")),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("c_mktsegment").as("seg"), col("r_name").as("reg"),
            greatest(least(floor((col("c_acctbal") + 1000.0) / 1100.0),
              lit(9L)), lit(0L)).cast("int").as("band"))
        val cells = j.groupBy("seg", "reg", "band")
          .agg(count(lit(1)).as("c"))
        val cl = cells.groupBy("seg", "reg")
          .agg(sum(col("c")).cast("long").as("n_c"))
        val bands = s.range(10).select(col("id").cast("int").as("band"))
        val gb = bands.join(cells.groupBy("band")
            .agg(sum(col("c")).as("gc")), Seq("band"), "left")
          .select(col("band"), coalesce(col("gc"), lit(0L)).cast("long")
            .as("g"))
        val gn = gb.agg(sum(col("g")).cast("long").as("nn"))
        val gcum = gb.as("a")
          .join(broadcast(gb.select(col("band").as("b2"), col("g").as("g2"))),
            col("b2") <= col("band"))
          .groupBy("band").agg(sum(col("g2")).cast("long").as("cg"))
        val dense = cl.join(broadcast(bands))
          .join(cells, Seq("seg", "reg", "band"), "left")
          .select(col("seg"), col("reg"), col("n_c"), col("band"),
            coalesce(col("c"), lit(0L)).as("c"))
        val wCum = Window.partitionBy("seg", "reg").orderBy("band")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val cum = dense.select(col("seg"), col("reg"), col("n_c"),
          col("band"), sum(col("c")).over(wCum).cast("long").as("cc"))
        val terms = cum.join(broadcast(gcum), Seq("band"))
          .crossJoin(broadcast(gn))
          .select(col("seg"), col("reg"), col("n_c"), col("nn"),
            abs(col("cc").cast("decimal(38,0)") * col("nn")
              - col("cg").cast("decimal(38,0)") * col("n_c")).as("num"))
        val tExpr = round(sum(col("num")).cast("double")
          / (lit(9.0) * col("n_c").cast("double")
            * max(col("nn")).cast("double")), 6)
        terms.groupBy(col("seg"), col("reg"), col("n_c"))
          .agg(tExpr.as("t_emd"),
            (tExpr > TClosenessT).cast("int").as("violates_t"))
          .select(col("seg"), col("reg"), col("n_c").as("class_size"),
            col("t_emd"), col("violates_t"))
          .orderBy("seg", "reg")
      }),

    // Count-Min sketch (Cormode & Muthukrishnan J.Alg'05): the
    // fixed-memory frequency table that answers point queries with
    // one-sided error est ≥ exact. Grid d=3 rows × w=256 columns with
    // engine-portable affine hashes ((key·m_j + a_j) mod p mod w, p =
    // 2^31−1, xxhash-prime multipliers — every product < 2^63 so both
    // engines stay in exact BIGINT). ONE scan of lineitem into
    // per-key counts; the 3-row fan-out, 768-cell grid, and the top-20
    // probe are all model-sized broadcasts. Emits est vs exact for the
    // top-20 keys — the overestimate must be ≥ 0 by construction.
    Q("q337_countmin", Q.sql("""
        WITH kc AS (
          SELECT l_partkey AS k, CAST(count(*) AS BIGINT) AS cnt
          FROM lineitem GROUP BY 1),
        h AS (
          SELECT k, cnt, 0 AS j,
            CAST((k * 2654435761 + 13) % 2147483647 % 256 AS INT) AS col
          FROM kc
          UNION ALL
          SELECT k, cnt, 1 AS j,
            CAST((k * 2246822519 + 101) % 2147483647 % 256 AS INT) AS col
          FROM kc
          UNION ALL
          SELECT k, cnt, 2 AS j,
            CAST((k * 3266489917 + 977) % 2147483647 % 256 AS INT) AS col
          FROM kc),
        grid AS (
          SELECT j, col, CAST(sum(cnt) AS BIGINT) AS cell
          FROM h GROUP BY 1, 2),
        top AS (
          SELECT k, cnt FROM kc
          ORDER BY cnt DESC, k LIMIT 20),
        probe AS (
          SELECT t.k, t.cnt, h.j, h.col
          FROM top t JOIN h ON h.k = t.k),
        est AS (
          SELECT p.k, p.cnt, CAST(min(g.cell) AS BIGINT) AS est
          FROM probe p JOIN grid g ON g.j = p.j AND g.col = p.col
          GROUP BY 1, 2)
        SELECT k AS partkey, cnt AS exact, est,
          CAST(est - cnt AS BIGINT) AS overestimate
        FROM est ORDER BY exact DESC, partkey"""))(
      (s, dir) => {
        val kc = T(s, dir, "lineitem")
          .groupBy(col("l_partkey").as("k"))
          .agg(count(lit(1)).as("cnt"))
        def hj(j: Int, m: Long, a: Long): DataFrame =
          kc.select(col("k"), col("cnt"), lit(j).as("j"),
            (((col("k") * m + a) % 2147483647L) % 256).cast("int").as("col"))
        val h = hj(0, 2654435761L, 13L)
          .unionByName(hj(1, 2246822519L, 101L))
          .unionByName(hj(2, 3266489917L, 977L))
        val grid = h.groupBy("j", "col")
          .agg(sum(col("cnt")).cast("long").as("cell"))
        val top = kc.orderBy(col("cnt").desc, col("k")).limit(20)
        val probe = broadcast(top).join(
          h.select(col("k").as("k2"), col("j"), col("col")),
          col("k") === col("k2"))
        val est = probe.join(broadcast(grid), Seq("j", "col"))
          .groupBy("k", "cnt").agg(min(col("cell")).cast("long").as("est"))
        est.select(col("k").as("partkey"), col("cnt").as("exact"),
            col("est"), (col("est") - col("cnt")).cast("long")
              .as("overestimate"))
          .orderBy(col("exact").desc, col("partkey"))
      }),

    // Mann-Whitney U / Wilcoxon rank-sum (Mann & Whitney AOMS'47) —
    // the TWO-sample sibling of q329's k-sample Kruskal-Wallis, with
    // the rank-biserial effect size r = 1 − 2U/(n1·n2) that the
    // p-value-only form hides. Do AUTOMOBILE and BUILDING customers
    // draw balances from the same distribution per region? Midranks
    // come from the pooled domain-bounded distinct-cents frame
    // (q329's trick — never a data-sized sort); 2·R1 and 2·U1 stay
    // exact integers, and the tie-corrected z is one fixed-order
    // double expression.
    Q("q338_mann_whitney", Q.sql("""
        WITH cust AS (
          SELECT n_regionkey AS rk,
            CAST(c_mktsegment = 'AUTOMOBILE' AS INT) AS grp,
            CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS cents
          FROM customer JOIN nation ON n_nationkey = c_nationkey
          WHERE c_mktsegment IN ('AUTOMOBILE', 'BUILDING')),
        cells AS (
          SELECT rk, grp, cents, count(*) AS cnt
          FROM cust GROUP BY 1, 2, 3),
        vals AS (
          SELECT rk, cents, CAST(sum(cnt) AS BIGINT) AS vcnt
          FROM cells GROUP BY 1, 2),
        m2 AS (
          SELECT rk, cents, vcnt,
            2 * (sum(vcnt) OVER (PARTITION BY rk ORDER BY cents) - vcnt)
              + vcnt + 1 AS mr2
          FROM vals),
        grp AS (
          SELECT c.rk,
            CAST(sum(CASE WHEN c.grp = 1 THEN c.cnt ELSE 0 END) AS BIGINT)
              AS n1,
            CAST(sum(CASE WHEN c.grp = 0 THEN c.cnt ELSE 0 END) AS BIGINT)
              AS n2,
            CAST(sum(CASE WHEN c.grp = 1
              THEN CAST(c.cnt AS DECIMAL(38,0)) * m.mr2 ELSE 0 END)
              AS DECIMAL(38,0)) AS r1x2
          FROM cells c JOIN m2 m ON m.rk = c.rk AND m.cents = c.cents
          GROUP BY 1),
        ties AS (
          SELECT rk,
            CAST(sum(CAST(vcnt AS DECIMAL(38,0)) * vcnt * vcnt - vcnt)
              AS DECIMAL(38,0)) AS t3
          FROM vals GROUP BY 1),
        fin AS (
          SELECT g.rk, g.n1, g.n2,
            CAST(g.r1x2 - CAST(g.n1 AS DECIMAL(38,0)) * (g.n1 + 1)
              AS DECIMAL(38,0)) AS u1x2,
            g.n1 + g.n2 AS n, ti.t3
          FROM grp g JOIN ties ti ON ti.rk = g.rk)
        SELECT rk AS region, n1, n2,
          CAST(u1x2 AS BIGINT) AS u1_x2,
          round(1.0 - CAST(u1x2 AS DOUBLE)
            / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)), 6) AS r_biserial,
          round((CAST(u1x2 AS DOUBLE) / 2
              - CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 2)
            / sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 12.0
              * (CAST(n + 1 AS DOUBLE)
                - CAST(t3 AS DOUBLE)
                  / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)))), 6) AS z
        FROM fin ORDER BY region"""))(
      (s, dir) => {
        val cust = T(s, dir, "customer")
          .where(col("c_mktsegment").isin("AUTOMOBILE", "BUILDING"))
          .join(broadcast(T(s, dir, "nation")
            .select(col("n_nationkey"), col("n_regionkey").as("rk"))),
            col("n_nationkey") === col("c_nationkey"))
          .select(col("rk"),
            (col("c_mktsegment") === "AUTOMOBILE").cast("int").as("grp"),
            floor(col("c_acctbal") * 100 + 0.5).cast("long").as("cents"))
        val cells = cust.groupBy("rk", "grp", "cents")
          .agg(count(lit(1)).as("cnt"))
        val vals = cells.groupBy("rk", "cents")
          .agg(sum(col("cnt")).cast("long").as("vcnt"))
        val wCum = Window.partitionBy("rk").orderBy("cents")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val m2 = vals.select(col("rk"), col("cents"), col("vcnt"),
          (lit(2) * (sum(col("vcnt")).over(wCum) - col("vcnt"))
            + col("vcnt") + 1).as("mr2"))
        val grp = cells
          .join(m2.select(col("rk"), col("cents"), col("mr2")),
            Seq("rk", "cents"))
          .groupBy("rk")
          .agg(sum(when(col("grp") === 1, col("cnt")).otherwise(0L))
              .cast("long").as("n1"),
            sum(when(col("grp") === 0, col("cnt")).otherwise(0L))
              .cast("long").as("n2"),
            sum(when(col("grp") === 1,
              col("cnt").cast("decimal(38,0)") * col("mr2"))
              .otherwise(lit(0).cast("decimal(38,0)")))
              .cast("decimal(38,0)").as("r1x2"))
        val ties = vals.groupBy("rk")
          .agg(sum(col("vcnt").cast("decimal(38,0)") * col("vcnt")
            * col("vcnt") - col("vcnt")).cast("decimal(38,0)").as("t3"))
        val fin = grp.join(ties, "rk")
          .select(col("rk"), col("n1"), col("n2"),
            (col("r1x2") - col("n1").cast("decimal(38,0)")
              * (col("n1") + 1)).cast("decimal(38,0)").as("u1x2"),
            (col("n1") + col("n2")).as("n"), col("t3"))
        val nD = (c: String) => col(c).cast("double")
        fin.select(col("rk").as("region"), col("n1"), col("n2"),
            col("u1x2").cast("long").as("u1_x2"),
            round(lit(1.0) - col("u1x2").cast("double")
              / (nD("n1") * nD("n2")), 6).as("r_biserial"),
            round((col("u1x2").cast("double") / 2
                - nD("n1") * nD("n2") / 2)
              / sqrt(nD("n1") * nD("n2") / lit(12.0)
                * ((col("n") + 1).cast("double")
                  - col("t3").cast("double")
                    / (nD("n") * (col("n") - 1).cast("double")))), 6)
              .as("z"))
          .orderBy("region")
      }),

    // Croston's method (Croston OR'72) — THE intermittent-demand
    // forecaster: separate exponential smoothing of nonzero demand
    // sizes z and inter-demand intervals x, forecast z/x per period.
    // Daily event counts from a sparse user cohort (id % 97 = 0, ~0.7
    // events/type/day, so real multi-day gaps appear) are the demand
    // series per type; α=1/2 keeps every smoothing weight exactly
    // dyadic. Convention pinned
    // on both engines: z₁ = d₁, x₁ = 1, then z' = (d+z)/2,
    // x' = (g+x)/2 over demand days in date order. The fold runs over
    // the CALENDAR-BOUNDED per-type demand-day list — Spark
    // `aggregate` over one sorted collect_list per type (q320's Holt
    // shape), the oracle replays the identical recursion with WITH
    // RECURSIVE; both walk the same order so the IEEE doubles match
    // bit-for-bit.
    Q("q339_croston", Q.sql("""
        WITH RECURSIVE d AS (
          SELECT event_type, CAST(ts AS DATE) AS day,
            CAST(count(*) AS BIGINT) AS dem
          FROM events WHERE user_id % 97 = 0
          GROUP BY 1, 2),
        seq AS (
          SELECT event_type, day, dem,
            row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn,
            day - lag(day) OVER (PARTITION BY event_type ORDER BY day)
              AS gap
          FROM d),
        rec AS (
          SELECT event_type, rn, CAST(dem AS DOUBLE) AS z,
            CAST(1 AS DOUBLE) AS x
          FROM seq WHERE rn = 1
          UNION ALL
          SELECT s.event_type, s.rn,
            (CAST(s.dem AS DOUBLE) + r.z) / 2,
            (CAST(s.gap AS DOUBLE) + r.x) / 2
          FROM rec r JOIN seq s
            ON s.event_type = r.event_type AND s.rn = r.rn + 1),
        last AS (
          SELECT event_type, CAST(max(rn) AS BIGINT) AS n_demand
          FROM rec GROUP BY 1)
        SELECT l.event_type, l.n_demand,
          round(r.z, 6) AS z_size, round(r.x, 6) AS x_interval,
          round(r.z / r.x, 6) AS forecast
        FROM last l JOIN rec r
          ON r.event_type = l.event_type AND r.rn = l.n_demand
        ORDER BY l.event_type"""))(
      (s, dir) => {
        val d = T(s, dir, "events")
          .where(col("user_id") % 97 === 0)
          .groupBy(col("event_type"), to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("dem"))
        val w = Window.partitionBy("event_type").orderBy("day")
        val seq = d.select(col("event_type"), col("dem"),
          datediff(col("day"), lag(col("day"), 1).over(w)).as("gap"),
          row_number().over(w).as("rn"))
        // calendar-bounded fold: one rn-sorted (dem, gap) list per type,
        // walked in order by `aggregate` with a (z, x) struct accumulator
        // — same order as the oracle's WITH RECURSIVE, so doubles match.
        // The seed comes from element 1 of the SORTED list (first(dem)
        // over an unordered group would be nondeterministic).
        val lists = seq.groupBy("event_type")
          .agg(count(lit(1)).cast("long").as("n_demand"),
            sort_array(collect_list(struct(col("rn"), col("dem"),
              col("gap")))).as("lst"))
        val folded = lists.select(col("event_type"), col("n_demand"),
          aggregate(
            expr("slice(lst, 2, greatest(size(lst) - 1, 0))"),
            struct(
              element_at(col("lst"), 1).getField("dem").cast("double")
                .as("z"),
              lit(1.0).as("x")),
            (acc, p) => struct(
              ((p.getField("dem").cast("double") + acc.getField("z")) / 2)
                .as("z"),
              ((p.getField("gap").cast("double") + acc.getField("x")) / 2)
                .as("x"))).as("cr"))
        folded.select(col("event_type"), col("n_demand"),
            round(col("cr.z"), 6).as("z_size"),
            round(col("cr.x"), 6).as("x_interval"),
            round(col("cr.z") / col("cr.x"), 6).as("forecast"))
          .orderBy("event_type")
      }),

    // k-truss edge support (Cohen NSA TR'08) — the edge-level
    // community signal: an edge's support is its triangle count, and
    // the k-truss keeps edges with support ≥ k−2, re-checked after
    // each peel. One peel round of the 4-truss over the STRONG
    // supplier co-supply graph — pairs sharing ≥ 1.1× the average
    // shared-part count, an sf-adaptive cut that stays meaningful as
    // the raw graph densifies (per-part pair generation — never
    // all-pairs; the threshold is one broadcast scalar). Emits the
    // support histogram before and after the peel. Support is computed
    // by sorted-adjacency intersection: one shuffle builds per-vertex
    // neighbor ARRAYS (degree-bounded — dmax·8B per row), each edge then
    // scores size(array_intersect(N(a), N(b))) inside whole-stage
    // codegen — the same Σ-wedge work as a wedge join but with no
    // 10⁷-row wedge/triangle materialization, no extra shuffles. The
    // peel is fixed-point-aware: if no edge falls below the 4-truss
    // support floor (the common dense-graph case), round 1 reuses the
    // cached round-0 supports instead of recounting; otherwise the
    // array pass reruns on the surviving subgraph. Equi-joins only —
    // the shape that scales where per-node triangle listing can't
    // (hub vertices bound the array width; salt or batch wedges past
    // ~10⁶-degree hubs).
    Q("q340_ktruss", Q.sql("""
        WITH ps AS (
          SELECT DISTINCT l_partkey AS pk, l_suppkey AS sk FROM lineitem),
        sh AS MATERIALIZED (
          SELECT a.sk AS sa, b.sk AS sb, CAST(count(*) AS BIGINT) AS shared
          FROM ps a JOIN ps b ON a.pk = b.pk AND a.sk < b.sk
          GROUP BY 1, 2),
        thr AS (SELECT 1.1 * avg(shared) AS t FROM sh),
        e AS MATERIALIZED (
          SELECT sa, sb FROM sh, thr
          WHERE CAST(shared AS DOUBLE) >= thr.t),
        nbr AS MATERIALIZED (
          SELECT sa AS u, sb AS v FROM e UNION ALL SELECT sb, sa FROM e),
        tri0 AS MATERIALIZED (
          SELECT e.sa, e.sb, CAST(count(*) AS BIGINT) AS sup
          FROM e
          JOIN nbr w1 ON w1.u = e.sa
          JOIN nbr w2 ON w2.u = e.sb AND w2.v = w1.v
          GROUP BY 1, 2),
        sup0 AS MATERIALIZED (
          SELECT e.sa, e.sb, CAST(COALESCE(t.sup, 0) AS BIGINT) AS sup
          FROM e LEFT JOIN tri0 t ON t.sa = e.sa AND t.sb = e.sb),
        keep AS MATERIALIZED (
          SELECT sa, sb FROM sup0 WHERE sup >= 2),
        nbr1 AS MATERIALIZED (
          SELECT sa AS u, sb AS v FROM keep
          UNION ALL SELECT sb, sa FROM keep),
        tri1 AS MATERIALIZED (
          SELECT k.sa, k.sb, CAST(count(*) AS BIGINT) AS sup
          FROM keep k
          JOIN nbr1 w1 ON w1.u = k.sa
          JOIN nbr1 w2 ON w2.u = k.sb AND w2.v = w1.v
          GROUP BY 1, 2),
        sup1 AS (
          SELECT k.sa, k.sb, CAST(COALESCE(t.sup, 0) AS BIGINT) AS sup
          FROM keep k LEFT JOIN tri1 t ON t.sa = k.sa AND t.sb = k.sb)
        SELECT 0 AS round, sup AS support,
          CAST(count(*) AS BIGINT) AS n_edges
        FROM sup0 GROUP BY 1, 2
        UNION ALL
        SELECT 1 AS round, sup AS support,
          CAST(count(*) AS BIGINT) AS n_edges
        FROM sup1 GROUP BY 1, 2
        ORDER BY round, support"""))(
      (s, dir) => {
        // shared base with q450 (graph/CoSupply.scala): the strong-edge
        // list AND its round-0 sorted neighbor arrays are both staged
        // to parquet once per fixture (family-version-coupled to the
        // pair base), so the support pass's vertex-keyed shuffle runs
        // once per fixture, not once per run (round-15 SCALE.md watch
        // item — the 100× probes re-paid that shuffle every rep)
        val e = graft.graph.CoSupply.strongEdgesStaged(s, dir).cache()
        // support pass: per-edge size(array_intersect) over the
        // adjacency arrays — all-codegen, nothing wedge-sized ever
        // materializes
        def supportOf(edges: DataFrame, nbrs: DataFrame): DataFrame =
          edges
            .join(nbrs.select(col("u").as("sa"), col("ns").as("na")), "sa")
            .join(nbrs.select(col("u").as("sb"), col("ns").as("nb")), "sb")
            .select(col("sa"), col("sb"),
              size(array_intersect(col("na"), col("nb"))).cast("long")
                .as("sup"))
        val sup0 =
          supportOf(e, graft.graph.CoSupply.adjacencyStaged(s, dir)).cache()
        // 4-truss peel with fixed-point shortcut: when nothing falls
        // below the support floor (the dense-graph common case), the
        // surviving subgraph IS the round-0 graph and its supports are
        // already computed — reuse them instead of a second array pass.
        // The count is an O(1)-row action on the cached support frame
        // (precedent: the eager component/prefix barriers elsewhere).
        val nRemoved = sup0.where(col("sup") < 2).count()
        val sup1 =
          if (nRemoved == 0) sup0
          else {
            // the surviving subgraph is run-dependent — its adjacency
            // arrays are rebuilt in-session, never staged
            val kept = sup0.where(col("sup") >= 2).select("sa", "sb")
            supportOf(kept, graft.graph.CoSupply.adjacency(kept))
          }
        def hist(df: DataFrame, r: Int): DataFrame =
          df.groupBy(col("sup").as("support"))
            .agg(count(lit(1)).cast("long").as("n_edges"))
            .select(lit(r).as("round"), col("support"), col("n_edges"))
        hist(sup0, 0).unionByName(hist(sup1, 1))
          .orderBy("round", "support")
      }),

    // Mean Reciprocal Rank (Voorhees TREC-8'99) — the first-hit
    // retrieval metric next to nDCG (q150), AP (q303), and RBO (q275):
    // rank each user's events by value (the "score"), RR = 1/rank of
    // the first 'purchase', MRR = mean RR per user-cohort. The rank
    // window is per-user (bounded lists); per-user reciprocals are
    // rounded at 9 then DECIMAL-summed per cohort — order-independent,
    // one final double division.
    Q("q341_mrr", Q.sql("""
        WITH r AS (
          SELECT user_id, event_type,
            row_number() OVER (PARTITION BY user_id
              ORDER BY value DESC, event_id) AS rnk
          FROM events),
        fr AS (
          SELECT user_id, min(rnk) AS first_rel
          FROM r WHERE event_type = 'purchase' GROUP BY 1),
        u AS (
          SELECT CAST(user_id % 10 AS BIGINT) AS cohort,
            CAST(round(1.0 / first_rel, 9) AS DECIMAL(18,9)) AS rr
          FROM fr)
        SELECT cohort, CAST(count(*) AS BIGINT) AS n_users,
          round(CAST(sum(rr) AS DOUBLE) / count(*), 6) AS mrr
        FROM u GROUP BY 1 ORDER BY 1"""))(
      (s, dir) => {
        val w = Window.partitionBy("user_id")
          .orderBy(col("value").desc, col("event_id"))
        val r = T(s, dir, "events")
          .select(col("user_id"), col("event_type"),
            row_number().over(w).as("rnk"))
        val fr = r.where(col("event_type") === "purchase")
          .groupBy("user_id").agg(min(col("rnk")).as("first_rel"))
        val u = fr.select((col("user_id") % 10).cast("long").as("cohort"),
          round(lit(1.0) / col("first_rel"), 9).cast("decimal(18,9)")
            .as("rr"))
        u.groupBy("cohort")
          .agg(count(lit(1)).cast("long").as("n_users"),
            round(sum(col("rr")).cast("double") / count(lit(1)), 6)
              .as("mrr"))
          .orderBy("cohort")
      })
  )
}
