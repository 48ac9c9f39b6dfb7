package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables.{load => T}
import graft.dedup.Fuzzy
import graft.functions.PortableSql
import graft.graph.Triangles
import graft.ops.Frames.cached
import graft.ops.Relational.dsum
import graft.ops.{Stats, TimeSeries}
import graft.queries.Bases.wordsCte
import graft.text.{Bm25, TextAnalysis}

/** Round-5 batch 3: grouped statistics (argmax, mode, corr/regression),
  * sequence analytics (EWMA, Markov transitions), graph structure
  * (triangle counting), fuzzy entity matching, prefix boilerplate dedup,
  * and BM25 lexical retrieval — each oracle-checked bit-for-bit against
  * DuckDB.
  */
object MiningQueries {

  private val FuzzyDist = 2
  private val PrefixLen = 12
  private val Bm25Terms = Seq("table", "spark", "merge")

  def all: Seq[Q] = Seq(

    // Deterministic grouped argmax/argmin (SQL ARG_MAX): highest- and
    // lowest-priced order per market segment, ties broken by orderkey.
    // ONE partial+final hash aggregation — max(struct(...)) instead of a
    // window, so there is no per-group sort and no second shuffle; the
    // customer dimension is broadcast.
    Q("q126_argmax_order", Q.sql("""
        SELECT c_mktsegment,
          (max({'p': o_totalprice, 'k': o_orderkey})).k AS top_orderkey,
          max(o_totalprice) AS top_price,
          (min({'p': o_totalprice, 'k': o_orderkey})).k AS low_orderkey,
          min(o_totalprice) AS low_price
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY 1 ORDER BY 1"""))(
      (s, dir) =>
        T(s, dir, "orders")
          .join(T(s, dir, "customer"),
            col("o_custkey") === col("c_custkey"))
          .groupBy("c_mktsegment")
          .agg(
            Stats.argmax(col("o_totalprice"), col("o_orderkey"),
              col("o_orderkey")).as("top_orderkey"),
            max(col("o_totalprice")).as("top_price"),
            Stats.argmin(col("o_totalprice"), col("o_orderkey"),
              col("o_orderkey")).as("low_orderkey"),
            min(col("o_totalprice")).as("low_price"))
          .orderBy("c_mktsegment")),

    // Grouped mode (most frequent value): modal order priority per
    // status, ties to the lexicographically smallest value. The window
    // runs over per-group DISTINCT-VALUE counts (priority cardinality),
    // not input rows — the scale-safe mode shape.
    Q("q127_mode_priority", Q.sql("""
        WITH cnt AS (
          SELECT o_orderstatus, o_orderpriority AS v, count(*) AS n
          FROM orders GROUP BY 1, 2),
        rk AS (
          SELECT o_orderstatus, v, n,
            row_number() OVER (PARTITION BY o_orderstatus ORDER BY n DESC, v) AS rk,
            count(*) OVER (PARTITION BY o_orderstatus) AS nd
          FROM cnt)
        SELECT o_orderstatus, v AS mode_value, n AS mode_count,
          nd AS n_distinct
        FROM rk WHERE rk = 1 ORDER BY 1"""))(
      (s, dir) =>
        Stats.mode(T(s, dir, "orders"), Seq(col("o_orderstatus")),
            col("o_orderpriority"))
          .orderBy("o_orderstatus")),

    // Prefix boilerplate dedup: documents sharing their first 12 tokens
    // (template openings / mirrored headers) — group on a 48-bit hash of
    // the prefix, keep the lowest doc_id per group. The shuffle carries
    // (id, 8-byte hash); the text never moves.
    Q("q128_prefix_dedup", Q.sql(s"""
        $wordsCte,
        pf AS (
          SELECT id,
            ${PortableSql.hexToLong(
              s"md5(array_to_string(list_slice(ws, 1, $PrefixLen), ' '))", 12)} AS phash
          FROM w)
        SELECT id AS doc_id, phash,
          count(*) OVER (PARTITION BY phash) AS group_size,
          id = min(id) OVER (PARTITION BY phash) AS kept
        FROM pf ORDER BY 1"""))(
      (s, dir) => {
        val toks = TextAnalysis.tokens(TextAnalysis.normalizeText(col("text")))
        val pf = T(s, dir, "documents").select(col("doc_id"),
          graft.functions.Hashing.hash48(
            concat_ws(" ", slice(toks, 1, PrefixLen))).as("phash"))
        val w = Window.partitionBy(col("phash"))
        pf.select(col("doc_id"), col("phash"),
            count(lit(1)).over(w).as("group_size"),
            (col("doc_id") === min(col("doc_id")).over(w)).as("kept"))
          .orderBy("doc_id")
      }),

    // Fuzzy entity matching: distinct part names within edit distance 2,
    // via length-banded candidate generation + levenshtein verify (the
    // blocked entity-resolution join — never all-pairs). The oracle runs
    // the naive quadratic form: identical result set.
    Q("q129_fuzzy_match", Q.sql(s"""
        WITH names AS (SELECT DISTINCT p_name AS name FROM part
          WHERE p_name IS NOT NULL)
        SELECT * FROM (${Fuzzy.oracleSql("names", FuzzyDist)})
        ORDER BY 1, 2"""))(
      (s, dir) =>
        Fuzzy.matchPairs(T(s, dir, "part"), col("p_name"), FuzzyDist)
          .orderBy("name_a", "name_b")),

    // EWMA trend smoothing: per-user daily spend smoothed with decay 0.5
    // over a 30-day horizon, as a banded self-join (rows x horizon, not
    // rows^2 — see ops.TimeSeries).
    Q("q130_ewma_daily", Q.sql(s"""
        WITH daily AS (
          SELECT user_id AS k, CAST(ts AS DATE) AS day,
            CAST(sum(CAST(value AS DECIMAL(27,4))) AS DOUBLE) AS x
          FROM events GROUP BY 1, 2)
        ${TimeSeries.oracleSql("daily")}
        ORDER BY 1, 2"""))(
      (s, dir) => {
        val daily = T(s, dir, "events")
          .groupBy(col("user_id"), to_date(col("ts")).as("day"))
          .agg(dsum(col("value"), 4).as("x"))
        TimeSeries.ewma(daily, col("user_id"), col("day"), col("x"))
          .orderBy("key", "day")
      }),

    // Triangle counting over the part co-purchase graph (parts sharing
    // an order in >= 2 orders): degree-ordered compact-forward — wedge
    // fan-out bounded O(sqrt(E)) per node (see graph.Triangles). The
    // oracle counts the same triangles in canonical a<b<c form.
    Q("q131_triangle_count", Q.sql("""
        WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        pr AS (
          SELECT a.p AS a, b.p AS b, count(*) AS n
          FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
          GROUP BY 1, 2),
        e AS (SELECT a, b FROM pr WHERE n >= 2),
        tr AS (
          SELECT e1.a AS v1, e1.b AS v2, e2.b AS v3
          FROM e e1
          JOIN e e2 ON e2.a = e1.a AND e2.b > e1.b
          JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b),
        corners AS (
          SELECT v1 AS v FROM tr
          UNION ALL SELECT v2 FROM tr
          UNION ALL SELECT v3 FROM tr)
        SELECT v AS part, count(*) AS n_triangles
        FROM corners GROUP BY 1 ORDER BY 1"""))(
      (s, dir) => {
        // Edge derivation as per-order adjacency SETS: one partial-agg
        // shuffle to collect each order's part set (bounded by order
        // size), pair expansion as a higher-order array expression (no
        // 600k-row self-join), one shuffle for the pair counts.
        val sets = T(s, dir, "lineitem")
          .groupBy(col("l_orderkey"))
          .agg(collect_set(col("l_partkey")).as("ps"))
        val pairs = flatten(transform(col("ps"), x =>
          transform(filter(col("ps"), y => y > x),
            y => struct(x.as("a"), y.as("b")))))
        val edges = sets.select(explode(pairs).as("pr"))
          .select(col("pr.a").as("a"), col("pr.b").as("b"))
          .groupBy("a", "b").agg(count(lit(1)).as("n"))
          .where(col("n") >= 2)
          .select("a", "b")
        Triangles.nodeTriangleCounts(Triangles.triangles(edges))
          .select(col("v").as("part"), col("n_triangles"))
          .orderBy("part")
      }),

    // Adamic-Adar link prediction on the co-purchase graph: top-50
    // non-adjacent part pairs by summed 1/ln(deg) over common
    // neighbors — "which parts will be co-purchased next". Wedge join
    // with a deg<=100 hub cap (see graph.LinkPrediction), known edges
    // removed by an anti join, top-k as a distributed sort-limit.
    Q("q274_adamic_adar", Q.sql(s"""
        WITH ${graft.graph.CoPurchase.sql},
        d AS (SELECT a AS z, b AS x FROM e UNION ALL SELECT b, a FROM e),
        deg AS (SELECT z, count(*) AS dg FROM d GROUP BY 1),
        dz AS (SELECT d.z, d.x, dg FROM d JOIN deg USING (z)
          WHERE dg <= 100),
        wed AS (
          SELECT p.x AS a, q.x AS b, round(1.0 / ln(p.dg), 9) AS term
          FROM dz p JOIN dz q ON p.z = q.z AND p.x < q.x),
        agg AS (
          SELECT a, b,
            CAST(sum(CAST(term AS DECIMAL(27,9))) AS DOUBLE) AS aa_raw,
            count(*) AS n_common
          FROM wed GROUP BY 1, 2),
        cand AS (
          SELECT a, b, n_common, round(aa_raw, 6) AS aa FROM agg
          WHERE NOT EXISTS (
            SELECT 1 FROM e WHERE e.a = agg.a AND e.b = agg.b))
        SELECT a, b, n_common, aa FROM cand
        ORDER BY aa DESC, a, b LIMIT 50"""))(
      (s, dir) =>
        graft.graph.LinkPrediction.adamicAdar(
          graft.graph.CoPurchase.edgesStaged(s, dir),
          maxDeg = 100, k = 50)),

    // First-order Markov transition matrix over per-user event
    // sequences: P(next event type | current) from lead() pairs. One
    // window pass + one hash aggregation; probabilities are exact
    // bigint/bigint IEEE divisions.
    Q("q132_markov_transitions", Q.sql("""
        WITH seq AS (
          SELECT event_type AS cur_type,
            lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
          FROM events),
        tc AS (
          SELECT cur_type, next_type, count(*) AS n
          FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2)
        SELECT cur_type, next_type, n,
          CAST(n AS DOUBLE) / CAST(sum(n) OVER (PARTITION BY cur_type) AS BIGINT) AS p
        FROM tc ORDER BY 1, 2"""))(
      (s, dir) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        val tc = T(s, dir, "events")
          .select(col("event_type").as("cur_type"),
            lead(col("event_type"), 1).over(w).as("next_type"))
          .where(col("next_type").isNotNull)
          .groupBy("cur_type", "next_type")
          .agg(count(lit(1)).as("n"))
        tc.select(col("cur_type"), col("next_type"), col("n"),
            (col("n").cast("double") /
              sum(col("n")).over(Window.partitionBy(col("cur_type")))).as("p"))
          .orderBy("cur_type", "next_type")
      }),

    // BM25 lexical retrieval for a fixed keyword query — corpus stats
    // from two hash aggregations, scoring via a broadcast term join (the
    // corpus never shuffles on content; see text.Bm25).
    Q("q133_bm25_search", Q.sql(s"""
        $wordsCte,
        toks AS (SELECT id, unnest(ws) AS tok FROM w),
        ${Bm25.oracleSql("toks", Bm25Terms)}
        SELECT id AS doc_id, n_terms_hit, score
        FROM bm25 ORDER BY 1"""))(
      (s, dir) =>
        Bm25.score(T(s, dir, "documents"), col("doc_id"), col("text"),
            Bm25Terms)
          .select(col("id").as("doc_id"), col("n_terms_hit"), col("score"))
          .orderBy("doc_id")),

    // Entity resolution end-to-end: fuzzy name pairs (q129's blocked
    // levenshtein join) closed into canonical entity clusters via
    // iterative min-label contraction, singletons kept as their own
    // entity. The composition a master-data pipeline runs: block ->
    // verify -> cluster -> canonicalize.
    Q("q147_entity_clusters", Q.sql(s"""
        WITH RECURSIVE names AS (SELECT DISTINCT p_name AS name FROM part
          WHERE p_name IS NOT NULL),
        fp AS (${Fuzzy.oracleSql("names", FuzzyDist)}),
        edges AS (
          SELECT name_a AS src, name_b AS dst FROM fp
          UNION
          SELECT name_b AS src, name_a AS dst FROM fp),
        reach(id, lab) AS (
          SELECT src, src FROM edges
          UNION
          SELECT e.src, r.lab FROM edges e JOIN reach r ON e.dst = r.id),
        comp AS (SELECT id, min(lab) AS entity FROM reach GROUP BY id)
        SELECT name, coalesce(comp.entity, name) AS entity
        FROM names LEFT JOIN comp ON names.name = comp.id
        ORDER BY name"""))(
      (s, dir) => {
        val names = T(s, dir, "part")
          .select(col("p_name").as("name")).where(col("name").isNotNull)
          .distinct()
        val pairs = Fuzzy.matchPairs(T(s, dir, "part"), col("p_name"), FuzzyDist)
          .select(col("name_a").as("id_a"), col("name_b").as("id_b"))
        val comp = graft.dedup.Dedup.components(pairs)
        names.join(comp.withColumnRenamed("id", "name"), Seq("name"), "left")
          .select(col("name"),
            coalesce(col("component"), col("name")).as("entity"))
          .orderBy("name")
      }),

    // Pearson correlation + OLS regression per group from decimal-exact
    // moments (one aggregation pass; order-independent, unlike the
    // streaming built-in corr) — price vs quantity per return flag.
    Q("q134_corr_regression", Q.sql(s"""
        WITH m AS (
          ${Stats.oracleMomentsCte("lineitem", Seq("l_returnflag"),
            "l_quantity", "l_extendedprice")})
        SELECT l_returnflag, ${Stats.oracleSelect}
        FROM m ORDER BY 1"""))(
      (s, dir) =>
        Stats.corrRegr(graft.ops.Frames.spread(T(s, dir, "lineitem")
              .select("l_returnflag", "l_quantity", "l_extendedprice")),
            Seq(col("l_returnflag")),
            col("l_quantity"), col("l_extendedprice"))
          .orderBy("l_returnflag"))
  )
}
