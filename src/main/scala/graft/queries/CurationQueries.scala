package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import org.apache.spark.sql.expressions.Window

import graft.Tables.{load => T}
import graft.dedup.Dedup
import graft.graph.{Hits, PageRank}
import graft.ops.Frames.{cached, spread}
import graft.ops.Relational.dsum
import graft.queries.Bases.wordsCte
import graft.sketch.{Bloom, CountMin}
import graft.streaming.StreamRun
import graft.text.{Chunking, TextAnalysis}

/** Round-5 curation & analytics batch 2: span-level exact-substring
  * duplication, overlapping token-window chunking, count-min heavy
  * hitters, cohort retention, PageRank centrality, z-score outliers,
  * bloom-pruned joins, and stopword scrubbing — each oracle-checked
  * bit-for-bit against DuckDB.
  */
object CurationQueries {

  private val SpanN = 5
  private val ChunkW = 32
  private val ChunkS = 24
  private val CmD = 4
  private val CmW = 64
  private val TopK = 20

  def all: Seq[Q] = Seq(

    // Exact-substring span duplication (Lee et al. "Deduplicating
    // Training Data" span view): per document, how many of its distinct
    // 5-token spans also appear in another document. High dup_frac =
    // boilerplate/mirror content even when full-document hashes differ.
    // Scale: (id, 8-byte span hash) distinct -> df count -> hash join
    // back on the SAME key (co-partitioned, no extra shuffle); the text
    // never shuffles.
    Q("q97_span_dedup", Q.sql(s"""
        $wordsCte,
        shr AS (
          SELECT id, ws[pos] || ' ' || ws[pos+1] || ' ' || ws[pos+2] || ' ' || ws[pos+3] || ' ' || ws[pos+4] AS shingle
          FROM w, LATERAL (SELECT unnest(generate_series(1, greatest(len(ws) - ${SpanN - 1}, 0))) AS pos) t),
        sh AS (
          SELECT DISTINCT id, ${graft.functions.PortableSql.hexToLong("md5(shingle)", 12)} AS shash
          FROM shr),
        dfx AS (SELECT shash, count(*) AS df FROM sh GROUP BY 1)
        SELECT sh.id AS doc_id, count(*) AS n_spans,
          CAST(sum(CASE WHEN dfx.df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans,
          CAST(CAST(sum(CASE WHEN dfx.df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS DOUBLE) / count(*) AS dup_frac
        FROM sh JOIN dfx USING (shash)
        GROUP BY 1 ORDER BY 1"""))(
      (s, dir) => {
        val sh = Dedup.shingleHashSet(
          T(s, dir, "documents"), col("doc_id"), col("text"), SpanN)
        val dfx = sh.groupBy("shash").agg(count(lit(1)).as("df"))
        sh.join(dfx, "shash")
          .groupBy(col("id"))
          .agg(count(lit(1)).as("n_spans"),
            sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_dup_spans"))
          .select(col("id").as("doc_id"), col("n_spans"), col("n_dup_spans"),
            (col("n_dup_spans").cast("double") / col("n_spans")).as("dup_frac"))
          .orderBy("doc_id")
      }),

    // Overlapping token-window chunking (training-sequence preparation):
    // 32-token windows every 24 tokens, final partial window kept.
    // Scale: pure generator explode, zero shuffles — see text.Chunking.
    Q("q98_chunk_overlap", Q.sql(s"""
        $wordsCte,
        ${Chunking.oracleCte(ChunkW, ChunkS)}
        SELECT id AS doc_id, chunk_id, n_tokens, chash
        FROM ch ORDER BY 1, 2"""))(
      (s, dir) =>
        Chunking.chunks(T(s, dir, "documents"), col("doc_id"), col("text"),
            ChunkW, ChunkS)
          .select(col("id").as("doc_id"), col("chunk_id"), col("n_tokens"),
            col("chash"))
          .orderBy("doc_id", "chunk_id")),

    // Count-min sketch heavy hitters: estimate the frequency of the
    // exact top-20 tokens from a fixed 4x64 counter matrix and report
    // estimate vs truth (est >= truth always; the gap is the sketch's
    // collision error). Scale: the sketch build shuffles at most d*w =
    // 256 rows regardless of corpus size, and sketches merge cell-wise
    // across days/partitions — the sublinear path when the vocabulary
    // outgrows memory. The probe set (top-k candidates) is bounded.
    Q("q99_heavy_hitters", Q.sql(s"""
        $wordsCte,
        tok AS (SELECT unnest(ws) AS token FROM w),
        ex AS (SELECT token, count(*) AS exact_n FROM tok GROUP BY 1),
        top AS (SELECT * FROM ex ORDER BY exact_n DESC, token LIMIT $TopK),
        rr AS (SELECT unnest([${(0 until CmD).mkString(", ")}]) AS r),
        cells AS (
          SELECT r, ${CountMin.cellSql("token", "r", CmW)} AS c, count(*) AS cnt
          FROM tok, rr GROUP BY 1, 2),
        probe AS (
          SELECT top.token, top.exact_n, rr.r,
            ${CountMin.cellSql("top.token", "rr.r", CmW)} AS c
          FROM top, rr)
        SELECT p.token, p.exact_n, min(cl.cnt) AS cm_est
        FROM probe p JOIN cells cl ON p.r = cl.r AND p.c = cl.c
        GROUP BY 1, 2 ORDER BY exact_n DESC, token"""))(
      (s, dir) => {
        val toks = cached(spread(T(s, dir, "documents"))
          .select(explode(TextAnalysis.tokens(
            TextAnalysis.normalizeText(col("text")))).as("token")))
        val top = toks.groupBy("token").agg(count(lit(1)).as("exact_n"))
          .orderBy(col("exact_n").desc, col("token")).limit(TopK)
        val sketch = CountMin.cells(toks, col("token"), CmD, CmW)
        CountMin.estimate(top, "token", sketch, CmD, CmW)
          .orderBy(col("exact_n").desc, col("token"))
      }),

    // Cohort retention matrix: users grouped by first-active week,
    // activity counted per week offset, retention vs cohort size.
    // Scale: distinct (user, week) -> per-user min -> two hash aggs +
    // one broadcast join on the (tiny) cohort-size table; events never
    // shuffle twice.
    Q("q100_cohort_retention", Q.sql("""
        WITH e AS (
          SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS TIMESTAMP) AS wk
          FROM events),
        c AS (SELECT user_id, min(wk) AS cohort FROM e GROUP BY 1),
        a AS (
          SELECT e.user_id, c.cohort,
            CAST((epoch_us(e.wk) - epoch_us(c.cohort)) // 604800000000 AS INT) AS week_n
          FROM e JOIN c USING (user_id)),
        n AS (SELECT cohort, week_n, count(*) AS n_active FROM a GROUP BY 1, 2),
        s AS (SELECT cohort, count(*) AS cohort_size FROM c GROUP BY 1)
        SELECT n.cohort, n.week_n, n.n_active, s.cohort_size,
          CAST(n.n_active AS DOUBLE) / s.cohort_size AS retention
        FROM n JOIN s USING (cohort) ORDER BY 1, 2"""))(
      (s, dir) => {
        val e = T(s, dir, "events")
          .select(col("user_id"), date_trunc("week", col("ts")).as("wk"))
          .distinct()
        val c = e.groupBy("user_id").agg(min("wk").as("cohort"))
        val a = e.join(c, "user_id")
          .select(col("cohort"),
            ((unix_timestamp(col("wk")) - unix_timestamp(col("cohort"))) / 604800)
              .cast("int").as("week_n"))
        val n = a.groupBy("cohort", "week_n").agg(count(lit(1)).as("n_active"))
        val sz = c.groupBy("cohort").agg(count(lit(1)).as("cohort_size"))
        n.join(broadcast(sz), "cohort")
          .withColumn("retention",
            col("n_active").cast("double") / col("cohort_size"))
          .orderBy("cohort", "week_n")
      }),

    // PageRank over the part<->supplier co-occurrence graph from
    // lineitem (3 damped iterations, symmetrized edges; node id encodes
    // side in the low bit). The iterated-join fixed point every link/
    // citation-graph quality signal needs — see graph.PageRank for the
    // one-shuffle-per-iteration shape and the decimal-routed determinism.
    Q("q101_pagerank", Q.sql(s"""
        WITH pairs AS (
          SELECT DISTINCT l_partkey * 2 AS a, l_suppkey * 2 + 1 AS b FROM lineitem),
        edges AS (
          SELECT a AS src, b AS dst FROM pairs
          UNION ALL SELECT b AS src, a AS dst FROM pairs),
        nodes AS (SELECT DISTINCT src AS node FROM edges),
        ${PageRank.oracleCtes(3)}
        SELECT node, pr FROM r3 ORDER BY node"""))(
      (s, dir) => {
        val pairs = T(s, dir, "lineitem")
          .select((col("l_partkey") * 2).as("a"), (col("l_suppkey") * 2 + 1).as("b"))
          .distinct()
        // mirror AFTER the distinct via one explode — a two-branch
        // self-union would run the fact-table distinct twice before
        // PageRank's edge barrier (mirrored pairs stay unique, so no
        // re-dedup is needed)
        val edges = pairs
          .select(explode(array(
            struct(col("a").as("src"), col("b").as("dst")),
            struct(col("b").as("src"), col("a").as("dst")))).as("e"))
          .select(col("e.src").as("src"), col("e.dst").as("dst"))
        PageRank.run(edges, 3).orderBy("node")
      }),

    // HITS hubs & authorities (Kleinberg JACM'99) on the supplier→part
    // supply graph: top hub suppliers (stock many well-sourced parts)
    // and top authority parts (stocked by many strong suppliers), after
    // 2 full rounds. Unnormalized integer power iteration — every score
    // an exact DECIMAL(38,0) path count, the whole recurrence replayed
    // in the oracle's CTE chain (see graph.Hits for why dropping the
    // rank-invariant L2 normalization makes this FP-free); `share_ppm`
    // keeps even the last mile FP-free: round-half-up((score/mx)*1e6)
    // computed as the integer floor((2*score*1e6 + mx) / (2*mx)) over
    // exact decimals — there is NO floating-point value anywhere in the
    // result, so the driver hash cannot drift across engines or
    // library versions (round-7 flake-proofing). Windows partition by
    // side.
    Q("q290_hits", Q.sql(s"""
        WITH edges AS (
          SELECT DISTINCT l_suppkey AS src, l_partkey AS dst FROM lineitem),
        ${Hits.oracleCtes(2)},
        sides AS (
          SELECT 'auth' AS side, node, score FROM a2
          UNION ALL SELECT 'hub' AS side, node, score FROM h2),
        w AS (
          SELECT side, node, score,
            max(score) OVER (PARTITION BY side) AS mx,
            row_number() OVER (PARTITION BY side ORDER BY score DESC, node)
              AS rank
          FROM sides)
        SELECT side, node, CAST(score AS BIGINT) AS score,
          CAST((2 * CAST(score AS HUGEINT) * 1000000 + CAST(mx AS HUGEINT))
               // (2 * CAST(mx AS HUGEINT)) AS BIGINT) AS share_ppm,
          rank
        FROM w WHERE rank <= 10 ORDER BY side, rank"""))(
      (s, dir) => {
        val edges = T(s, dir, "lineitem")
          .select(col("l_suppkey").as("src"), col("l_partkey").as("dst"))
          .distinct()
        val sc = Hits.run(edges, 2)
        val both = sc.auths
          .select(lit("auth").as("side"), col("node"), col("score"))
          .unionByName(sc.hubs
            .select(lit("hub").as("side"), col("node"), col("score")))
        val bySide = Window.partitionBy("side")
        both
          .withColumn("mx", max(col("score")).over(bySide))
          .withColumn("rank", row_number().over(
            bySide.orderBy(col("score").desc, col("node"))))
          .where(col("rank") <= 10)
          // BIGINT (not decimal128) on the wire: the driver's stringify-
          // hash renders Spark decimals as "561405" but DuckDB wide
          // decimals reach it as float64 "561405.0" — int64 both sides
          // is the only lossless representation the hash agrees on.
          .select(col("side"), col("node"), col("score").cast("long").as("score"),
            // integral div of exact decimals -> LONG; identical integer
            // round-half-up in both engines, zero IEEE involvement
            expr("""CAST((2 * score * 1000000L + mx) div (2 * mx)
                    AS BIGINT)""").as("share_ppm"),
            col("rank"))
          .orderBy("side", "rank")
      }),

    // TrustRank (Gyöngyi VLDB'04): personalized PageRank whose teleport
    // lands only on a trusted seed set — here suppliers from nations
    // 0–4 — propagated 2 damped rounds over the symmetrized
    // part↔supplier graph. The curation move this encodes: extend a
    // small audited source list to trust scores for EVERY connected
    // node (parts inherit trust from trusted suppliers, then further
    // suppliers from those parts), the seed-propagation half every
    // link-graph quality pipeline pairs with PageRank's global prior.
    // Oracle replays the recurrence in CTEs (decimal-routed sums, FULL
    // JOIN teleport merge — see graph.PageRank.personalizedOracleCtes).
    Q("q310_trustrank", Q.sql(s"""
        WITH pairs AS (
          SELECT DISTINCT l_partkey * 2 AS a, l_suppkey * 2 + 1 AS b FROM lineitem),
        edges AS (
          SELECT a AS src, b AS dst FROM pairs
          UNION ALL SELECT b AS src, a AS dst FROM pairs),
        seeds AS (
          SELECT DISTINCT s_suppkey * 2 + 1 AS node
          FROM supplier WHERE s_nationkey < 5),
        ${PageRank.personalizedOracleCtes(2)}
        SELECT node, CAST(node % 2 AS INT) AS is_supplier, pr
        FROM p2 ORDER BY node"""))(
      (s, dir) => {
        val pairs = T(s, dir, "lineitem")
          .select((col("l_partkey") * 2).as("a"), (col("l_suppkey") * 2 + 1).as("b"))
          .distinct()
        val edges = pairs
          .select(explode(array(
            struct(col("a").as("src"), col("b").as("dst")),
            struct(col("b").as("src"), col("a").as("dst")))).as("e"))
          .select(col("e.src").as("src"), col("e.dst").as("dst"))
        val seeds = T(s, dir, "supplier")
          .where(col("s_nationkey") < 5)
          .select((col("s_suppkey") * 2 + 1).as("node"))
          .distinct()
        PageRank.runPersonalized(edges, 2, seeds)
          .select(col("node"), (col("node") % 2).cast("int").as("is_supplier"),
            col("pr"))
          .orderBy("node")
      }),

    // Per-type z-score outliers over event values: decimal-exact moment
    // sums (order-independent), one broadcast join of the 5-row stats
    // table back onto the stream, pure-scalar z computation. The shape
    // of every streaming-ish anomaly monitor: stats are mergeable sums.
    Q("q102_zscore_outliers", Q.sql("""
        WITH s AS (
          SELECT event_type, count(*) AS n,
            CAST(sum(CAST(value AS DECIMAL(27,8))) AS DOUBLE) AS s1,
            CAST(sum(CAST(value * value AS DECIMAL(27,8))) AS DOUBLE) AS s2
          FROM events GROUP BY 1)
        SELECT e.event_id, e.event_type, e.value,
          (e.value - s.s1 / s.n) / sqrt(s.s2 / s.n - (s.s1 / s.n) * (s.s1 / s.n)) AS z
        FROM events e JOIN s USING (event_type)
        WHERE abs((e.value - s.s1 / s.n) / sqrt(s.s2 / s.n - (s.s1 / s.n) * (s.s1 / s.n))) > 2.5
        ORDER BY event_id"""))(
      (s, dir) => {
        val e = T(s, dir, "events")
        val stats = e.groupBy("event_type").agg(
          count(lit(1)).as("n"),
          dsum(col("value"), 8).as("s1"),
          dsum(col("value") * col("value"), 8).as("s2"))
        val mean = col("s1") / col("n")
        val z = (col("value") - mean) / sqrt(col("s2") / col("n") - mean * mean)
        e.join(broadcast(stats), "event_type")
          .withColumn("z", z)
          .where(abs(col("z")) > 2.5)
          .select(col("event_id"), col("event_type"), col("value"), col("z"))
          .orderBy("event_id")
      }),

    // Bloom-pruned semi-join: a 16384-bit filter built from the (small)
    // filtered-orders key set is pushed as a scalar predicate into the
    // lineitem scan; the exact semi-join then removes false positives,
    // so the result is EXACTLY the plain semi-join the oracle runs. At
    // 100 TB the bloom predicate drops non-matching fact rows inside the
    // scan stage — before any shuffle — while the filter itself is 2 KB
    // of driver state (positions, never keys, cross the wire).
    Q("q103_bloom_join", Q.sql("""
        SELECT l_returnflag, count(*) AS n,
          CAST(sum(CAST(l_quantity AS DECIMAL(27,4))) AS DOUBLE) AS sum_qty
        FROM lineitem
        WHERE l_orderkey IN (
          SELECT o_orderkey FROM orders
          WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 450000)
        GROUP BY 1 ORDER BY 1"""))(
      (s, dir) => {
        val build = T(s, dir, "orders")
          .where(col("o_orderpriority") === "1-URGENT" &&
            col("o_totalprice") > 450000)
        Bloom.prunedSemiJoin(T(s, dir, "lineitem"), col("l_orderkey"),
            build, col("o_orderkey"), m = 16384, k = 3)
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
          .orderBy("l_returnflag")
      }),

    // Stopword scrubbing (token-level, no regex dialect risk): drop
    // standalone 'a'/'the' tokens, report before/after counts and the
    // scrubbed-content hash. Scale: pure scalar array ops in the scan
    // stage, no shuffle, no UDF.
    Q("q104_stopword_scrub", Q.sql(s"""
        $wordsCte,
        f AS (
          SELECT id, ws, list_filter(ws, x -> x NOT IN ('a', 'the')) AS kept
          FROM w)
        SELECT id AS doc_id, len(ws) AS n_before, len(kept) AS n_after,
          ${graft.functions.PortableSql.hexToLong("md5(array_to_string(kept, ' '))", 12)} AS clean_hash
        FROM f ORDER BY 1"""))(
      (s, dir) =>
        T(s, dir, "documents")
          .select(col("doc_id"),
            TextAnalysis.tokens(TextAnalysis.normalizeText(col("text"))).as("ws"))
          .withColumn("kept",
            filter(col("ws"), w => !w.isin("a", "the")))
          .select(col("doc_id"),
            size(col("ws")).cast("bigint").as("n_before"),
            size(col("kept")).cast("bigint").as("n_after"),
            graft.functions.Hashing.hash48(concat_ws(" ", col("kept"))).as("clean_hash"))
          .orderBy("doc_id")),

    // Bigram LM scoring: add-one-smoothed P(w2|w1) fit on the corpus,
    // mean bigram log-prob per document — see text.BigramLm for the
    // vocabulary-bounded count fits and the co-partitioned scoring join.
    Q("q105_bigram_lm", Q.sql(s"""
        $wordsCte,
        shr AS (
          SELECT id, ws[pos] || ' ' || ws[pos+1] AS shingle
          FROM w, LATERAL (SELECT unnest(generate_series(1, greatest(len(ws) - 1, 0))) AS pos) t),
        c2 AS (SELECT shingle, count(*) AS cnt2 FROM shr GROUP BY 1),
        c1 AS (SELECT string_split(shingle, ' ')[1] AS w1, count(*) AS cnt1 FROM shr GROUP BY 1),
        v AS (SELECT count(DISTINCT tok) AS v FROM (SELECT unnest(ws) AS tok FROM w) tt),
        lp AS (
          SELECT c2.shingle, round(ln(CAST(cnt2 + 1 AS DOUBLE) / (cnt1 + v.v)), 6) AS logp
          FROM c2 JOIN c1 ON string_split(c2.shingle, ' ')[1] = c1.w1, v)
        SELECT shr.id AS doc_id, count(*) AS n_bigrams,
          round(CAST(sum(CAST(logp AS DECIMAL(27,6))) AS DOUBLE) / count(*), 6) AS avg_logp
        FROM shr JOIN lp USING (shingle)
        GROUP BY 1 ORDER BY 1"""))(
      (s, dir) =>
        graft.text.BigramLm.score(
            T(s, dir, "documents"), col("doc_id"), col("text"))
          .select(col("id").as("doc_id"), col("n_bigrams"), col("avg_logp"))
          .orderBy("doc_id")),

    // Graph modularity (Newman & Girvan PRE'04) of the nation partition
    // over the supplier CO-SUPPLY graph (suppliers sharing a part,
    // distinct pairs, undirected): Q = Σ_c (e_c/m − (d_c/2m)²) — do
    // suppliers co-supply within their nation more than a random graph
    // with the same degrees would? THE community-quality number every
    // cluster assignment (dedup components, IVF cells, domain groups)
    // gets audited with before it drives curation decisions. Everything
    // is an integer count until the final fixed double expression; the
    // pair generator is per-part (TPC-H bounds suppliers/part), never
    // all-pairs.
    Q("q314_modularity", Q.sql("""
        WITH ps AS (SELECT DISTINCT l_partkey AS pk, l_suppkey AS sk FROM lineitem),
        e AS (
          SELECT DISTINCT a.sk AS sa, b.sk AS sb
          FROM ps a JOIN ps b ON a.pk = b.pk AND a.sk < b.sk),
        nat AS (SELECT s_suppkey AS sk, s_nationkey AS nk FROM supplier),
        en AS (
          SELECT na.nk AS nka, nb.nk AS nkb
          FROM e JOIN nat na ON na.sk = e.sa JOIN nat nb ON nb.sk = e.sb),
        m AS (SELECT count(*) AS m FROM en),
        degs AS (
          SELECT nk, CAST(count(*) AS BIGINT) AS d FROM (
            SELECT nka AS nk FROM en UNION ALL SELECT nkb FROM en) dd
          GROUP BY 1),
        within AS (
          SELECT nka AS nk, CAST(count(*) AS BIGINT) AS e_within
          FROM en WHERE nka = nkb GROUP BY 1)
        SELECT d.nk AS nation, coalesce(w.e_within, CAST(0 AS BIGINT)) AS e_within,
          d.d AS degree_sum, m.m AS m,
          round(CAST(coalesce(w.e_within, 0) AS DOUBLE) / CAST(m.m AS DOUBLE)
            - (CAST(d.d AS DOUBLE) / (2 * CAST(m.m AS DOUBLE)))
              * (CAST(d.d AS DOUBLE) / (2 * CAST(m.m AS DOUBLE))), 6)
            AS q_contrib
        FROM degs d LEFT JOIN within w ON w.nk = d.nk, m
        ORDER BY nation"""))(
      (s, dir) => {
        // distinct co-supply pairs from the staged family base
        // (graph/CoSupply.scala): same rows as the inline ps self-join
        val e = graft.graph.CoSupply.sharedPartsStaged(s, dir)
          .select(col("sa"), col("sb"))
        val nat = T(s, dir, "supplier")
          .select(col("s_suppkey").as("skey"), col("s_nationkey").as("nk"))
        val en = e
          .join(nat.select(col("skey"), col("nk").as("nka")),
            col("sa") === col("skey")).drop("skey")
          .join(nat.select(col("skey"), col("nk").as("nkb")),
            col("sb") === col("skey")).drop("skey")
          .select("nka", "nkb")
        val m = en.agg(count(lit(1)).as("m"))
        val degs = en.select(col("nka").as("nk"))
          .unionByName(en.select(col("nkb").as("nk")))
          .groupBy("nk").agg(count(lit(1)).as("d"))
        val within = en.where(col("nka") === col("nkb"))
          .groupBy(col("nka").as("nk")).agg(count(lit(1)).as("e_within"))
        val md = col("d").cast("double") / (lit(2) * col("m").cast("double"))
        degs.join(within, Seq("nk"), "left")
          .crossJoin(broadcast(m))
          .select(col("nk").as("nation"),
            coalesce(col("e_within"), lit(0L)).as("e_within"),
            col("d").as("degree_sum"), col("m"),
            round(coalesce(col("e_within"), lit(0L)).cast("double")
                / col("m").cast("double") - md * md, 6).as("q_contrib"))
          .orderBy("nation")
      }),

    // Interpolated Kneser-Ney bigram LM (Kneser & Ney ICASSP'95, the
    // n-gram smoothing that held SOTA until neural LMs; Chen & Goodman
    // TR-10-98 evaluation): unlike q105's add-one, the backoff mass is
    // CONTINUATION probability — "how many distinct contexts precede
    // w2" — so frequent-but-context-locked tokens (the "Francisco"
    // effect) stop stealing mass. P(w2|w1) = (c(w1w2)−D)/c(w1) +
    // D·N1+(w1·)/c(w1) · N1+(·w2)/B with D=0.75. Everything is an
    // integer count off ONE bigram aggregation (three vocab-bounded
    // re-aggs + a scalar broadcast); the one double expression is
    // written operand-for-operand in both engines. Top-20 by smoothed
    // probability, fully tie-broken.
    Q("q312_kn_bigram", Q.sql(s"""
        $wordsCte,
        shr AS (
          SELECT id, ws[pos] AS w1, ws[pos+1] AS w2
          FROM w, LATERAL (SELECT unnest(generate_series(1, greatest(len(ws) - 1, 0))) AS pos) t),
        c2 AS (SELECT w1, w2, count(*) AS c2 FROM shr GROUP BY 1, 2),
        c1 AS (
          SELECT w1, CAST(sum(c2) AS BIGINT) AS c1, count(*) AS n1f
          FROM c2 GROUP BY 1),
        nr AS (SELECT w2, count(*) AS n1r FROM c2 GROUP BY 1),
        bt AS (SELECT count(*) AS b FROM c2),
        p AS (
          SELECT c2.w1, c2.w2, c2.c2,
            round((CAST(c2.c2 AS DOUBLE) - CAST(0.75 AS DOUBLE)) / CAST(c1.c1 AS DOUBLE)
              + (CAST(0.75 AS DOUBLE) * CAST(c1.n1f AS DOUBLE) / CAST(c1.c1 AS DOUBLE))
                * (CAST(nr.n1r AS DOUBLE) / CAST(bt.b AS DOUBLE)), 6) AS pkn
          FROM c2 JOIN c1 USING (w1) JOIN nr USING (w2), bt)
        SELECT w1, w2, c2, pkn FROM p
        ORDER BY pkn DESC, w1, w2 LIMIT 20"""))(
      (s, dir) => {
        val toks = T(s, dir, "documents")
          .select(col("doc_id").as("id"),
            TextAnalysis.tokens(TextAnalysis.normalizeText(col("text")))
              .as("ws"))
        val pairs = toks
          .select(col("ws"), explode(
            when(size(col("ws")) >= 2, sequence(lit(1), size(col("ws")) - 1))
              .otherwise(array().cast("array<int>"))).as("pos"))
          .select(element_at(col("ws"), col("pos")).as("w1"),
            element_at(col("ws"), col("pos") + 1).as("w2"))
        val c2 = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
        val c1 = c2.groupBy("w1")
          .agg(sum(col("c2")).as("c1"), count(lit(1)).as("n1f"))
        val nr = c2.groupBy("w2").agg(count(lit(1)).as("n1r"))
        val bt = c2.agg(count(lit(1)).as("b"))
        c2.join(c1, "w1").join(nr, "w2")
          .crossJoin(broadcast(bt))
          .select(col("w1"), col("w2"), col("c2"),
            round((col("c2").cast("double") - lit(0.75))
                / col("c1").cast("double")
              + (lit(0.75) * col("n1f").cast("double")
                / col("c1").cast("double"))
                * (col("n1r").cast("double") / col("b").cast("double")), 6)
              .as("pkn"))
          .orderBy(col("pkn").desc, col("w1"), col("w2"))
          .limit(20)
      }),

    // Streaming per-key earliest-k under the oracle gate: keep each
    // user's 5 first events with flatMapGroupsWithState (bounded O(cap)
    // buffer state, event-time-timeout flush driven by the end-of-stream
    // sentinel's watermark) — proven equal to the batch row_number cap.
    Q("q106_stream_cap", Q.sql("""
        SELECT user_id, epoch_us(ts) AS ts_us, event_id
        FROM (
          SELECT user_id, ts, event_id,
            row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
          FROM events) x
        WHERE rn <= 5
        ORDER BY user_id, ts_us, event_id"""))(
      (s, dir) => {
        val src = StreamRun.eventsStreamFlushed(s, dir)
        val capped = graft.streaming.Streams.earliestKWithState(src, 5)
        StreamRun.runToTable("q106_sink", capped.toDF(),
            org.apache.spark.sql.streaming.OutputMode.Append())
          .where(col("user_id") =!= -1)
          .orderBy("user_id", "ts_us", "event_id")
      }),

    // Hourly last-observation-carried-forward resampling: per-user hour
    // spine (bounds agg -> distributed sequence explode) as-of joined to
    // the event stream (one shuffle union + running window — see
    // ops.AsOfJoin). The gap-fill + as-of composition every time-series
    // feature store runs. Oracle: DuckDB's native ASOF LEFT JOIN.
    Q("q107_locf_resample", Q.sql("""
        WITH b AS (
          SELECT user_id,
            CAST(date_trunc('hour', min(ts)) AS TIMESTAMP) AS h0,
            CAST(date_trunc('hour', max(ts)) AS TIMESTAMP) AS h1
          FROM events GROUP BY 1),
        sp AS (
          SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
          FROM b),
        r AS (
          SELECT user_id, CAST(ts AS TIMESTAMP) AS t, max(value) AS locf_value
          FROM events GROUP BY 1, 2)
        SELECT sp.user_id, sp.h, r.locf_value
        FROM sp ASOF LEFT JOIN r ON sp.user_id = r.user_id AND r.t <= sp.h
        ORDER BY 1, 2"""))(
      (s, dir) => {
        val e = T(s, dir, "events")
        val bounds = e.groupBy("user_id").agg(
          date_trunc("hour", min(col("ts"))).as("h0"),
          date_trunc("hour", max(col("ts"))).as("h1"))
        val spine = bounds.select(col("user_id"),
          explode(sequence(col("h0"), col("h1"), expr("interval 1 hour"))).as("h"))
        val obs = e.groupBy(col("user_id"), col("ts").as("t"))
          .agg(max(col("value")).as("locf_value"))
        graft.ops.AsOfJoin.asOf(spine, obs, Seq("user_id"), "h", "t",
            payload = Seq("locf_value"))
          .orderBy("user_id", "h")
      }),

    // Louvain phase-1 move gains (Blondel et al. J.Stat.Mech'08) over
    // the q314 co-supply graph with the nation partition as the
    // incumbent communities: for every supplier and every NEIGHBORING
    // community B, ΔQ of moving i from A to B = (k_iB − k_iA)/m −
    // k_i·(Σtot_B − Σtot_A + k_i)/(2m²) — the greedy step all Louvain
    // rounds are made of, and the audit q314 can't give ("is this
    // partition locally optimal, and where does it want to move?").
    // Candidates come from the (node, neighbor-community) edge-count
    // frame — degree-bounded, never node × community. Everything is an
    // integer count until one fixed double expression; top-20 best
    // moves fully tie-broken.
    Q("q328_louvain_gain", Q.sql("""
        WITH ps AS (SELECT DISTINCT l_partkey AS pk, l_suppkey AS sk FROM lineitem),
        e AS (
          SELECT DISTINCT a.sk AS sa, b.sk AS sb
          FROM ps a JOIN ps b ON a.pk = b.pk AND a.sk < b.sk),
        nat AS (SELECT s_suppkey AS sk, s_nationkey AS nk FROM supplier),
        dg AS (
          SELECT i, j FROM (
            SELECT sa AS i, sb AS j FROM e
            UNION ALL SELECT sb AS i, sa AS j FROM e) u),
        deg AS (SELECT i, CAST(count(*) AS BIGINT) AS ki FROM dg GROUP BY 1),
        kic AS (
          SELECT d.i, nj.nk AS cj, CAST(count(*) AS BIGINT) AS k_ic
          FROM dg d JOIN nat nj ON nj.sk = d.j GROUP BY 1, 2),
        tot AS (
          SELECT na.nk AS c, CAST(sum(deg.ki) AS BIGINT) AS sig
          FROM deg JOIN nat na ON na.sk = deg.i GROUP BY 1),
        m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e),
        cand AS (
          SELECT k.i, na.nk AS a, k.cj AS b, deg.ki, k.k_ic AS kib,
            coalesce(ka.k_ic, CAST(0 AS BIGINT)) AS kia,
            ta.sig AS siga, tb.sig AS sigb
          FROM kic k
          JOIN nat na ON na.sk = k.i
          JOIN deg ON deg.i = k.i
          LEFT JOIN kic ka ON ka.i = k.i AND ka.cj = na.nk
          JOIN tot ta ON ta.c = na.nk
          JOIN tot tb ON tb.c = k.cj
          WHERE k.cj <> na.nk),
        dq AS (
          SELECT i, a, b, ki,
            round((CAST(kib AS DOUBLE) - CAST(kia AS DOUBLE))
                / CAST(m.m AS DOUBLE)
              - CAST(ki AS DOUBLE)
                * (CAST(sigb AS DOUBLE) - CAST(siga AS DOUBLE)
                   + CAST(ki AS DOUBLE))
                / (2 * CAST(m.m AS DOUBLE) * CAST(m.m AS DOUBLE)), 9) AS dq
          FROM cand, m),
        best AS (
          SELECT i, a, b, ki, dq,
            row_number() OVER (PARTITION BY i ORDER BY dq DESC, b) AS rk
          FROM dq)
        SELECT i AS supplier, a AS from_nation, b AS to_nation,
          ki AS degree, dq
        FROM best WHERE rk = 1
        ORDER BY dq DESC, supplier LIMIT 20"""))(
      (s, dir) => {
        // distinct co-supply pairs from the staged family base
        val e = graft.graph.CoSupply.sharedPartsStaged(s, dir)
          .select(col("sa"), col("sb"))
        val nat = T(s, dir, "supplier")
          .select(col("s_suppkey").as("skey"), col("s_nationkey").as("nk"))
        val dg = e.select(col("sa").as("i"), col("sb").as("j"))
          .unionByName(e.select(col("sb").as("i"), col("sa").as("j")))
        val deg = dg.groupBy("i").agg(count(lit(1)).cast("bigint").as("ki"))
        val kic = dg
          .join(nat.select(col("skey"), col("nk").as("cj")),
            col("skey") === col("j")).drop("skey")
          .groupBy("i", "cj")
          .agg(count(lit(1)).cast("bigint").as("k_ic"))
        val tot = deg
          .join(nat.select(col("skey"), col("nk").as("c")),
            col("skey") === col("i")).drop("skey")
          .groupBy("c").agg(sum(col("ki")).cast("bigint").as("sig"))
        val m = e.agg(count(lit(1)).cast("bigint").as("m"))
        val cand = kic
          .join(nat.select(col("skey"), col("nk").as("a")),
            col("skey") === col("i")).drop("skey")
          .join(deg, "i")
          .join(kic.select(col("i").as("i2"), col("cj").as("cj2"),
              col("k_ic").as("kia_raw")),
            col("i2") === col("i") && col("cj2") === col("a"), "left")
          .drop("i2", "cj2")
          .join(broadcast(tot.select(col("c"), col("sig").as("siga"))),
            col("c") === col("a")).drop("c")
          .join(broadcast(tot.select(col("c"), col("sig").as("sigb"))),
            col("c") === col("cj")).drop("c")
          .where(col("cj") =!= col("a"))
          .select(col("i"), col("a"), col("cj").as("b"), col("ki"),
            col("k_ic").as("kib"),
            coalesce(col("kia_raw"), lit(0L)).as("kia"),
            col("siga"), col("sigb"))
        val dqf = cand.crossJoin(broadcast(m))
          .select(col("i"), col("a"), col("b"), col("ki"),
            round((col("kib").cast("double") - col("kia").cast("double"))
                / col("m").cast("double")
              - col("ki").cast("double")
                * (col("sigb").cast("double") - col("siga").cast("double")
                   + col("ki").cast("double"))
                / (lit(2) * col("m").cast("double")
                   * col("m").cast("double")), 9).as("dq"))
        dqf.withColumn("rk", row_number().over(Window.partitionBy("i")
            .orderBy(col("dq").desc, col("b"))))
          .where(col("rk") === 1)
          .select(col("i").as("supplier"), col("a").as("from_nation"),
            col("b").as("to_nation"), col("ki").as("degree"), col("dq"))
          .orderBy(col("dq").desc, col("supplier")).limit(20)
      }),

    // Synchronous label propagation (Raghavan-Albert-Kumara PRE'07), 3
    // fixed rounds over the supplier co-supply graph: each node adopts
    // its neighbors' MODE label (count desc, then smallest label — fully
    // deterministic, unlike the randomized original), the near-linear
    // community detector that needs no modularity optimization. Each
    // round is one equi-join + two hash aggs (mode via max_by over
    // (count, −label)); the edge frame is per-part pair generation
    // (TPC-H bounds suppliers/part), CACHED once for the degree-frame
    // and all three rounds. Oracle replays the rounds as MATERIALIZED
    // CTEs with a row_number mode (q157's pattern — inlining is 3^rounds).
    Q("q334_label_propagation", {
      val rounds = (1 to 3).map { i =>
        val prev = if (i == 1) "l0" else s"r${i - 1}"
        s"""r$i AS MATERIALIZED (
           SELECT u, lbl FROM (
             SELECT n.u, l.lbl, count(*) AS c,
               row_number() OVER (PARTITION BY n.u
                 ORDER BY count(*) DESC, l.lbl) AS rn
             FROM nbr n JOIN $prev l ON l.u = n.v
             GROUP BY n.u, l.lbl) x WHERE rn = 1)"""
      }.mkString(", ")
      Q.sql(s"""
        WITH ps AS (SELECT DISTINCT l_partkey AS pk, l_suppkey AS sk FROM lineitem),
        e AS MATERIALIZED (
          SELECT DISTINCT a.sk AS sa, b.sk AS sb
          FROM ps a JOIN ps b ON a.pk = b.pk AND a.sk < b.sk),
        nbr AS MATERIALIZED (
          SELECT sa AS u, sb AS v FROM e UNION ALL SELECT sb, sa FROM e),
        l0 AS MATERIALIZED (SELECT DISTINCT u, u AS lbl FROM nbr),
        $rounds
        SELECT lbl AS community, CAST(count(*) AS BIGINT) AS n_members
        FROM r3 GROUP BY 1
        ORDER BY n_members DESC, community LIMIT 20""")
    })(
      (s, dir) => {
        // distinct co-supply pairs from the staged family base
        val e = graft.graph.CoSupply.sharedPartsStaged(s, dir)
          .select(col("sa"), col("sb"))
        val nbr = cached(
          e.select(col("sa").as("u"), col("sb").as("v"))
            .unionByName(e.select(col("sb").as("u"), col("sa").as("v"))))
        val l0 = nbr.select(col("u")).distinct()
          .select(col("u"), col("u").as("lbl"))
        // the label frame is VERTEX-sized (one row per supplier) — it
        // grows with the data, so it carries NO broadcast hint: at
        // benchable SF Spark's size estimate/AQE still broadcasts it,
        // and at web scale the label join correctly degrades to a
        // shuffled equi-join on v (the cached edge list re-partitions
        // once per round; a corpus-fraction broadcast would OOM first)
        val lbl3 = (1 to 3).foldLeft(l0) { (lbl, _) =>
          nbr.join(lbl.select(col("u").as("v2"), col("lbl")),
              col("v") === col("v2"))
            .groupBy(col("u"), col("lbl"))
            .agg(count(lit(1)).as("c"))
            .groupBy("u")
            .agg(max_by(col("lbl"), struct(col("c"), (-col("lbl")).as("nl")))
              .as("lbl"))
        }
        lbl3.groupBy(col("lbl").as("community"))
          .agg(count(lit(1)).as("n_members"))
          .orderBy(col("n_members").desc, col("community"))
          .limit(20)
      })
  )
}
