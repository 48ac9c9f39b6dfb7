package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables.{load => T}
import graft.graph.CoPurchase
import graft.ops.Frames.materialize
import graft.text.TextAnalysis

/** Round-5 batch 12: distribution-drift statistics (two-sample KS, PSI),
  * BFS reachability layers, nucleus (top-p) vocabulary coverage, and
  * reciprocal-rank fusion — each oracle-checked bit-for-bit vs DuckDB.
  */
object DriftQueries {

  /** DuckDB expression for [[TextAnalysis.normalizeText]] (same as
    * TextQueries.normSql — duplicated because that one is query-private).
    */
  private val normSql = "lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))"

  private val BfsRounds = 4

  /** BFS frontier rounds as chained MATERIALIZED CTEs: each round unions
    * the reached set with its neighbors at dist+1 and keeps min dist.
    */
  private def bfsCtes(rounds: Int): String =
    (1 to rounds).map { i =>
      s"""d$i AS MATERIALIZED (
           SELECT v, min(dist) AS dist FROM (
             SELECT v, dist FROM d${i - 1}
             UNION ALL
             SELECT adj.v, p.dist + 1 FROM adj JOIN d${i - 1} p ON adj.u = p.v) u
           GROUP BY 1)"""
    }.mkString(",\n")

  def all: Seq[Q] = Seq(

    // Two-sample Kolmogorov-Smirnov: totalprice distribution 1997 vs
    // 1998. ECDFs as integer cumulative counts over the DISTINCT-value
    // frame (one hash agg off the facts); D and the scaled statistic are
    // one double expression on exact integers. The unpartitioned cumsum
    // runs over distinct values only — at 100 TB, range-partition it
    // (ops.Prefix's two-pass shape).
    Q("q181_ks_test", Q.sql("""
        WITH u AS (
          SELECT o_totalprice AS val,
            CASE WHEN year(CAST(o_orderdate AS DATE)) = 1997 THEN 1 ELSE 0 END AS c1,
            CASE WHEN year(CAST(o_orderdate AS DATE)) = 1998 THEN 1 ELSE 0 END AS c2
          FROM orders
          WHERE year(CAST(o_orderdate AS DATE)) IN (1997, 1998)),
        n AS (
          SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2
          FROM u),
        vals AS (
          SELECT val, CAST(sum(c1) AS BIGINT) AS c1, CAST(sum(c2) AS BIGINT) AS c2
          FROM u GROUP BY 1),
        cum AS (
          SELECT
            CAST(sum(c1) OVER (ORDER BY val) AS BIGINT) AS f1,
            CAST(sum(c2) OVER (ORDER BY val) AS BIGINT) AS f2
          FROM vals),
        d AS (
          SELECT max(abs(CAST(f1 AS DOUBLE) / n1 - CAST(f2 AS DOUBLE) / n2)) AS dmax
          FROM cum CROSS JOIN n)
        SELECT n1, n2, round(dmax, 6) AS ks_d,
          round(dmax * sqrt(CAST(n1 AS DOUBLE) * n2 / (n1 + n2)), 6) AS ks_stat
        FROM d CROSS JOIN n"""))(
      (s, dir) => {
        val yr = year(to_date(col("o_orderdate")))
        val u = T(s, dir, "orders")
          .where(yr.isin(1997, 1998))
          .select(col("o_totalprice").as("val"),
            when(yr === 1997, 1).otherwise(0).as("c1"),
            when(yr === 1998, 1).otherwise(0).as("c2"))
        val n = u.agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"))
        val vals = u.groupBy("val")
          .agg(sum(col("c1")).as("c1"), sum(col("c2")).as("c2"))
        // two running CDFs in one distributed prefix pass — a bare
        // ORDER BY window would pull every distinct value to one task
        val cum = graft.ops.Prefix.runningTotals(vals, Seq(col("val")),
            Seq(col("c1") -> "f1", col("c2") -> "f2"))
          .select("f1", "f2")
        val d = cum.crossJoin(broadcast(n))
          .agg(max(abs(col("f1").cast("double") / col("n1") -
            col("f2").cast("double") / col("n2"))).as("dmax"))
        d.crossJoin(broadcast(n))
          .select(col("n1"), col("n2"),
            round(col("dmax"), 6).as("ks_d"),
            round(col("dmax") * sqrt(col("n1").cast("double") * col("n2") /
              (col("n1") + col("n2"))), 6).as("ks_stat"))
      }),

    // Population Stability Index month-over-month on the totalprice
    // distribution (10 fixed 50k-wide bins, Laplace-smoothed so empty
    // bins stay defined). Bin counts are one hash agg; the dense
    // month×bin spine is calendar-bounded; PSI terms are rounded doubles
    // on exact rationals, decimal-summed.
    Q("q182_psi_drift", Q.sql("""
        WITH cnt AS (
          SELECT year(CAST(o_orderdate AS DATE)) * 12 + month(CAST(o_orderdate AS DATE)) - 1 AS mser,
            min(CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE)) AS month,
            least(9, CAST(floor(o_totalprice / CAST(50000 AS DOUBLE)) AS INT)) AS b,
            count(*) AS c
          FROM orders GROUP BY 1, 3),
        months AS (
          SELECT mser, min(month) AS month, CAST(sum(c) AS BIGINT) AS n
          FROM cnt GROUP BY 1),
        bins AS (SELECT CAST(unnest(range(10)) AS INT) AS b),
        dense AS (
          SELECT s.mser, s.month, s.n, s.b, coalesce(c.c, 0) AS c
          FROM (SELECT mser, month, n, b FROM months CROSS JOIN bins) s
          LEFT JOIN cnt c ON s.mser = c.mser AND s.b = c.b),
        pair AS (
          SELECT a.month,
            (CAST(a.c AS DOUBLE) + 1) / (CAST(a.n AS DOUBLE) + 10) AS pa,
            (CAST(p.c AS DOUBLE) + 1) / (CAST(p.n AS DOUBLE) + 10) AS pb
          FROM dense a JOIN dense p ON p.mser = a.mser - 1 AND p.b = a.b),
        terms AS (
          SELECT month, round((pa - pb) * ln(pa / pb), 8) AS term FROM pair)
        SELECT month, round(CAST(sum(CAST(term AS DECIMAL(27,8))) AS DOUBLE), 6) AS psi
        FROM terms GROUP BY 1 ORDER BY 1"""))(
      (s, dir) => {
        val d = to_date(col("o_orderdate"))
        val cnt = T(s, dir, "orders")
          .groupBy(
            (year(d) * 12 + month(d) - 1).as("mser"),
            least(lit(9), floor(col("o_totalprice") /
              lit(50000).cast("double")).cast("int")).as("b"))
          .agg(min(trunc(d, "month")).as("month"), count(lit(1)).as("c"))
        val months = cnt.groupBy("mser")
          .agg(min(col("month")).as("month"), sum(col("c")).as("n"))
        val spine = months.select(col("mser"), col("month"), col("n"),
          explode(sequence(lit(0), lit(9))).as("b"))
        val dense = spine
          .join(cnt.select(col("mser"), col("b"), col("c")),
            Seq("mser", "b"), "left_outer")
          .select(col("mser"), col("month"), col("n"), col("b"),
            coalesce(col("c"), lit(0L)).as("c"))
        val prev = dense.select(col("mser").as("pmser"), col("b").as("pb_bin"),
          col("n").as("pn"), col("c").as("pc"))
        val pair = dense
          .join(prev, col("pmser") === col("mser") - 1 && col("pb_bin") === col("b"))
          .select(col("month"),
            ((col("c").cast("double") + 1) / (col("n").cast("double") + 10)).as("pa"),
            ((col("pc").cast("double") + 1) / (col("pn").cast("double") + 10)).as("pb"))
        pair
          .select(col("month"),
            round((col("pa") - col("pb")) * log(col("pa") / col("pb")), 8).as("term"))
          .groupBy("month")
          .agg(sum(col("term").cast("decimal(27,8)")).cast("double").as("psi"))
          .select(col("month"), round(col("psi"), 6).as("psi"))
          .orderBy("month")
      }),

    // BFS reachability layers (4 rounds) from the highest-degree part of
    // the co-purchase graph — "how much of the catalog is within k hops
    // of the hub". Each round: one join + one min-aggregation,
    // lineage-truncated; the oracle replays identical frontier rounds.
    Q("q183_bfs_layers", Q.sql(s"""
        WITH ${CoPurchase.sql},
        adj AS MATERIALIZED (
          SELECT a AS v, b AS u FROM e UNION ALL SELECT b, a FROM e),
        deg AS (SELECT v, count(*) AS dg FROM adj GROUP BY 1),
        src AS (SELECT v FROM deg ORDER BY dg DESC, v LIMIT 1),
        d0 AS MATERIALIZED (SELECT v, 0 AS dist FROM src),
        ${bfsCtes(BfsRounds)}
        SELECT v, dist FROM d$BfsRounds ORDER BY v"""))(
      (s, dir) => {
        val e = CoPurchase.edgesStaged(s, dir)
        val adj = materialize(
          e.select(col("a").as("v"), col("b").as("u"))
            .unionAll(e.select(col("b"), col("a"))))
        val src = adj.groupBy("v").agg(count(lit(1)).as("dg"))
          .orderBy(col("dg").desc, col("v").asc).limit(1)
        var reach = src.select(col("v"), lit(0).as("dist"))
        for (_ <- 1 to BfsRounds) {
          reach = materialize(
            reach.unionAll(
              adj.join(reach.withColumnRenamed("v", "u"), Seq("u"))
                .select(col("v"), (col("dist") + 1).as("dist")))
              .groupBy("v").agg(min(col("dist")).as("dist")))
        }
        reach.orderBy("v")
      }),

    // Nucleus (top-p) vocabulary coverage per source: the smallest
    // frequency-ranked token prefix covering ≥ 90% of the token mass —
    // the tokenizer-design statistic. Pareto-cumsum over the per-source
    // vocab frame (vocabulary-bounded, never corpus-bounded).
    Q("q184_topp_coverage", Q.sql(s"""
        WITH tok AS (
          SELECT source, unnest(string_split($normSql, ' ')) AS w
          FROM documents),
        freq AS (SELECT source, w, count(*) AS f FROM tok GROUP BY 1, 2),
        cum AS (
          SELECT source, f,
            row_number() OVER w_rank AS rnk,
            CAST(sum(f) OVER (w_rank ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cm,
            CAST(sum(f) OVER (PARTITION BY source) AS BIGINT) AS total,
            count(*) OVER (PARTITION BY source) AS vocab
          FROM freq
          WINDOW w_rank AS (PARTITION BY source ORDER BY f DESC, w))
        SELECT source, max(vocab) AS vocab, max(total) AS total_tokens,
          CAST(min(CASE WHEN CAST(cm AS DOUBLE) >= CAST(total AS DOUBLE) * CAST(0.9 AS DOUBLE)
            THEN rnk END) AS BIGINT) AS topp_k,
          round(CAST(min(CASE WHEN CAST(cm AS DOUBLE) >= CAST(total AS DOUBLE) * CAST(0.9 AS DOUBLE)
            THEN rnk END) AS DOUBLE) / max(vocab), 6) AS topp_share
        FROM cum GROUP BY 1 ORDER BY 1"""))(
      (s, dir) => {
        val freq = T(s, dir, "documents")
          .select(col("source"), explode(split(
            TextAnalysis.normalizeText(col("text")), " ")).as("w"))
          .groupBy("source", "w").agg(count(lit(1)).as("f"))
        val wRank = Window.partitionBy(col("source"))
          .orderBy(col("f").desc, col("w").asc)
        val wAll = Window.partitionBy(col("source"))
        val cum = freq.select(col("source"), col("f"),
          row_number().over(wRank).cast("long").as("rnk"),
          sum(col("f")).over(wRank.rowsBetween(
            Window.unboundedPreceding, Window.currentRow)).as("cm"),
          sum(col("f")).over(wAll).as("total"),
          count(lit(1)).over(wAll).as("vocab"))
        val covered = col("cm").cast("double") >=
          col("total").cast("double") * lit(0.9).cast("double")
        cum.groupBy("source")
          .agg(max(col("vocab")).as("vocab"),
            max(col("total")).as("total_tokens"),
            min(when(covered, col("rnk"))).as("topp_k"),
            round(min(when(covered, col("rnk"))).cast("double") /
              max(col("vocab")), 6).as("topp_share"))
          .orderBy("source")
      }),

    // Reciprocal-rank fusion of two account rankings (revenue vs order
    // count): RRF = Σ 1/(60+rank) — the rank-merge primitive behind
    // hybrid retrieval (BM25 + dense). Rankings are total orders
    // (tie-break custkey) over the per-customer frame; top-100 fused.
    Q("q185_rrf_fusion", Q.sql("""
        WITH r AS (
          SELECT o_custkey, count(*) AS n_orders,
            CAST(sum(CAST(o_totalprice AS DECIMAL(27,4))) AS DOUBLE) AS rev
          FROM orders GROUP BY 1),
        rk AS (
          SELECT o_custkey, n_orders, rev,
            row_number() OVER (ORDER BY rev DESC, o_custkey) AS r_rev,
            row_number() OVER (ORDER BY n_orders DESC, o_custkey) AS r_cnt
          FROM r),
        sc AS (
          SELECT o_custkey, n_orders, rev, r_rev, r_cnt,
            round(CAST(1 AS DOUBLE) / (60 + r_rev)
              + CAST(1 AS DOUBLE) / (60 + r_cnt), 8) AS rrf
          FROM rk)
        SELECT o_custkey, n_orders, rev, r_rev, r_cnt, rrf, fused_rank
        FROM (
          SELECT *, row_number() OVER (ORDER BY rrf DESC, o_custkey) AS fused_rank
          FROM sc) f
        WHERE fused_rank <= 100 ORDER BY fused_rank"""))(
      (s, dir) => {
        val r = T(s, dir, "orders")
          .groupBy(col("o_custkey"))
          .agg(count(lit(1)).as("n_orders"),
            graft.ops.Relational.dsum(col("o_totalprice"), 4).as("rev"))
        // all three ranks via the distributed prefix (the customer frame
        // is dimension-sized — still too big for one window task)
        import graft.ops.Prefix.runningTotal
        val rk = runningTotal(
          runningTotal(r, Seq(col("rev").desc, col("o_custkey")),
            lit(1L), out = "r_rev"),
          Seq(col("n_orders").desc, col("o_custkey")), lit(1L), out = "r_cnt")
        val sc = rk.withColumn("rrf",
          round(lit(1).cast("double") / (lit(60) + col("r_rev")) +
            lit(1).cast("double") / (lit(60) + col("r_cnt")), 8))
        runningTotal(sc, Seq(col("rrf").desc, col("o_custkey")), lit(1L),
            out = "fused_rank")
          .where(col("fused_rank") <= 100)
          .orderBy("fused_rank")
      }))
}
