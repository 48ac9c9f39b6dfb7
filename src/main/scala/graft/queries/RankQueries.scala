package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables.{load => T}
import graft.ops.Relational.dsum
import graft.ops.Stats

/** Round-5 batch 16: rank-based statistics — Spearman ρ, Kendall τ-b,
  * and ROC-AUC via the midrank/U-statistic identity — each
  * oracle-checked bit-for-bit vs DuckDB.
  *
  * Midranks (average position within a tie group) are exact half-integer
  * rationals: row_number positions are integers and the tie-group mean
  * is an exact small-denominator division, so both engines compute the
  * identical doubles and every downstream moment stays decimal-exact.
  */
object RankQueries {

  /** Midrank = avg(position) within each tie group of `v`; positions
    * come from the distributed prefix (see q203/q205), the averaging
    * window partitions by the tie value. This DuckDB fragment replays
    * the per-value mean over `rn_<v>` positions.
    */
  private def midrankSql(v: String, tie: String): String =
    s"avg(rn_$v) OVER (PARTITION BY $v)"

  def all: Seq[Q] = Seq(

    // Spearman rank correlation between daily revenue and daily order
    // count: midrank both axes (count ties are real), then the shared
    // decimal-moments Pearson machinery on the ranks. Rank windows run
    // over the DAY frame, never raw facts.
    Q("q203_spearman", Q.sql(s"""
        WITH daily AS (
          SELECT CAST(o_orderdate AS DATE) AS day, count(*) AS n_orders,
            CAST(sum(CAST(o_totalprice AS DECIMAL(27,4))) AS DOUBLE) AS rev
          FROM orders GROUP BY 1),
        pos AS (
          SELECT day, rev, n_orders,
            row_number() OVER (ORDER BY rev, day) AS rn_rev,
            row_number() OVER (ORDER BY n_orders, day) AS rn_n_orders
          FROM daily),
        rk AS (
          SELECT day,
            ${midrankSql("rev", "day")} AS rx,
            ${midrankSql("n_orders", "day")} AS ry
          FROM pos),
        m AS (${Stats.oracleMomentsCte("rk", Seq("'all' AS g"), "rx", "ry")})
        SELECT g, ${Stats.oracleSelect}
        FROM m ORDER BY 1"""))(
      (s, dir) => {
        val daily = T(s, dir, "orders")
          .groupBy(to_date(col("o_orderdate")).as("day"))
          .agg(count(lit(1)).as("n_orders"),
            dsum(col("o_totalprice"), 4).as("rev"))
        // global positions via the distributed prefix (one pass per
        // axis); the midrank averaging windows partition by the tie
        // value — no unpartitioned window (the q205 pattern)
        import graft.ops.Prefix.runningTotal
        val pos = runningTotal(
          runningTotal(daily, Seq(col("rev"), col("day")), lit(1L), "__rn_rev"),
          Seq(col("n_orders"), col("day")), lit(1L), "__rn_n")
        val rk = pos.select(col("day"),
          avg(col("__rn_rev")).over(Window.partitionBy(col("rev"))).as("rx"),
          avg(col("__rn_n")).over(Window.partitionBy(col("n_orders"))).as("ry"))
        Stats.corrRegr(rk, Seq(lit("all").as("g")), col("rx"), col("ry"))
          .orderBy("g")
      }),

    // Kendall τ-b between monthly revenue and monthly order count:
    // concordant/discordant/tie counts over month pairs (calendar-
    // bounded quadratic — ~80 months → ~3.2k pairs), tie-corrected
    // denominator in one double expression on exact integers.
    Q("q204_kendall_tau", Q.sql("""
        WITH m AS (
          SELECT year(CAST(o_orderdate AS DATE)) * 12 + month(CAST(o_orderdate AS DATE)) AS mser,
            count(*) AS n_orders,
            CAST(sum(CAST(o_totalprice AS DECIMAL(27,4))) AS DOUBLE) AS rev
          FROM orders GROUP BY 1),
        pairs AS (
          SELECT
            CASE WHEN a.rev < b.rev THEN -1 WHEN a.rev > b.rev THEN 1 ELSE 0 END *
            CASE WHEN a.n_orders < b.n_orders THEN -1 WHEN a.n_orders > b.n_orders THEN 1 ELSE 0 END AS s,
            CASE WHEN a.rev = b.rev THEN 1 ELSE 0 END AS tie_x,
            CASE WHEN a.n_orders = b.n_orders THEN 1 ELSE 0 END AS tie_y
          FROM m a JOIN m b ON a.mser < b.mser),
        c AS (
          SELECT count(*) AS n0,
            CAST(sum(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT) AS conc,
            CAST(sum(CASE WHEN s = -1 THEN 1 ELSE 0 END) AS BIGINT) AS disc,
            CAST(sum(tie_x) AS BIGINT) AS n1,
            CAST(sum(tie_y) AS BIGINT) AS n2
          FROM pairs)
        SELECT n0, conc, disc, n1, n2,
          round((CAST(conc AS DOUBLE) - disc) /
            (sqrt(CAST(n0 - n1 AS DOUBLE)) * sqrt(CAST(n0 - n2 AS DOUBLE))), 6) AS tau_b
        FROM c"""))(
      (s, dir) => {
        val d = to_date(col("o_orderdate"))
        val m = T(s, dir, "orders")
          .groupBy((year(d) * 12 + month(d)).as("mser"))
          .agg(count(lit(1)).as("n_orders"),
            dsum(col("o_totalprice"), 4).as("rev"))
        val a = m.select(col("mser").as("ma"), col("rev").as("xa"),
          col("n_orders").as("ya"))
        val b = m.select(col("mser").as("mb"), col("rev").as("xb"),
          col("n_orders").as("yb"))
        // month pairs: both sides calendar-bounded (~80 rows) — broadcast
        val pairs = a.join(broadcast(b), col("ma") < col("mb"))
          .select(
            (when(col("xa") < col("xb"), -1).when(col("xa") > col("xb"), 1)
              .otherwise(0) *
              when(col("ya") < col("yb"), -1).when(col("ya") > col("yb"), 1)
                .otherwise(0)).as("s"),
            when(col("xa") === col("xb"), 1).otherwise(0).as("tie_x"),
            when(col("ya") === col("yb"), 1).otherwise(0).as("tie_y"))
        val c = pairs.agg(count(lit(1)).as("n0"),
          sum(when(col("s") === 1, 1).otherwise(0)).as("conc"),
          sum(when(col("s") === -1, 1).otherwise(0)).as("disc"),
          sum(col("tie_x")).as("n1"),
          sum(col("tie_y")).as("n2"))
        c.select(col("n0"), col("conc"), col("disc"), col("n1"), col("n2"),
          round((col("conc").cast("double") - col("disc")) /
            (sqrt((col("n0") - col("n1")).cast("double")) *
              sqrt((col("n0") - col("n2")).cast("double"))), 6).as("tau_b"))
      }),

    // ROC-AUC of the q32 quality score as an is-English classifier, via
    // the Mann-Whitney U / midrank identity: AUC = (Σ midranks₊ −
    // n₊(n₊+1)/2)/(n₊·n₋) — exact half-integer midranks handle score
    // ties; no threshold sweep, one rank window over the doc frame.
    Q("q205_roc_auc", Q.sql("""
        WITH scored AS (
          SELECT doc_id,
            CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos,
            round(least(n_tokens / 100.0, 1.0) * 0.4
              + (alpha / n_chr) * 0.4
              + (1.0 - least(symbols * 5.0 / n_chr, 1.0)) * 0.2, 6) AS quality
          FROM (
            SELECT doc_id, lang,
              CAST(len(string_split_regex(trim(text), '\s+')) AS INT) AS n_tokens,
              CAST(length(text) AS DOUBLE) AS n_chr,
              CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) AS alpha,
              CAST(length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) AS DOUBLE) AS symbols
            FROM documents) t),
        pos_rn AS (
          SELECT pos, quality,
            row_number() OVER (ORDER BY quality, doc_id) AS rn
          FROM scored),
        rk AS (
          SELECT pos, avg(rn) OVER (PARTITION BY quality) AS midrank
          FROM pos_rn),
        agg AS (
          SELECT
            CAST(sum(pos) AS BIGINT) AS n_pos,
            CAST(sum(1 - pos) AS BIGINT) AS n_neg,
            CAST(sum(CAST(CASE WHEN pos = 1 THEN midrank ELSE 0 END AS DECIMAL(27,1))) AS DOUBLE) AS rank_sum_pos
          FROM rk)
        SELECT n_pos, n_neg,
          round((rank_sum_pos - CAST(n_pos AS DOUBLE) * (n_pos + 1) / 2) /
            (CAST(n_pos AS DOUBLE) * n_neg), 6) AS auc
        FROM agg"""))(
      (s, dir) => {
        import graft.text.TextAnalysis
        val scored = T(s, dir, "documents")
          .select(col("doc_id"),
            when(col("lang") === "en", 1).otherwise(0).as("pos"),
            TextAnalysis.qualityScore(col("text")).as("quality"))
        // global positions via the distributed prefix; the midrank
        // window partitions by the tie value (tie-group-bounded)
        val rk = graft.ops.Prefix.runningTotal(scored,
            Seq(col("quality"), col("doc_id")), lit(1L), out = "rn")
          .select(col("pos"),
            avg(col("rn")).over(Window.partitionBy(col("quality")))
              .as("midrank"))
        val agg = rk.agg(
          sum(col("pos")).as("n_pos"),
          sum(lit(1) - col("pos")).as("n_neg"),
          sum(when(col("pos") === 1, col("midrank")).otherwise(lit(0))
            .cast("decimal(27,1)")).cast("double").as("rank_sum_pos"))
        agg.select(col("n_pos"), col("n_neg"),
          round((col("rank_sum_pos") -
            col("n_pos").cast("double") * (col("n_pos") + 1) / 2) /
            (col("n_pos").cast("double") * col("n_neg")), 6).as("auc"))
      }),

    // Average precision (the PR-curve summary, q205's ROC companion —
    // AP weights errors by rank, the metric retrieval/filtering actually
    // optimizes): rank docs by quality DESC, AP = mean over positives of
    // precision@its-rank. Both cumulative counts (rank k AND running
    // true positives) come from ONE distributed-prefix pass
    // (Prefix.runningTotals — no unpartitioned window); per-positive
    // terms tp/k are 9-dp rounded then DECIMAL-summed, one final
    // division. Ties broken by doc_id (a concrete ranking, stated).
    Q("q303_average_precision", Q.sql("""
        WITH scored AS (
          SELECT doc_id,
            CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos,
            round(least(n_tokens / 100.0, 1.0) * 0.4
              + (alpha / n_chr) * 0.4
              + (1.0 - least(symbols * 5.0 / n_chr, 1.0)) * 0.2, 6) AS quality
          FROM (
            SELECT doc_id, lang,
              CAST(len(string_split_regex(trim(text), '\s+')) AS INT) AS n_tokens,
              CAST(length(text) AS DOUBLE) AS n_chr,
              CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) AS alpha,
              CAST(length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) AS DOUBLE) AS symbols
            FROM documents) t),
        r AS (
          SELECT pos,
            row_number() OVER (ORDER BY quality * -1, doc_id) AS k,
            sum(pos) OVER (ORDER BY quality * -1, doc_id
              ROWS UNBOUNDED PRECEDING) AS tp
          FROM scored),
        terms AS (
          SELECT CAST(round(tp * 1.0 / k, 9) AS DECIMAL(27,9)) AS term
          FROM r WHERE pos = 1),
        np AS (
          SELECT CAST(sum(pos) AS BIGINT) AS n_pos,
            CAST(count(*) AS BIGINT) AS n
          FROM scored)
        SELECT n_pos, n,
          round(CAST((SELECT sum(term) FROM terms) AS DOUBLE) / n_pos, 6)
            AS avg_precision
        FROM np"""))(
      (s, dir) => {
        import graft.text.TextAnalysis
        val scored = T(s, dir, "documents")
          .select(col("doc_id"),
            when(col("lang") === "en", 1).otherwise(0).as("pos"),
            TextAnalysis.qualityScore(col("text")).as("quality"))
        val r = graft.ops.Prefix.runningTotals(scored,
          Seq(col("quality") * -1, col("doc_id")),
          Seq((lit(1L), "k"), (col("pos").cast("long"), "tp")))
        val termSum = r.where(col("pos") === 1)
          .select(round(col("tp") * 1.0 / col("k"), 9)
            .cast("decimal(27,9)").as("term"))
          .agg(sum(col("term")).as("s"))
        val np = scored.agg(sum(col("pos")).cast("long").as("n_pos"),
          count(lit(1)).as("n"))
        np.crossJoin(broadcast(termSum))
          .select(col("n_pos"), col("n"),
            round(col("s").cast("double") / col("n_pos"), 6)
              .as("avg_precision"))
      }))
}
