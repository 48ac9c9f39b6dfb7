package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables.{load => T}
import graft.functions.{Hashing, PortableSql}
import graft.ops.Relational.dsum
import graft.text.TextAnalysis

/** Round-5 batch 14: TPC-H Q6/Q4 shapes and three ML-feature-pipeline
  * operators — smoothed target encoding, deterministic hash-based
  * negative sampling, and score-calibration bins — each oracle-checked
  * bit-for-bit vs DuckDB.
  */
object FeatureQueries {

  def all: Seq[Q] = Seq(

    // TPC-H Q6 (forecast revenue change): THE pushdown benchmark — a
    // pure scan with three predicates and one decimal aggregation, no
    // join, no shuffle beyond the final merge. All filters reach the
    // parquet reader.
    Q("q191_tpch_q6", Q.sql("""
        SELECT round(CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(27,8))) AS DOUBLE), 6) AS revenue,
          count(*) AS n_rows
        FROM lineitem
        WHERE CAST(l_shipdate AS DATE) >= DATE '1997-01-01'
          AND CAST(l_shipdate AS DATE) < DATE '1998-01-01'
          AND l_discount >= CAST(0.05 AS DOUBLE)
          AND l_discount <= CAST(0.07 AS DOUBLE)
          AND l_quantity < 24"""))(
      (s, dir) =>
        T(s, dir, "lineitem")
          .where(to_date(col("l_shipdate")) >= lit("1997-01-01") &&
            to_date(col("l_shipdate")) < lit("1998-01-01") &&
            col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
            col("l_quantity") < 24)
          .agg(round(dsum(col("l_extendedprice") * col("l_discount"), 8), 6)
            .as("revenue"),
            count(lit(1)).as("n_rows"))),

    // TPC-H Q4 shape (order-priority checking): orders in one quarter
    // with at least one late-shipped line (>30 days after order date —
    // adapted: the fixture has no commit/receipt dates), counted by
    // priority. The EXISTS is a left-semi join — the fact side is never
    // duplicated by multi-line matches.
    Q("q192_tpch_q4", Q.sql("""
        SELECT o_orderpriority, count(*) AS n_orders
        FROM orders
        WHERE CAST(o_orderdate AS DATE) >= DATE '1997-01-01'
          AND CAST(o_orderdate AS DATE) < DATE '1997-04-01'
          AND EXISTS (
            SELECT 1 FROM lineitem
            WHERE l_orderkey = o_orderkey
              AND date_diff('day', CAST(o_orderdate AS DATE),
                    CAST(l_shipdate AS DATE)) > 30)
        GROUP BY 1 ORDER BY 1"""))(
      (s, dir) => {
        val o = T(s, dir, "orders")
          .where(to_date(col("o_orderdate")) >= lit("1997-01-01") &&
            to_date(col("o_orderdate")) < lit("1997-04-01"))
        o.join(T(s, dir, "lineitem"),
            col("l_orderkey") === col("o_orderkey") &&
              datediff(to_date(col("l_shipdate")),
                to_date(col("o_orderdate"))) > 30,
            "left_semi")
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n_orders"))
          .orderBy("o_orderpriority")
      }),

    // Smoothed target encoding of order priority against totalprice:
    // enc = (Σy_cat + m·ȳ)/(n_cat + m), m=20 — the leakage-safe
    // categorical feature for GBDT/linear training. Exact decimal sums;
    // the encoder table is category-bounded, broadcastable at serve
    // time.
    Q("q193_target_encoding", Q.sql("""
        WITH g AS (
          SELECT o_orderpriority AS cat, count(*) AS n_cat,
            CAST(sum(CAST(o_totalprice AS DECIMAL(27,4))) AS DOUBLE) AS s_cat
          FROM orders GROUP BY 1),
        tot AS (
          SELECT CAST(sum(n_cat) AS BIGINT) AS n,
            CAST(sum(CAST(s_cat AS DECIMAL(27,4))) AS DOUBLE) AS g_sum
          FROM g)
        SELECT cat, n_cat,
          round(s_cat / n_cat, 6) AS raw_mean,
          round((s_cat + 20 * (g_sum / n)) / (n_cat + 20), 6) AS smoothed_enc
        FROM g CROSS JOIN tot ORDER BY cat"""))(
      (s, dir) => {
        val g = T(s, dir, "orders")
          .groupBy(col("o_orderpriority").as("cat"))
          .agg(count(lit(1)).as("n_cat"),
            dsum(col("o_totalprice"), 4).as("s_cat"))
        val tot = g.agg(sum(col("n_cat")).as("n"), dsum(col("s_cat"), 4).as("g_sum"))
        g.crossJoin(broadcast(tot))
          .select(col("cat"), col("n_cat"),
            round(col("s_cat") / col("n_cat"), 6).as("raw_mean"),
            round((col("s_cat") + lit(20) * (col("g_sum") / col("n"))) /
              (col("n_cat") + 20), 6).as("smoothed_enc"))
          .orderBy("cat")
      }),

    // Deterministic negative sampling for contrastive training: per
    // purchasing customer, 3 parts they did NOT buy, drawn by seeded
    // 48-bit hash — 8 candidates/customer (LINEAR in customers, never
    // customers×catalog), anti-joined against positives, first-3 by
    // candidate index. Rerunnable: same inputs → same negatives.
    Q("q194_negative_sampling", Q.sql(s"""
        WITH np AS (SELECT count(*) AS n_parts FROM part),
        cust AS (SELECT DISTINCT o_custkey AS c FROM orders),
        pos AS (
          SELECT DISTINCT o_custkey AS c, l_partkey AS p
          FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
        cand AS (
          SELECT c, i,
            ${PortableSql.hexToLong(
              "md5(CAST(c AS VARCHAR) || '#' || CAST(i AS VARCHAR))", 12)} % n_parts AS p
          FROM cust
          CROSS JOIN (SELECT CAST(unnest(range(1, 9)) AS INT) AS i) s
          CROSS JOIN np),
        neg AS (
          SELECT cand.c, cand.p, min(cand.i) AS i FROM cand
          WHERE NOT EXISTS (
            SELECT 1 FROM pos WHERE pos.c = cand.c AND pos.p = cand.p)
          GROUP BY 1, 2),
        pick AS (
          SELECT c, p, i, row_number() OVER (PARTITION BY c ORDER BY i) AS rn
          FROM neg)
        SELECT c AS custkey, p AS neg_partkey, i AS cand_index
        FROM pick WHERE rn <= 3 ORDER BY custkey, cand_index"""))(
      (s, dir) => {
        val np = T(s, dir, "part").agg(count(lit(1)).as("n_parts"))
        val cust = T(s, dir, "orders").select(col("o_custkey").as("c")).distinct()
        val pos = T(s, dir, "orders")
          .join(T(s, dir, "lineitem"), col("l_orderkey") === col("o_orderkey"))
          .select(col("o_custkey").as("c"), col("l_partkey").as("p"))
          .distinct()
        val cand = cust.crossJoin(broadcast(np))
          .select(col("c"), explode(sequence(lit(1), lit(8))).as("i"),
            col("n_parts"))
          .select(col("c"), col("i"),
            (Hashing.hash48(concat(col("c").cast("string"), lit("#"),
              col("i").cast("string"))) % col("n_parts")).as("p"))
        val neg = cand.join(pos, Seq("c", "p"), "left_anti")
          .groupBy("c", "p").agg(min(col("i")).as("i"))
        neg
          .withColumn("rn", row_number()
            .over(Window.partitionBy(col("c")).orderBy(col("i"))))
          .where(col("rn") <= 3)
          .select(col("c").as("custkey"), col("p").as("neg_partkey"),
            col("i").as("cand_index"))
          .orderBy("custkey", "cand_index")
      }),

    // Calibration (reliability) bins for the q32 quality score against
    // the is-English label: per decile bin of the score, observed
    // English rate vs mean score — the eval that tells you whether a
    // learned/heuristic scorer's confidence is honest. Bins are
    // category-bounded; one aggregation pass.
    Q("q195_calibration_bins", Q.sql("""
        WITH scored AS (
          SELECT doc_id, lang,
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
        b AS (
          SELECT least(9, greatest(0, CAST(floor(quality * 10) AS INT))) AS bin,
            quality, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_en
          FROM scored)
        SELECT bin, count(*) AS n,
          round(CAST(sum(CAST(quality AS DECIMAL(27,6))) AS DOUBLE) / count(*), 6) AS mean_quality,
          round(CAST(sum(is_en) AS DOUBLE) / count(*), 6) AS frac_en
        FROM b GROUP BY 1 ORDER BY 1"""))(
      (s, dir) => {
        val scored = T(s, dir, "documents")
          .select(col("lang"),
            TextAnalysis.qualityScore(col("text")).as("quality"))
        val b = scored.select(
          least(lit(9), greatest(lit(0),
            floor(col("quality") * 10).cast("int"))).as("bin"),
          col("quality"),
          when(col("lang") === "en", 1).otherwise(0).as("is_en"))
        b.groupBy("bin")
          .agg(count(lit(1)).as("n"),
            round(sum(col("quality").cast("decimal(27,6)")).cast("double") /
              count(lit(1)), 6).as("mean_quality"),
            round(sum(col("is_en")).cast("double") / count(lit(1)), 6)
              .as("frac_en"))
          .orderBy("bin")
      }),

    // Weight-of-Evidence / Information Value (the credit-scoring
    // feature-screening standard; Siddiqi, "Credit Risk Scorecards"):
    // does account balance separate converters (customers with >= 1
    // order) from non-converters? Fixed-width bands over c_acctbal
    // (shuffle-free binning — no global quantile sort), Laplace +0.5
    // per-band smoothing so empty cells stay finite. WOE_b =
    // ln(good_share_b / bad_share_b) off ROUNDED shares, IV = Σ
    // (gs−bs)·WOE decimal-summed — order-independent. IV bands: <0.02
    // useless, >0.3 strong. At 100 TB: one broadcast-flag join, one
    // 10-row hash agg, two scalar broadcasts.
    Q("q322_woe_iv", Q.sql("""
        WITH buyers AS (SELECT DISTINCT o_custkey AS ck FROM orders),
        f AS (
          SELECT least(9, greatest(0,
              CAST(floor((c_acctbal + 1000.0) / 1100.0) AS INT))) AS band,
            CASE WHEN b.ck IS NULL THEN 0 ELSE 1 END AS good
          FROM customer c LEFT JOIN buyers b ON b.ck = c.c_custkey),
        bb AS (
          SELECT band, CAST(sum(good) AS BIGINT) AS n_good,
            CAST(count(*) - sum(good) AS BIGINT) AS n_bad
          FROM f GROUP BY 1),
        tot AS (
          SELECT CAST(sum(n_good) AS BIGINT) AS tg,
            CAST(sum(n_bad) AS BIGINT) AS tb FROM bb),
        sh AS (
          SELECT band, n_good, n_bad,
            round((CAST(n_good AS DOUBLE) + 0.5)
              / (CAST(tg AS DOUBLE) + 5.0), 9) AS gs,
            round((CAST(n_bad AS DOUBLE) + 0.5)
              / (CAST(tb AS DOUBLE) + 5.0), 9) AS bs
          FROM bb, tot),
        w AS (
          SELECT band, n_good, n_bad, gs, bs,
            round(ln(gs / bs), 9) AS woe
          FROM sh),
        iv AS (
          SELECT round(CAST(sum(CAST(round((gs - bs) * woe, 9)
            AS DECIMAL(18,9))) AS DOUBLE), 6) AS iv FROM w)
        SELECT band, n_good, n_bad, woe,
          round((gs - bs) * woe, 9) AS iv_term, iv.iv
        FROM w, iv ORDER BY band"""))(
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
            when(col("hit").isNull, 0).otherwise(1).as("good"))
        val bb = f.groupBy("band")
          .agg(sum(col("good")).cast("bigint").as("n_good"),
            (count(lit(1)) - sum(col("good"))).cast("bigint").as("n_bad"))
        val tot = bb.agg(sum(col("n_good")).cast("bigint").as("tg"),
          sum(col("n_bad")).cast("bigint").as("tb"))
        val sh = bb.crossJoin(broadcast(tot))
          .select(col("band"), col("n_good"), col("n_bad"),
            round((col("n_good").cast("double") + 0.5)
              / (col("tg").cast("double") + 5.0), 9).as("gs"),
            round((col("n_bad").cast("double") + 0.5)
              / (col("tb").cast("double") + 5.0), 9).as("bs"))
        val w = sh.withColumn("woe", round(log(col("gs") / col("bs")), 9))
        val iv = w.agg(round(sum(round((col("gs") - col("bs")) * col("woe"), 9)
          .cast("decimal(18,9)")).cast("double"), 6).as("iv"))
        w.crossJoin(broadcast(iv))
          .select(col("band"), col("n_good"), col("n_bad"), col("woe"),
            round((col("gs") - col("bs")) * col("woe"), 9).as("iv_term"),
            col("iv"))
          .orderBy("band")
      }))
}
