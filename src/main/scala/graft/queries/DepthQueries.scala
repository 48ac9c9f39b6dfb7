package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables.{load => T}
import graft.ops.Relational.dsum
import graft.queries.Bases.{riskSets, riskSetsSql, survivalObs,
  survivalObsSql}

/** Round-5 batch 9: time-weighted averages, Pareto concentration,
  * mutual information, Kaplan-Meier survival, and binary block-level
  * dedup — each oracle-checked bit-for-bit against DuckDB.
  */
object DepthQueries {

  /** Exact half-up integer division floor((a + d/2) / d) for a ≥ 0,
    * 0 < d < 2^53, in DECIMAL(38,0) arithmetic — engine-portable (the
    * DuckDB twin is `(a + d // 2) // d` on HUGEINT). Avoids the
    * engine-divergent big-double `round(x, 6)` trap (q187/q330): sums of
    * squared integer deviations overflow 2^53, where double rounding is
    * not exactly representable and engines disagree in the last ULP.
    * The division here is exact: (a2 - a2 % d) is divisible by d, so the
    * DECIMAL(38,6) quotient is an integer and the final cast is lossless. */
  private def rdiv(a: Column, d: Column): Column = {
    val dd = d.cast("decimal(38,0)")
    val a2 = (a.cast("decimal(38,0)") +
      (d.cast("double") / 2).cast("long")).cast("decimal(38,0)")
    ((a2 - a2 % dd) / dd).cast("decimal(38,0)")
  }

  private val BlockBytes = 64

  def all: Seq[Q] = Seq(

    // Time-weighted average value per user (TWAP): each observation
    // weighted by its holding duration (µs until the next event).
    // Determinism by integer-exact sums — value in 10^-4 units × exact
    // µs durations, decimal-routed, ONE final division (the
    // ops.TimeSeries/Bootstrap pattern). One window pass + one hash agg.
    Q("q159_twap", Q.sql("""
        WITH seq AS (
          SELECT user_id, value, epoch_us(ts) AS us,
            lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
          FROM events),
        d AS (
          SELECT user_id, CAST(round(value * 10000.0) AS BIGINT) AS m,
            nxt - us AS dur
          FROM seq WHERE nxt IS NOT NULL)
        SELECT user_id,
          count(*) AS n_obs,
          round(CAST(sum(CAST(m * dur AS DECIMAL(38,0))) AS DOUBLE) /
            (CAST(sum(CAST(dur AS DECIMAL(38,0))) AS DOUBLE) * 10000.0), 6) AS twap
        FROM d GROUP BY 1 ORDER BY 1"""))(
      (s, dir) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        val seq = T(s, dir, "events")
          .select(col("user_id"), col("value"),
            unix_micros(col("ts")).as("us"),
            lead(unix_micros(col("ts")), 1).over(w).as("nxt"))
          .where(col("nxt").isNotNull)
          .select(col("user_id"),
            round(col("value") * lit(10000.0), 0).cast("long").as("m"),
            (col("nxt") - col("us")).as("dur"))
        seq.groupBy("user_id")
          .agg(count(lit(1)).as("n_obs"),
            round(sum((col("m") * col("dur")).cast("decimal(38,0)"))
                .cast("double") /
              (sum(col("dur").cast("decimal(38,0)")).cast("double") *
                lit(10000.0)), 6).as("twap"))
          .orderBy("user_id")
      }),

    // Pareto 80/20 concentration: per market segment, how many top
    // customers cover 80% of revenue. Per-customer revenue (one hash
    // agg) → segment-partitioned decimal cumsum → min covering rank.
    // The sequential window runs over customers-per-segment, never raw
    // orders.
    Q("q160_pareto8020", Q.sql("""
        WITH cr AS (
          SELECT c_mktsegment, c_custkey,
            CAST(sum(CAST(o_totalprice AS DECIMAL(27,4))) AS DOUBLE) AS rev
          FROM orders JOIN customer ON o_custkey = c_custkey
          GROUP BY 1, 2),
        cum AS (
          SELECT c_mktsegment, rev,
            row_number() OVER w AS rnk,
            CAST(sum(CAST(rev AS DECIMAL(27,4))) OVER (
              w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS cum_rev,
            CAST(sum(CAST(rev AS DECIMAL(27,4))) OVER (
              PARTITION BY c_mktsegment) AS DOUBLE) AS total
          FROM cr
          WINDOW w AS (PARTITION BY c_mktsegment ORDER BY rev DESC, c_custkey))
        SELECT c_mktsegment, count(*) AS n_customers,
          CAST(min(CASE WHEN cum_rev >= total * 0.8 THEN rnk END) AS BIGINT) AS top_n,
          round(CAST(min(CASE WHEN cum_rev >= total * 0.8 THEN rnk END) AS DOUBLE) / count(*), 6) AS top_share
        FROM cum GROUP BY 1 ORDER BY 1"""))(
      (s, dir) => {
        val cr = T(s, dir, "orders")
          .join(T(s, dir, "customer"),
            col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_mktsegment"), col("c_custkey"))
          .agg(dsum(col("o_totalprice"), 4).as("rev"))
        val w = Window.partitionBy(col("c_mktsegment"))
          .orderBy(col("rev").desc, col("c_custkey"))
        val cum = cr.select(col("c_mktsegment"), col("rev"),
          row_number().over(w).as("rnk"),
          sum(col("rev").cast("decimal(27,4)"))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("double").as("cum_rev"),
          sum(col("rev").cast("decimal(27,4)"))
            .over(Window.partitionBy(col("c_mktsegment")))
            .cast("double").as("total"))
        cum.groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n_customers"),
            min(when(col("cum_rev") >= col("total") * 0.8, col("rnk")))
              .cast("long").as("top_n"),
            round(min(when(col("cum_rev") >= col("total") * 0.8, col("rnk")))
              .cast("double") / count(lit(1)), 6).as("top_share"))
          .orderBy("c_mktsegment")
      }),

    // Mutual information between event type and user-id parity — the
    // information-theoretic sibling of q149's chi-square, over the same
    // category-bounded cells frame. Log ratios of exact integer products
    // rounded at 6, terms decimal-summed.
    Q("q161_mutual_info", Q.sql("""
        WITH o AS (
          SELECT event_type, user_id % 2 AS variant, count(*) AS n
          FROM events GROUP BY 1, 2),
        tot AS (
          SELECT event_type, variant, n,
            CAST(sum(n) OVER (PARTITION BY event_type) AS BIGINT) AS rt,
            CAST(sum(n) OVER (PARTITION BY variant) AS BIGINT) AS ct,
            CAST(sum(n) OVER () AS BIGINT) AS nn
          FROM o),
        terms AS (
          SELECT nn,
            round((CAST(n AS DOUBLE) / nn) *
              round(ln((CAST(n AS DOUBLE) * nn) / (CAST(rt AS DOUBLE) * ct)), 6), 8) AS t
          FROM tot)
        SELECT CAST(max(nn) AS BIGINT) AS n_obs,
          round(CAST(sum(CAST(t AS DECIMAL(27,8))) AS DOUBLE), 6) AS mi_nats
        FROM terms"""))(
      (s, dir) => {
        val o = T(s, dir, "events")
          .groupBy(col("event_type"), (col("user_id") % 2).as("variant"))
          .agg(count(lit(1)).as("n"))
        // grand total via aggregate + broadcast, not `sum OVER ()` (see
        // q149) — no unpartitioned window
        val gt = o.agg(sum(col("n")).as("nn"))
        val tot = o.select(col("n"),
            sum(col("n")).over(Window.partitionBy(col("event_type"))).as("rt"),
            sum(col("n")).over(Window.partitionBy(col("variant"))).as("ct"))
          .crossJoin(broadcast(gt))
        val terms = tot.select(col("nn"),
          round((col("n").cast("double") / col("nn")) *
            round(log((col("n").cast("double") * col("nn")) /
              (col("rt").cast("double") * col("ct"))), 6), 8).as("t"))
        terms.agg(max(col("nn")).as("n_obs"),
          round(dsum(col("t"), 8), 6).as("mi_nats"))
      }),

    // Kaplan-Meier survival: time (days) from signup to first error,
    // censored at the observation end. Risk sets via one cumulative
    // window over the (tiny) event-time frame; the survival product is
    // exp of a decimal-summed log chain. d=n can only happen at the
    // final time (the risk set empties after it) — emitted as exact 0.
    Q("q162_survival", Q.sql(s"""
        $survivalObsSql,
        $riskSetsSql,
        ev AS (
          SELECT t, d_t, n_t,
            CASE WHEN d_t < n_t THEN round(ln(1.0 - CAST(d_t AS DOUBLE) / n_t), 6) ELSE 0.0 END AS lt,
            CASE WHEN d_t = n_t THEN 1 ELSE 0 END AS collapse
          FROM risk WHERE d_t > 0),
        km AS (
          SELECT t, d_t, n_t, collapse,
            CAST(sum(CAST(lt AS DECIMAL(27,6))) OVER (
              ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS cum
          FROM ev)
        SELECT t, n_t AS n_risk, d_t AS n_events,
          CASE WHEN collapse = 1 THEN 0.0 ELSE round(exp(cum), 6) END AS survival
        FROM km ORDER BY t"""))(
      (s, dir) => {
        // materialized: riskSets reads obs twice (total and per-time
        // counts) — one signup/error join
        val obs = graft.ops.Frames.materialize(
          survivalObs(T(s, dir, "events")))
        val (_, risk) = riskSets(obs)
        val evt = risk.where(col("d_t") > 0)
          .select(col("t"), col("d_t"), col("n_t"),
            when(col("d_t") < col("n_t"),
              round(log(lit(1.0) - col("d_t").cast("double") / col("n_t")), 6))
              .otherwise(lit(0.0)).as("lt"),
            when(col("d_t") === col("n_t"), 1).otherwise(0).as("collapse"))
        val km = graft.ops.Prefix.runningTotal(
            evt.withColumn("__lt6", col("lt").cast("decimal(27,6)")),
            Seq(col("t")), col("__lt6"), "__cum")
          .select(col("t"), col("d_t"), col("n_t"), col("collapse"),
            col("__cum").cast("double").as("cum"))
        km.select(col("t"), col("n_t").as("n_risk"), col("d_t").as("n_events"),
            when(col("collapse") === 1, lit(0.0))
              .otherwise(round(exp(col("cum")), 6)).as("survival"))
          .orderBy("t")
      }),

    // Binary block-level dedup (the content-addressable-storage view of
    // opaque payloads, multimodal plumbing without a codec): payloads as
    // BLOBs, fixed 64-byte blocks, per-block md5 ids, cross-corpus
    // shared-block fractions. Shuffle carries (doc, 12-hex block id);
    // the payload bytes never move past the scan stage.
    // Oracle caveat: DuckDB 1.0 has neither BLOB slicing nor md5(BLOB),
    // so the oracle hashes CHARACTER blocks of the text — byte-identical
    // to the Spark side's binary blocks because the fixture corpus is
    // ASCII (strlen = octet count, char slices = byte slices).
    Q("q163_binary_blocks", Q.sql(s"""
        WITH pay AS (SELECT doc_id AS id, text AS b FROM documents),
        blk AS (
          SELECT DISTINCT id,
            substr(md5(substr(b, p * $BlockBytes + 1, $BlockBytes)), 1, 12) AS bh
          FROM pay, LATERAL (
            SELECT unnest(generate_series(0,
              CAST(ceil(strlen(b) / ${BlockBytes.toDouble}) AS INT) - 1)) AS p) t),
        dfx AS (SELECT bh, count(*) AS df FROM blk GROUP BY 1)
        SELECT blk.id AS doc_id, count(*) AS n_blocks,
          CAST(sum(CASE WHEN dfx.df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
          round(CAST(sum(CASE WHEN dfx.df >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS shared_frac
        FROM blk JOIN dfx USING (bh)
        GROUP BY 1 ORDER BY 1"""))(
      (s, dir) => {
        val pay = T(s, dir, "documents")
          .select(col("doc_id").as("id"), col("text").cast("binary").as("b"))
        val blk = pay
          .select(col("id"), col("b"),
            explode(sequence(lit(0),
              ceil(length(col("b")) / lit(BlockBytes.toDouble)).cast("int") - 1))
              .as("p"))
          .select(col("id"),
            substring(md5(expr(s"substring(b, p * $BlockBytes + 1, $BlockBytes)")),
              1, 12).as("bh"))
          .distinct()
        val dfx = blk.groupBy("bh").agg(count(lit(1)).as("df"))
        blk.join(dfx, "bh")
          .groupBy(col("id"))
          .agg(count(lit(1)).as("n_blocks"),
            sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_shared"))
          .select(col("id").as("doc_id"), col("n_blocks"), col("n_shared"),
            round(col("n_shared").cast("double") / col("n_blocks"), 6)
              .as("shared_frac"))
          .orderBy("doc_id")
      }),

    // Rolling 7-day distinct users via HLL sketch MERGE: per-day
    // registers built once (≤ 2^p rows/day), each day's trailing window
    // answered by merging 7 register sets — the sketch-algebra
    // alternative to q118's exact explode (at 100 TB the day registers
    // are stored once and every window/rollup is answered from them,
    // never from the events). Exact counts reported for the error view.
    Q("q164_hll_rolling", {
      val p = 6
      val mi = 1 << p
      val maxRho = 48 - p + 1
      Q.sql(s"""
        WITH ev AS (
          SELECT CAST(ts AS DATE) AS day, user_id,
            ${graft.functions.PortableSql.hexToLong(
              "md5(CAST(user_id AS VARCHAR))", 12)} AS h
          FROM events),
        r AS (
          SELECT day, h % $mi AS bucket,
            max(CASE WHEN CAST(floor(h / $mi) AS BIGINT) = 0 THEN $maxRho
                     ELSE CAST(bit_count((CAST(floor(h / $mi) AS BIGINT) & (-CAST(floor(h / $mi) AS BIGINT))) - 1) AS BIGINT) + 1 END) AS max_rho
          FROM ev GROUP BY 1, 2),
        spine AS (SELECT DISTINCT day FROM r),
        merged AS (
          SELECT s.day, r.bucket, max(r.max_rho) AS max_rho
          FROM spine s JOIN r ON r.day BETWEEN s.day - 6 AND s.day
          GROUP BY 1, 2),
        ${graft.sketch.Hll.oracleEstimatorCtes("hx", "merged", "day", p)},
        exact AS (
          SELECT s.day, count(DISTINCT e.user_id) AS exact_n
          FROM spine s JOIN ev e ON e.day BETWEEN s.day - 6 AND s.day
          GROUP BY 1)
        SELECT hx.day, exact.exact_n, round(est, 6) AS hll_est,
          round(abs(est - exact_n) / exact_n, 6) AS rel_err
        FROM hx JOIN exact ON hx.day = exact.day
        ORDER BY 1""")
    })(
      (s, dir) => {
        import graft.sketch.Hll
        val p = 6
        val ev = graft.ops.Frames.cached(T(s, dir, "events")
          .select(to_date(col("ts")).as("day"), col("user_id")))
        val regs = graft.ops.Frames.cached(
          Hll.registersBy(ev, col("user_id"), Seq("day"), p))
        val spine = regs.select(col("day")).distinct()
        // the spine is calendar-bounded (one row per day) — broadcast it
        // into both trailing-window range joins
        val merged = regs.withColumnRenamed("day", "day_r")
          .join(broadcast(spine),
            col("day_r") >= date_sub(col("day"), 6) &&
              col("day_r") <= col("day"))
          .groupBy(col("day"), col("bucket"))
          .agg(max(col("max_rho")).as("max_rho"))
        val est = Hll.estimateBy(merged, Seq("day"), p)
        val exact = ev.withColumnRenamed("day", "day_e")
          .join(broadcast(spine),
            col("day_e") >= date_sub(col("day"), 6) &&
              col("day_e") <= col("day"))
          .groupBy(col("day"))
          .agg(countDistinct(col("user_id")).as("exact_n"))
        est.join(exact, "day")
          .select(col("day"), col("exact_n"),
            round(col("hll_est"), 6).as("hll_est"),
            round(abs(col("hll_est") - col("exact_n")) / col("exact_n"), 6)
              .as("rel_err"))
          .orderBy("day")
      }),

    // Set-similarity suite over 3-token shingle sets: containment
    // (|A∩B|/|A| — catches quotes/excerpts that Jaccard misses), Dice,
    // and overlap coefficient, for ordered pairs above 50% containment.
    // Same posting-list equi-join scale shape as q35.
    Q("q165_containment", Q.sql(s"""
        WITH w AS (
          SELECT doc_id AS id,
            string_split(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')), ' ') AS ws
          FROM documents),
        shr AS (
          SELECT id, ws[pos] || ' ' || ws[pos+1] || ' ' || ws[pos+2] AS shingle
          FROM w, LATERAL (SELECT unnest(generate_series(1, greatest(len(ws) - 2, 0))) AS pos) t),
        sh AS (
          SELECT DISTINCT id, ${graft.functions.PortableSql.hexToLong("md5(shingle)", 12)} AS shash
          FROM shr),
        cnt AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY 1),
        inter AS (
          SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_inter
          FROM sh a JOIN sh b ON a.shash = b.shash AND a.id <> b.id
          GROUP BY 1, 2)
        SELECT id_a, id_b, n_inter,
          round(CAST(n_inter AS DOUBLE) / ca.n_sh, 6) AS containment,
          round(CAST(2.0 AS DOUBLE) * n_inter / (ca.n_sh + cb.n_sh), 6) AS dice,
          round(CAST(n_inter AS DOUBLE) / least(ca.n_sh, cb.n_sh), 6) AS overlap_coef
        FROM inter
        JOIN cnt ca ON ca.id = id_a
        JOIN cnt cb ON cb.id = id_b
        WHERE CAST(n_inter AS DOUBLE) / ca.n_sh >= 0.5
        ORDER BY 1, 2"""))(
      (s, dir) => {
        import graft.dedup.Dedup
        // staged distinct 3-shingle set (io/Staged, shared with
        // q70/q259/jacc3): the scan-explode-distinct pass is a parquet
        // scan here — the join sides and the count denominator all read
        // the same staged file
        val sh = DedupQueries.stagedShingleSet(s, dir)
        val cnt = Dedup.shingleCounts(sh)
        val inter = sh.toDF("id_a", "shash")
          .join(sh.toDF("id_b", "shash2"),
            col("shash") === col("shash2") && col("id_a") =!= col("id_b"))
          .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_inter"))
        inter
          .join(cnt.toDF("id_a", "n_a"), "id_a")
          .join(cnt.toDF("id_b", "n_b"), "id_b")
          .where(col("n_inter").cast("double") / col("n_a") >= 0.5)
          .select(col("id_a"), col("id_b"), col("n_inter"),
            round(col("n_inter").cast("double") / col("n_a"), 6)
              .as("containment"),
            round(lit(2.0) * col("n_inter") / (col("n_a") + col("n_b")), 6)
              .as("dice"),
            round(col("n_inter").cast("double") /
              least(col("n_a"), col("n_b")), 6).as("overlap_coef"))
          .orderBy("id_a", "id_b")
      }),

    // First-touch attribution (contrast q117's last-touch): the EARLIEST
    // click in the 7 days before each purchase, via a banded range join
    // + min — which acquisition touchpoint gets credit under each model
    // is exactly this pair of queries.
    Q("q166_first_touch", Q.sql("""
        WITH pur AS (
          SELECT event_id AS purchase_id, user_id, epoch_us(ts) AS p_us
          FROM events WHERE event_type = 'purchase'),
        clk AS (
          SELECT event_id AS click_id, user_id, epoch_us(ts) AS c_us
          FROM events WHERE event_type = 'click')
        SELECT purchase_id, pur.user_id AS user_id,
          CAST(min(CASE WHEN c_us >= p_us - 604800000000 AND c_us <= p_us
            THEN c_us END) AS BIGINT) AS first_click_us,
          CAST(count(CASE WHEN c_us >= p_us - 604800000000 AND c_us <= p_us
            THEN 1 END) AS BIGINT) AS n_touches
        FROM pur LEFT JOIN clk ON pur.user_id = clk.user_id
        GROUP BY 1, 2 ORDER BY 1"""))(
      (s, dir) => {
        val ev = T(s, dir, "events")
        val pur = ev.where(col("event_type") === "purchase")
          .select(col("event_id").as("purchase_id"),
            col("user_id"), unix_micros(col("ts")).as("p_us"))
        val clk = ev.where(col("event_type") === "click")
          .select(col("user_id").as("cu"), unix_micros(col("ts")).as("c_us"))
        val win = col("c_us") >= col("p_us") - lit(604800000000L) &&
          col("c_us") <= col("p_us")
        pur.join(clk, col("user_id") === col("cu"), "left")
          .groupBy(col("purchase_id"), col("user_id"))
          .agg(min(when(win, col("c_us"))).as("first_click_us"),
            count(when(win, lit(1))).as("n_touches"))
          .orderBy("purchase_id")
      }),

    // Top-k-per-group over a join (Relational.topKPerGroup): the custom
    // Catalyst logical node + planner strategy + physical operator —
    // size-k bounded heaps after ONE hash shuffle, no full per-group
    // sort, no window buffering (see plans/TopKPerGroup.scala). Same
    // semantics as the window form; the oracle is the window SQL.
    Q("q167_native_topk", Q.sql("""
        SELECT c_mktsegment, o_orderkey, o_totalprice, rank FROM (
          SELECT c_mktsegment, o_orderkey, o_totalprice,
            CAST(row_number() OVER (PARTITION BY c_mktsegment
              ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rank
          FROM orders JOIN customer ON o_custkey = c_custkey) t
        WHERE rank <= 5 ORDER BY c_mktsegment, rank"""))(
      (s, dir) => {
        val joined = T(s, dir, "orders")
          .join(T(s, dir, "customer"),
            col("o_custkey") === col("c_custkey"))
          .select("c_mktsegment", "o_orderkey", "o_totalprice")
        graft.ops.Relational.topKPerGroup(joined, Seq(col("c_mktsegment")),
            Seq(col("o_totalprice").desc, col("o_orderkey")), k = 5)
          .orderBy("c_mktsegment", "rank")
      }),

    // Z-ORDER OPTIMIZE end-to-end under the oracle gate (previously
    // spec-only): lineitem converted to a versioned table, re-clustered
    // on the Morton key of (l_partkey, l_suppkey), read back through a
    // two-column predicate — clustering must never change results, only
    // file-level locality (row-group min/max skipping on BOTH columns;
    // the skipping itself is plan-asserted in ZOrderSpec).
    Q("q169_zorder_roundtrip", Q.sql("""
        SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity
        FROM lineitem
        WHERE l_partkey < 100 AND l_suppkey < 50
        ORDER BY l_orderkey, l_linenumber"""))(
      (s, dir) => {
        import graft.versioned.VersionedTable
        val cols = Seq("l_orderkey", "l_linenumber", "l_partkey",
          "l_suppkey", "l_quantity")
        val root = graft.io.Lake.scratch(s, "zorder", dir)
        val t = VersionedTable.create(s, root,
          T(s, dir, "lineitem").select(cols.map(col): _*))
        t.zorder(numFiles = 8, cols = Seq("l_partkey", "l_suppkey"))
        t.toDF
          .where(col("l_partkey") < 100 && col("l_suppkey") < 50)
          .orderBy("l_orderkey", "l_linenumber")
      }),

    // Catalog DDL round-trip under the oracle gate (previously
    // spec-only): CREATE DATABASE, saveAsTable into it, read back via
    // the catalog identifier — the metastore path a serving layer uses.
    Q("q170_catalog_roundtrip", Q.sql("""
        SELECT n_nationkey, n_name, n_regionkey
        FROM nation ORDER BY n_nationkey"""))(
      (s, dir) => {
        // idempotent across JVMs: a fresh metastore forgets the managed
        // table while its warehouse location survives on disk, and the
        // next saveAsTable dies with LOCATION_ALREADY_EXISTS — drop the
        // catalog entry AND the orphan location before re-creating
        graft.io.Catalog.dropDatabase(s, "graft_q170")
        graft.io.Lake.rm(graft.io.Lake.conf(s),
          s"${s.conf.get("spark.sql.warehouse.dir")}/graft_q170.db")
        graft.io.Catalog.createDatabase(s, "graft_q170")
        T(s, dir, "nation")
          .select("n_nationkey", "n_name", "n_regionkey")
          .write.mode("overwrite").format("parquet")
          .saveAsTable("graft_q170.nation_rt")
        s.table("graft_q170.nation_rt")
          .orderBy("n_nationkey")
      }),

    // Kruskal-Wallis rank test (Kruskal & Wallis JASA'52) — the
    // nonparametric ANOVA: do the five nations inside each region draw
    // customer balances from the same distribution? Ranks come from the
    // VALUE-DOMAIN side, not a data-sized sort: balances quantize to
    // integer cents (≤1.1M distinct values however many customers
    // exist), so midranks are derived from per-(region,cents) counts —
    // two hash aggs plus ONE cumulative window over the domain-bounded
    // distinct-value frame per region. 2×midrank stays integer, group
    // rank sums stay DECIMAL-exact, and the per-group R²/n terms are
    // rounded at 6dp then DECIMAL-summed so the only doubles are one
    // fixed-order final expression (H, tie-corrected H/C).
    Q("q329_kruskal_wallis", Q.sql("""
        WITH cust AS (
          SELECT n_regionkey AS rk, c_nationkey AS nk,
            CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS cents
          FROM customer JOIN nation ON n_nationkey = c_nationkey),
        cells AS (
          SELECT rk, nk, cents, count(*) AS cnt FROM cust GROUP BY 1, 2, 3),
        vals AS (
          SELECT rk, cents, CAST(sum(cnt) AS BIGINT) AS vcnt
          FROM cells GROUP BY 1, 2),
        m2 AS (
          SELECT rk, cents, vcnt,
            2 * (sum(vcnt) OVER (PARTITION BY rk ORDER BY cents) - vcnt)
              + vcnt + 1 AS mr2
          FROM vals),
        grp AS (
          SELECT c.rk, c.nk, CAST(sum(c.cnt) AS BIGINT) AS n_g,
            CAST(sum(CAST(c.cnt AS DECIMAL(38,0)) * m.mr2) AS DECIMAL(38,0))
              AS s2_g
          FROM cells c JOIN m2 m ON m.rk = c.rk AND m.cents = c.cents
          GROUP BY 1, 2),
        terms AS (
          SELECT rk, nk, n_g,
            (CAST(s2_g AS HUGEINT) * s2_g * 250000 + n_g // 2) // n_g AS r2nm
          FROM grp),
        ties AS (
          SELECT rk,
            CAST(sum(CAST(vcnt AS DECIMAL(38,0)) * vcnt * vcnt - vcnt)
              AS DECIMAL(38,0)) AS t3
          FROM vals GROUP BY 1),
        reg AS (
          SELECT t.rk, CAST(sum(t.n_g) AS BIGINT) AS n, count(*) AS k,
            CAST(sum(t.r2nm) AS HUGEINT) AS sr2nm
          FROM terms t GROUP BY 1)
        SELECT r.rk AS region, r.n, r.k,
          round(CAST(12 AS DOUBLE) / (CAST(r.n AS DOUBLE) * CAST(r.n + 1 AS DOUBLE))
            * (CAST(r.sr2nm AS DOUBLE) / 1000000.0)
            - 3 * CAST(r.n + 1 AS DOUBLE), 6) AS h,
          round((CAST(12 AS DOUBLE) / (CAST(r.n AS DOUBLE) * CAST(r.n + 1 AS DOUBLE))
            * (CAST(r.sr2nm AS DOUBLE) / 1000000.0)
            - 3 * CAST(r.n + 1 AS DOUBLE))
            / (1 - CAST(ti.t3 AS DOUBLE)
              / (CAST(r.n AS DOUBLE) * CAST(r.n AS DOUBLE) * CAST(r.n AS DOUBLE)
                - CAST(r.n AS DOUBLE))), 6) AS h_adj
        FROM reg r JOIN ties ti ON ti.rk = r.rk
        ORDER BY region"""))(
      (s, dir) => {
        val cust = T(s, dir, "customer")
          .join(broadcast(T(s, dir, "nation")
            .select(col("n_nationkey"), col("n_regionkey").as("rk"))),
            col("n_nationkey") === col("c_nationkey"))
          .select(col("rk"), col("c_nationkey").as("nk"),
            floor(col("c_acctbal") * 100 + 0.5).cast("long").as("cents"))
        val cells = cust.groupBy("rk", "nk", "cents")
          .agg(count(lit(1)).as("cnt"))
        val vals = cells.groupBy("rk", "cents")
          .agg(sum(col("cnt")).as("vcnt"))
        val wCum = Window.partitionBy("rk").orderBy("cents")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val m2 = vals.select(col("rk"), col("cents"), col("vcnt"),
          (lit(2) * (sum(col("vcnt")).over(wCum) - col("vcnt"))
            + col("vcnt") + 1).as("mr2"))
        val grp = cells
          .join(m2.select(col("rk"), col("cents"), col("mr2")),
            Seq("rk", "cents"))
          .groupBy("rk", "nk")
          .agg(sum(col("cnt")).as("n_g"),
            sum(col("cnt").cast("decimal(38,0)") * col("mr2"))
              .cast("decimal(38,0)").as("s2_g"))
        // (s2/2)²/n in exact quarter-micro integers via rdiv (×250000 =
        // ×10⁶/4): s2² crosses 2^53 above sf0.01, where the former
        // big-double round(…, 6) becomes engine-divergent (q330's bug).
        val terms = grp.select(col("rk"), col("nk"), col("n_g"),
          rdiv(col("s2_g") * col("s2_g") * lit(250000L), col("n_g"))
            .as("r2nm"))
        val ties = vals.groupBy("rk")
          .agg(sum(col("vcnt").cast("decimal(38,0)") * col("vcnt") * col("vcnt")
            - col("vcnt")).cast("decimal(38,0)").as("t3"))
        val reg = terms.groupBy("rk")
          .agg(sum(col("n_g")).as("n"), count(lit(1)).as("k"),
            sum(col("r2nm")).cast("decimal(38,0)").as("sr2nm"))
        val nD = col("n").cast("double")
        val hExpr = lit(12.0) / (nD * (col("n") + 1).cast("double")) *
          (col("sr2nm").cast("double") / lit(1000000.0)) -
          lit(3) * (col("n") + 1).cast("double")
        reg.join(ties, "rk")
          .select(col("rk").as("region"), col("n"), col("k"),
            round(hExpr, 6).as("h"),
            round(hExpr / (lit(1) - col("t3").cast("double")
              / (nD * nD * nD - nD)), 6).as("h_adj"))
          .orderBy("region")
      }),

    // Brown-Forsythe test (Brown & Forsythe JASA'74) — Levene's
    // homogeneity-of-variance check with the robust median center: are
    // balance SPREADS equal across each region's nations? (q329 asks
    // about location; this is the variance twin that guards the ANOVA
    // assumption.) Per-nation medians come from the same domain-bounded
    // distinct-cents frame (2×median = low+high order statistic, exact
    // integers), deviations |2x − med2| stay integer, and the one-way F
    // on deviations uses the computational identity SSB = Σ S²/n − T²/N
    // with DECIMAL-exact sums — doubles only in the fixed-order final F.
    Q("q330_brown_forsythe", Q.sql("""
        WITH cust AS (
          SELECT n_regionkey AS rk, c_nationkey AS nk,
            CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS cents
          FROM customer JOIN nation ON n_nationkey = c_nationkey),
        nvals AS (
          SELECT rk, nk, cents, count(*) AS cnt FROM cust GROUP BY 1, 2, 3),
        ncum AS (
          SELECT rk, nk, cents, cnt,
            sum(cnt) OVER (PARTITION BY nk ORDER BY cents) AS cum,
            CAST(sum(cnt) OVER (PARTITION BY nk) AS BIGINT) AS n_g
          FROM nvals),
        med AS (
          SELECT rk, nk,
            min(CASE WHEN cum >= (n_g + 1) // 2 THEN cents END)
              + min(CASE WHEN cum >= (n_g + 2) // 2 THEN cents END) AS med2
          FROM ncum GROUP BY 1, 2),
        dev AS (
          SELECT c.rk, c.nk, abs(2 * c.cents - m.med2) AS z
          FROM cust c JOIN med m ON m.nk = c.nk),
        grp AS (
          SELECT rk, nk, CAST(count(*) AS HUGEINT) AS n_g,
            CAST(sum(CAST(z AS HUGEINT)) AS HUGEINT) AS s_g,
            CAST(sum(CAST(z AS HUGEINT) * z) AS HUGEINT) AS q_g
          FROM dev GROUP BY 1, 2),
        terms AS (
          SELECT rk, nk, n_g, s_g, q_g,
            (s_g * s_g * 1000000 + n_g // 2) // n_g AS s2nm
          FROM grp),
        reg AS (
          SELECT rk, CAST(sum(n_g) AS HUGEINT) AS n,
            CAST(count(*) AS HUGEINT) AS k,
            CAST(sum(s_g) AS HUGEINT) AS t,
            CAST(sum(q_g) AS HUGEINT) AS q,
            CAST(sum(s2nm) AS HUGEINT) AS s2nm
          FROM terms GROUP BY 1),
        fin AS (
          SELECT rk, n, k,
            (s2nm - ((t * t * 1000000 + n // 2) // n)
              + (k - 1) // 2) // (k - 1) AS msbm,
            (q * 1000000 - s2nm + (n - k) // 2) // (n - k) AS mswm
          FROM reg)
        SELECT rk AS region, CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS k,
          CAST(msbm AS BIGINT) AS msb_micro, CAST(mswm AS BIGINT) AS msw_micro,
          round(CAST(msbm AS DOUBLE) / CAST(mswm AS DOUBLE), 6) AS f
        FROM fin ORDER BY region"""))(
      (s, dir) => {
        val cust = T(s, dir, "customer")
          .join(broadcast(T(s, dir, "nation")
            .select(col("n_nationkey"), col("n_regionkey").as("rk"))),
            col("n_nationkey") === col("c_nationkey"))
          .select(col("rk"), col("c_nationkey").as("nk"),
            floor(col("c_acctbal") * 100 + 0.5).cast("long").as("cents"))
        val nvals = cust.groupBy("rk", "nk", "cents")
          .agg(count(lit(1)).as("cnt"))
        val wCum = Window.partitionBy("nk").orderBy("cents")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wAll = Window.partitionBy("nk")
        val ncum = nvals.select(col("rk"), col("nk"), col("cents"), col("cnt"),
          sum(col("cnt")).over(wCum).as("cum"),
          sum(col("cnt")).over(wAll).cast("long").as("n_g"))
        val med = ncum.groupBy("rk", "nk")
          .agg((min(when(col("cum") >= floor((col("n_g") + 1) / 2), col("cents")))
            + min(when(col("cum") >= floor((col("n_g") + 2) / 2), col("cents"))))
            .as("med2"))
        val dev = cust
          .join(broadcast(med.select(col("nk"), col("med2"))), Seq("nk"))
          .select(col("rk"), col("nk"),
            abs(lit(2) * col("cents") - col("med2")).as("z"))
        val grp = dev.groupBy("rk", "nk")
          .agg(count(lit(1)).as("n_g"),
            sum(col("z").cast("decimal(38,0)")).cast("decimal(38,0)").as("s_g"),
            sum(col("z").cast("decimal(38,0)") * col("z"))
              .cast("decimal(38,0)").as("q_g"))
        // s²/n in exact micro-cent² integers (rdiv), never a big-double
        // round: s_g² ≈ 1e17+ exceeds 2^53 where round(x, 6) diverges
        // between engines (this exact query failed its oracle by 3.9e-3
        // in round 8 with the double path).
        val terms = grp.select(col("rk"), col("nk"), col("n_g"), col("s_g"),
          col("q_g"),
          rdiv(col("s_g") * col("s_g") * lit(1000000L), col("n_g")).as("s2nm"))
        val reg = terms.groupBy("rk")
          .agg(sum(col("n_g")).as("n"), count(lit(1)).as("k"),
            sum(col("s_g")).cast("decimal(38,0)").as("t"),
            sum(col("q_g")).cast("decimal(38,0)").as("q"),
            sum(col("s2nm")).cast("decimal(38,0)").as("s2nm"))
        val t2nm = rdiv(col("t") * col("t") * lit(1000000L), col("n"))
        val msbm = rdiv(col("s2nm") - t2nm, col("k") - 1)
        val mswm = rdiv(col("q") * lit(1000000L) - col("s2nm"),
          col("n") - col("k"))
        // Micro-unit BIGINTs (not DECIMAL(38,6)) on the wire: the driver's
        // stringify-hash renders Spark decimal128 differently from DuckDB
        // wide decimals (→float64 in pandas), so keep the exact integers.
        // F is derived from the SAME int64 operands on both sides —
        // int64→double is a single correctly-rounded IEEE conversion in
        // both engines, unlike DECIMAL(38,6)→DOUBLE which double-rounds
        // in DuckDB ((double)int128 / (double)10^scale).
        reg.select(col("rk").as("region"), col("n"), col("k"),
            msbm.cast("long").as("msb_micro"), mswm.cast("long").as("msw_micro"),
            round(msbm.cast("double") / mswm.cast("double"), 6).as("f"))
          .orderBy("region")
      })
  )
}
