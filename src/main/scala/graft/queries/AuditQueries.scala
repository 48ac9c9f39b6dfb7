package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables.{load => T}
import graft.functions.PortableSql
import graft.ops.Relational.dsum

/** Round-5 batch 15: behavioral/audit statistics — engaged-user set
  * similarity, inter-event burstiness, Markov entropy rate, association
  * rules (support/confidence/lift), and a Benford first-digit audit —
  * each oracle-checked bit-for-bit vs DuckDB.
  */
object AuditQueries {

  def all: Seq[Q] = Seq(

    // Jaccard similarity of ENGAGED-user sets between event types
    // (engaged = above that type's mean events/user, so the sets stay
    // scale-adaptive and non-degenerate). Set sizes and intersections
    // from two hash aggs + one self-join on user — the audience-overlap
    // matrix.
    Q("q196_type_jaccard", Q.sql("""
        WITH uc AS (
          SELECT event_type AS t, user_id AS u, count(*) AS cnt
          FROM events GROUP BY 1, 2),
        thr AS (
          SELECT t, CAST(sum(cnt) AS BIGINT) // count(*) AS avg_cnt
          FROM uc GROUP BY 1),
        tu AS (
          SELECT uc.t, uc.u FROM uc JOIN thr ON uc.t = thr.t
          WHERE uc.cnt > thr.avg_cnt),
        pair AS (
          SELECT a.t AS t1, b.t AS t2, count(*) AS n_both
          FROM tu a JOIN tu b ON a.u = b.u AND a.t < b.t
          GROUP BY 1, 2),
        sz AS (SELECT t, count(*) AS n FROM tu GROUP BY 1)
        SELECT t1, t2, n_both, sa.n AS n1, sb.n AS n2,
          round(CAST(n_both AS DOUBLE) / (sa.n + sb.n - n_both), 6) AS jaccard
        FROM pair JOIN sz sa ON sa.t = t1 JOIN sz sb ON sb.t = t2
        ORDER BY 1, 2"""))(
      (s, dir) => {
        val uc = T(s, dir, "events")
          .groupBy(col("event_type").as("t"), col("user_id").as("u"))
          .agg(count(lit(1)).as("cnt"))
        val thr = uc.groupBy("t")
          .agg(floor(sum(col("cnt")) / count(lit(1))).cast("long").as("avg_cnt"))
        val tu = uc.join(thr, Seq("t")).where(col("cnt") > col("avg_cnt"))
          .select("t", "u")
        val a = tu.select(col("t").as("t1"), col("u"))
        val b = tu.select(col("t").as("t2"), col("u"))
        val pair = a.join(b, Seq("u")).where(col("t1") < col("t2"))
          .groupBy("t1", "t2").agg(count(lit(1)).as("n_both"))
        val sz = tu.groupBy(col("t")).agg(count(lit(1)).as("n"))
        pair
          .join(broadcast(sz.select(col("t").as("t1"), col("n").as("n1"))), Seq("t1"))
          .join(broadcast(sz.select(col("t").as("t2"), col("n").as("n2"))), Seq("t2"))
          .select(col("t1"), col("t2"), col("n_both"), col("n1"), col("n2"),
            round(col("n_both").cast("double") /
              (col("n1") + col("n2") - col("n_both")), 6).as("jaccard"))
          .orderBy("t1", "t2")
      }),

    // Burstiness B = (σ−μ)/(σ+μ) of inter-event gaps per user (Goh &
    // Barabási): B→1 bursty, B→−1 periodic, ≈0 Poisson. Gaps in exact
    // integer µs from one lead() window; moments decimal(38,0)-summed;
    // σ, μ and B are one fixed double expression per user.
    Q("q197_burstiness", Q.sql("""
        WITH seq AS (
          SELECT user_id, epoch_us(ts) AS us,
            lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
          FROM events),
        gaps AS (
          SELECT user_id, nxt - us AS g FROM seq WHERE nxt IS NOT NULL),
        m AS (
          SELECT user_id, count(*) AS n,
            CAST(sum(g) AS DECIMAL(38,0)) AS s1,
            CAST(sum(CAST(g AS DECIMAL(38,0)) * g) AS DECIMAL(38,0)) AS s2
          FROM gaps GROUP BY 1
          HAVING count(*) >= 3)
        SELECT user_id, n,
          round((sqrt((CAST(n AS DOUBLE) * s2 - CAST(s1 AS DOUBLE) * s1) / (CAST(n AS DOUBLE) * n))
              - CAST(s1 AS DOUBLE) / n)
            / (sqrt((CAST(n AS DOUBLE) * s2 - CAST(s1 AS DOUBLE) * s1) / (CAST(n AS DOUBLE) * n))
              + CAST(s1 AS DOUBLE) / n), 6) AS burstiness
        FROM m ORDER BY user_id"""))(
      (s, dir) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        val gaps = T(s, dir, "events")
          .select(col("user_id"), unix_micros(col("ts")).as("us"),
            lead(unix_micros(col("ts")), 1).over(w).as("nxt"))
          .where(col("nxt").isNotNull)
          .select(col("user_id"), (col("nxt") - col("us")).as("g"))
        val m = gaps.groupBy("user_id")
          .agg(count(lit(1)).as("n"),
            sum(col("g").cast("decimal(38,0)")).as("s1"),
            sum(col("g").cast("decimal(38,0)") * col("g")).as("s2"))
          .where(col("n") >= 3)
        val sigma = sqrt((col("n").cast("double") * col("s2") -
          col("s1").cast("double") * col("s1")) /
          (col("n").cast("double") * col("n")))
        val mu = col("s1").cast("double") / col("n")
        m.select(col("user_id"), col("n"),
            round((sigma - mu) / (sigma + mu), 6).as("burstiness"))
          .orderBy("user_id")
      }),

    // Entropy rate of the event-type Markov chain: H = −Σ_s π_s Σ_t
    // p_st·ln p_st with empirical state distribution π — how predictable
    // the next event is. Transition counts from one lead() window +
    // hash agg (q132's frame); per-cell terms rounded, decimal-summed.
    Q("q198_entropy_rate", Q.sql("""
        WITH seq AS (
          SELECT event_type AS cur_type,
            lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
          FROM events),
        tc AS (
          SELECT cur_type, next_type, count(*) AS n
          FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2),
        tot AS (SELECT CAST(sum(n) AS BIGINT) AS grand FROM tc),
        terms AS (
          SELECT round(
            (CAST(row_tot AS DOUBLE) / grand) *
            ((CAST(n AS DOUBLE) / row_tot) * ln(CAST(n AS DOUBLE) / row_tot)), 8) AS term
          FROM (
            SELECT n, CAST(sum(n) OVER (PARTITION BY cur_type) AS BIGINT) AS row_tot
            FROM tc) r CROSS JOIN tot)
        SELECT round(-CAST(sum(CAST(term AS DECIMAL(27,8))) AS DOUBLE), 6) AS entropy_rate_nats,
          count(*) AS n_cells
        FROM terms"""))(
      (s, dir) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        val tc = T(s, dir, "events")
          .select(col("event_type").as("cur_type"),
            lead(col("event_type"), 1).over(w).as("next_type"))
          .where(col("next_type").isNotNull)
          .groupBy("cur_type", "next_type")
          .agg(count(lit(1)).as("n"))
        val tot = tc.agg(sum(col("n")).as("grand"))
        val r = tc.select(col("n"),
          sum(col("n")).over(Window.partitionBy(col("cur_type"))).as("row_tot"))
        val terms = r.crossJoin(broadcast(tot))
          .select(round(
            (col("row_tot").cast("double") / col("grand")) *
              ((col("n").cast("double") / col("row_tot")) *
                log(col("n").cast("double") / col("row_tot"))), 8).as("term"))
        terms.agg(
          round(-sum(col("term").cast("decimal(27,8)")).cast("double"), 6)
            .as("entropy_rate_nats"),
          count(lit(1)).as("n_cells"))
      }),

    // Association rules over order baskets: support, confidence, and
    // lift for the top-20 part pairs by lift. Pair counts ride the
    // collect_set adjacency build (no fact self-join); per-part basket
    // counts are one distinct agg; the rule table is candidate-bounded.
    Q("q199_lift_rules", Q.sql("""
        WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        nb AS (SELECT CAST(count(DISTINCT o) AS BIGINT) AS n_baskets FROM li),
        pc AS (SELECT p, count(*) AS n_p FROM li GROUP BY 1),
        pair AS (
          SELECT a.p AS pa, b.p AS pb, count(*) AS n_ab
          FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
          GROUP BY 1, 2),
        rules AS (
          SELECT pa, pb, n_ab, ca.n_p AS n_a, cb.n_p AS n_b,
            round(CAST(n_ab AS DOUBLE) / n_baskets, 8) AS support,
            round(CAST(n_ab AS DOUBLE) / ca.n_p, 6) AS confidence,
            round(CAST(n_ab AS DOUBLE) * n_baskets / (CAST(ca.n_p AS DOUBLE) * cb.n_p), 6) AS lift
          FROM pair
          JOIN pc ca ON ca.p = pa JOIN pc cb ON cb.p = pb
          CROSS JOIN nb
          WHERE n_ab >= 3)
        SELECT * FROM (
          SELECT *, row_number() OVER (ORDER BY lift DESC, pa, pb) AS rk
          FROM rules) t
        WHERE rk <= 20 ORDER BY rk"""))(
      (s, dir) => {
        val li = T(s, dir, "lineitem")
          .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
          .distinct()
        val nb = li.agg(countDistinct(col("o")).as("n_baskets"))
        val pc = li.groupBy("p").agg(count(lit(1)).as("n_p"))
        val sets = li.groupBy("o").agg(collect_set(col("p")).as("ps"))
        val prs = flatten(transform(col("ps"), x =>
          transform(filter(col("ps"), y => y > x),
            y => struct(x.as("pa"), y.as("pb")))))
        val pair = sets.select(explode(prs).as("pr"))
          .select(col("pr.pa").as("pa"), col("pr.pb").as("pb"))
          .groupBy("pa", "pb").agg(count(lit(1)).as("n_ab"))
          .where(col("n_ab") >= 3)
        val rules = pair
          .join(broadcast(pc.select(col("p").as("pa"), col("n_p").as("n_a"))), Seq("pa"))
          .join(broadcast(pc.select(col("p").as("pb"), col("n_p").as("n_b"))), Seq("pb"))
          .crossJoin(broadcast(nb))
          .select(col("pa"), col("pb"), col("n_ab"), col("n_a"), col("n_b"),
            round(col("n_ab").cast("double") / col("n_baskets"), 8).as("support"),
            round(col("n_ab").cast("double") / col("n_a"), 6).as("confidence"),
            round(col("n_ab").cast("double") * col("n_baskets") /
              (col("n_a").cast("double") * col("n_b")), 6).as("lift"))
        // shortlist + rank over ONE stated order (rankTop) — no
        // unpartitioned window
        graft.ops.Prefix.rankTop(rules,
            Seq(col("lift").desc, col("pa"), col("pb")), k = 20, out = "rk")
          .orderBy("rk")
      }),

    // Benford first-digit audit of o_totalprice: observed digit shares
    // vs log10(1+1/d) expectation + per-digit chi-square contribution.
    // The digit extraction is branch-by-magnitude (range-known; no
    // engine-divergent log10-of-boundary calls); expected probabilities
    // are rounded-log constants.
    Q("q200_benford", Q.sql("""
        WITH d AS (
          SELECT CASE
            WHEN o_totalprice >= 100000 THEN CAST(floor(o_totalprice / 100000) AS INT)
            WHEN o_totalprice >= 10000 THEN CAST(floor(o_totalprice / 10000) AS INT)
            WHEN o_totalprice >= 1000 THEN CAST(floor(o_totalprice / 1000) AS INT)
            WHEN o_totalprice >= 100 THEN CAST(floor(o_totalprice / 100) AS INT)
            ELSE CAST(floor(o_totalprice / 10) AS INT) END AS digit
          FROM orders),
        o AS (SELECT digit, count(*) AS n_obs FROM d GROUP BY 1),
        tot AS (SELECT CAST(sum(n_obs) AS BIGINT) AS n FROM o),
        e AS (
          SELECT digit, n_obs, n,
            round(ln(1 + CAST(1 AS DOUBLE) / digit) / ln(CAST(10 AS DOUBLE)), 8) AS p_exp
          FROM o CROSS JOIN tot)
        SELECT digit, n_obs,
          round(CAST(n_obs AS DOUBLE) / n, 6) AS share_obs,
          p_exp,
          round((CAST(n_obs AS DOUBLE) - n * p_exp) * (CAST(n_obs AS DOUBLE) - n * p_exp)
            / (n * p_exp), 6) AS chi2_term
        FROM e ORDER BY digit"""))(
      (s, dir) => {
        val x = col("o_totalprice")
        val d = T(s, dir, "orders").select(
          when(x >= 100000, floor(x / 100000))
            .when(x >= 10000, floor(x / 10000))
            .when(x >= 1000, floor(x / 1000))
            .when(x >= 100, floor(x / 100))
            .otherwise(floor(x / 10)).cast("int").as("digit"))
        val o = d.groupBy("digit").agg(count(lit(1)).as("n_obs"))
        val tot = o.agg(sum(col("n_obs")).as("n"))
        val e = o.crossJoin(broadcast(tot))
          .select(col("digit"), col("n_obs"), col("n"),
            round(log(lit(1) + lit(1).cast("double") / col("digit")) /
              log(lit(10).cast("double")), 8).as("p_exp"))
        e.select(col("digit"), col("n_obs"),
            round(col("n_obs").cast("double") / col("n"), 6).as("share_obs"),
            col("p_exp"),
            round((col("n_obs").cast("double") - col("n") * col("p_exp")) *
              (col("n_obs").cast("double") - col("n") * col("p_exp")) /
              (col("n") * col("p_exp")), 6).as("chi2_term"))
          .orderBy("digit")
      }),

    // Late-arrival audit: how many events would a 10-minute streaming
    // watermark drop? An event is late when its event time sits more
    // than the delay behind the high-watermark (the running max of
    // event time in ARRIVAL order = event_id) — the measurement that
    // sizes every watermark in streaming/Streams. The running max is
    // the three-phase distributed prefix (Prefix.runningMax), never an
    // unpartitioned window; integer-µs arithmetic throughout.
    Q("q277_late_arrival_audit", Q.sql("""
        WITH e AS (
          SELECT event_id, event_type, epoch_us(ts) AS us FROM events),
        h AS (
          SELECT event_type, us,
            max(us) OVER (ORDER BY event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hwm
          FROM e)
        SELECT event_type, count(*) AS n_events,
          CAST(sum(CASE WHEN us < hwm - 600000000 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_late,
          round(sum(CASE WHEN us < hwm - 600000000 THEN 1 ELSE 0 END)
            * 1.0 / count(*), 6) AS late_pct
        FROM h GROUP BY 1 ORDER BY 1"""))(
      (s, dir) => {
        val ev = T(s, dir, "events").select(col("event_id"),
          col("event_type"), unix_micros(col("ts")).as("us"))
        graft.ops.Prefix.runningMax(ev, Seq(col("event_id")), col("us"),
            out = "hwm")
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_events"),
            sum(when(col("us") < col("hwm") - 600000000L, 1L)
              .otherwise(0L)).as("n_late"))
          .withColumn("late_pct",
            round(col("n_late").cast("double") / col("n_events"), 6))
          .orderBy("event_type")
      }),

    // Watermark sizing sweep: the q277 lateness measurement at FOUR
    // candidate delays (1/5/10/30 min) in one pass — the curve that
    // picks a streaming watermark (drop rate vs state size tradeoff).
    // One distributed-prefix high-watermark computation, a 4x literal
    // fan-out, one hash aggregation.
    Q("q286_watermark_sweep", Q.sql("""
        WITH e AS (
          SELECT event_id, epoch_us(ts) AS us FROM events),
        h AS (
          SELECT us,
            max(us) OVER (ORDER BY event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hwm
          FROM e),
        del AS (SELECT CAST(unnest([60000000, 300000000, 600000000,
          1800000000]) AS BIGINT) AS delay_us)
        SELECT delay_us, count(*) AS n_events,
          CAST(sum(CASE WHEN us < hwm - delay_us THEN 1 ELSE 0 END)
            AS BIGINT) AS n_late,
          round(sum(CASE WHEN us < hwm - delay_us THEN 1 ELSE 0 END)
            * 1.0 / count(*), 6) AS late_pct
        FROM h CROSS JOIN del GROUP BY 1 ORDER BY 1"""))(
      (s, dir) => {
        val ev = T(s, dir, "events").select(col("event_id"),
          unix_micros(col("ts")).as("us"))
        graft.ops.Prefix.runningMax(ev, Seq(col("event_id")), col("us"),
            out = "hwm")
          .select(col("us"), col("hwm"),
            explode(array(Seq(60000000L, 300000000L, 600000000L,
              1800000000L).map(lit): _*)).as("delay_us"))
          .groupBy("delay_us")
          .agg(count(lit(1)).as("n_events"),
            sum(when(col("us") < col("hwm") - col("delay_us"), 1L)
              .otherwise(0L)).as("n_late"))
          .withColumn("late_pct",
            round(col("n_late").cast("double") / col("n_events"), 6))
          .orderBy("delay_us")
      }))
}
