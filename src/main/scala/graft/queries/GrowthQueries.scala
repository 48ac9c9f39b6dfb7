package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables.{load => T}
import graft.ops.Relational.dsum

/** Round-5 batch 17: product-analytics accounting — DAU growth
  * decomposition (new/retained/resurrected/churned), DAU/WAU
  * stickiness, and cohort cumulative LTV — each oracle-checked
  * bit-for-bit vs DuckDB.
  */
object GrowthQueries {

  def all: Seq[Q] = Seq(

    // Growth accounting: every active (day, user) classified as
    // new/retained/resurrected from ONE per-user window pass over the
    // distinct activity frame; churn emits on the day AFTER an activity
    // gap opens. The frame is days×users bounded, never event-bounded.
    Q("q206_growth_accounting", Q.sql("""
        WITH du AS (
          SELECT DISTINCT CAST(ts AS DATE) AS day, user_id AS u FROM events),
        seq AS (
          SELECT day, u,
            lag(day) OVER (PARTITION BY u ORDER BY day) AS prev_day,
            lead(day) OVER (PARTITION BY u ORDER BY day) AS next_day,
            min(day) OVER (PARTITION BY u) AS first_day
          FROM du),
        cat AS (
          SELECT day,
            CASE WHEN day = first_day THEN 'new'
                 WHEN date_diff('day', prev_day, day) = 1 THEN 'retained'
                 ELSE 'resurrected' END AS kind
          FROM seq),
        act AS (
          SELECT day, count(*) AS dau,
            CAST(sum(CASE WHEN kind = 'new' THEN 1 ELSE 0 END) AS BIGINT) AS new_users,
            CAST(sum(CASE WHEN kind = 'retained' THEN 1 ELSE 0 END) AS BIGINT) AS retained,
            CAST(sum(CASE WHEN kind = 'resurrected' THEN 1 ELSE 0 END) AS BIGINT) AS resurrected
          FROM cat GROUP BY 1),
        churn AS (
          SELECT day + 1 AS day, count(*) AS churned
          FROM seq
          WHERE next_day IS NULL OR date_diff('day', day, next_day) > 1
          GROUP BY 1)
        SELECT a.day, dau, new_users, retained, resurrected,
          coalesce(churned, 0) AS churned
        FROM act a LEFT JOIN churn c ON a.day = c.day
        ORDER BY a.day"""))(
      (s, dir) => {
        val du = T(s, dir, "events")
          .select(to_date(col("ts")).as("day"), col("user_id").as("u"))
          .distinct()
        val w = Window.partitionBy(col("u")).orderBy(col("day"))
        val seq = du.select(col("day"), col("u"),
          lag(col("day"), 1).over(w).as("prev_day"),
          lead(col("day"), 1).over(w).as("next_day"),
          min(col("day")).over(Window.partitionBy(col("u"))).as("first_day"))
        val cat = seq.select(col("day"),
          when(col("day") === col("first_day"), "new")
            .when(datediff(col("day"), col("prev_day")) === 1, "retained")
            .otherwise("resurrected").as("kind"))
        val act = cat.groupBy("day").agg(count(lit(1)).as("dau"),
          sum(when(col("kind") === "new", 1).otherwise(0)).as("new_users"),
          sum(when(col("kind") === "retained", 1).otherwise(0)).as("retained"),
          sum(when(col("kind") === "resurrected", 1).otherwise(0))
            .as("resurrected"))
        val churn = seq
          .where(col("next_day").isNull ||
            datediff(col("next_day"), col("day")) > 1)
          .groupBy(date_add(col("day"), 1).as("day"))
          .agg(count(lit(1)).as("churned"))
        act.join(churn, Seq("day"), "left_outer")
          .select(col("day"), col("dau"), col("new_users"), col("retained"),
            col("resurrected"), coalesce(col("churned"), lit(0L)).as("churned"))
          .orderBy("day")
      }),

    // DAU/WAU stickiness: each active (day, user) contributes to the 7
    // trailing windows it belongs to (explode of 7, linear — no per-day
    // rescan of a week of data); distinct-count per window day, one
    // ratio. The q118 rolling-active shape specialized to the
    // engagement-ratio metric.
    Q("q207_stickiness", Q.sql("""
        WITH du AS (
          SELECT DISTINCT CAST(ts AS DATE) AS day, user_id AS u FROM events),
        dau AS (SELECT day, count(*) AS dau FROM du GROUP BY 1),
        contrib AS (
          SELECT day + i AS day, u
          FROM du CROSS JOIN (SELECT CAST(unnest(range(7)) AS INT) AS i) s),
        wau AS (SELECT day, count(DISTINCT u) AS wau FROM contrib GROUP BY 1)
        SELECT d.day, d.dau, w.wau,
          round(CAST(d.dau AS DOUBLE) / w.wau, 6) AS stickiness
        FROM dau d JOIN wau w ON d.day = w.day
        ORDER BY d.day"""))(
      (s, dir) => {
        val du = T(s, dir, "events")
          .select(to_date(col("ts")).as("day"), col("user_id").as("u"))
          .distinct()
        val dau = du.groupBy("day").agg(count(lit(1)).as("dau"))
        val contrib = du
          .select(explode(sequence(lit(0), lit(6))).as("i"), col("day"), col("u"))
          .select(date_add(col("day"), col("i")).as("day"), col("u"))
        val wau = contrib.groupBy("day").agg(countDistinct(col("u")).as("wau"))
        dau.join(wau, Seq("day"))
          .select(col("day"), col("dau"), col("wau"),
            round(col("dau").cast("double") / col("wau"), 6).as("stickiness"))
          .orderBy("day")
      }),

    // Cohort cumulative LTV: customers grouped by first-order month,
    // revenue accumulated by cohort age (first 12 months), normalized
    // per cohort user — the unit-economics triangle. Two hash aggs +
    // one cohort-partitioned cumulative window over the cohort×age
    // frame (calendar²-bounded).
    Q("q208_cohort_ltv", Q.sql("""
        WITH fo AS (
          SELECT o_custkey,
            min(CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE)) AS cohort
          FROM orders GROUP BY 1),
        rv AS (
          SELECT f.cohort,
            (year(CAST(o_orderdate AS DATE)) * 12 + month(CAST(o_orderdate AS DATE)))
              - (year(f.cohort) * 12 + month(f.cohort)) AS age,
            o_totalprice AS p
          FROM orders o JOIN fo f ON o.o_custkey = f.o_custkey),
        cells AS (
          SELECT cohort, age,
            CAST(sum(CAST(p AS DECIMAL(27,4))) AS DOUBLE) AS rev_m
          FROM rv WHERE age <= 11 GROUP BY 1, 2),
        sz AS (SELECT cohort, count(*) AS n_users FROM fo GROUP BY 1)
        SELECT c.cohort, c.age, s.n_users, rev_m,
          round(CAST(sum(CAST(rev_m AS DECIMAL(27,4))) OVER (
              PARTITION BY c.cohort ORDER BY c.age) AS DOUBLE) / s.n_users, 6)
            AS cum_ltv_per_user
        FROM cells c JOIN sz s ON c.cohort = s.cohort
        ORDER BY 1, 2"""))(
      (s, dir) => {
        val d = to_date(col("o_orderdate"))
        val fo = T(s, dir, "orders")
          .groupBy(col("o_custkey"))
          .agg(min(trunc(d, "month")).as("cohort"))
        val rv = T(s, dir, "orders")
          .join(fo, Seq("o_custkey"))
          .select(col("cohort"),
            ((year(d) * 12 + month(d)) -
              (year(col("cohort")) * 12 + month(col("cohort")))).as("age"),
            col("o_totalprice").as("p"))
        val cells = rv.where(col("age") <= 11)
          .groupBy("cohort", "age")
          .agg(dsum(col("p"), 4).as("rev_m"))
        val sz = fo.groupBy("cohort").agg(count(lit(1)).as("n_users"))
        val w = Window.partitionBy(col("cohort")).orderBy(col("age"))
        cells.join(sz, Seq("cohort"))
          .select(col("cohort"), col("age"), col("n_users"), col("rev_m"),
            round(sum(col("rev_m").cast("decimal(27,4)")).over(w)
              .cast("double") / col("n_users"), 6).as("cum_ltv_per_user"))
          .orderBy("cohort", "age")
      }))
}
