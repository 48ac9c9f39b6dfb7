package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables.{load => T}
import graft.functions.PortableSql
import graft.ops.Relational.dsum

/** Round-5 batch 24: time-series repair (linear interpolation of gaps
  * over a calendar spine) and scale algorithms (two-pass histogram
  * exact median — order statistics without a full sort) — each
  * oracle-checked bit-for-bit vs DuckDB.
  */
object SeriesQueries {

  private val HistBins = 100

  def all: Seq[Q] = Seq(

    // Linear-interpolation gap-fill of one brand's daily revenue (~45%
    // of calendar days have no sale): bracketing neighbors via
    // last/first IGNORE NULLS frames over the date spine, value =
    // prev + (next−prev)·(day−prev_day)/(next_day−prev_day). The heavy
    // aggregation shuffles normally; the windows run over the
    // calendar-bounded spine (days, never rows). Edge days outside the
    // observed range stay NULL-filled with observed = 0.
    Q("q236_interpolate_gaps", Q.sql(s"""
        WITH daily AS (
          SELECT CAST(l_shipdate AS DATE) AS day,
            round(CAST(sum(CAST(l_extendedprice * (1 - l_discount)
              AS DECIMAL(27,8))) AS DOUBLE), 6) AS rev
          FROM lineitem JOIN part ON p_partkey = l_partkey
          WHERE p_brand = 'Brand#13'
          GROUP BY 1),
        bounds AS (SELECT min(day) AS lo, max(day) AS hi FROM daily),
        spine AS (
          SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS day
          FROM bounds),
        joined AS (
          SELECT s.day, d.rev,
            CAST(d.rev IS NOT NULL AS INT) AS observed,
            last_value(d.rev IGNORE NULLS) OVER
              (ORDER BY s.day ROWS UNBOUNDED PRECEDING) AS prev_val,
            last_value(CASE WHEN d.rev IS NOT NULL THEN s.day END IGNORE NULLS)
              OVER (ORDER BY s.day ROWS UNBOUNDED PRECEDING) AS prev_day,
            first_value(d.rev IGNORE NULLS) OVER
              (ORDER BY s.day ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
              AS next_val,
            first_value(CASE WHEN d.rev IS NOT NULL THEN s.day END IGNORE NULLS)
              OVER (ORDER BY s.day ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
              AS next_day
          FROM spine s LEFT JOIN daily d ON d.day = s.day)
        SELECT day, observed,
          ${PortableSql.round("""CASE WHEN rev IS NOT NULL THEN rev
            ELSE prev_val + (next_val - prev_val)
              * CAST(day - prev_day AS DOUBLE)
              / CAST(next_day - prev_day AS DOUBLE) END""", 6)} AS rev_filled
        FROM joined ORDER BY day"""))(
      (s, dir) => {
        val daily = T(s, dir, "lineitem")
          .join(T(s, dir, "part")
            .where(col("p_brand") === "Brand#13"),
            col("p_partkey") === col("l_partkey"))
          .groupBy(to_date(col("l_shipdate")).as("day"))
          .agg(round(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 8),
            6).as("rev"))
        val bounds = daily.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
        val spine = bounds
          .select(explode(sequence(col("lo"), col("hi"),
            expr("interval 1 day"))).as("day"))
        // bracketing neighbors WITHOUT unpartitioned fill windows:
        // forward fill = inclusive running MAX of the observed day in day
        // order (days ascend, so "latest observed ≤ current" is a prefix
        // max); backward fill = inclusive running MIN over the reversed
        // order. Both ride the distributed prefix; the bracketed VALUES
        // join back from the day-grained daily frame.
        val joined = spine.join(daily, Seq("day"), "left_outer")
          .withColumn("observed", col("rev").isNotNull.cast("int"))
          .withColumn("__obs_day", when(col("rev").isNotNull, col("day")))
        val both = graft.ops.Prefix.runningMin(
          graft.ops.Prefix.runningMax(joined, Seq(col("day")),
            col("__obs_day"), "prev_day"),
          Seq(col("day").desc), col("__obs_day"), "next_day")
        both
          .join(broadcast(daily.select(col("day").as("prev_day"),
            col("rev").as("prev_val"))), Seq("prev_day"), "left")
          .join(broadcast(daily.select(col("day").as("next_day"),
            col("rev").as("next_val"))), Seq("next_day"), "left")
          .withColumn("__fill", when(col("rev").isNotNull, col("rev"))
            .otherwise(col("prev_val") + (col("next_val") - col("prev_val")) *
              datediff(col("day"), col("prev_day")).cast("double") /
              datediff(col("next_day"), col("prev_day")).cast("double")))
          // portable floor-based rounding: the interpolation produced a
          // .5-boundary value at sf0.001 where the engines' native
          // round(DOUBLE, 6) disagree (PortableSql.round)
          .select(col("day"), col("observed"),
            expr(PortableSql.round("__fill", 6)).as("rev_filled"))
          .orderBy("day")
      }),

    // Two-pass histogram exact median: pass 1 builds a 100-bin coarse
    // histogram per group (one hash agg, bin frame is bins×groups);
    // the cumulative locates the bin(s) holding the target ranks; pass 2
    // ranks ONLY the candidate-bin rows (~1/bins of the data) with the
    // global offset carried in. Exact order statistics with no full
    // sort — at 100 TB the sort the naive form needs never happens. The
    // result reproduces the standard (n−1)·q interpolation bit-for-bit
    // (oracle: the engine-portable conditional-aggregate form).
    Q("q237_histogram_median", Q.sql(s"""
        WITH ${graft.ops.Percentiles.oracleCtes("pct", "lineitem",
          Seq("l_returnflag"), "l_extendedprice", Seq("p50" -> 0.5))}
        SELECT l_returnflag, round(p50, 6) AS p50 FROM pct ORDER BY 1"""))(
      (s, dir) =>
        // the inline two-pass form graduated into ops.Histograms.exact
        // (multi-quantile, null-safe groups, HistogramsSpec-pinned
        // equality with Percentiles.exact)
        graft.ops.Histograms.exact(
            T(s, dir, "lineitem").select(col("l_returnflag"),
              col("l_extendedprice")),
            Seq("l_returnflag"), col("l_extendedprice"),
            Seq("p50" -> 0.5), bins = HistBins)
          .select(col("l_returnflag"), round(col("p50"), 6).as("p50"))
          .orderBy("l_returnflag")),

    // Merged-interval coverage per user (sweep-line union): each event
    // opens an activity interval of `value` minutes; overlapping/touching
    // intervals merge into islands, and the report is total covered
    // wall-clock + island counts per user — "how long was this user
    // actually active". Integer µs arithmetic end to end; both windows
    // are PARTITIONED BY user (per-user event counts bound the frames —
    // see TimeSeries.intervalCoverage).
    Q("q272_interval_coverage", Q.sql("""
        WITH iv AS (
          SELECT user_id, epoch_us(ts) AS s,
            epoch_us(ts) + CAST(round(value * 60) AS BIGINT) * 1000000 AS e,
            event_id AS u
          FROM events),
        m AS (
          SELECT user_id, s, e, u,
            (CASE WHEN coalesce(s > max(e) OVER (
                PARTITION BY user_id ORDER BY s, e, u
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), true)
              THEN 1 ELSE 0 END) AS new_island
          FROM iv),
        mi AS (
          SELECT user_id, s, e,
            CAST(sum(new_island) OVER (
              PARTITION BY user_id ORDER BY s, e, u
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
              AS island
          FROM m),
        isl AS (
          SELECT user_id, island, min(s) AS i_start, max(e) AS i_end,
            count(*) AS n_iv
          FROM mi GROUP BY 1, 2)
        SELECT user_id, CAST(sum(n_iv) AS BIGINT) AS n_intervals,
          count(*) AS n_islands, CAST(sum(i_end - i_start) AS BIGINT)
            AS coverage_us
        FROM isl GROUP BY 1 ORDER BY user_id"""))(
      (s, dir) => {
        val ev = T(s, dir, "events")
        graft.ops.TimeSeries.intervalCoverage(
            ev.select(col("user_id"), col("event_id"),
              unix_micros(col("ts")).as("s_us"),
              (unix_micros(col("ts"))
                + round(col("value") * 60, 0).cast("long") * 1000000L)
                .as("e_us")),
            col("user_id"), col("s_us"), col("e_us"), col("event_id"))
          .select(col("key").as("user_id"), col("n_intervals"),
            col("n_islands"), col("coverage").as("coverage_us"))
          .orderBy("user_id")
      }),

    // Ratio-to-moving-average seasonal indices (the classical-
    // decomposition method every BI tool ships): daily event counts /
    // centered 7-day MA, averaged per weekday, normalized to sum to 7
    // — "Mondays run at 1.08× trend". The ±3-day neighborhood is
    // GENERATED (explode of a 7-literal offset array) and re-aggregated
    // — an equi hash-agg, not a range join and not a window; q319's
    // seasonal-naive backtest consumes exactly these indices' signal.
    // Ratios are rounded then DECIMAL-averaged; edge days without a
    // full 7-day neighborhood are excluded, not padded. At 100 TB the
    // daily frame is calendar-bounded (model-sized) — everything after
    // the first agg is broadcast.
    Q("q325_seasonal_index", Q.sql("""
        WITH d AS (
          SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n
          FROM events GROUP BY 1),
        sp AS (
          SELECT day + CAST(off AS INT) AS center, n
          FROM d, LATERAL (SELECT unnest(generate_series(-3, 3)) AS off) t),
        ma AS (
          SELECT center, CAST(sum(n) AS BIGINT) AS s7,
            CAST(count(*) AS BIGINT) AS c7
          FROM sp GROUP BY 1),
        r AS (
          SELECT d.day,
            round(7.0 * CAST(d.n AS DOUBLE) / CAST(ma.s7 AS DOUBLE), 9)
              AS ratio
          FROM d JOIN ma ON ma.center = d.day WHERE ma.c7 = 7),
        w AS (
          SELECT CAST(dayofweek(day) AS INT) AS dow,
            CAST(count(*) AS BIGINT) AS n_days,
            round(CAST(sum(CAST(ratio AS DECIMAL(18,9))) AS DOUBLE)
              / count(*), 9) AS idx
          FROM r GROUP BY 1),
        tot AS (
          SELECT CAST(sum(CAST(idx AS DECIMAL(18,9))) AS DOUBLE) AS s FROM w)
        SELECT dow, n_days, round(idx, 6) AS ratio_ma,
          round(idx * 7.0 / s, 6) AS seasonal_index
        FROM w, tot ORDER BY dow"""))(
      (s, dir) => {
        val d = T(s, dir, "events")
          .groupBy(to_date(col("ts")).as("day"))
          .agg(count(lit(1)).cast("bigint").as("n"))
        val sp = d
          .select(col("day"), col("n"),
            explode(sequence(lit(-3), lit(3))).as("off"))
          .select(date_add(col("day"), col("off").cast("int")).as("center"),
            col("n"))
        val ma = sp.groupBy("center")
          .agg(sum(col("n")).cast("bigint").as("s7"),
            count(lit(1)).cast("bigint").as("c7"))
        val r = d.join(broadcast(ma), col("center") === col("day"))
          .where(col("c7") === 7)
          .select(col("day"),
            round(lit(7.0) * col("n").cast("double")
              / col("s7").cast("double"), 9).as("ratio"))
        val w = r.groupBy((dayofweek(col("day")) - 1).cast("int").as("dow"))
          .agg(count(lit(1)).cast("bigint").as("n_days"),
            round(sum(col("ratio").cast("decimal(18,9)")).cast("double")
              / count(lit(1)), 9).as("idx"))
        val tot = w.agg(
          sum(col("idx").cast("decimal(18,9)")).cast("double").as("s"))
        w.crossJoin(broadcast(tot))
          .select(col("dow"), col("n_days"),
            round(col("idx"), 6).as("ratio_ma"),
            round(col("idx") * 7.0 / col("s"), 6).as("seasonal_index"))
          .orderBy("dow")
      })
  )
}
