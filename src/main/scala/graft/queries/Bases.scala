package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.{load => T}
import graft.ops.Prefix

/** Shared bases of the query families. Each base is a Spark frame with
  * the oracle CTE that derives the same rows in DuckDB beside it, so the
  * two sides are written once and cannot drift apart:
  *
  *  - [[dailyMass]] / [[dailyMassSql]]: exact 4-dp daily mass per type;
  *  - [[purchaseClickPool]] / [[purchaseClickPoolSql]]: the purchase and
  *    click daily masses pooled as `pool(day, v, s1)`;
  *  - [[dailyCents]] / [[dailyCentsSql]]: exact integer cents per type
  *    and day, `d(event_type, day, cents)`;
  *  - [[centsSeries]] / [[centsSeriesSql]]: `d` on its zero-filled
  *    calendar, `b(d0, n)` and `l0(event_type, pos, x)` (the SQL twin
  *    includes `d`);
  *  - [[signupError]] / [[signupErrorSql]]: the signup→first-error
  *    cohort, `su(user_id, s_us)` and `er(user_id, e_us)`;
  *  - [[survivalObs]] / [[survivalObsSql]]: that cohort as right-censored
  *    survival times, `obs(t, d)`;
  *  - [[riskSets]] / [[riskSetsSql]]: the Kaplan-Meier risk sets of
  *    `obs`, `risk(t, d_t, n_t)`, with the subject count.
  *
  * A base never places a barrier: a caller that re-reads a base
  * materializes it itself, so each query keeps its own plan shape. The
  * SQL twins are CTE lists that a query splices into its own `WITH`;
  * only the first list of a query starts with `WITH`.
  */
object Bases {

  /** The q332 house form: exact 4-dp fixed-point daily mass per type. */
  def dailyMass(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "events")
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(floor(col("value") * 10000 + 0.5).cast("long")).as("v"))

  /** Oracle twin of [[dailyMass]]. */
  val dailyMassSql = """
    SELECT event_type, CAST(ts AS DATE) AS day,
      CAST(sum(CAST(floor(value * 10000 + 0.5) AS BIGINT)) AS BIGINT) AS v
    FROM events GROUP BY 1, 2"""

  /** Purchase and click daily masses in one pooled sample, the input of
    * the two-sample tests: `s1` is 1 for a purchase day, 0 for a click
    * day.
    */
  def purchaseClickPool(s: SparkSession, dir: String): DataFrame =
    dailyMass(s, dir)
      .where(col("event_type").isin("purchase", "click"))
      .select(col("day"), col("v"),
        when(col("event_type") === "purchase", 1L).otherwise(0L)
          .as("s1"))

  /** Oracle twin of [[purchaseClickPool]]: CTEs `d` and `pool`. */
  val purchaseClickPoolSql = s"""
    WITH d AS ($dailyMassSql),
    pool AS (
      SELECT day, v,
        CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS s1
      FROM d WHERE event_type IN ('purchase', 'click'))"""

  /** Daily revenue per type in exact integer cents (a decimal-free
    * integer sum, so both engines agree bit for bit).
    */
  def dailyCents(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "events")
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(round(col("value") * 100, 0).cast("long")).cast("long")
        .as("cents"))

  /** Oracle twin of [[dailyCents]]: CTE `d`. */
  val dailyCentsSql = """
    WITH d AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
        CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
          AS cents
      FROM events GROUP BY 1, 2)"""

  /** The daily cents `d` of [[dailyCents]] on the zero-filled calendar
    * spine: the bounds `b(d0, n)` (first day, day count) and the series
    * `l0(event_type, pos, x)` with pos in [0, n) and x = 0 on a day
    * without events.
    */
  def centsSeries(d: DataFrame): (DataFrame, DataFrame) = {
    val b = d.agg(min(col("day")).as("d0"),
      (datediff(max(col("day")), min(col("day"))).cast("long") + 1)
        .as("n"))
    val spine = d.select("event_type").distinct()
      .crossJoin(broadcast(b))
      .select(col("event_type"),
        explode(sequence(lit(0L), col("n") - 1)).as("pos"))
    val l0 = spine
      .join(d.crossJoin(broadcast(b.select(col("d0"))))
        .select(col("event_type"), datediff(col("day"), col("d0"))
          .cast("long").as("pos"), col("cents")),
        Seq("event_type", "pos"), "left")
      .select(col("event_type"), col("pos"),
        coalesce(col("cents"), lit(0L)).as("x"))
    (b, l0)
  }

  /** Oracle twin of [[centsSeries]]: the `d` of [[dailyCentsSql]] and
    * CTEs `b`, `spine` and `l0` over it.
    */
  val centsSeriesSql = s"""$dailyCentsSql,
    b AS (
      SELECT min(day) AS d0,
        CAST(max(day) - min(day) AS BIGINT) + 1 AS n
      FROM d),
    spine AS (
      SELECT et.event_type, CAST(gs.pos AS BIGINT) AS pos
      FROM (SELECT DISTINCT event_type FROM d) et,
        LATERAL (SELECT unnest(generate_series(0,
          (SELECT n - 1 FROM b))) AS pos) gs),
    l0 AS (
      SELECT sp.event_type, sp.pos,
        CAST(COALESCE(d.cents, 0) AS BIGINT) AS x
      FROM spine sp
      LEFT JOIN d ON d.event_type = sp.event_type
        AND (d.day - (SELECT d0 FROM b)) = sp.pos)"""

  /** The signup→first-error cohort of the `events` frame `ev`: `su`
    * holds each user's first signup and `er` the first error after it,
    * both as epoch microseconds.
    */
  def signupError(ev: DataFrame): (DataFrame, DataFrame) = {
    val su = ev.where(col("event_type") === "signup")
      .groupBy(col("user_id"))
      .agg(min(unix_micros(col("ts"))).as("s_us"))
    val er = ev.where(col("event_type") === "error")
      .join(su, "user_id")
      .where(unix_micros(col("ts")) > col("s_us"))
      .groupBy(col("user_id"))
      .agg(min(unix_micros(col("ts"))).as("e_us"))
    (su, er)
  }

  /** Oracle twin of [[signupError]]: CTEs `su` and `er`. */
  val signupErrorSql = """
    WITH su AS (
      SELECT user_id, min(epoch_us(ts)) AS s_us
      FROM events WHERE event_type = 'signup' GROUP BY 1),
    er AS (
      SELECT e.user_id, min(epoch_us(e.ts)) AS e_us
      FROM events e JOIN su ON e.user_id = su.user_id
      WHERE e.event_type = 'error' AND epoch_us(e.ts) > su.s_us
      GROUP BY 1)"""

  /** The [[signupError]] cohort as survival times: `t` is whole days from
    * signup to the first error (`d` = 1) or, censored, to the last event
    * in `ev` (`d` = 0).
    */
  def survivalObs(ev: DataFrame): DataFrame = {
    val (su, er) = signupError(ev)
    val horizon = ev.agg(max(unix_micros(col("ts"))).as("h_us"))
    su.join(er, Seq("user_id"), "left")
      .crossJoin(broadcast(horizon))
      .select(
        floor((coalesce(col("e_us"), col("h_us")) - col("s_us")) /
          lit(86400000000.0)).cast("long").as("t"),
        when(col("e_us").isNotNull, 1).otherwise(0).as("d"))
  }

  /** Oracle twin of [[survivalObs]]: CTEs `su`, `er`, `horizon` and
    * `obs` (which also keeps `user_id`).
    */
  val survivalObsSql = s"""$signupErrorSql,
    horizon AS (SELECT max(epoch_us(ts)) AS h_us FROM events),
    obs AS (
      SELECT su.user_id,
        CAST(floor((coalesce(er.e_us, horizon.h_us) - su.s_us)
          / 86400000000.0) AS BIGINT) AS t,
        CASE WHEN er.e_us IS NOT NULL THEN 1 ELSE 0 END AS d
      FROM su LEFT JOIN er ON su.user_id = er.user_id, horizon)"""

  /** Kaplan-Meier risk sets of the survival times `obs(t, d)`: the
    * subject count `nTotal(n_total)` and, per distinct time, the events
    * `d_t` and the subjects still at risk `n_t`. `n_t` is the total
    * minus the leavers before `t`, an exclusive prefix taken as the
    * inclusive distributed prefix minus the current row, so no
    * unpartitioned window.
    */
  def riskSets(obs: DataFrame): (DataFrame, DataFrame) = {
    val nTotal = obs.agg(count(lit(1)).as("n_total"))
    val tc = obs.groupBy("t")
      .agg(sum(col("d")).as("d_t"), count(lit(1)).as("ending"))
    val risk = Prefix.runningTotal(
        tc.crossJoin(broadcast(nTotal)), Seq(col("t")),
        col("ending"), "__cum_end")
      .select(col("t"), col("d_t"),
        (col("n_total") - (col("__cum_end") - col("ending")))
          .cast("long").as("n_t"))
    (nTotal, risk)
  }

  /** Oracle twin of [[riskSets]]: CTEs `tc` and `risk` over `obs`. */
  val riskSetsSql = """
    tc AS (
      SELECT t, CAST(sum(d) AS BIGINT) AS d_t, count(*) AS ending
      FROM obs GROUP BY 1),
    risk AS (
      SELECT t, d_t,
        CAST((SELECT count(*) FROM obs) -
          coalesce(sum(ending) OVER (ORDER BY t
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          AS BIGINT) AS n_t
      FROM tc)"""

  /** Words CTE shared by the text oracles: the exact derivation of
    * [[graft.text.TextAnalysis.normalizeText]] +
    * [[graft.text.TextAnalysis.tokens]] (lower, whitespace-collapse,
    * split on space) as `w(id, ws)`. The Spark side calls those two
    * directly.
    */
  val wordsCte = """
    WITH w AS (
      SELECT doc_id AS id,
        string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ') AS ws
      FROM documents)"""
}
