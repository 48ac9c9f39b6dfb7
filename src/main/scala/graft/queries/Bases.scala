package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.{load => T}

/** Shared bases of the query families. Each base is a Spark frame with
  * the oracle CTE that derives the same rows in DuckDB beside it, so the
  * two sides are written once and cannot drift apart.
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
