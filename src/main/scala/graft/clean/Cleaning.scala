package graft.clean

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.ops.Frames

/** Row- and schema-level cleaning operators (reference §2.2 P1/P2, §2.3
  * C1–C3).
  *
  * The reference curates raw CSV/JSON by normalizing column names
  * (`curate_data.py:75-77`, `curate_data.py:190-193`), dropping all-null
  * rows (`curate_data.py:80-83`), deduplicating (`curate_data.py:85-89`),
  * applying validity predicates (`curate_data.py:95-97`,
  * `curate_data.py:206-208`) and printing row-count audits between stages
  * (`curate_data.py:81-89`). Here each step is a pure
  * `DataFrame => DataFrame`, and the audit is a first-class lineage report
  * instead of printed output.
  *
  * Scale: every operator is a narrow projection/filter except [[dedup]],
  * which is a single hash-repartition on all columns (Spark plans
  * `distinct()` as partial+final hash aggregate, so the shuffle carries one
  * row per distinct key per partition).
  */
object Cleaning {

  /** Column-name normalization (P1/P2): spaces -> underscores, strip
    * parentheses — `curate_data.py:77`, `re.sub('[()]','',...)` at
    * `curate_data.py:192`.
    */
  def normalizeName(c: String): String =
    c.replace(" ", "_").replaceAll("[()]", "")

  /** Bulk rename via a single projection (no per-column plan nodes) that
    * aliases only the columns whose names change: Catalyst's constraint
    * propagation grows about 1.7x per aliased column on every re-plan, so
    * a wide frame (the reference's 61 year columns) must keep its
    * unchanged columns un-aliased to stay plannable.
    */
  def normalizeColumnNames(df: DataFrame): DataFrame =
    df.withColumnsRenamed(df.columns.iterator
      .map(c => c -> normalizeName(c)).filter { case (c, n) => c != n }.toMap)

  /** C1: drop rows where every column is null (`df.na.drop('all')`). */
  def dropAllNullRows(df: DataFrame): DataFrame = df.na.drop("all")

  /** C2: exact deduplication over all columns. */
  def dedup(df: DataFrame): DataFrame = df.distinct()

  /** One audited cleaning stage: name + transform. */
  final case class Stage(name: String, op: DataFrame => DataFrame)

  /** C3: per-stage row-count audit. Runs the pipeline, returning the final
    * frame plus (stage, rowsAfter) counts — the programmatic form of the
    * reference's printed count audits.
    *
    * Cost: one pass. The chain runs once through
    * [[graft.ops.Frames.materializeCounted]], which reads every count off
    * the job that materializes the cleaned frame; that frame is held in
    * executor storage until it is dropped, so the caller's write reads it
    * back instead of re-reading the raw input.
    */
  def runAudited(df: DataFrame, stages: Seq[Stage]): (DataFrame, Seq[(String, Long)]) = {
    val (out, counts) = Frames.materializeCounted(df, stages.map(_.op): _*)
    (out, ("input" +: stages.map(_.name)).zip(counts))
  }

  /** P4-style validity predicate: fixed-length code column. */
  def codeLengthIs(c: Column, n: Int): Column = length(c) === n

  /** P5: reject values containing a space (`curate_data.py:97`). */
  def noSpaces(c: Column): Column = !c.contains(" ")

  /** P6: regex validity (`curate_data.py:206-208`). */
  def matches(c: Column, regex: String): Column = c.rlike(regex)
}
