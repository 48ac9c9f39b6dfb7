package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Declarative data-quality expectations — the validation report every
  * ingestion pipeline runs before promoting a batch (the Deequ/
  * Great-Expectations shape, re-expressed as plain Spark aggregation).
  *
  * Reference analogy: the reference validates ad-hoc with per-check
  * filters and counts (`curate_data.py`'s null/shape probes); this
  * module turns the same intent into a declared check list evaluated in
  * ONE pass.
  *
  * Scale design (100 TB batch):
  *  - every row-local check (null, range, set membership, regex)
  *    compiles to a conditional count inside a SINGLE aggregation over
  *    one scan — k checks cost one pass, not k;
  *  - uniqueness rides the same pass as `count - count(distinct key)`;
  *  - referential integrity is the only extra job: a LEFT ANTI join,
  *    broadcast by Spark while the parent key set fits its threshold;
  *  - the report itself is k rows — driver-safe by construction.
  */
object Expectations {

  /** One named expectation: `violations` must evaluate (under the single
    * group-less aggregation of `report`) to the number of offending rows.
    */
  final case class Check(name: String, violations: Column)

  /** Rows where `c` is null. */
  def notNull(name: String, c: Column): Check =
    Check(name, sum(when(c.isNull, 1L).otherwise(0L)))

  /** Rows where `c` falls outside `[lo, hi]` (nulls count as violations —
    * gate them separately with [[notNull]] if they are expected).
    */
  def inRange(name: String, c: Column, lo: Double, hi: Double): Check =
    Check(name, sum(when(c.isNull || c < lo || c > hi, 1L).otherwise(0L)))

  /** Rows where `c` is not one of `allowed`. */
  def inSet(name: String, c: Column, allowed: Seq[String]): Check =
    Check(name, sum(when(c.isNull || !c.isin(allowed: _*), 1L).otherwise(0L)))

  /** Duplicate rows by `key`: `count(*) - count(distinct key)`. */
  def unique(name: String, key: Column): Check =
    Check(name, count(lit(1)) - countDistinct(key))

  /** Evaluate all `checks` over `df` in one aggregation pass.
    * Output: (check, violations, passed), one row per check, in the
    * declared order (`check` carries a stable `seq` prefix-free sort key
    * via the name — callers order by name).
    */
  def report(df: DataFrame, checks: Seq[Check]): DataFrame = {
    require(checks.nonEmpty, "at least one check")
    val aggs = checks.map(c => c.violations.as(c.name))
    val row = df.agg(aggs.head, aggs.tail: _*)
    // coalesce: sum() over an EMPTY frame is NULL — an empty batch has
    // zero violations, not an unknown report
    row.select(explode(array(checks.map(c =>
        struct(lit(c.name).as("check"),
          coalesce(col(c.name), lit(0L)).as("violations"))): _*))
        .as("r"))
      .select(col("r.check").as("check"),
        col("r.violations").cast("long").as("violations"),
        (col("r.violations") === 0).as("passed"))
  }

  /** Referential-integrity check as a one-row report in the same shape
    * as [[report]]: NON-NULL child keys with no parent. NULL child keys
    * are not violations (standard FK semantics, and the semantics of a
    * SQL `NOT IN` oracle, where a null key yields NULL and is never
    * counted) — gate them with [[notNull]]. The parent key set carries
    * no hint: Spark broadcasts it while it fits the broadcast threshold
    * (the anti join is then map-side and the child never re-shuffles)
    * and shuffles both sides once it has outgrown it.
    */
  def refIntegrity(name: String, child: DataFrame, childKey: Column,
                   parent: DataFrame, parentKey: Column): DataFrame = {
    val keys = parent.select(parentKey.as("_pk")).distinct()
    val orphans = child.where(childKey.isNotNull)
      .join(keys, childKey === col("_pk"), "left_anti")
    orphans.agg(count(lit(1)).as("violations"))
      .select(lit(name).as("check"),
        col("violations").cast("long").as("violations"),
        (col("violations") === 0).as("passed"))
  }
}
