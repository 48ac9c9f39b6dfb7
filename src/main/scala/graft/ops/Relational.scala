package graft.ops

import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge}
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference}
import org.apache.spark.sql.catalyst.plans.logical.{Project, Sort}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType

import graft.plans.{TopKPerGroup, TopKPerGroupStrategy}

/** Core relational operators, re-expressed Spark-first.
  *
  * Mirrors the reference's operator inventory (SURVEY.md §2): denormalizing
  * joins (`denormalized_tables.py:90-98`), per-group aggregates
  * (`denormalized_tables.py:166-178`, `serving_layer.py:184-195`), top-k per
  * group via `row_number` (`serving_layer.py:256-267`), year-over-year diff
  * via self-join of aggregates (`denormalized_tables.py:181-187`) plus the
  * idiomatic `lag()` variant, unpivot (`serving_layer.py:100-141`) via the
  * built-in `Dataset.unpivot`, and the native decade derivation
  * (`udf_complex_logic.py:50-51`).
  *
  * Scale notes (100 TB design):
  *  - joins against dimension tables rely on size-based broadcast
  *    planning (no forced hint): the fact side never shuffles while a
  *    dim fits the broadcast threshold, and a dim that has outgrown it
  *    at extreme SF degrades to a shuffle join instead of an OOM;
  *  - aggregates are plain `groupBy().agg()` — Catalyst plans
  *    partial (map-side) + final hash aggregation, so the shuffle carries
  *    only one row per (partition, key);
  *  - top-k keeps a size-k heap per group after a single hash
  *    repartition by the group keys: no sort (SCALE.md "Windows / top-k");
  *  - nothing here collects to the driver.
  */
object Relational {

  /** Exact-sum helper: route a double column through a decimal so the sum is
    * associative (order-independent) and engine-portable, then surface a
    * double. Direct double summation is partial-order dependent and would
    * not hash-match any oracle.
    */
  def dsum(c: Column, scale: Int = 4): Column =
    sum(c.cast(s"decimal(27,$scale)")).cast("double")

  /** Exact average: decimal sum over long count, one final double division
    * (IEEE-deterministic on both Spark and DuckDB).
    */
  def davg(c: Column, scale: Int = 4): Column =
    dsum(c, scale) / count(lit(1))

  /** Denormalizing multi-way join: fact table enriched with broadcast
    * dimensions (reference J1, `denormalized_tables.py:90-98`).
    * No forced broadcast hint: dimension tables SCALE with the data
    * (customer/supplier/part grow linearly with SF), so the right plan
    * is size-adaptive — Spark's size estimation and AQE broadcast a
    * dim while it fits `autoBroadcastJoinThreshold` (so the fact side
    * never shuffles at any benchable SF) and fall back to a shuffle
    * join once it has outgrown executor memory at extreme scale, where
    * a forced hint would OOM the build side.
    */
  def denormalize(fact: DataFrame, dims: Seq[(DataFrame, Column)]): DataFrame =
    dims.foldLeft(fact) { case (acc, (dim, cond)) =>
      acc.join(dim, cond, "inner")
    }

  /** The rows and 1-based `rankCol` of `row_number() OVER (PARTITION BY
    * partitionCols ORDER BY order) <= k` (reference W1,
    * `serving_layer.py:256-267` keeps top-100 per (MS, year)); `order` must
    * end in a unique tie-breaker. Plans the bounded-heap
    * [[graft.plans.TopKPerGroupExec]], installing its strategy on the session.
    */
  def topKPerGroup(df: DataFrame, partitionCols: Seq[Column],
                   order: Seq[Column], k: Int,
                   rankCol: String = "rank"): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(partitionCols.nonEmpty, "partitionCols must be non-empty")
    TopKPerGroupStrategy.setup(df.sparkSession)
    // Spark 4 Columns resolve only inside standard nodes: borrow a Sort
    // (resolved SortOrders over the analyzed child) and a Project
    // (resolved group expressions) from the analyzer.
    val sorted = df.sortWithinPartitions(order: _*)
      .queryExecution.analyzed.asInstanceOf[Sort]
    val groups = df.select(partitionCols: _*)
      .queryExecution.analyzed.asInstanceOf[Project].projectList.map {
        case a: Alias => a.child
        case e => e
      }
    GraftSqlBridge.ofRows(df.sparkSession, TopKPerGroup(groups, sorted.order, k,
      AttributeReference(rankCol, IntegerType, nullable = false)(), sorted.child))
  }

  /** Year-over-year diff via self-join of per-year aggregates — mirrors the
    * reference's shape (J2, `denormalized_tables.py:181-187`): current year
    * joined to previous year on the group key.
    * `byYear` must have columns (yearCol, valueCol).
    */
  def yoyJoin(byYear: DataFrame, yearCol: String, valueCol: String): DataFrame = {
    val cur = byYear.as("cur")
    val prev = byYear.as("prev")
    cur.join(prev, col(s"cur.$yearCol") === col(s"prev.$yearCol") + 1, "inner")
      .select(
        col(s"cur.$yearCol").as(yearCol),
        col(s"cur.$valueCol").as(valueCol),
        col(s"prev.$valueCol").as(s"prev_$valueCol"),
        (col(s"cur.$valueCol") - col(s"prev.$valueCol")).as(s"${valueCol}_diff"))
  }

  /** Year-over-year diff with `lag` semantics (previous ROW in year
    * order, gap-safe — unlike [[yoyJoin]]'s calendar join), SURVEY.md
    * §2.6. Computed as a distributed prefix index + predecessor
    * self-join rather than an unpartitioned `lag()` window: identical
    * output, but no single-partition window even if the "year" key is
    * ever fine-grained (weeks, days), and the clean-log invariant holds.
    */
  def yoyLag(byYear: DataFrame, yearCol: String, valueCol: String): DataFrame = {
    val idx = graft.ops.Prefix.runningTotal(byYear,
      Seq(col(yearCol)), lit(1L), "__i")
    val prev = idx.select((col("__i") + 1).as("__ip"),
      col(valueCol).as(s"prev_$valueCol"))
    idx.join(prev, col("__i") === col("__ip"), "left")
      .withColumn(s"${valueCol}_diff", col(valueCol) - col(s"prev_$valueCol"))
      .drop("__i", "__ip")
  }

  /** Native decade derivation (reference D1/D2/F9,
    * `udf_complex_logic.py:50-51`): `1987 -> "1980s"`. Pure `functions._`
    * composition — stays inside whole-stage codegen, unlike the reference's
    * Python UDF which forces a Python-worker round trip.
    */
  def decade(year: Column): Column =
    concat((floor(year / 10) * 10).cast("int").cast("string"), lit("s"))
}
