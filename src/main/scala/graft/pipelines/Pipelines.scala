package graft.pipelines

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.clean.Cleaning
import graft.io.Writers
import graft.ops.Relational
import graft.versioned.VersionedTable

/** The reference's three end-to-end pipelines, composed from the operator
  * library (SURVEY.md §7 step 6).
  *
  *  - [[curate]]       — raw → curated (`curate_data.py`): normalize column
  *    names, drop all-null rows, dedup, validity filters, partitioned
  *    parquet out, with per-stage row-count audit.
  *  - [[serve]]        — curated → serving (`serving_layer.py`): unpivot
  *    wide year columns → long, group-average, top-k per group,
  *    partitioned parquet out.
  *  - [[denormalize]]  — curated → serving (`denormalized_tables.py`):
  *    filter + multi-way join denormalization, per-group sums per period,
  *    period-over-period diff via self-join, union of periods.
  *  - [[lakehouseAppend]] — batch-incremental ingestion into a versioned
  *    table (`lakehouse_data_igestion.py`): enforced append, cast/rename
  *    repair, evolving append.
  *
  * All stages are lazy DataFrame transforms until the final write, except
  * [[curate]], which runs its cleaning chain once to materialize the
  * curated frame and reads every per-stage count off that one pass
  * ([[graft.clean.Cleaning.runAudited]]); the frame stays in executor
  * storage until it is dropped, and the write reads it from there.
  */
object Pipelines {

  // ---- curate (curate_data.py) -------------------------------------------

  final case class CurateConfig(
      validityFilters: Seq[Column] = Nil,
      outPath: Option[String] = None,
      partitionBy: Seq[String] = Nil)

  /** Raw → curated: `curate_data.py:75-97` cleaning chain. Returns the
    * curated frame and the per-stage counts (the reference's printed
    * audits, `curate_data.py:81-89`).
    */
  def curate(raw: DataFrame, cfg: CurateConfig = CurateConfig()): (DataFrame, Seq[(String, Long)]) = {
    val stages = Seq(
      Cleaning.Stage("normalize_names", Cleaning.normalizeColumnNames),
      Cleaning.Stage("drop_all_null", Cleaning.dropAllNullRows),
      Cleaning.Stage("dedup", Cleaning.dedup)) ++
      cfg.validityFilters.zipWithIndex.map { case (f, i) =>
        Cleaning.Stage(s"validity_$i", (d: DataFrame) => d.where(f))
      }
    val (curated, counts) = Cleaning.runAudited(raw, stages)
    cfg.outPath.foreach { p =>
      if (cfg.partitionBy.nonEmpty) Writers.parquetPartitioned(curated, p, cfg.partitionBy)
      else Writers.parquetSingleFile(curated, p)
    }
    (curated, counts)
  }

  // ---- serve (serving_layer.py) ------------------------------------------

  final case class ServeConfig(
      idCols: Seq[String],
      valueCols: Seq[String],
      varName: String = "year",
      valueName: String = "Indicator_Value",
      groupCols: Seq[String] = Nil,
      topKPartition: Seq[String] = Nil,
      topKOrder: String = "",
      k: Int = 100,
      outPath: Option[String] = None,
      partitionBy: Seq[String] = Nil)

  /** Curated → serving (`serving_layer.py:100-282`): unpivot the wide year
    * columns (the reference's 61-way loop-union, here one
    * `Dataset.unpivot` = single Project+Expand, SURVEY.md §2.8 R1), then
    * group-average (`serving_layer.py:184-195`), then keep the top-k rows
    * per group (`serving_layer.py:256-267`).
    */
  def serve(curated: DataFrame, cfg: ServeConfig): DataFrame = {
    val long = curated.unpivot(
      cfg.idCols.map(c => col(s"`$c`")).toArray,
      cfg.valueCols.map(c => col(s"`$c`")).toArray,
      cfg.varName, cfg.valueName)
    val aggregated =
      if (cfg.groupCols.isEmpty) long
      else long.groupBy(cfg.groupCols.map(c => col(s"`$c`")): _*)
        .agg(Relational.davg(col(s"`${cfg.valueName}`").cast("double"), 6)
          .as(s"avg_${cfg.valueName}"))
    val ranked =
      if (cfg.topKPartition.isEmpty) aggregated
      else {
        // deterministic tie-break on the remaining key columns of the
        // aggregated frame (not the pre-aggregation id columns)
        val tieBreak = aggregated.columns.toSeq
          .filterNot(cfg.topKPartition.contains).filterNot(_ == cfg.topKOrder)
          .map(c => col(s"`$c`").asc)
        Relational.topKPerGroup(aggregated,
          cfg.topKPartition.map(c => col(s"`$c`")),
          col(s"`${cfg.topKOrder}`").desc +: tieBreak,
          cfg.k).drop("rank")
      }
    cfg.outPath.foreach { p =>
      if (cfg.partitionBy.nonEmpty) Writers.parquetPartitioned(ranked, p, cfg.partitionBy)
      else Writers.parquetOverwrite(ranked, p)
    }
    ranked
  }

  // ---- denormalize (denormalized_tables.py) ------------------------------

  final case class DenormConfig(
      dims: Seq[(DataFrame, Column)],
      periodCol: String,
      keyCols: Seq[String],
      valueExpr: Column,
      periods: Seq[Int])

  /** Curated → serving (`denormalized_tables.py`): per period, filter the
    * fact to the period, denormalize against broadcast dims
    * (`denormalized_tables.py:90-98`), group-sum
    * (`denormalized_tables.py:166-178`), then union the periods
    * (`denormalized_tables.py:191-192`) and attach the period-over-period
    * diff via self-join (`denormalized_tables.py:181-187`).
    *
    * Single-scan design: rather than one scan per period (the reference's
    * notebook loops), the period filter is `isin(periods)` and the period
    * column is part of the grouping key — one shuffle for all periods.
    */
  def denormalize(fact: DataFrame, cfg: DenormConfig): DataFrame = {
    val denorm = Relational.denormalize(
      fact.where(col(s"`${cfg.periodCol}`").isin(cfg.periods.map(_.asInstanceOf[Any]): _*)),
      cfg.dims)
    val byPeriod = denorm
      .groupBy((cfg.periodCol +: cfg.keyCols).map(c => col(s"`$c`")): _*)
      .agg(Relational.dsum(cfg.valueExpr, 6).as("total"))
    // period-over-period diff: self-join on key cols at period-1
    val cur = byPeriod.as("cur")
    val prev = byPeriod.as("prev")
    val joinCond = cfg.keyCols
      .map(k => col(s"cur.`$k`") === col(s"prev.`$k`"))
      .reduceOption(_ && _)
      .map(_ && col(s"cur.`${cfg.periodCol}`") === col(s"prev.`${cfg.periodCol}`") + 1)
      .getOrElse(col(s"cur.`${cfg.periodCol}`") === col(s"prev.`${cfg.periodCol}`") + 1)
    val diffed = cur.join(prev, joinCond, "left")
      .select(
        (cfg.periodCol +: cfg.keyCols).map(c => col(s"cur.`$c`").as(c)) ++ Seq(
          col("cur.total").as("total"),
          (col("cur.total") - col("prev.total")).as("total_diff")): _*)
    diffed
  }

  // ---- lakehouse (lakehouse_data_igestion.py) ----------------------------

  /** Batch-incremental ingestion (`lakehouse_data_igestion.py:148-212`):
    * append a new batch to a versioned table. `repair` mirrors the
    * reference's fix-up between the failing enforced append and the
    * succeeding one (casts `:197-200`, renames `:178-181`, drops `:158`).
    * Set `mergeSchema` to evolve instead of reject.
    */
  def lakehouseAppend(table: VersionedTable, batch: DataFrame,
                      repair: DataFrame => DataFrame = identity,
                      mergeSchema: Boolean = false): VersionedTable =
    table.append(repair(batch), mergeSchema)
}
