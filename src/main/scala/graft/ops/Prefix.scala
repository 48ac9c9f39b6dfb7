package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Globally-ordered running totals WITHOUT the single-partition window
  * trap.
  *
  * `sum(x) OVER (ORDER BY k)` with no PARTITION BY moves the whole
  * dataset to one task ("No Partition Defined for Window operation" —
  * a scale-killer at 100 TB). This operator computes the identical
  * result in three parallel phases:
  *
  *  1. range-partition by the order key (Spark's distributed sort
  *     machinery: sampled boundaries, P ordered partitions);
  *  2. per-partition running sums — an ordinary partitioned window,
  *     fully parallel;
  *  3. per-partition TOTALS (one row per partition) prefix-summed via a
  *     predecessor self-join (broadcast: the predecessor side is the
  *     ≤ P-row totals frame — cluster-sized, never data-sized) and
  *     broadcast back as offsets; final value = local running sum +
  *     partition offset.
  *
  * No unpartitioned window remains anywhere on the path (the offsets
  * prefix is a join-aggregation over a cluster-size-bounded frame), so
  * a "No Partition Defined" WindowExec warning in a log always marks a
  * genuine regression. The result is deterministic whenever the order
  * key is unique — range boundaries only decide WHERE the split falls,
  * never the order.
  *
  * Downstream uses: token-budget shard packing ([[packShards]]) and
  * deterministic corpus shuffling ([[graft.ops.Sampling.shuffleOrder]]).
  */
object Prefix {

  /** `out` = running total of `valueCol` over the global `orderCols`
    * order (ROWS UNBOUNDED PRECEDING .. CURRENT ROW, current row
    * included), independently per `strataCols` group when given (e.g. a
    * running total within each train/val/test split, all strata in one
    * pass). Use integral/decimal value types for bit-deterministic sums;
    * `orderCols` must be a unique key of `df`. There is NO
    * single-partition work anywhere: the offsets prefix is a
    * predecessor self-join over the ≤ P-rows-per-stratum totals frame.
    */
  def runningTotal(df: DataFrame, orderCols: Seq[Column], valueCol: Column,
                   out: String, strataCols: Seq[String] = Nil): DataFrame = {
    // withColumn silently REPLACES same-named caller columns and the
    // final drop() would remove them — corrupt results with no error, so
    // reject the collision loudly instead.
    val reserved = Seq("__pid", "__local", "__v", "__off", "__offset",
      "__ptotal", "__ppid", "__ppt")
    val clash = df.columns.intersect(reserved)
    require(clash.isEmpty,
      s"runningTotal reserves internal column names ${reserved.mkString(", ")}; " +
        s"input already has ${clash.mkString(", ")} — rename before calling")
    val p = df.sparkSession.sparkContext.defaultParallelism
    val strata = strataCols.map(col)
    // MATERIALIZED (lineage truncated) before both consumers below:
    // RangePartitioner samples its boundaries per-execution, so two plan
    // branches each containing this exchange could pick DIFFERENT
    // boundaries (column pruning keeps them from canonicalizing to one
    // reusable exchange), making spark_partition_id disagree between the
    // rows branch and the offsets branch — silently wrong totals. The
    // barrier pins one boundary sample (and one upstream computation);
    // see Frames.materialize for what its local checkpoint trades away
    // at cluster scale.
    val withLocal = {
      val ranged = df.repartitionByRange(p, orderCols: _*)
        .withColumn("__pid", spark_partition_id())
      val wLocal = Window.partitionBy(col("__pid") +: strata: _*)
        .orderBy(orderCols: _*)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Frames.materialize(ranged
        .withColumn("__local", sum(valueCol).over(wLocal))
        .withColumn("__v", valueCol))
    }
    // One row per (partition, stratum); the exclusive prefix of partition
    // totals within the stratum is that partition's offset. Computed as a
    // predecessor self-JOIN, not a window: an unpartitioned window —
    // even over this ≤ P-row frame — would put WindowExec's "No
    // Partition Defined" warning in every run's log, and a clean log is
    // the invariant that catches REAL data-sized window regressions.
    // O(P²) pairs over a cluster-size-bounded frame is trivial, and the
    // join-aggregation is bit-identical to the window for the
    // integral/decimal values the contract requires (order-free sums).
    // Totals sum the raw values (NOT max of the running sum, which is
    // wrong for negative values).
    val totals = withLocal.groupBy(col("__pid") +: strata: _*)
      .agg(sum(col("__v")).as("__ptotal"))
    val pred = totals.select(
      (col("__pid").as("__ppid") +:
        strataCols.map(n => col(n).as(s"__s_$n"))) :+
        col("__ptotal").as("__ppt"): _*)
    val predCond = (strataCols.map(n => col(n) <=> col(s"__s_$n")) :+
      (col("__ppid") < col("__pid"))).reduce(_ && _)
    val offsets = totals.join(broadcast(pred), predCond, "left")
      .groupBy(col("__pid") +: strata: _*)
      .agg(coalesce(sum(col("__ppt")), lit(0L)).as("__offset"))
      .select(col("__pid") +: (strata :+ col("__offset")): _*)
    // Null-safe equality on the strata keys: a using-column join would
    // silently DROP rows whose stratum is NULL.
    val l = withLocal.as("l")
    val r = broadcast(offsets.as("r"))
    val cond = ((col("l.__pid") === col("r.__pid")) +:
      strataCols.map(n => col(s"l.$n") <=> col(s"r.$n"))).reduce(_ && _)
    l.join(r, cond)
      .select(col("l.*") +: Seq(col("r.__offset").as("__off")): _*)
      .withColumn(out, col("__local") + col("__off"))
      .drop("__pid", "__local", "__off", "__v")
  }

  /** Several running totals over ONE global order in one pass: each
    * (valueCol, outName) pair gets its own running sum, sharing a single
    * range partition, local window, and offsets join — the multi-series
    * form (e.g. the two empirical CDFs of a KS test). Same machinery and
    * guarantees as [[runningTotal]].
    */
  def runningTotals(df: DataFrame, orderCols: Seq[Column],
                    vals: Seq[(Column, String)],
                    strataCols: Seq[String] = Nil): DataFrame = {
    require(vals.nonEmpty, "runningTotals needs at least one value column")
    val reserved = Seq("__pid", "__ppid") ++
      vals.indices.flatMap(i =>
        Seq(s"__local$i", s"__v$i", s"__pt$i", s"__off$i", s"__ppt$i"))
    val clash = df.columns.intersect(reserved)
    require(clash.isEmpty,
      s"runningTotals reserves internal column names ${reserved.mkString(", ")}; " +
        s"input already has ${clash.mkString(", ")} — rename before calling")
    val p = df.sparkSession.sparkContext.defaultParallelism
    val strata = strataCols.map(col)
    val wLocal = Window.partitionBy(col("__pid") +: strata: _*)
      .orderBy(orderCols: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // same boundary-pinning barrier as runningTotal (see comment there)
    val withLocal = Frames.materialize(
      vals.zipWithIndex.foldLeft(
          df.repartitionByRange(p, orderCols: _*)
            .withColumn("__pid", spark_partition_id())) {
        case (acc, ((v, _), i)) =>
          acc.withColumn(s"__v$i", v)
            .withColumn(s"__local$i", sum(v).over(wLocal))
      })
    // predecessor self-join, not an unpartitioned window — see
    // runningTotal's offsets comment (clean-log invariant)
    val totals = withLocal.groupBy(col("__pid") +: strata: _*)
      .agg(vals.indices.map(i => sum(col(s"__v$i")).as(s"__pt$i")).head,
        vals.indices.map(i => sum(col(s"__v$i")).as(s"__pt$i")).tail: _*)
    val pred = totals.select(
      (col("__pid").as("__ppid") +:
        strataCols.map(n => col(n).as(s"__s_$n"))) ++
        vals.indices.map(i => col(s"__pt$i").as(s"__ppt$i")): _*)
    // null-safe strata equality, same as runningTotal's offsets join
    val predCond = (strataCols.map(n => col(n) <=> col(s"__s_$n")) :+
      (col("__ppid") < col("__pid"))).reduce(_ && _)
    val offsets = totals.join(broadcast(pred), predCond, "left")
      .groupBy(col("__pid") +: strata: _*)
      .agg(
        vals.indices.map(i =>
          coalesce(sum(col(s"__ppt$i")), lit(0L)).as(s"__off$i")).head,
        vals.indices.map(i =>
          coalesce(sum(col(s"__ppt$i")), lit(0L)).as(s"__off$i")).tail: _*)
      .select(col("__pid") +: (strata ++
        vals.indices.map(i => col(s"__off$i"))): _*)
    val l = withLocal.as("l")
    val r = broadcast(offsets.as("r"))
    val cond = ((col("l.__pid") === col("r.__pid")) +:
      strataCols.map(n => col(s"l.$n") <=> col(s"r.$n"))).reduce(_ && _)
    vals.zipWithIndex.foldLeft(
        l.join(r, cond).select(col("l.*") +:
          vals.indices.map(i => col(s"r.__off$i")): _*)) {
      case (acc, ((_, out), i)) =>
        acc.withColumn(out, col(s"__local$i") + col(s"__off$i"))
    }.drop("__pid")
      .drop(vals.indices.flatMap(i =>
        Seq(s"__local$i", s"__v$i", s"__off$i")): _*)
  }

  /** `out` = running MAXIMUM of `valueCol` over the global `orderCols`
    * order — the same three-phase shape as [[runningTotal]] with max as
    * the associative combiner (per-partition running max, then each
    * partition offset by the max of all PRECEDING partitions' maxima).
    * `orderCols` must be a unique key. Partition 0 has no preceding
    * partition: its offset is null, and `greatest` skips null arms, so
    * its rows keep their local running max (the coalesce is belt and
    * braces for an all-null value column).
    *
    * Motivating use: event-log out-of-orderness profiling (running max
    * of event time in ARRIVAL order minus own event time = how late each
    * event is) — the measurement that sizes a streaming watermark delay.
    */
  def runningMax(df: DataFrame, orderCols: Seq[Column], valueCol: Column,
                 out: String): DataFrame =
    runningExtreme(df, orderCols, valueCol, out, isMax = true)

  /** Running MINIMUM over the global `orderCols` order — the mirror of
    * [[runningMax]] (least/min combiner). With a DESCENDING order column
    * this computes suffix minima ("smallest value at or after this row"),
    * the backward-fill primitive ([[graft.queries.SeriesQueries]] gap
    * interpolation).
    */
  def runningMin(df: DataFrame, orderCols: Seq[Column], valueCol: Column,
                 out: String): DataFrame =
    runningExtreme(df, orderCols, valueCol, out, isMax = false)

  /** Shared body of [[runningMax]]/[[runningMin]]: per-partition running
    * extreme, then per-partition extremes offset by a predecessor
    * self-join (no unpartitioned window — see runningTotal's offsets
    * comment). Partition 0 has no predecessors: the left join leaves its
    * offset NULL, which the greatest/least combiner skips — identical to
    * a window's null frame.
    */
  private def runningExtreme(df: DataFrame, orderCols: Seq[Column],
                             valueCol: Column, out: String,
                             isMax: Boolean): DataFrame = {
    val tag = if (isMax) "runningMax" else "runningMin"
    val reserved = Seq("__pid", "__local", "__v", "__pext", "__offext",
      "__ppid", "__ppm")
    val clash = df.columns.intersect(reserved)
    require(clash.isEmpty,
      s"$tag reserves internal column names ${reserved.mkString(", ")}; " +
        s"input already has ${clash.mkString(", ")} — rename before calling")
    val ext: Column => Column = if (isMax) max(_) else min(_)
    val combine: (Column, Column) => Column =
      if (isMax) greatest(_, _) else least(_, _)
    val p = df.sparkSession.sparkContext.defaultParallelism
    val withLocal = {
      val ranged = df.repartitionByRange(p, orderCols: _*)
        .withColumn("__pid", spark_partition_id())
      val wLocal = Window.partitionBy(col("__pid"))
        .orderBy(orderCols: _*)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Frames.materialize(ranged
        .withColumn("__local", ext(valueCol).over(wLocal))
        .withColumn("__v", valueCol))
    }
    val totals = withLocal.groupBy(col("__pid"))
      .agg(ext(col("__v")).as("__pext"))
    val pred = totals.select(col("__pid").as("__ppid"),
      col("__pext").as("__ppm"))
    val offsets = totals.join(broadcast(pred),
        col("__ppid") < col("__pid"), "left")
      .groupBy(col("__pid"))
      .agg(ext(col("__ppm")).as("__offext"))
      .select(col("__pid"), col("__offext"))
    withLocal.join(broadcast(offsets), "__pid")
      .withColumn(out,
        coalesce(combine(col("__local"), col("__offext")), col("__local")))
      .drop("__pid", "__local", "__v", "__offext")
  }

  /** Deterministic rank over a fixed-k shortlist: `orderBy(order)
    * .limit(k)`, then ranks 1..k assigned by the SAME `order` through
    * [[runningTotal]] — the order is stated once, so the selection and
    * the ranking cannot drift apart. `order` must be a total order
    * (include a unique tiebreaker). Output column `out` is 1-based LONG.
    */
  def rankTop(df: DataFrame, order: Seq[Column], k: Int,
              out: String): DataFrame =
    runningTotal(df.orderBy(order: _*).limit(k), order, lit(1L), out)

  /** Pack rows into fixed-budget shards: rows in global `orderCols`
    * order accumulate `sizeCol` (e.g. token counts); a row's shard is
    * `exclusivePrefix div budget` — shard k holds the rows whose
    * preceding mass fits in [k·budget, (k+1)·budget). Emits `cum` (the
    * inclusive running total) and `shard`. Greedy sequential packing,
    * computed with zero sequential execution.
    */
  def packShards(df: DataFrame, orderCols: Seq[Column], sizeCol: Column,
                 budget: Long, cum: String = "cum", shard: String = "shard",
                 strataCols: Seq[String] = Nil): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    // same silent-clobber guard as runningTotal's: withColumn would
    // replace a caller's __excl (and drop() then removes it)
    require(!df.columns.contains("__excl"),
      "packShards reserves the internal column name __excl; rename it before calling")
    // `div` (not `/` + cast): exact integral division, no double rounding.
    runningTotal(df, orderCols, sizeCol, cum, strataCols)
      .withColumn("__excl", (col(cum) - sizeCol).cast("long"))
      .withColumn(shard, expr(s"__excl div ${budget}L"))
      .drop("__excl")
  }
}
