package graft.ops

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.storage.StorageLevel

/** Shared DataFrame plumbing used across operator modules. */
object Frames {

  /** Parquet inputs smaller than this are read as one partition
    * ([[graft.io.Footers.read]]) and stay there ([[spread]]), and a
    * streaming replay gets one state partition per this many input bytes
    * ([[graft.streaming.StreamRun.statePartitions]]).
    */
  val smallInputBytes: Long = 256L * 1024

  /** Round-robin the frame across all cores — but ONLY when it is
    * under-partitioned. A parquet file below maxPartitionBytes arrives as
    * ONE scan partition, which would run CPU-heavy downstream stages
    * single-threaded; one shuffle parallelizes them. At
    * cluster scale the same input arrives as hundreds of splits, and
    * there this is a NO-OP: repartitioning a well-partitioned fact table
    * down to defaultParallelism would be a pure pessimization, so the
    * guard makes the lever scale-adaptive rather than a local[32]
    * tuning constant: SKIP the repartition only when every leaf is a
    * file relation (sizes are real, not estimates) and the combined
    * estimated split count (bytes / maxPartitionBytes) already covers
    * defaultParallelism; any derived/cached/checkpointed leaf keeps
    * the old always-spread behavior (their stats are estimates or the
    * defaultSizeInBytes sentinel, and skipping on those could leave a
    * heavy stage single-threaded). The guard also skips TINY file
    * inputs (combined bytes below [[smallInputBytes]], 256 KB), which
    * [[graft.io.Footers.read]] returns as a single partition on purpose:
    * below ~8 KB of input per core there is not enough work per task to
    * amortize the exchange + task scheduling, and the repartition
    * measurably SLOWS the sf0.001-class replay (measured round 16:
    * +0.3..0.4 s per affected query). Reads only optimizer statistics —
    * plans no job, never touches `.rdd` (which under AQE would execute
    * upstream stages eagerly).
    */
  def spread(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    val sess = df.sparkSession
    val p = sess.sparkContext.defaultParallelism
    val maxSplit = BigInt(
      math.max(1L, sess.sessionState.conf.filesMaxPartitionBytes))
    val leaves = df.queryExecution.optimizedPlan.collectLeaves()
    val allFiles = leaves.nonEmpty && leaves.forall(_.isInstanceOf[LogicalRelation])
    lazy val bytes = leaves.map(_.stats.sizeInBytes).sum
    if (allFiles && (bytes / maxSplit >= p || bytes < smallInputBytes)) df
    else df.repartition(p)
  }

  /** Cache only if the caller has not already done so (double-caching
    * logs "already cached" warnings and double-registers the plan).
    */
  def cached(df: DataFrame): DataFrame =
    if (df.storageLevel == StorageLevel.NONE) df.cache() else df

  /** Eagerly materialize a frame and truncate its lineage — the barrier
    * iterative operators ([[graft.dedup.Dedup.components]],
    * [[graft.ops.Prefix.runningTotal]]) place between rounds/branches.
    *
    * `localCheckpoint(eager = true)`: executor-local blocks, no
    * checkpoint directory needed — right for the local harness and for
    * short-lived intermediates. At cluster scale that trades away fault
    * tolerance (an executor loss after the checkpoint fails the job
    * because the blocks have no lineage to recompute from) and pins
    * executor storage until the session drops the RDD.
    */
  def materialize(df: DataFrame): DataFrame = df.localCheckpoint(true)

  /** The size rule of the iterative graph kernels
    * ([[graft.dedup.Dedup.components]], [[graft.graph.PageRank.run]],
    * [[graft.graph.PageRank.runPersonalized]]): a materialized frame of
    * `rows` rows is collected and processed on the driver when `rows` ×
    * Spark's own per-row size estimate for its schema
    * (`EstimationUtils.getSizePerRow`: 8 B of row overhead plus each
    * column's default size, so 24 B for a (long, long) edge) is at most
    * `spark.sql.autoBroadcastJoinThreshold`, the size Spark already ships
    * whole to every executor. So a driver path collects at most
    * threshold ÷ per-row estimate rows (about 437k long edges at the
    * default 10 MB); the estimate is Spark's row size, not that of the
    * collected JVM objects, which are larger. A threshold of -1 turns
    * every driver path off, as it turns off broadcast joins. Reads the
    * analyzed schema only: plans no job.
    */
  def driverSized(df: DataFrame, rows: Long): Boolean = {
    val threshold = df.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    EstimationUtils.getSizePerRow(df.queryExecution.analyzed.output) * rows <= threshold
  }

  /** [[materialize]] `steps` applied one after another to `df`, and
    * count the rows of `df` and of each step's output in the same job:
    * each count is a `count(lit(1))` [[Observation]] (a `CollectMetrics`
    * node, `Dataset.observe`) that the checkpoint job computes as a side
    * effect, so counting adds no job and no re-read of the input.
    * Returns the materialized frame (a `LogicalRDD`, so no observation
    * leaks into the caller's plan) and `steps.size + 1` counts, input
    * first.
    *
    * The optimizer drops a counter beneath a step it proves empty (a
    * constant-false filter or `limit(0)` folds the subtree, counter and
    * all, into an empty `LocalRelation`), so that observation never fires.
    * Such a stage is counted on its own with `count()` over the unobserved
    * frame; a chain whose counters all fired (the usual case, and also a
    * zero-partition input, whose counters fire with 0) runs one job.
    */
  def materializeCounted(df: DataFrame, steps: (DataFrame => DataFrame)*)
      : (DataFrame, Seq[Long]) = {
    val observations = Seq.fill(steps.size + 1)(Observation())
    def counted(d: DataFrame, o: Observation) = d.observe(o, count(lit(1)).as("n"))
    val last = steps.zip(observations.tail).foldLeft(counted(df, observations.head)) {
      case (d, (step, o)) => counted(step(d), o)
    }
    val out = materialize(last)
    lazy val frames = steps.scanLeft(df)((d, step) => step(d))
    val counts = observations.zipWithIndex.map { case (o, i) =>
      o.get.get("n").fold(frames(i).count())(_.asInstanceOf[Long])
    }
    (out, counts)
  }
}
