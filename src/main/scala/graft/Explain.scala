package graft

import org.apache.spark.sql.SparkSession

/** Dev tool: print the formatted physical plan and wall time of one
  * registered query. Usage: Explain <queryName> <sfDir> [reps]
  * (reps > 1 separates codegen/JIT warmup from steady-state execution).
  * Runs at `local[SPARK_GRAFT_CPUS]` (default 32) with as many shuffle
  * partitions, the same setting as [[Bench]] and [[Verify]].
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val reps = if (args.length > 2) args(2).toInt else 1
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]").appName("graft-explain")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    val df = SparkEntry.queries(name)(spark, dir)
    df.explain("formatted")
    (1 to reps).foreach { r =>
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      // rebuild per rep: eager operators (components, prefix barriers) do
      // their work at construction, and a cached plan would hide it
      io.Writers.noop(SparkEntry.queries(name)(spark, dir))
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"rep=$r time=$sec%.2fs")
    }
    spark.stop()
  }
}
