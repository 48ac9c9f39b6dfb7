package graft

import org.apache.spark.sql.functions._

import graft.ops.Frames

/** The spread guard (round-16 optimization): the repartition fires for
  * under-split file scans and derived frames, and is a NO-OP exactly
  * when every leaf is a file relation whose combined size already
  * yields >= defaultParallelism scan splits.
  */
class FramesSpec extends SparkSpec {
  import spark.implicits._

  test("spread repartitions a single-split file scan to defaultParallelism") {
    val p = spark.sparkContext.defaultParallelism
    // sf0.1 lineitem (~11 MB): one scan split, above the tiny-input floor
    val scan = spark.read.parquet("/root/testdata/sf0.1/lineitem.parquet")
    val out = Frames.spread(scan.select(col("l_orderkey")))
    out.rdd.getNumPartitions shouldBe p
    // and the rows are intact (same multiset)
    out.count() shouldBe scan.count()
  }

  test("spread is a no-op below the tiny-input floor") {
    // sf0.001 lineitem (~117 KB < the 256 KB floor): the
    // exchange would cost more than the single-task work it spreads
    val scan = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val out = Frames.spread(scan.select(col("l_orderkey")))
    assert(!out.queryExecution.optimizedPlan.toString.contains("Repartition"),
      s"expected no repartition below the floor, got:\n${out.queryExecution.optimizedPlan}")
  }

  test("spread repartitions derived (non-file-leaf) frames — unknown stats fail toward spreading") {
    val p = spark.sparkContext.defaultParallelism
    val local = (1 to 100).toDF("v").coalesce(1)
    Frames.spread(local).rdd.getNumPartitions shouldBe p
    val ckpt = (1 to 100).toDF("v").coalesce(1).localCheckpoint(true)
    Frames.spread(ckpt).rdd.getNumPartitions shouldBe p
  }

  test("spread is a no-op when file leaves already cover the parallelism") {
    // shrink the split size so the fixture file counts as many splits;
    // sf0.1 lineitem (~11 MB) is above the tiny-input floor, so this
    // exercises the split-count branch alone
    val prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "1024") // 1 KB
    try {
      val scan = spark.read.parquet("/root/testdata/sf0.1/lineitem.parquet")
      val out = Frames.spread(scan)
      // the plan must be the scan itself — no Exchange on top
      assert(!out.queryExecution.optimizedPlan.toString.contains("Repartition"),
        s"expected no repartition, got:\n${out.queryExecution.optimizedPlan}")
    } finally {
      spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
    }
  }
}
