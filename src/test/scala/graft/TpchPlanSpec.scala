package graft

/** Physical-plan assertions for the round-5 TPC-H shapes: the plans the
  * 100 TB story depends on, pinned so a regression (lost pushdown, join
  * flip to shuffle) fails fast rather than silently degrading.
  */
class TpchPlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def plan(q: String): String = {
    // other suites leave fixture frames cached; a cached subtree would
    // substitute an InMemoryTableScan (no PushedFilters) into the plan —
    // the same per-query isolation Verify applies
    spark.catalog.clearCache()
    SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan.toString
  }

  test("q217 (Q19): quantity envelope reaches the lineitem parquet scan") {
    val p = plan("q217_tpch_q19")
    // the 1..30 envelope must appear as pushed filters on the fact scan,
    // not merely as a post-scan Filter
    p should include("PushedFilters")
    p.linesIterator.filter(_.contains("lineitem"))
      .mkString should include regex "GreaterThanOrEqual\\(l_quantity,1.0\\)"
  }

  test("q214 (Q7) joins every dimension via broadcast — fact never shuffles for the join") {
    val p = plan("q214_tpch_q7")
    p should include("BroadcastHashJoin")
    // orders is the only other fact-sized input; supplier/customer/nation
    // sides must not appear behind a shuffle-exchange hash join
    p should not include "SortMergeJoin"
  }

  test("q216 (Q17): per-part threshold joined back without a cartesian or SMJ on the fact") {
    val p = plan("q216_tpch_q17")
    p should include("BroadcastHashJoin")
    p should not include "CartesianProduct"
  }

  test("q240 (Q2): dims broadcast adaptively; at most the min-cost join shuffles at runtime") {
    // round-11: forced dim hints removed (PlanInvariantsSpec) — without
    // CBO the STATIC estimate of a chained dim join is left×right bytes,
    // so the pre-AQE plan legitimately shows shuffle joins; the contract
    // is the RUNTIME one: AQE's real sizes re-broadcast every dim-sized
    // side. Execute at sf0.001 and pin the FINAL adaptive plan: at most
    // the per-part min-cost join-back remains a shuffle join (the
    // correct 100 TB shape — a part-keyed frame must shuffle at scale),
    // and no cartesian anywhere.
    spark.catalog.clearCache()
    val df = SparkEntry.queries("q240_tpch_q2")(spark, "/root/testdata/sf0.001")
    val _ = df.collect()
    // executedPlan.toString on an executed AQE plan prints BOTH the
    // final and the initial plan — assert on the final section only
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    p should include("isFinalPlan=true")
    p should include("BroadcastHashJoin")
    assert(p.linesIterator.count(_.contains("SortMergeJoin")) <= 1,
      s"more than one runtime shuffle join in:\n$p")
    p should not include "CartesianProduct"
  }

  test("q244 (Q21): EXISTS/NOT EXISTS decorrelate to semi + anti equi-joins") {
    val p = plan("q244_tpch_q21")
    p should include("LeftSemi")
    p should include("LeftAnti")
    p should not include "CartesianProduct"
    p should not include "BroadcastNestedLoopJoin"
  }

  test("q243 (Q20): nested agg reuses the rollup; membership is a semi join") {
    val p = plan("q243_tpch_q20")
    p should include("LeftSemi")
    p should not include "CartesianProduct"
  }

  test("q238 (Q9): part-name filter prunes on the part scan; dims broadcast") {
    val p = plan("q238_tpch_q9")
    p should include("BroadcastHashJoin")
    p should not include "CartesianProduct"
    // the %gear% restriction must reach the part parquet scan as a pushed
    // StringContains — lineitem is filtered through the broadcast of that
    // already-pruned side, never the other way round
    p.linesIterator.filter(_.contains("part"))
      .mkString should include("StringContains(p_name,gear)")
  }

  test("q239 (Q16): brand/size restrictions push to the part scan; join is broadcast") {
    val p = plan("q239_tpch_q16")
    p should include("BroadcastHashJoin")
    p should not include "SortMergeJoin"
    val partScan = p.linesIterator.filter(_.contains("part")).mkString
    partScan should include("In(p_size")
    partScan should include("Not(EqualTo(p_brand,Brand#13))")
  }

  test("q241 (Q11): nation filter + cutoff both broadcast — one fact shuffle only") {
    val p = plan("q241_tpch_q11")
    p should include("BroadcastHashJoin")
    p should not include "CartesianProduct"
    p should not include "SortMergeJoin"
  }

  test("q242 (Q12): returnflag IN-list reaches the lineitem scan") {
    val p = plan("q242_tpch_q12")
    p should not include "CartesianProduct"
    p.linesIterator.filter(_.contains("lineitem"))
      .mkString should include("In(l_returnflag")
  }

  test("q171 (Q5): region + order-year reach their scans; dims broadcast, no cartesian") {
    val p = plan("q171_tpch_q5")
    p should include("BroadcastHashJoin")
    p should not include "CartesianProduct"
    p should not include "BroadcastNestedLoopJoin"
    // both selective predicates must be PUSHED, not post-scan: the
    // order-date year on the orders scan, the region name on region
    p.linesIterator.filter(_.contains("orders"))
      .mkString should include("GreaterThanOrEqual(o_orderdate")
    p.linesIterator.filter(_.contains("region"))
      .mkString should include("EqualTo(r_name,ASIA)")
  }

  test("q172 (Q18): HAVING rollup reduces lineitem BEFORE any join; customer broadcasts") {
    val p = plan("q172_tpch_q18")
    p should include("BroadcastHashJoin")
    p should not include "CartesianProduct"
    // the lineitem aggregate must sit BELOW the orders join (the fact
    // is reduced to qualifying orderkeys first): the plan string lists
    // children above parents, so the first lineitem HashAggregate must
    // appear after (deeper than) the last join line
    val lines = p.linesIterator.toSeq
    val aggIdx = lines.indexWhere(l =>
      l.contains("HashAggregate") && l.contains("l_orderkey"))
    val joinIdx = lines.lastIndexWhere(_.contains("Join"))
    aggIdx should be > joinIdx
  }

  test("q155 (Q10): returnflag reaches the lineitem scan, order-date range the orders scan") {
    val p = plan("q155_tpch_q10")
    p should include("BroadcastHashJoin")
    p should not include "CartesianProduct"
    p.linesIterator.filter(_.contains("lineitem"))
      .mkString should include("EqualTo(l_returnflag,R)")
    p.linesIterator.filter(_.contains("orders"))
      .mkString should include("GreaterThanOrEqual(o_orderdate")
  }

  test("q215 (Q13): priority filter pushes into the outer side's scan; join stays left-outer equi") {
    val p = plan("q215_tpch_q13")
    p should include("LeftOuter")
    p should not include "CartesianProduct"
    p should not include "BroadcastNestedLoopJoin"
    // the <> '1-URGENT' restriction belongs ON the orders scan (it is
    // part of the join, not a WHERE — pushing it post-join would turn
    // the left join into an inner one)
    p.linesIterator.filter(_.contains("orders"))
      .mkString should include("Not(EqualTo(o_orderpriority,1-URGENT))")
  }

  test("q230 (Q8): type + region restrictions push to their dim scans; no cartesian") {
    val p = plan("q230_tpch_q8")
    p should include("BroadcastHashJoin")
    p should not include "CartesianProduct"
    p should not include "BroadcastNestedLoopJoin"
    p.linesIterator.filter(_.contains("part"))
      .mkString should include("EqualTo(p_type,ECONOMY)")
    p.linesIterator.filter(_.contains("region"))
      .mkString should include("EqualTo(r_name,ASIA)")
  }

  test("classic star shape (Q5 slice): DPP prunes a suppkey-partitioned fact staging") {
    // The TPC-H star DPP invariant, pinned as a standing shape rather
    // than q294's one-off: fact hive-partitioned ON the star join key,
    // the selectivity arriving through region (a NON-key predicate two
    // dims away) — Catalyst must inject the runtime dynamicpruning
    // subquery into the fact scan's PartitionFilters, so the pruned
    // supplier partitions are never read. If DPP silently stops firing
    // on the classic shape, this fails — not the bench.
    import org.apache.spark.sql.functions._
    spark.catalog.clearCache()
    val root = java.nio.file.Files
      .createTempDirectory("graft_dpp_star").toString
    spark.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"),
        col("l_suppkey"))
      .write.mode("overwrite").partitionBy("l_suppkey").parquet(root)
    val fact = spark.read.parquet(root)
    val supplier = spark.read.parquet(s"$dir/supplier.parquet")
    val nation = spark.read.parquet(s"$dir/nation.parquet")
    val region = spark.read.parquet(s"$dir/region.parquet")
      .where(col("r_name") === "ASIA")
    val dim = supplier
      .join(nation, supplier("s_nationkey") === nation("n_nationkey"))
      .join(region, nation("n_regionkey") === region("r_regionkey"))
    val q = fact.join(dim, fact("l_suppkey") === dim("s_suppkey"))
      .groupBy(col("n_name"))
      .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
        .cast("decimal(27,4)")).as("revenue"))
    val p = q.queryExecution.executedPlan.toString
    p should include("BroadcastHashJoin")
    // the runtime subquery must sit IN the fact scan's PartitionFilters
    withClue(p.linesIterator.filter(_.contains("PartitionFilters"))
        .mkString("\n", "\n", "\n")) {
      assert(p.linesIterator.exists(l =>
        l.contains("PartitionFilters") &&
          l.toLowerCase.contains("dynamicpruning")))
    }
  }

  test("q231 (Q15): exact-decimal max compared via broadcast scalar, no global sort") {
    val p = plan("q231_tpch_q15")
    withClue(p.linesIterator.filter(l =>
      l.contains("Join") || l.contains("Exchange")).mkString("\n", "\n", "\n")) {
      // Catalyst rewrites the broadcast-scalar cross join + equality
      // filter into an equality BroadcastHashJoin on max_rev — pin that
      p should include("BroadcastHashJoin")
      p should not include "CartesianProduct"
      p should not include "SortMergeJoin"
    }
  }
}
