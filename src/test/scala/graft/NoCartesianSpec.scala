package graft

import org.apache.spark.sql.functions._

/** Invariant 2 of [[PlanInvariantsSpec]] (no unbounded nested loop),
  * checked on the one registry sweep that spec shares: a nested-loop
  * join needs a statically bounded or broadcast-hinted side.
  */
class NoCartesianSpec extends SparkSpec {
  import PlanInvariantsSpec._

  test("EVERY declared query: nested-loop joins only against statically bounded sides") {
    // negative control: a genuine data×data cross join MUST be flagged
    val a = spark.read.parquet(s"$dir/nation.parquet")
    val b = spark.read.parquet(s"$dir/region.parquet")
    assert(unboundedNestedLoops(a.crossJoin(b)).nonEmpty,
      "probe no longer flags a scan×scan cross join")
    // ...and the legal pattern must NOT be: a global-agg scalar side
    // has maxRows=1
    assert(unboundedNestedLoops(
      a.crossJoin(b.agg(count(lit(1)).as("n")))).isEmpty,
      "probe flags the scalar-broadcast fan-out pattern")
    sweep.get.nestedLoops shouldBe empty
  }
}
