package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.Relational.dsum

/** Fixed-iteration PageRank over an edge list — the graph-centrality
  * primitive behind duplicate-cluster hub detection and link-graph
  * quality signals in a web-corpus pipeline.
  *
  * Reference analogy: the reference's relational joins stop at one hop
  * (`denormalized_tables.py`); PageRank is the iterated-join form, each
  * iteration a join + aggregation — the classic Spark fixed-point shape
  * (same pattern as [[graft.dedup.Dedup.components]]).
  *
  * Scale design (100 TB edge list):
  *  - each iteration is ONE shuffle: contributions flow edge→dst via an
  *    equi-join on src, then a hash aggregation on dst;
  *  - ranks/degrees are (node, scalar) frames — tiny relative to edges;
  *    the edge frame is re-read per iteration (cache it at cluster scale);
  *  - no driver-side state beyond the node count (one scalar).
  *
  * Determinism: per-edge contributions are computed as doubles (IEEE-fixed
  * expression shape), then summed decimal-routed ([[dsum]]) so the
  * aggregation is order-independent; the damping update is a fixed
  * double expression. The whole recurrence replays in DuckDB CTEs
  * bit-for-bit.
  */
object PageRank {

  /** `edges`: directed (src, dst) pairs, pre-deduplicated. For an
    * undirected graph pass both directions. Returns (node, rank) after
    * `iters` damped iterations from the uniform start. Dangling nodes
    * (no out-edges) are assumed absent — symmetrize the graph to
    * guarantee that — so the node set IS the distinct src set.
    *
    * `broadcastRanks`: the rank and degree vectors are |nodes| rows —
    * model-size when the graph's nodes are dimension-like (this query's
    * part/supplier graph), in which case broadcasting them keeps each
    * iteration a single map-side join + one shuffle (the dst aggregation).
    * For web-scale graphs whose node set exceeds executor memory, pass
    * false: the joins fall back to shuffle equi-joins co-partitioned on
    * src and the iteration costs two shuffles instead of one.
    */
  def run(edges: DataFrame, iters: Int, damping: Double = 0.85,
      broadcastRanks: Boolean = true): DataFrame = {
    import graft.ops.Frames.{materialize, materializeCounted}
    // Materialize the edge list ONCE: the caller's edge derivation is
    // typically a distinct over the fact table, and without this barrier
    // every iteration's join (plus deg below) would re-execute it — the
    // final rank plan re-derives edges once per nesting level, turning
    // k iterations into O(k) full fact-table scans.
    val e = materialize(edges)
    // (node, deg) is consumed by every iteration — pin it. Its key set is
    // exactly the node set (no-dangling contract), so the rank vector
    // seeds from it and the node count is counted by the same job.
    // The (node, scalar) frames are model-sized — coalesce before each
    // barrier so per-round cost isn't 32 near-empty tasks + 32 block
    // writes per checkpoint (local replay; at cluster scale size to the
    // rank vector, not the default shuffle width).
    val (deg, Seq(n)) = materializeCounted(
      e.groupBy("src").agg(count(lit(1)).as("deg")).coalesce(4))
    val base = (1.0 - damping) / n
    def bc(df: DataFrame): DataFrame = if (broadcastRanks) broadcast(df) else df
    var rank = deg.select(col("src").as("node"), lit(1.0 / n).as("pr"))
    for (it <- 1 to iters) {
      // round-then-cast at the SAME scale: a raw double cast to
      // DECIMAL(27,18) can land exactly on a rounding tie (doubles near
      // 1e-4 have ~20-digit exact expansions) where Spark (HALF_UP) and
      // DuckDB disagree by 1e-18; rounding to 12 decimals first makes the
      // decimal cast unambiguous on both engines (the UnigramLm pattern).
      // Both small sides broadcast by request, not by estimation: the
      // checkpointed frames carry no size stats, so the planner would
      // otherwise sort-merge a fact-size edge list against a dim-size
      // rank vector every round.
      // The per-src contribution round(pr/deg, 12) depends only on the
      // SOURCE node, so it is computed once per node in a node-sized
      // pre-join, not once per edge: the edge-sized pass of each round
      // is then a single hash probe + emit (one broadcast build and one
      // probe per edge instead of two, no per-edge division) — same
      // values, the oracle's per-edge expression is deterministic in src.
      val w = rank.withColumnRenamed("node", "src")
        .join(bc(deg), "src")
        .select(col("src"), round(col("pr") / col("deg"), 12).as("c"))
      val contrib = e.join(bc(w), "src")
        .select(col("dst").as("node"), col("c"))
      val next = contrib.groupBy("node")
        .agg((lit(base) + lit(damping) * dsum(col("c"), 12)).as("pr"))
      // Truncate the recurrence per round ((node, pr) rows only): without
      // this, executing rank(k) re-executes every prior round's join.
      // The last round stays lazy — the caller's action materializes it.
      rank = if (it < iters) materialize(next.coalesce(4)) else next
    }
    rank
  }

  /** Personalized PageRank / TrustRank (Gyöngyi VLDB'04 "Combating web
    * spam with TrustRank"): the teleport mass lands ONLY on `seeds`
    * instead of uniformly — rank flows outward from a trusted seed set,
    * so a node's score is its random-walk reachability FROM trust, the
    * signal a corpus-curation pipeline uses to extend a small
    * hand-audited source list to the whole graph. Same per-iteration
    * shape as [[run]] (one equi-join + one hash aggregation + a
    * seed-side union), same decimal-routed determinism; `seeds` is a
    * (node) frame, typically model-sized (broadcast with the rank
    * vector via `broadcastRanks`). Nodes unreachable from the seeds
    * simply never appear (score 0), so the output is the reached set —
    * at web scale that sparsity is the point. No-dangling contract as
    * in [[run]] (symmetrize the graph).
    */
  def runPersonalized(edges: DataFrame, iters: Int, seeds: DataFrame,
      damping: Double = 0.85, broadcastRanks: Boolean = true): DataFrame = {
    import graft.ops.Frames.{materialize, materializeCounted}
    val e = materialize(edges)
    val deg = materialize(
      e.groupBy("src").agg(count(lit(1)).as("deg")).coalesce(4))
    val (sd, Seq(nSeeds)) =
      materializeCounted(seeds.select(col("node")).distinct().coalesce(4))
    require(nSeeds > 0, "runPersonalized needs a non-empty seed set")
    val baseSeed = (1.0 - damping) / nSeeds
    def bc(df: DataFrame): DataFrame = if (broadcastRanks) broadcast(df) else df
    var rank = sd.select(col("node"), lit(1.0 / nSeeds).as("pr"))
    for (it <- 1 to iters) {
      // same round-then-decimal-sum discipline as run()'s contrib, and
      // the same node-sized pre-join: round(pr/deg, 12) is a per-SRC
      // value, so each round's edge pass is one probe + emit
      val wsrc = rank.withColumnRenamed("node", "src")
        .join(bc(deg), "src")
        .select(col("src"), round(col("pr") / col("deg"), 12).as("c"))
      val walk = e.join(bc(wsrc), "src")
        .select(col("dst").as("node"), col("c"))
        .groupBy("node")
        .agg(dsum(col("c"), 12).cast("double").as("w"))
      // pr = [node ∈ seeds]·baseSeed + damping·walk — assembled as the
      // same two-branch sum the oracle's FULL JOIN computes
      val seeded = walk
        .join(bc(sd.withColumn("__seed", lit(1))), Seq("node"), "left")
        .select(col("node"),
          (when(col("__seed") === 1, lit(baseSeed)).otherwise(lit(0.0))
            + lit(damping) * col("w")).as("pr"))
      val seedOnly = sd
        .join(walk.select("node"), Seq("node"), "left_anti")
        .select(col("node"), lit(baseSeed).as("pr"))
      val next = seeded.unionByName(seedOnly)
      rank = if (it < iters) materialize(next.coalesce(4)) else next
    }
    rank
  }

  /** DuckDB oracle for [[runPersonalized]]: unrolled CTEs over
    * `edges(src, dst)` and `seeds(node)`; the caller selects from
    * `p{iters}`. Literal discipline as in [[oracleCtes]].
    */
  def personalizedOracleCtes(iters: Int, damping: Double = 0.85): String = {
    import graft.functions.PortableSql.doubleLit
    val d = s"CAST(${doubleLit(damping)} AS DOUBLE)"
    val base =
      s"(CAST(${doubleLit(1.0 - damping)} AS DOUBLE) / (SELECT count(*) FROM seeds))"
    val p0 =
      "p0 AS (SELECT node, CAST(1 AS DOUBLE) / (SELECT count(*) FROM seeds) AS pr FROM seeds)"
    val degree = "pdeg AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1)"
    val its = (1 to iters).map { i =>
      s"""w$i AS (
         SELECT e.dst AS node,
           CAST(sum(CAST(round(r.pr / pdeg.deg, 12) AS DECIMAL(27,12))) AS DOUBLE) AS w
         FROM edges e JOIN p${i - 1} r ON e.src = r.node JOIN pdeg ON e.src = pdeg.src
         GROUP BY 1),
       p$i AS (
         SELECT coalesce(a.node, s.node) AS node,
           (CASE WHEN s.node IS NOT NULL THEN $base ELSE CAST(0 AS DOUBLE) END)
           + (CASE WHEN a.node IS NULL THEN CAST(0 AS DOUBLE) ELSE $d * a.w END) AS pr
         FROM w$i a FULL JOIN seeds s ON s.node = a.node)"""
    }
    (Seq(degree, p0) ++ its).mkString(", ")
  }

  /** DuckDB oracle for [[run]]: unrolled iteration CTEs over an edge CTE
    * named `edges(src, dst)` and a node CTE `nodes(node)`. Appends to a
    * caller-provided WITH chain; the caller selects from `r{iters}`.
    *
    * Literal discipline: bare decimal literals parse as DECIMAL in DuckDB
    * (so `1.0 - 0.85` would be exact decimal 0.15, NOT the Scala double
    * 0.15000000000000002). Every constant is pre-computed as a Scala
    * double and embedded via [[graft.functions.PortableSql.doubleLit]]
    * inside CAST(... AS DOUBLE), and every division has a DOUBLE operand
    * — the identical IEEE ops the Spark side runs.
    */
  def oracleCtes(iters: Int, damping: Double = 0.85): String = {
    import graft.functions.PortableSql.doubleLit
    val d = s"CAST(${doubleLit(damping)} AS DOUBLE)"
    val oneMinusD = s"CAST(${doubleLit(1.0 - damping)} AS DOUBLE)"
    val baseExpr = s"$oneMinusD / (SELECT count(*) FROM nodes)"
    val r0 = s"r0 AS (SELECT node, CAST(1 AS DOUBLE) / (SELECT count(*) FROM nodes) AS pr FROM nodes)"
    val degree = s"deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1)"
    val its = (1 to iters).map { i =>
      s"""r$i AS (
         SELECT e.dst AS node,
           $baseExpr + $d * CAST(sum(CAST(round(r.pr / deg.deg, 12) AS DECIMAL(27,12))) AS DOUBLE) AS pr
         FROM edges e JOIN r${i - 1} r ON e.src = r.node JOIN deg ON e.src = deg.src
         GROUP BY 1)"""
    }
    (Seq(degree, r0) ++ its).mkString(", ")
  }
}
