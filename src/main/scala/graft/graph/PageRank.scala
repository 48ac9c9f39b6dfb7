package graft.graph

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.Frames.{driverSized, materialize, materializeCounted}
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
  *  - a broadcast-sized edge list skips all of that: it is collected and
  *    iterated on the driver (the size rule of
  *    [[graft.ops.Frames.driverSized]], shared with
  *    [[graft.dedup.Dedup.components]]), which holds the edges, the
  *    degrees and one rank vector; larger graphs keep no driver-side state
  *    beyond the node count (one scalar).
  *
  * Determinism: per-edge contributions are computed as doubles (IEEE-fixed
  * expression shape), then summed decimal-routed ([[dsum]]) so the
  * aggregation is order-independent; the damping update is a fixed
  * double expression. The whole recurrence replays in DuckDB CTEs
  * bit-for-bit, and the driver path replays the distributed one the same
  * way (see [[Collected]]).
  */
object PageRank {

  /** `edges`: directed (src, dst) pairs, pre-deduplicated. For an
    * undirected graph pass both directions. Returns (node, rank) after
    * `iters` damped iterations from the uniform start. Dangling nodes
    * (no out-edges) are assumed absent — symmetrize the graph to
    * guarantee that — so the node set IS the distinct src set.
    *
    * Path selection: the edge list is materialized and counted in one job;
    * when it passes [[graft.ops.Frames.driverSized]] (and `iters > 0`) it
    * is collected and the rounds run on the driver, returning a local
    * relation with the same schema and rows as the distributed rounds
    * below, which run otherwise.
    *
    * There the rank and degree vectors (|nodes| rows) are broadcast by
    * hint when they pass `driverSized` at the node count, so an iteration
    * is one map-side join + one shuffle; past it (web scale, or a
    * threshold of -1) the joins shuffle on src: two shuffles.
    */
  def run(edges: DataFrame, iters: Int, damping: Double = 0.85): DataFrame = {
    // Materialize the edge list ONCE: the caller's edge derivation is
    // typically a distinct over the fact table, and without this barrier
    // every iteration's join (plus deg below) would re-execute it — the
    // final rank plan re-derives edges once per nesting level, turning
    // k iterations into O(k) full fact-table scans.
    val (e, Seq(nEdges)) = materializeCounted(edges)
    if (iters > 0 && Collected.fits(e, nEdges)) runOnDriver(new Collected(e), iters, damping)
    else runDistributed(e, iters, damping)
  }

  /** [[run]]'s rounds on the driver. The node count includes a null-src
    * degree group, as the distributed `groupBy("src")` does.
    */
  private def runOnDriver(g: Collected, iters: Int, damping: Double): DataFrame = {
    val n = g.deg.size + (if (g.nullSrc) 1 else 0)
    val base = (1.0 - damping) / n
    var rank: Seq[(Any, Double)] = g.deg.keys.map(_ -> 1.0 / n).toSeq
    for (_ <- 1 to iters)
      rank = g.walk(rank).map { case (node, w) => node -> (base + damping * w) }
    g.frame(rank, g.nodeField)
  }

  private def runDistributed(e: DataFrame, iters: Int, damping: Double): DataFrame = {
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
    def bc(df: DataFrame): DataFrame = if (driverSized(df, n)) broadcast(df) else df
    var rank = deg.select(col("src").as("node"), lit(1.0 / n).as("pr"))
    for (it <- 1 to iters) {
      // round-then-cast at the SAME scale: a raw double cast to
      // DECIMAL(27,18) can land exactly on a rounding tie (doubles near
      // 1e-4 have ~20-digit exact expansions) where Spark (HALF_UP) and
      // DuckDB disagree by 1e-18; rounding to 12 decimals first makes the
      // decimal cast unambiguous on both engines (the UnigramLm pattern).
      // Both node-sized sides broadcast by request, not by estimation:
      // the checkpointed frames carry no size stats, so the planner would
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
    * vector under [[run]]'s size rule). Nodes unreachable from the
    * seeds simply never appear (score 0), so the output is the reached set —
    * at web scale that sparsity is the point. No-dangling contract as
    * in [[run]] (symmetrize the graph).
    */
  def runPersonalized(edges: DataFrame, iters: Int, seeds: DataFrame,
      damping: Double = 0.85): DataFrame = {
    val (e, Seq(nEdges)) = materializeCounted(edges)
    val (sd, Seq(nSeeds)) =
      materializeCounted(seeds.select(col("node")).distinct().coalesce(4))
    require(nSeeds > 0, "runPersonalized needs a non-empty seed set")
    // the driver path of run(), when the seed set fits as well
    if (iters > 0 && Collected.fits(e, nEdges) && driverSized(sd, nSeeds) &&
        sd.schema("node").dataType == e.schema("dst").dataType)
      personalizedOnDriver(new Collected(e), sd, iters, damping)
    else personalizedDistributed(e, sd, nSeeds, iters, damping)
  }

  /** [[runPersonalized]]'s rounds on the driver: the same `seeded ∪
    * seedOnly` assembly and expression order. A null seed never matches
    * a walked node, so it stays in `seedOnly` (the left-anti join keeps
    * it) and can sit beside a walked null `dst`.
    */
  private def personalizedOnDriver(g: Collected, sd: DataFrame, iters: Int,
      damping: Double): DataFrame = {
    val seeds = sd.collect().map(r => g.key(r.get(0))).toSeq
    val seedSet = seeds.toSet
    val baseSeed = (1.0 - damping) / seeds.size
    var rank: Seq[(Any, Double)] = seeds.map(_ -> 1.0 / seeds.size)
    for (_ <- 1 to iters) {
      val walk = g.walk(rank)
      val seeded = walk.map { case (node, w) =>
        node -> ((if (node != null && seedSet(node)) baseSeed else 0.0) + damping * w)
      }
      val walked = walk.map(_._1).toSet
      val seedOnly = seeds.filterNot(s => s != null && walked(s)).map(_ -> baseSeed)
      rank = seeded ++ seedOnly
    }
    g.frame(rank, g.nodeField.copy(
      nullable = g.nodeField.nullable || sd.schema("node").nullable))
  }

  private def personalizedDistributed(e: DataFrame, sd: DataFrame, nSeeds: Long,
      iters: Int, damping: Double): DataFrame = {
    val (deg, Seq(n)) = materializeCounted(
      e.groupBy("src").agg(count(lit(1)).as("deg")).coalesce(4))
    val baseSeed = (1.0 - damping) / nSeeds
    val bound = math.max(n, nSeeds) // rows of any hinted frame
    def bc(df: DataFrame): DataFrame = if (driverSized(df, bound)) broadcast(df) else df
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

  /** A materialized edge list collected for the driver path. Nodes are
    * keyed by Catalyst value (a `UTF8String` equals and hashes by its
    * bytes, as Spark's join and grouping keys do), which holds for the
    * integral, string, date and timestamp node types [[Collected.fits]]
    * admits.
    *
    * Bit-for-bit with the distributed rounds: [[walk]] computes each
    * contribution as Spark's `round(pr / deg, 12)` does
    * (`BigDecimal.valueOf(x).setScale(12, HALF_UP)`), casts it with
    * Spark's own [[Decimal]] to DECIMAL(27,12), sums the decimals
    * exactly, and reads the sum back with Spark's decimal-to-double cast,
    * so the result does not depend on edge order. Join semantics carry
    * over too: a null `src` never matches a rank row and so never
    * contributes, a null `dst` collects into its own group, and a `dst`
    * that is never a `src` is ranked but sends nothing.
    */
  private final class Collected(e: DataFrame) {
    val nodeField: StructField = e.schema("dst").copy(name = "node")
    private val toCatalyst = CatalystTypeConverters.createToCatalystConverter(nodeField.dataType)
    private val toScala = CatalystTypeConverters.createToScalaConverter(nodeField.dataType)
    def key(v: Any): Any = toCatalyst(v)
    private val edges: Array[(Any, Any)] =
      e.select("src", "dst").collect().map(r => (key(r.get(0)), key(r.get(1))))
    /** out-degree of every non-null `src` */
    val deg: mutable.LinkedHashMap[Any, Long] = mutable.LinkedHashMap.empty
    val nullSrc: Boolean = edges.exists(_._1 == null)
    edges.foreach { case (src, _) =>
      if (src != null) deg(src) = deg.getOrElse(src, 0L) + 1L }

    /** One round's walk: per `dst`, the decimal sum of the contributions
      * `round(pr / deg, 12)` of its ranked sources, as a double.
      */
    def walk(rank: Seq[(Any, Double)]): Seq[(Any, Double)] = {
      val c = mutable.HashMap.empty[Any, java.math.BigDecimal]
      rank.foreach { case (node, pr) =>
        deg.get(node).foreach { d =>
          val x = java.math.BigDecimal.valueOf(pr / d)
            .setScale(12, java.math.RoundingMode.HALF_UP).doubleValue
          val dec = Decimal(x)
          require(dec.changePrecision(27, 12), s"contribution $x overflows DECIMAL(27,12)")
          c(node) = dec.toJavaBigDecimal
        }
      }
      val sums = mutable.LinkedHashMap.empty[Any, java.math.BigDecimal]
      edges.foreach { case (src, dst) =>
        c.get(src).foreach(x => sums(dst) = sums.get(dst).fold(x)(_.add(x)))
      }
      sums.toSeq.map { case (node, sum) => node -> Decimal(sum).toDouble }
    }

    /** (node, pr) rows as a local relation; `pr` is nullable, as the
      * distributed aggregate's is. One partition, as a tiny parquet input
      * is read ([[graft.ops.Frames.smallInputBytes]]): the rows are
      * broadcast-sized, and a caller's sort or aggregate over a single
      * partition plans no exchange (a range sort would otherwise run a
      * sampling job and a shuffle over the driver's own rows).
      */
    def frame(rank: Seq[(Any, Double)], node: StructField): DataFrame =
      e.sparkSession.createDataFrame(
        rank.map { case (k, pr) => Row(toScala(k), pr) }.asJava,
        StructType(Seq(node, StructField("pr", DoubleType, nullable = true))))
        .coalesce(1)
  }

  private object Collected {
    /** [[driverSized]] edges whose endpoints share one node type with
      * value equality on its Catalyst form; anything else (floating-point
      * or binary ids, mixed endpoint types) takes the distributed rounds.
      */
    def fits(e: DataFrame, nEdges: Long): Boolean = {
      val (src, dst) = (e.schema("src").dataType, e.schema("dst").dataType)
      val keyed = dst match {
        case ByteType | ShortType | IntegerType | LongType | DateType | TimestampType => true
        case s: StringType => s == StringType
        case _ => false
      }
      keyed && src == dst && driverSized(e, nEdges)
    }
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
