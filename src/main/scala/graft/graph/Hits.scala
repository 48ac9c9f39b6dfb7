package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fixed-iteration HITS (Kleinberg JACM'99, "Authoritative sources in a
  * hyperlinked environment") over a directed edge list — hubs point at
  * good authorities, authorities are pointed at by good hubs. The
  * companion centrality to [[PageRank]]: PageRank scores global random-
  * walk visitation, HITS separates "curates well" from "is cited well",
  * the signal pair a link-graph corpus-quality pipeline actually wants
  * (a crawler seed list = top hubs; a canonical-page list = top
  * authorities).
  *
  * UNNORMALIZED integer power iteration, deliberately: the classic
  * per-iteration L2 normalization multiplies each vector by a positive
  * scalar, which never changes the RANKING — dropping it makes every
  * score an exact path-count integer (a_k(d) = #paths s→d→…
  * alternating, length 2k-1 from the all-ones start), so the whole
  * recurrence is FP-free and oracle-replayable bit-for-bit. Scores are
  * DECIMAL(38,0): growth is bounded by (max degree)^(2·iters), so 38
  * digits cover any realistic (graph, iters<=4) without overflow, and
  * decimal sums are order-independent under any partial-agg schedule.
  * Callers wanting comparable magnitudes divide by the per-side max
  * (one exact selection + one IEEE division) — see q290.
  *
  * Scale (100 TB edge list): each iteration is two join+aggregate
  * rounds (contributions edge→dst then edge→src). With
  * `broadcastScores` the score vectors — |nodes| rows, model-sized for
  * dimension-like graphs — ride broadcasts and each round is one
  * shuffle (the aggregation); for web-scale node sets pass false and
  * the joins become co-partitioned shuffle equi-joins (same
  * trade-off as [[PageRank.run]]).
  */
object Hits {

  /** Hub scores for the distinct src nodes and authority scores for the
    * distinct dst nodes of `edges` (directed, pre-deduplicated), after
    * `iters` full hub+authority rounds from hub=1.
    */
  final case class Scores(hubs: DataFrame, auths: DataFrame)

  def run(edges: DataFrame, iters: Int,
          broadcastScores: Boolean = true): Scores = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    import graft.ops.Frames.materialize
    // one materialization barrier: the edge derivation (typically a
    // fact-table distinct) must not re-run 2*iters times
    val e = materialize(edges.select(col("src"), col("dst")))
    val bc: DataFrame => DataFrame =
      if (broadcastScores) broadcast else identity
    import graft.ops.Frames.cached
    // The alternating chain is LINEAR (each score vector feeds only the
    // next round), so intermediate rounds need no barriers — but the
    // FINAL auth vector is double-consumed (by the last hub round and
    // as the auths output), and a caller reading both outputs (q290)
    // would re-execute the whole chain without one. Cache exactly that
    // frame — cache, not checkpoint: it feeds a broadcast()-hinted
    // join, and PlanInvariantsSpec's lineage trace sees through
    // InMemoryRelation but not a checkpoint's LogicalRDD.
    // h0 = 1 for every src node, so a1 is just the in-degree
    var auth = e.groupBy(col("dst").as("node"))
      .agg(count(lit(1)).cast("decimal(38,0)").as("score"))
    for (_ <- 2 to iters) {
      val hubK = e.join(bc(auth), e("dst") === auth("node"))
        .groupBy(col("src").as("node"))
        .agg(sum(col("score")).cast("decimal(38,0)").as("score"))
      auth = e.join(bc(hubK), e("src") === hubK("node"))
        .groupBy(col("dst").as("node"))
        .agg(sum(col("score")).cast("decimal(38,0)").as("score"))
    }
    val authF = cached(auth)
    val hubF = e.join(bc(authF), e("dst") === authF("node"))
      .groupBy(col("src").as("node"))
      .agg(sum(col("score")).cast("decimal(38,0)").as("score"))
    Scores(hubF, authF)
  }

  /** DuckDB CTE chain replaying [[run]] exactly: expects an `edges`
    * CTE with (src, dst); defines `h<iters>` (node, score) and
    * `a<iters>` (node, score).
    */
  def oracleCtes(iters: Int): String = {
    require(iters >= 1)
    val first =
      """a1 AS (
        |  SELECT dst AS node, CAST(count(*) AS DECIMAL(38,0)) AS score
        |  FROM edges GROUP BY 1),
        |h1 AS (
        |  SELECT e.src AS node, CAST(sum(a.score) AS DECIMAL(38,0)) AS score
        |  FROM edges e JOIN a1 a ON e.dst = a.node GROUP BY 1)""".stripMargin
    val rest = (2 to iters).map { k =>
      s"""a$k AS (
         |  SELECT e.dst AS node, CAST(sum(h.score) AS DECIMAL(38,0)) AS score
         |  FROM edges e JOIN h${k - 1} h ON e.src = h.node GROUP BY 1),
         |h$k AS (
         |  SELECT e.src AS node, CAST(sum(a.score) AS DECIMAL(38,0)) AS score
         |  FROM edges e JOIN a$k a ON e.dst = a.node GROUP BY 1)""".stripMargin
    }
    (first +: rest).mkString(",\n")
  }
}
