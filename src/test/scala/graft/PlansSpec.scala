package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.ops.Relational

/** Custom plan nodes: the native top-k-per-group operator. */
class PlansSpec extends SparkSpec {
  import spark.implicits._

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i =>
      g(Gen.Parameters.default.withSize(40), Seed(7L + i)))

  test("hashedCosineTopK with broadcastQuery plans a broadcast inverted-index join") {
    val docs = Seq((1L, "a b c"), (2L, "a b d"), (3L, "e f g"))
      .toDF("doc_id", "text")
    val plan = graft.text.TfIdf.hashedCosineTopK(docs, $"doc_id", $"text",
        buckets = 64, queryPred = _ <= 1, k = 2, broadcastQuery = true)
      .queryExecution.executedPlan.toString
    plan should include("BroadcastHashJoin")
    plan should not include "CartesianProduct"
    // the non-broadcast nested-loop form would be the n² trap
    plan should not include "BroadcastNestedLoopJoin"
  }

  test("hashedCosineTopK default is a shuffled bucket join, never a query-side broadcast") {
    // corpus-fraction predicate (every 97th doc): the query side grows
    // with the data, so the default must shuffle — the q89 defect class
    val docs = Seq((1L, "a b c"), (2L, "a b d"), (97L, "a c d"), (3L, "e f g"))
      .toDF("doc_id", "text")
    val plan = graft.text.TfIdf.hashedCosineTopK(docs, $"doc_id", $"text",
        buckets = 64, queryPred = _ % 97 === 0, k = 2)
      .queryExecution.executedPlan.toString
    plan should include("SortMergeJoin")
    plan should not include "CartesianProduct"
    plan should not include "BroadcastNestedLoopJoin"
    // SMJ prints its keys — the similarity join must be keyed on bucket
    plan.linesIterator.filter(_.contains("SortMergeJoin"))
      .foreach(l => l should include("bucket"))
  }

  test("round-7 query batch plans no cartesian products or nested-loop joins") {
    // every join in these is an equi-join (bands, postings, buckets,
    // keys) or an explicit broadcast — a cartesian/BNLJ appearing in any
    // of them is the n² regression this pins against. (q291/q285-style
    // single-row broadcast cross joins are excluded by design — those
    // are model-sized fan-outs, not data×data.)
    // q293's 5-row broadcast threshold fan-out and q299's single-row
    // scalar cross join are legitimate model-sized nested-loops (the
    // q285/q291 class) — they get the cartesian assertion only
    val bnljFree = Set("q289_join_ivm", "q290_hits", "q295_winnowing")
    for (q <- bnljFree ++ Seq("q293_dedup_calibration",
        "q299_join_size_estimate")) {
      spark.catalog.clearCache()
      val plan = SparkEntry.queries(q)(spark, "/root/testdata/sf0.001")
        .queryExecution.executedPlan.toString
      withClue(s"$q:") {
        plan should not include "CartesianProduct"
        if (bnljFree(q)) plan should not include "BroadcastNestedLoopJoin"
      }
    }
  }

  test("round-11 family pins: prefix chain, single-pass order-statistic tail, trig spectrum") {
    import org.apache.spark.sql.catalyst.plans.logical.Generate
    val dir = "/root/testdata/sf0.001"
    // q430 Aalen-Johansen: the at-risk/cumulative-incidence chain must
    // ride the distributed prefix (its __pid partition ids are the
    // fingerprint) — a regression to a global-sort/window form would
    // drop them; and nothing may plan a cartesian
    locally {
      spark.catalog.clearCache()
      val p = SparkEntry.queries("q430_competing_risks")(spark, dir)
        .queryExecution.executedPlan.toString
      p should include("__pid")
      p should not include "CartesianProduct"
    }
    // q450 rich-club: the three per-level outputs must come from ONE
    // explode over the single combined row — the union-of-three-selects
    // form recomputes the edge aggregation per level (the round-10 weak
    // item, 3× the tail cost)
    locally {
      spark.catalog.clearCache()
      val qe = SparkEntry.queries("q450_rich_club")(spark, dir)
        .queryExecution
      val gens = qe.optimizedPlan.collect { case g: Generate => g }
      withClue("q450 must build its 3 levels from one explode:") {
        gens should have size 1
      }
      qe.executedPlan.toString should not include "CartesianProduct"
    }
    // q453 spectral entropy: the rounded-trig spectrum's harmonics are
    // model frames — at this SF every join must be broadcast-shaped (no
    // cartesian, no shuffle join); the per-type windows are covered by
    // the PlanInvariantsSpec sweep
    locally {
      spark.catalog.clearCache()
      val p = SparkEntry.queries("q453_spectral_entropy")(spark, dir)
        .queryExecution.executedPlan.toString
      p should not include "CartesianProduct"
      p should not include "SortMergeJoin"
    }
  }

  test("q294 fact scan carries a dynamicpruning partition filter (DPP fires)") {
    spark.catalog.clearCache()
    val plan = SparkEntry.queries("q294_dpp_join")(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    // the runtime subquery must sit IN the fact scan's partition
    // filters — that is the "never read the pruned partitions" contract
    plan.toLowerCase should include("dynamicpruning")
    plan should include("BroadcastHashJoin")
    plan should not include "CartesianProduct"
  }

  test("adamicAdar wedge join is an equi-join on the center (no cartesian)") {
    // the candidate generator must be the neighbors-of-z × neighbors-of-z
    // equi-join — a cartesian/BNLJ over the edge list would be the n² trap
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("a", "b")
    val plan = graft.graph.LinkPrediction.adamicAdar(edges, maxDeg = 100, k = 5)
      .queryExecution.executedPlan.toString
    plan should not include "CartesianProduct"
    plan should not include "BroadcastNestedLoopJoin"
  }

  test("sparseCosineTopK token join is shuffled, never a broadcast of the query side") {
    // the query side is a corpus FRACTION (not a bounded set) — a
    // broadcast would grow with the data; the plan must carry the
    // posting-list join as a sort-merge join on the token
    val docs = Seq((1L, "a b c"), (2L, "a b d"), (97L, "a c d"), (3L, "e f g"))
      .toDF("doc_id", "text")
    val plan = graft.text.TfIdf.sparseCosineTopK(docs, $"doc_id", $"text",
        queryPred = _ % 97 === 0, k = 2, maxDf = Some(3))
      .queryExecution.executedPlan.toString
    plan should include("SortMergeJoin")
    // the only legitimate broadcasts are model-sized (the 1-row corpus
    // count, the per-doc norms); the token join itself must not be one —
    // SMJ prints its keys, so pin the join key to the token column
    plan.linesIterator.filter(_.contains("SortMergeJoin"))
      .foreach(l => l should include("tok"))
  }

  test("annRecallLsh candidate side is an equi-join on the bucket (no cartesian)") {
    val emb = Seq.tabulate(6)(i => (i.toLong, Array(1.0f, 0.0f, 0.5f)))
      .toDF("vec_id", "embedding")
    val plan = graft.similarity.Similarity.annRecallLsh(emb, dim = 3,
        nBits = 4, k = 2, nQueries = 3)
      .queryExecution.executedPlan.toString
    plan should not include "CartesianProduct"
    // exactly one BNLJ is expected: the documented broadcast-query exact
    // kNN baseline; the candidate join must not add another
    plan.sliding("BroadcastNestedLoopJoin".length)
      .count(_ == "BroadcastNestedLoopJoin") shouldBe 1
  }

  /** The window form `Relational.topKPerGroup` replaced:
    * `row_number() OVER (PARTITION BY g ORDER BY order) <= k`.
    */
  private def windowTopK(df: DataFrame, order: Seq[Column], k: Int): DataFrame =
    df.withColumn("rank",
        row_number().over(Window.partitionBy(col("g")).orderBy(order: _*)))
      .where(col("rank") <= k)

  /** `Relational.topKPerGroup` and [[windowTopK]] over `df`, as sets. */
  private def bothForms(df: DataFrame, order: Seq[Column], k: Int): (Set[Row], Set[Row]) =
    (Relational.topKPerGroup(df, Seq(col("g")), order, k).collect().toSet,
      windowTopK(df, order, k).collect().toSet)

  test("NativeTopK equals the window row_number form on generated data") {
    val rows = Gen.nonEmptyListOf(Gen.zip(
      Gen.chooseNum(0, 4), Gen.chooseNum(0, 50)))
    samples(rows, 8).foreach { xs =>
      // unique tiebreak id, as the contract requires
      val df = xs.zipWithIndex.map { case ((g, v), i) => (g, v.toDouble, i.toLong) }
        .toDF("g", "v", "id")
      for (k <- Seq(1, 3)) {
        val (heap, window) = bothForms(df, Seq(col("v").desc, col("id")), k)
        heap shouldBe window
      }
    }
  }

  test("NativeTopK plans the custom exec with no Sort and no Window") {
    val df = Seq((1, 10.0, 1L), (1, 20.0, 2L), (2, 5.0, 3L)).toDF("g", "v", "id")
    val out = Relational.topKPerGroup(df, Seq(col("g")),
      Seq(col("v").desc, col("id")), 1)
    // the exec node prints without its Exec suffix; the plan is ONE
    // hash exchange + the custom operator — no Sort, no Window
    val plan = out.queryExecution.executedPlan.toString
    plan should include("TopKPerGroup [")
    plan should include("Exchange hashpartitioning")
    plan should not include "Window"
    plan should not include "Sort"
    out.count() shouldBe 2
    // the window form written by hand still plans as a window: the
    // shared session installs the strategy, not the rewrite rule
    windowTopK(df, Seq(col("v").desc, col("id")), 1)
      .queryExecution.executedPlan.toString should include("Window")
  }

  test("NativeTopK survives downstream use (filter, orderBy, agg on rank)") {
    val df = Seq((1, 10.0, 1L), (1, 20.0, 2L), (1, 5.0, 3L), (2, 9.0, 4L))
      .toDF("g", "v", "id")
    val top = Relational.topKPerGroup(df, Seq(col("g")),
        Seq(col("v").desc, col("id")), 2)
    val out = top
      .where(col("rank") === 1)
      .orderBy("g")
      .select("g", "v")
      .collect().map(r => (r.getInt(0), r.getDouble(1)))
    out.toSeq shouldBe Seq((1, 20.0), (2, 9.0))
    top.groupBy("g").agg(max("rank")).collect().toSet shouldBe
      windowTopK(df, Seq(col("v").desc, col("id")), 2)
        .groupBy("g").agg(max("rank")).collect().toSet
  }

  test("NativeTopK emits fewer than k rows for small groups") {
    val df = Seq((1, 1.0, 1L)).toDF("g", "v", "id")
    Relational.topKPerGroup(df, Seq(col("g")),
      Seq(col("v"), col("id")), 5).count() shouldBe 1
  }

  test("topKPerGroup on an empty input is empty, with the window form's schema") {
    val df = Seq.empty[(Int, Double, Long)].toDF("g", "v", "id")
    val out = Relational.topKPerGroup(df, Seq(col("g")), Seq(col("v"), col("id")), 3)
    out.schema shouldBe windowTopK(df, Seq(col("v"), col("id")), 3).schema
    out.collect() shouldBe empty
  }

  test("topKPerGroup with k larger than every group keeps every row, ranked") {
    val df = Seq((1, 3.0, 1L), (1, 1.0, 2L), (2, 2.0, 3L), (3, 5.0, 4L),
      (3, 5.0, 5L), (3, 4.0, 6L)).toDF("g", "v", "id")
    val (heap, window) = bothForms(df, Seq(col("v").desc, col("id")), 100)
    heap shouldBe window
    heap.size shouldBe 6
  }

  test("topKPerGroup groups null keys together and orders null values as the window does") {
    val df = Seq[(Option[Int], Option[Double], Long)](
        (None, Some(2.0), 1L), (None, None, 2L), (None, Some(7.0), 3L),
        (Some(1), None, 4L), (Some(1), Some(1.0), 5L), (Some(1), None, 6L),
        (Some(2), Some(3.0), 7L))
      .toDF("g", "v", "id")
    // asc puts nulls first and desc puts them last; both sides must agree
    for (order <- Seq(Seq(col("v").asc, col("id")), Seq(col("v").desc, col("id")),
        Seq(col("v").desc_nulls_first, col("id").desc)); k <- Seq(1, 2)) {
      val (heap, window) = bothForms(df, order, k)
      heap shouldBe window
    }
    // -0.0 and 0.0 are one group key, as in a window partition
    val zeros = Seq((0.0, 1.0, 1L), (-0.0, 2.0, 2L), (1.5, 3.0, 3L)).toDF("g", "v", "id")
    val (heap, window) = bothForms(zeros, Seq(col("v").desc, col("id")), 1)
    heap.map(_.getLong(2)) shouldBe window.map(_.getLong(2))
    heap.size shouldBe 2
  }

  test("topKPerGroup keeps the k best of one hot 10k-row group") {
    val df = spark.range(10000).select(
        when(col("id") < 9990, lit(0)).otherwise(col("id").cast("int")).as("g"),
        ((col("id") * 7919) % 10007).cast("double").as("v"), col("id"))
      .repartition(3)
    val (heap, window) = bothForms(df, Seq(col("v").desc, col("id")), 5)
    heap shouldBe window
    heap.count(_.getInt(0) == 0) shouldBe 5
  }

  test("topKPerGroup over a one-partition Footers.read input plans no exchange") {
    val path = tmpDir("topk-footers") + "/t.parquet"
    Seq((1, 10.0, 1L), (1, 20.0, 2L), (2, 5.0, 3L), (2, 6.0, 4L))
      .toDF("g", "v", "id").write.parquet(path)
    val in = graft.io.Footers.read(spark, path)
    in.rdd.getNumPartitions shouldBe 1
    val out = Relational.topKPerGroup(in, Seq(col("g")), Seq(col("v").desc, col("id")), 1)
    // the exec node prints without its Exec suffix
    val plan = out.queryExecution.executedPlan.toString
    plan should include("TopKPerGroup [")
    plan should not include "Exchange"
    out.select("id").collect().map(_.getLong(0)).toSet shouldBe Set(2L, 4L)
  }

  test("q334 label join degrades to a shuffle when broadcast estimates are off") {
    // The round-12 fix's value IS the degrade path: the vertex-sized
    // label frame carries no broadcast hint, so when size estimates
    // exceed the threshold the per-round label join becomes a shuffled
    // equi-join instead of a corpus-fraction broadcast. A hint OVERRIDES
    // autoBroadcastJoinThreshold=-1, so with both thresholds disabled a
    // re-added broadcast() (the round-11 weak item) turns this pin red.
    spark.catalog.clearCache()
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      val p = SparkEntry.queries("q334_label_propagation")(
          spark, "/root/testdata/sf0.001")
        .queryExecution.executedPlan.toString
      withClue("q334 with broadcasts disabled:") {
        p should not include "BroadcastHashJoin"
        p should not include "BroadcastNestedLoopJoin"
        p should not include "CartesianProduct"
        p should include("SortMergeJoin")
      }
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
      spark.catalog.clearCache()
    }
  }

  test("q307 chunks in one pass: one scan, no join, no position sort or ordered window") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, GenerateExec, SortExec}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import org.apache.spark.sql.execution.window.WindowExec
    // a self-contained fixture: the plan shape does not depend on the data
    val dir = tmpDir("q307")
    val shared = "the quick brown fox jumps over the lazy dog " * 12
    Seq((1L, shared), (2L, shared),
        (3L, "pack my box with five dozen liquor jugs, then weigh it twice"),
        (4L, "short"))
      .toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val df = SparkEntry.queries("q307_cdc_chunking")(spark, dir)
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    withClue(s"q307 plan:\n$plan\n") {
      plan.collect { case f: FileSourceScanExec => f }.size shouldBe 1
      plan.collect { case j: BaseJoinExec => j } shouldBe empty
      val gen = plan.collect { case g: GenerateExec => g }
      gen.size shouldBe 1
      // the generator runs on documents hash-partitioned by doc_id ...
      gen.head.collect { case e: ShuffleExchangeExec => e }.size shouldBe 1
      // ... and emits chunk rows from per-doc arrays: no per-position
      // rows numbered by a sort and a running window
      gen.head.collect { case s: SortExec => s } shouldBe empty
      plan.collect { case w: WindowExec if w.orderSpec.nonEmpty => w } shouldBe empty
    }
    // the (sig, clen) window marks chunks shared across doc_ids: the two
    // identical documents have every chunk duplicated, the others none
    val got = df.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    got.keySet shouldBe Set(1L, 2L, 3L)
    got(1L) shouldBe got(2L)
    got(1L)._2 shouldBe got(1L)._1
    got(3L)._2 shouldBe 0L
  }

  /** Root paths of every file scan in the frame's analyzed plan. */
  private def scanPaths(df: org.apache.spark.sql.DataFrame): Seq[String] = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    df.queryExecution.analyzed.collect {
      case l: LogicalRelation => l.relation match {
        case f: HadoopFsRelation => f.location.rootPaths.map(_.toString)
        case _ => Seq.empty[String]
      }
    }.flatten
  }

  test("staged-base consumers scan the stage, not the raw tables") {
    // The staged-family bench wins (graph family −46%, simhash family
    // ~16 s → 2 s — VERDICT r13) silently evaporate if a refactor stops
    // routing a consumer through Staged.parquet: every query stays
    // oracle-green, just several times slower. Pin one consumer per
    // staged base: running the query builder stages (first caller) and
    // the resulting frame must READ from the stage.
    val dir = "/root/testdata/sf0.001"
    val pins = Seq(
      "q314_modularity" -> "graft_staged_cosupply",
      "q340_ktruss" -> "graft_staged_cosupply_edges",
      "q340_ktruss" -> "graft_staged_cosupply_adj",
      "q274_adamic_adar" -> "graft_staged_copurchase",
      "q52_simhash_neardup" -> "graft_staged_simpairs",
      "q84_cluster_dedup" -> "graft_staged_simcomp",
      "q36_minhash_lsh" -> "graft_staged_minhash3",
      "q35_jaccard_pairs" -> "graft_staged_jacc3",
      "q165_containment" -> "graft_staged_shset3")
    pins.foreach { case (q, tag) =>
      val paths = scanPaths(SparkEntry.queries(q)(spark, dir))
      withClue(s"$q scans [${paths.mkString(", ")}]:") {
        paths.exists(_.contains(tag)) shouldBe true
      }
    }
    spark.catalog.clearCache()
  }

  test("PageRank broadcastRanks=false plans shuffle joins — the web-scale fallback") {
    // Same recipe as the q334 pin: the documented degrade path
    // (PageRank.scala's distributed rounds) must actually degrade. With
    // broadcasts off (threshold -1), no node vector passes
    // Frames.driverSized, so every per-iteration join (rank ⋈ edges ⋈
    // deg) must be a co-partitioned shuffle join — a broadcast() hint on
    // the rank/deg side would override the thresholds and turn this red;
    // so would a cartesian.
    spark.catalog.clearCache()
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L),
        (1L, 3L), (3L, 1L)).toDF("src", "dst")
      val p = graft.graph.PageRank.run(edges, iters = 2)
        .queryExecution.executedPlan.toString
      withClue("PageRank fallback plan:") {
        p should not include "BroadcastHashJoin"
        p should not include "BroadcastNestedLoopJoin"
        p should not include "CartesianProduct"
        p should include("SortMergeJoin")
      }
      // and the model-bounded default DOES broadcast (one map-side join
      // per iteration): the two modes must stay distinct. A threshold one
      // byte under the edge list's size estimate keeps this 6-edge graph
      // off the driver path (Frames.driverSized) and on the distributed
      // rounds, where the 3-node rank/degree vectors do pass the rule and
      // their broadcast() hint forces the broadcast.
      val estimate = EstimationUtils.getSizePerRow(
        edges.queryExecution.analyzed.output) * edges.count()
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", (estimate - 1).toString)
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
      val pb = graft.graph.PageRank.run(edges, iters = 2)
        .queryExecution.executedPlan.toString
      pb should include("BroadcastHashJoin")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
      spark.catalog.clearCache()
    }
  }
}
