package graft

import org.apache.spark.sql.DataFrame

import graft.graph.PageRank

/** `PageRank.run` and `PageRank.runPersonalized` give the same schema and
  * the same rows, bit for bit, on the driver path and on the distributed
  * rounds, across graph shapes the TPC-H part–supplier graph never has.
  */
class PageRankSpec extends SparkSpec {
  import spark.implicits._

  /** `call` on both paths: equal schemas and exactly equal rows (a
    * double's `toString` is unique to its value). Returns the rows.
    */
  private def agree(call: => DataFrame): Seq[String] = {
    val Seq(driver, distributed) = paths.map(p => onPath(p)(call))
    driver.schema shouldBe distributed.schema
    val Seq(d, s) = Seq(driver, distributed)
      .map(_.collect().map(_.toString).sorted.toSeq)
    d shouldBe s
    d
  }

  /** `run` and `runPersonalized` at 1 and 3 iterations agree across paths. */
  private def bothAgree(edges: DataFrame, seeds: DataFrame): Unit =
    for (iters <- Seq(1, 3)) withClue(s"iters=$iters: ") {
      withClue("run: ")(agree(PageRank.run(edges, iters)))
      withClue("runPersonalized: ")(agree(PageRank.runPersonalized(edges, iters, seeds)))
    }

  private def symmetric(pairs: Seq[(Long, Long)]): DataFrame =
    (pairs ++ pairs.map(_.swap)).distinct.toDF("src", "dst")

  test("both paths agree on the symmetric square") {
    val edges = symmetric(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)))
    bothAgree(edges, Seq(1L).toDF("node"))
    agree(PageRank.run(edges, 3)) shouldBe
      Seq(1, 2, 3, 4).map(n => s"[$n,0.25]")
  }

  test("both paths agree on a seeded random 60-node graph") {
    val rnd = new scala.util.Random(11)
    val edges = Seq.fill(240)((rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      .filter { case (a, b) => a != b }.distinct.toDF("src", "dst")
    bothAgree(edges, Seq(0L, 5L, 17L).toDF("node"))
  }

  test("both paths agree on an asymmetric graph, with a seed absent from it") {
    // 4 is only a source, 5 only a destination; 999 is in no edge
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 1L), (4L, 1L), (3L, 5L))
      .toDF("src", "dst")
    bothAgree(edges, Seq(4L, 999L).toDF("node"))
    agree(PageRank.runPersonalized(edges, 2, Seq(999L).toDF("node"))) shouldBe
      Seq("[999,0.15000000000000002]")
  }

  test("both paths agree on non-ASCII string ids") {
    // UTF-8 and UTF-16 orders disagree on these; keys compare by bytes
    val ids = Seq("😀", "｡", "é", "ß", "東京", "ΟΔΟΣ")
    val edges = ids.zip(ids.tail :+ ids.head).flatMap { case (a, b) =>
      Seq((a, b), (b, a)) } :+ ("é" -> "東京")
    bothAgree(edges.distinct.toDF("src", "dst"), Seq("😀", "ß").toDF("node"))
  }

  test("both paths agree with a null src, a null dst and a null seed") {
    // a null src never contributes but is a degree group of its own; a
    // null dst ranks as its own group; a null seed never meets a walked
    // node, so runPersonalized keeps it beside the walked null dst
    val edges = Seq[(Option[Long], Option[Long])](
      (Some(1L), Some(2L)), (Some(2L), Some(1L)), (Some(1L), None),
      (None, Some(1L)), (Some(2L), Some(3L)), (Some(3L), Some(2L)))
      .toDF("src", "dst")
    bothAgree(edges, Seq[Option[Long]](Some(1L), None).toDF("node"))
    agree(PageRank.runPersonalized(edges, 1, Seq[Option[Long]](Some(1L), None)
      .toDF("node"))).count(_.startsWith("[null,")) shouldBe 2
  }

  test("both paths agree on an empty edge list") {
    val edges = Seq.empty[(Long, Long)].toDF("src", "dst")
    bothAgree(edges, Seq(1L).toDF("node"))
    agree(PageRank.run(edges, 3)) shouldBe empty
  }

  test("q101 on the driver path builds and writes in at most 4 jobs") {
    val dir = "/root/testdata/sf0.001"
    val jobs = paths.map(p => p -> jobsDuring {
      onPath(p)(SparkEntry.queries("q101_pagerank")(spark, dir))
        .write.format("noop").mode("overwrite").save()
    }.size).toMap
    jobs("driver") should be <= 4
    // negative control: the degree and round barriers of the distributed path
    jobs("distributed") should be > jobs("driver")
  }
}
