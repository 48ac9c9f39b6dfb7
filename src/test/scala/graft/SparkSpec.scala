package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Shared local SparkSession for all specs (one JVM-wide session: Spark
  * re-uses the active session, so suites don't pay repeated startup).
  */
object TestSpark {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft-wh").toString)
    .getOrCreate()
}

abstract class SparkSpec extends AnyFunSuite with Matchers {
  lazy val spark: SparkSession = TestSpark.spark

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** The two paths of the graph kernels that share the driver-size rule
    * (`Frames.driverSized`: `Dedup.components`, `PageRank.run`,
    * `PageRank.runPersonalized`).
    */
  val paths: Seq[String] = Seq("driver", "distributed")

  /** Runs `call` on the named path: the driver path at the session's
    * threshold (every graph in the specs is broadcast-sized), the
    * distributed one with `spark.sql.autoBroadcastJoinThreshold` at -1,
    * which is set only around the call. Checks that the named path ran:
    * only the driver path returns a plan whose leaves are all local
    * relations (the distributed paths read checkpoints).
    */
  def onPath(path: String)(call: => DataFrame): DataFrame = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val out = path match {
      case "driver" => call
      case "distributed" =>
        val saved = spark.conf.getOption(key)
        spark.conf.set(key, "-1")
        try call finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }
    val local = out.queryExecution.analyzed.collectLeaves()
      .forall(_.isInstanceOf[LocalRelation])
    withClue(s"$path path ran: ") { local shouldBe (path == "driver") }
    out
  }

  /** The start events of the Spark jobs `body` runs: a marker job after it
    * drains the (asynchronous, FIFO) listener bus up to the end of `body`.
    */
  def jobsDuring(body: => Unit): Seq[SparkListenerJobStart] = {
    val sc = spark.sparkContext
    val marker = "spec-drain"
    def description(e: SparkListenerJobStart) = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.job.description")))
    val seen = new ConcurrentLinkedQueue[SparkListenerJobStart]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val _ = seen.add(e)
      }
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobDescription(marker)
      try { val _ = sc.parallelize(Seq(1), 1).count() }
      finally sc.setJobDescription(null)
      def drained = seen.asScala.exists(description(_).contains(marker))
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!drained && System.nanoTime() < deadline) Thread.sleep(10)
      assert(drained, "listener bus did not drain")
      seen.asScala.toSeq.filterNot(description(_).contains(marker))
    } finally sc.removeSparkListener(listener)
  }
}
