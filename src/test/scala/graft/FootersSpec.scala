package graft

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.catalyst.plans.logical.Repartition
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.io.Footers

/** [[Footers.schema]] must be the schema Spark's own inference gives,
  * so a read that passes it changes nothing but the job count.
  */
class FootersSpec extends SparkSpec {

  private val fixtures = "/root/testdata"

  private def inferred(path: String) = spark.read.parquet(path).schema

  test("footer schema equals the inferred schema for every table at sf0.001 and sf0.01") {
    for (sf <- Seq("sf0.001", "sf0.01"); t <- Tables.names) {
      val path = s"$fixtures/$sf/$t.parquet"
      withClue(s"$sf/$t: ") { Footers.schema(spark, path) shouldBe inferred(path) }
    }
  }

  test("Tables.load starts no Spark job for any table; a schema-less read does") {
    val dir = s"$fixtures/sf0.001"
    jobsDuring(Tables.names.foreach(t => Tables.load(spark, dir, t).schema)) shouldBe empty
    // negative control: the listener does see the inference job
    jobsDuring { val _ = inferred(s"$dir/orders.parquet") } should not be empty
  }

  test("a Spark-written multi-file dir whose files disagree: the same file is picked") {
    import spark.implicits._
    val dir = tmpDir("footers-multi") + "/t"
    spark.range(0, 40, 1, 4).select(col("id"), (col("id") * 2).as("x"))
      .write.parquet(dir)
    // an append with an extra column: without mergeSchema, inference
    // takes the first data file in path order, so the schema depends on
    // which uuid sorts first — the footer read must pick the same one
    Seq((100L, 1L, "a"), (101L, 2L, "b")).toDF("id", "x", "extra")
      .repartition(2).write.mode("append").parquet(dir)
    Footers.schema(spark, dir) shouldBe inferred(dir)
    Footers.read(spark, dir).count() shouldBe 42L
  }

  test("a key=value partitioned root gives the inferred frame schema and rows") {
    val root = tmpDir("footers-part") + "/p"
    spark.range(0, 30).select(col("id"), (col("id") % 3).as("k"),
        (col("id") % 2 === 0).as("even"))
      .write.partitionBy("k", "even").parquet(root)
    val viaFooter = Footers.read(spark, root)
    viaFooter.schema shouldBe spark.read.parquet(root).schema
    viaFooter.except(spark.read.parquet(root)).count() shouldBe 0L
    graft.io.Readers.parquetPartition(spark, root, "k", 1).count() shouldBe 10L
  }

  private object Plans extends AdaptiveSparkPlanHelper

  /** Shuffle exchanges in the plan `df` ran with (AQE's final plan,
    * query stages included).
    */
  private def exchangesRun(df: org.apache.spark.sql.DataFrame): Seq[SparkPlan] = {
    val _ = df.collect()
    Plans.collect(df.queryExecution.executedPlan) { case e: ShuffleExchangeExec => e }
  }

  test("a tiny read runs a groupBy, a window and an orderBy with no shuffle exchange") {
    val path = s"$fixtures/sf0.001/orders.parquet"
    def query(df: org.apache.spark.sql.DataFrame) = df
      .groupBy("o_custkey").agg(count(lit(1)).as("n"), sum("o_totalprice").as("total"))
      .withColumn("rk", rank().over(Window.orderBy(col("total").desc)))
      .orderBy("o_custkey")
    val viaFooter = query(Footers.read(spark, path))
    exchangesRun(viaFooter) shouldBe empty
    val plain = query(spark.read.parquet(path))
    // negative control: the same query over a plain read does shuffle
    exchangesRun(plain) should not be empty
    viaFooter.collect().toSeq shouldBe plain.collect().toSeq
  }

  test("a directory of 8 tiny files reads as 1 partition") {
    val dir = tmpDir("footers-eight") + "/t"
    spark.range(0, 800, 1, 8).write.parquet(dir)
    spark.read.parquet(dir).rdd.getNumPartitions should be > 1
    Footers.read(spark, dir).rdd.getNumPartitions shouldBe 1
    Footers.read(spark, dir).count() shouldBe 800L
  }

  test("sf0.1 lineitem, above the 256 KB floor, is read without a Repartition") {
    val df = Footers.read(spark, s"$fixtures/sf0.1/lineitem.parquet")
    df.queryExecution.optimizedPlan.collect { case r: Repartition => r } shouldBe empty
    // negative control: a tiny table does get one
    Footers.read(spark, s"$fixtures/sf0.001/lineitem.parquet")
      .queryExecution.optimizedPlan.collect { case r: Repartition => r }.size shouldBe 1
  }

  test("a small partitioned root still prunes partitions through the coalesce") {
    val root = tmpDir("footers-prune") + "/p"
    spark.range(0, 30).select(col("id"), (col("id") % 3).as("k"))
      .write.partitionBy("k").parquet(root)
    val df = graft.io.Readers.parquetPartition(spark, root, "k", 1)
    val scans = Plans.collect(df.queryExecution.executedPlan) { case f: FileSourceScanExec => f }
    scans should not be empty
    scans.foreach(_.partitionFilters.map(_.sql).mkString should include ("k"))
    df.count() shouldBe 10L
  }

  test("a TIMESTAMP(NANOS) ts reads as a long under nanosAsLong and normalizes the same") {
    spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") shouldBe "true"
    val file = tmpDir("footers-nanos") + "/events.parquet"
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 id; optional int64 ts (TIMESTAMP(NANOS,true)); }")
    val writer = ExampleParquetWriter
      .builder(HadoopOutputFile.fromPath(new Path(file),
        spark.sparkContext.hadoopConfiguration))
      .withType(schema).build()
    val groups = new SimpleGroupFactory(schema)
    // 2026-01-01T00:00:00.123456789Z and the epoch
    val nanos = Seq(1L -> 1767225600123456789L, 2L -> 0L)
    try nanos.foreach { case (id, ns) =>
      writer.write(groups.newGroup().append("id", id).append("ts", ns))
    } finally writer.close()

    val footer = Footers.schema(spark, file)
    footer("ts").dataType shouldBe LongType
    footer shouldBe inferred(file)
    def normalized(df: org.apache.spark.sql.DataFrame) =
      Tables.normalizeTs(df).orderBy("id").collect().toSeq
    val viaFooter = normalized(Footers.read(spark, file))
    viaFooter shouldBe normalized(spark.read.parquet(file))
    viaFooter.head.getTimestamp(1).toInstant.toString shouldBe
      "2026-01-01T00:00:00.123456Z"
  }
}
