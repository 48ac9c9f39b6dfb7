package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.CollectMetrics
import org.apache.spark.sql.types._

import graft.clean.Cleaning

class CleaningSpec extends SparkSpec {
  import spark.implicits._

  test("normalizeName replaces spaces and strips parentheses") {
    Cleaning.normalizeName("Enedc (g/km)") shouldBe "Enedc_g/km"
    Cleaning.normalizeName("Country Name") shouldBe "Country_Name"
    Cleaning.normalizeName("plain") shouldBe "plain"
  }

  test("normalizeColumnNames renames every column in one projection") {
    val df = Seq((1, "a")).toDF("col one", "col (two)")
    val out = Cleaning.normalizeColumnNames(df)
    out.columns.toSeq shouldBe Seq("col_one", "col_two")
    out.collect().head shouldBe Row(1, "a")
  }

  test("dropAllNullRows drops only rows where every column is null") {
    val schema = StructType(Seq(
      StructField("a", StringType), StructField("b", IntegerType)))
    val rows = Seq(Row(null, null), Row("x", null), Row(null, 1), Row("y", 2))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows), schema)
    val out = Cleaning.dropAllNullRows(df)
    out.count() shouldBe 3
    out.where("a is null and b is null").count() shouldBe 0
  }

  test("dedup removes exact duplicates and is idempotent") {
    val df = Seq((1, "a"), (1, "a"), (2, "b")).toDF("k", "v")
    val once = Cleaning.dedup(df)
    once.count() shouldBe 2
    Cleaning.dedup(once).count() shouldBe 2
  }

  test("runAudited reports per-stage counts") {
    val df = Seq((1, "a"), (1, "a"), (2, "b"), (3, " c")).toDF("k", "v")
    val (out, counts) = Cleaning.runAudited(df, Seq(
      Cleaning.Stage("dedup", Cleaning.dedup),
      Cleaning.Stage("no_spaces", d => d.where(Cleaning.noSpaces(d("v"))))))
    counts shouldBe Seq("input" -> 4L, "dedup" -> 3L, "no_spaces" -> 2L)
    out.count() shouldBe 2
  }

  private val schema = StructType(Seq(
    StructField("Country Code", StringType), StructField("v", IntegerType)))

  /** The curate chain's stages (`Pipelines.curate` plus one validity filter). */
  private val stages = Seq(
    Cleaning.Stage("normalize_names", Cleaning.normalizeColumnNames),
    Cleaning.Stage("drop_all_null", Cleaning.dropAllNullRows),
    Cleaning.Stage("dedup", Cleaning.dedup),
    Cleaning.Stage("validity_0",
      d => d.where(Cleaning.codeLengthIs(d("Country_Code"), 3))))

  /** The audit as one `count()` action per stage: the reference counts. */
  private def countEachStage(df: DataFrame): Seq[(String, Long)] =
    stages.scanLeft("input" -> df) { case ((_, d), s) => s.name -> s.op(d) }
      .map { case (name, d) => name -> d.count() }

  private def frame(rows: Seq[Row], partitions: Int): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, partitions), schema)

  test("runAudited counts equal one count() per stage on edge-case inputs") {
    val mixed = Seq(Row(null, null), Row("ABC", 1), Row("ABC", 1), Row(null, null),
      Row("AB", 2), Row(null, 3), Row("XYZ", null), Row("XYZ", null))
    val inputs = Seq(
      "empty" -> frame(Nil, 4),
      "zero partitions" -> spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], schema),
      "all-null rows and duplicates" -> frame(mixed, 3),
      "repartitioned to 8" -> frame(
        (1 to 40).map(i => Row(if (i % 4 == 0) "AB" else s"C${i % 6}X", i % 5)), 2)
        .repartition(8))
    for ((what, df) <- inputs) withClue(what) {
      val (out, counts) = Cleaning.runAudited(df, stages)
      counts shouldBe countEachStage(df)
      val expected = stages.foldLeft(df)((d, s) => s.op(d))
      out.collect().toSeq.map(_.toString).sorted shouldBe
        expected.collect().toSeq.map(_.toString).sorted
      out.columns.toSeq shouldBe expected.columns.toSeq
    }
    countEachStage(inputs(2)._2).map(_._2) shouldBe Seq(8L, 8L, 6L, 4L, 2L)
  }

  test("runAudited counts the stages beneath a step the optimizer proves empty") {
    // a constant-false filter folds the chain below it, counters and all,
    // into an empty LocalRelation, so those counters never fire
    val df = spark.range(10).toDF("k")
    val (out, counts) = Cleaning.runAudited(df, Seq(
      Cleaning.Stage("dedup", Cleaning.dedup),
      Cleaning.Stage("never", d => d.where(org.apache.spark.sql.functions.lit(false)))))
    counts shouldBe Seq("input" -> 10L, "dedup" -> 10L, "never" -> 0L)
    out.count() shouldBe 0
  }

  test("runAudited runs one job and leaves no observation in the returned plan") {
    val df = frame(Seq(Row("ABC", 1), Row("ABC", 1), Row("AC", 2), Row(null, null)), 2)
    var audited: (DataFrame, Seq[(String, Long)]) = null
    val jobs = jobsDuring { audited = Cleaning.runAudited(df, stages) }
    val (out, counts) = audited
    counts.map(_._2) shouldBe Seq(4L, 4L, 3L, 2L, 1L)
    // one SQL execution (the checkpoint) and, in it, one result job; the
    // rest are its AQE query-stage jobs
    jobs.map(_.properties.getProperty("spark.sql.execution.id")).distinct should have size 1
    val stageNames = jobs.map(_.stageInfos.map(_.name))
    stageNames.count(_.exists(_.startsWith("localCheckpoint at"))) shouldBe 1
    stageNames.flatten.filter(_.startsWith("count at")) shouldBe empty
    out.queryExecution.analyzed.collect { case c: CollectMetrics => c } shouldBe empty
  }

  test("validity predicates: codeLengthIs / noSpaces / matches") {
    val df = Seq("ABC", "AB", "A C", "ZZ").toDF("code")
    df.where(Cleaning.codeLengthIs($"code", 3)).count() shouldBe 2
    df.where(Cleaning.noSpaces($"code")).count() shouldBe 3
    df.where(Cleaning.matches($"code", "^[A-Z][A-Z]$")).count() shouldBe 2
  }
}
