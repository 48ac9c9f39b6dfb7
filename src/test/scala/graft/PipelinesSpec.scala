package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.clean.Cleaning
import graft.pipelines.Pipelines
import graft.versioned.VersionedTable

/** End-to-end golden-count tests mirroring the reference's notebook
  * pipelines on WDI/EEA-shaped synthetic frames (SURVEY.md §5.4).
  */
class PipelinesSpec extends SparkSpec {
  import spark.implicits._

  // WDI-shaped wide frame: id columns + year columns, messy names, dupes,
  // an all-null row, an invalid country code.
  private def rawWdi = {
    val schema = StructType(Seq(
      StructField("Country Name", StringType),
      StructField("Country Code", StringType),
      StructField("Indicator (Code)", StringType),
      StructField("2018", StringType),
      StructField("2019", StringType)))
    val rows = Seq(
      Row("France", "FRA", "POP", "10", "11"),
      Row("France", "FRA", "POP", "10", "11"),        // duplicate
      Row("Germany", "DEU", "POP", "20", "22"),
      Row("Bad", "XX", "POP", "1", "2"),              // invalid 2-char code
      Row(null, null, null, null, null))              // all-null
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
  }

  test("curate: clean chain with golden per-stage counts") {
    val (curated, counts) = Pipelines.curate(rawWdi,
      Pipelines.CurateConfig(validityFilters = Seq(
        Cleaning.codeLengthIs(col("Country_Code"), 3))))
    counts shouldBe Seq(
      "input" -> 5L, "normalize_names" -> 5L, "drop_all_null" -> 4L,
      "dedup" -> 3L, "validity_0" -> 2L)
    curated.columns.toSeq shouldBe
      Seq("Country_Name", "Country_Code", "Indicator_Code", "2018", "2019")
  }

  test("curate: a WDI-width frame (61 year columns) plans and writes with golden counts") {
    // the reference's WDI table: 4 id columns + 1960..2020. Aliasing every
    // column in the rename made constraint propagation grow ~1.7x per
    // column, so this never finished; only renamed columns may be aliased.
    val years = (1960 to 2020).map(_.toString)
    val ids = Seq("Country Name", "Country Code", "Indicator Name", "Indicator Code")
    val schema = StructType((ids ++ years).map(StructField(_, StringType)))
    def row(name: String, code: String, ind: String, v: Int) =
      Row((Seq(name, code, s"$ind name", ind) ++ years.map(y => s"${v + y.toInt}")): _*)
    val rows = Seq(
      row("France", "FRA", "POP", 1), row("France", "FRA", "POP", 1),  // duplicate
      row("France", "FRA", "GDP", 2), row("Germany", "DEU", "POP", 3),
      row("Bad", "XX", "POP", 4),                                       // 2-char code
      row("Spaced", "ESP", "GDP X", 5),                                 // space in code
      Row(Seq.fill(ids.size + years.size)(null): _*))                   // all-null
    val raw = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
    val out = tmpDir("wdi61") + "/curated"
    val (curated, counts) = Pipelines.curate(raw,
      Pipelines.CurateConfig(
        validityFilters = Seq(
          Cleaning.codeLengthIs(col("Country_Code"), 3),
          Cleaning.noSpaces(col("Indicator_Code"))),
        outPath = Some(out)))
    counts shouldBe Seq(
      "input" -> 7L, "normalize_names" -> 7L, "drop_all_null" -> 6L,
      "dedup" -> 5L, "validity_0" -> 4L, "validity_1" -> 3L)
    curated.columns.toSeq shouldBe
      Seq("Country_Name", "Country_Code", "Indicator_Name", "Indicator_Code") ++ years
    val back = spark.read.parquet(out)
    back.count() shouldBe 3
    back.where(col("Country_Code") === "DEU").select("2020").head().getString(0) shouldBe "2023"
  }

  test("serve: unpivot + group-avg + top-k, golden shape") {
    val (curated, _) = Pipelines.curate(rawWdi,
      Pipelines.CurateConfig(validityFilters = Seq(
        Cleaning.codeLengthIs(col("Country_Code"), 3))))
    val long = Pipelines.serve(curated, Pipelines.ServeConfig(
      idCols = Seq("Country_Name", "Country_Code", "Indicator_Code"),
      valueCols = Seq("2018", "2019")))
    // 2 curated rows × 2 year columns
    long.count() shouldBe 4
    long.columns.toSeq shouldBe
      Seq("Country_Name", "Country_Code", "Indicator_Code", "year", "Indicator_Value")

    val topPerYear = Pipelines.serve(curated, Pipelines.ServeConfig(
      idCols = Seq("Country_Name", "Country_Code", "Indicator_Code"),
      valueCols = Seq("2018", "2019"),
      groupCols = Seq("Country_Code", "year"),
      topKPartition = Seq("year"),
      topKOrder = "avg_Indicator_Value",
      k = 1))
    // best country per year: DEU both years
    val best = topPerYear.orderBy("year").collect()
    best.length shouldBe 2
    best.map(_.getString(0)) shouldBe Array("DEU", "DEU")
  }

  test("denormalize: per-period group sums + YoY diff, single scan") {
    val fact = Seq(
      ("FRA", 2018, 5.0), ("FRA", 2018, 5.0), ("FRA", 2019, 12.0),
      ("DEU", 2018, 20.0), ("DEU", 2019, 18.0)).toDF("code", "year", "v")
    val dim = Seq(("FRA", "Europe"), ("DEU", "Europe")).toDF("dcode", "region")
    val out = Pipelines.denormalize(fact, Pipelines.DenormConfig(
      dims = Seq((dim, col("code") === col("dcode"))),
      periodCol = "year",
      keyCols = Seq("code"),
      valueExpr = col("v"),
      periods = Seq(2018, 2019)))
    val m = out.collect().map(r =>
      (r.getString(1), r.getInt(0)) -> (r.getDouble(2), Option(r.get(3)))).toMap
    m(("FRA", 2018)) shouldBe ((10.0, None))             // no previous year
    m(("FRA", 2019))._1 shouldBe 12.0
    m(("FRA", 2019))._2.get shouldBe 2.0
    m(("DEU", 2019))._2.get shouldBe -2.0
    // single scan of the fact: exactly one Exchange for the groupBy pre-join
    out.queryExecution.executedPlan.toString
  }

  test("lakehouse: enforced append fails, repaired append succeeds, evolution widens") {
    val t = VersionedTable.create(spark, tmpDir("lh"),
      Seq(("FERRARI", 4000L, 2019)).toDF("Mh", "ec_cm3", "year"))
    // 2020 batch arrives with ec_cm3 as string and an extra column — the
    // reference's failing append (`lakehouse_data_igestion.py:183-193`)
    val batch2020 = Seq(("AUDI", "2000", 2020, "z"))
      .toDF("Mh", "ec_cm3", "year", "z_Whkm")
    an[IllegalArgumentException] should be thrownBy
      Pipelines.lakehouseAppend(t, batch2020)
    // repaired: cast + drop (`lakehouse_data_igestion.py:158-161,197-200`)
    Pipelines.lakehouseAppend(t, batch2020,
      repair = _.withColumn("ec_cm3", col("ec_cm3").cast(LongType)).drop("z_Whkm"))
    t.toDF.count() shouldBe 2
    // evolving append keeps the new column (`lakehouse_data_igestion.py:202-212`)
    val batch2021 = Seq(("BMW", 1800L, 2021, 95.5)).toDF("Mh", "ec_cm3", "year", "Ewltp")
    Pipelines.lakehouseAppend(t, batch2021, mergeSchema = true)
    t.schema.fieldNames.toSeq shouldBe Seq("Mh", "ec_cm3", "year", "Ewltp")
    t.toDF.where(col("Ewltp").isNull).count() shouldBe 2
  }

  test("corpus: dedup drops copies, scoring filter keeps the good English doc") {
    import graft.pipelines.Corpus
    val goodEn = ("the quick brown fox jumps over the lazy dog and then " +
      "the dog wakes up and chases the fox around the yard for a while") * 3
    val docs = Seq(
      (1L, goodEn),
      (2L, goodEn),                                  // exact dup of 1 → dropped
      (3L, "le renard brun et rapide saute par dessus le chien paresseux " +
        "et les animaux de la ferme regardent la scène avec une grande joie"),
      (4L, "@@@ ### $$$ %%% ^^^ &&& *** ((( ))) !!!") // symbol soup → low quality
    ).toDF("doc_id", "text")
    val out = Corpus.curate(docs).orderBy("doc_id").collect()
    out.map(_.getLong(0)).toSeq shouldBe Seq(1L)     // survivor, English, quality ≥ 0.5
    out.head.getDouble(2) should be >= 0.5
    // stage granularity: dedup alone keeps one of each content group
    Corpus.dedupSurvivors(Corpus.withNorm(docs)).count() shouldBe 3
  }

  test("corpus export: split + shuffle + shards are consistent and deterministic") {
    import graft.pipelines.Corpus
    val text = "the quick brown fox jumps over the lazy dog and then " +
      "the dog wakes up and chases the fox around the yard for a while"
    val docs = (1L to 60L).map(i => (i, s"$text episode $i")).toDF("doc_id", "text")
    val out = Corpus.export(docs, tokensPerShard = 100L, salt = "t")
      .select("doc_id", "n_tokens", "split", "cum_tokens", "shard").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getLong(3), r.getLong(4)))
    out.length shouldBe 60 // distinct texts, all English, all decent quality
    // per-split: cum_tokens is a within-split prefix sum and shard math holds
    out.groupBy(_._3).foreach { case (_, rows) =>
      rows.map(_._2).sum shouldBe rows.map(_._4).max // split total = max cum
      rows.foreach { case (_, n, _, cum, shard) => shard shouldBe (cum - n) / 100L }
    }
    // deterministic under re-partitioning
    val again = Corpus.export(docs.repartition(7), tokensPerShard = 100L, salt = "t")
      .select("doc_id", "n_tokens", "split", "cum_tokens", "shard").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getLong(3), r.getLong(4)))
    again.toSet shouldBe out.toSet
  }

  test("export honors cfg.outPath with the curated (pre-split) corpus") {
    import graft.pipelines.Corpus
    val docs = (1L to 10L)
      .map(i => (i, s"the quick brown fox jumps over the lazy dog $i"))
      .toDF("doc_id", "text")
    val p = tmpDir("corpus-out") + "/curated"
    val packed = Corpus.export(docs,
      Corpus.Config(outPath = Some(p)), tokensPerShard = 100L)
    val written = spark.read.parquet(p)
    written.count() shouldBe packed.count()
    written.columns should not contain "split" // pre-split corpus
  }
}
