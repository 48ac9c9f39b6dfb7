package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.functions._

import graft.functions.Aggregators

class FunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("WeightedAvg aggregator: typed groupBy partial+final aggregation") {
    val ds = Seq(
      ("a", 10.0, 1.0), ("a", 20.0, 3.0), ("b", 5.0, 2.0))
      .toDF("k", "v", "w").as[(String, Double, Double)]
    val wavg = Aggregators.WeightedAvg.toColumn
    val out = ds.groupByKey(_._1)
      .mapValues(t => (t._2, t._3))
      .agg(wavg.name("wavg"))
      .collect().toMap
    out("a") shouldBe (10.0 * 1 + 20.0 * 3) / 4.0
    out("b") shouldBe 5.0
  }

  test("WeightedAvg over zero weight yields NaN, and merge is associative") {
    val z = Aggregators.WeightedAvg.zero
    Aggregators.WeightedAvg.finish(z).isNaN shouldBe true
    val r1 = Aggregators.WeightedAvg.reduce(z, (4.0, 2.0))
    val r2 = Aggregators.WeightedAvg.reduce(z, (6.0, 1.0))
    Aggregators.WeightedAvg.merge(r1, r2) shouldBe
      Aggregators.WeightedAvg.merge(r2, r1)
  }

  test("string-sim + upper-tri functions callable from SQL after registration") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      "SELECT graft_jaro_winkler('martha', 'marhta') AS jw, " +
        "graft_damerau_levenshtein('ca', 'abc') AS dl, " +
        "size(graft_upper_tri(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)))) AS n")
      .head()
    r.getDouble(0) shouldBe 0.9611111111111111 +- 1e-15
    r.getInt(1) shouldBe 2
    r.getInt(2) shouldBe 3
  }

  test("graft_dot is callable from SQL after registration") {
    GraftFunctions.register(spark)
    val d = spark.sql(
      "SELECT graft_dot(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)), " +
        "array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS d")
      .as[Double].head()
    d shouldBe 11.0
  }

  test("graft_dd_sketch aggregates from SQL; gamma must be a literal") {
    GraftFunctions.register(spark)
    Seq(1.0, 10.0, 10.0, 100.0).toDF("v").createOrReplaceTempView("ddvals")
    val r = spark.sql(
      "SELECT dd.zero AS z, cardinality(dd.pos) AS n_buckets FROM " +
        "(SELECT graft_dd_sketch(v, CAST(1.02 AS DOUBLE)) AS dd FROM ddvals)")
      .head()
    r.getLong(0) shouldBe 0L
    // 1, 10, 100 land in three distinct gamma-buckets
    r.getInt(1) shouldBe 3
    // non-literal gamma is rejected at registration-builder time
    an[Exception] should be thrownBy
      spark.sql("SELECT graft_dd_sketch(v, v) FROM ddvals").collect()
  }

  test("GraftExtensions injects the same functions via the extensions hook") {
    // the injection point itself (sessions created with
    // spark.sql.extensions=graft.GraftExtensions): apply must register
    // without error on a fresh extensions container
    noException should be thrownBy new GraftExtensions()(new SparkSessionExtensions)
    // and a session built with it gets the functions, the top-k planner
    // strategy and the TopKRewrite rule: a hand-written row_number
    // filter plans through the heap exec. The builder makes a new
    // session on the shared context; the shared session stays active.
    val s2 = org.apache.spark.sql.classic.SparkSession.builder()
      .withExtensions(new GraftExtensions()).create()
    try {
      s2.sql("SELECT graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d")
        .head().getDouble(0) shouldBe 11.0
      val topk = s2.sql("""SELECT * FROM (
          SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY v DESC) AS rank
          FROM VALUES (1, 1.0D), (1, 2.0D), (2, 3.0D) AS t(g, v)) WHERE rank <= 1""")
      val plan = topk.queryExecution.executedPlan.toString
      plan should include("TopKPerGroup [")
      plan should not include "Window"
      topk.collect().map(r => (r.getInt(0), r.getDouble(1))).toSet shouldBe
        Set((1, 2.0), (2, 3.0))
    } finally {
      SparkSession.setActiveSession(spark)
      SparkSession.setDefaultSession(spark)
    }
    spark.sql("""SELECT * FROM (
        SELECT g, row_number() OVER (PARTITION BY g ORDER BY v) AS rank
        FROM VALUES (1, 1.0D) AS t(g, v)) WHERE rank <= 1""")
      .queryExecution.executedPlan.toString should include("Window")
  }

  test("md5PrefixLong equals the hex/conv chain, codegen and interpreted") {
    import graft.functions.Md5Long
    // varied lengths incl. empty string and >64-byte (multi-block md5)
    val df = Seq("", "a", "three word shingle", "x" * 200, "émoji ✓ utf8")
      .toDF("s")
    val out = df.select(
        Md5Long.md5PrefixLong(col("s"), 0, 6).as("fast1"),
        conv(substring(md5(col("s").cast("binary")), 1, 12), 16, 10)
          .cast("long").as("ref1"),
        Md5Long.md5PrefixLong(col("s"), 6, 6).as("fast2"),
        conv(substring(md5(col("s").cast("binary")), 13, 12), 16, 10)
          .cast("long").as("ref2"),
        Md5Long.md5PrefixLong(col("s"), 0, 3).as("fast3"),
        conv(substring(md5(col("s").cast("binary")), 1, 6), 16, 10)
          .cast("long").as("ref3"))
      .collect()
    out.foreach { r =>
      r.getLong(0) shouldBe r.getLong(1)
      r.getLong(2) shouldBe r.getLong(3)
      r.getLong(4) shouldBe r.getLong(5)
    }
    // interpreted path (nullSafeEval): evaluate off the codegen engine
    val e = graft.functions.Md5PrefixLong(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        "three word shingle", org.apache.spark.sql.types.StringType), 0, 6)
    e.eval(null) shouldBe out(2).getLong(0)
    // null propagates
    df.select(Md5Long.md5PrefixLong(lit(null).cast("string"), 0, 6).as("n"))
      .head().isNullAt(0) shouldBe true
  }
}
