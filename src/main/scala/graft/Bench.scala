package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract): times every registered query on
  * `SPARK_GRAFT_SF_DIR` and prints ONE JSON line.
  *
  * Timing method: wall-clock around a `noop`-format sink write
  * ([[graft.io.Writers.noop]]) — full compute of every projected column,
  * output discarded — matching the reference's benchmark method
  * (`udf_complex_logic.py:63-71`). `count()` would let Catalyst prune all
  * columns and under-time projection-heavy queries. A small untimed warmup
  * query runs first so JVM/codegen startup isn't attributed to whichever
  * query happens to run first; queries run in name order for stable
  * attribution.
  *
  * Segmented mode (the round-12 verdict's set-size-invariance fix): a
  * single sequential session accrues state, so the full-set per-query
  * average crept ~16% as the registry grew (BASELINE.md) — a
  * set-size-dependent bias in the gate metric. When the selected set
  * exceeds `SPARK_GRAFT_BENCH_SEGMENT` queries (default 100), the run is
  * split into chunks, and the SparkSession + SparkContext are torn down
  * and rebuilt between chunks in THIS JVM (`segment_mode` `restart`).
  * Spark-side accumulation (codegen cache, block manager, listener/UI
  * state) resets; the JIT stays hot, so no chunk re-pays interpreter/
  * compile warmup. `SPARK_GRAFT_BENCH_SEGMENT=0` (or a set that fits in
  * one chunk) runs one monolithic session (`segment_mode` `off`).
  */
object Bench {

  private def loadAvg(): Double = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean.getSystemLoadAverage

  /** Per-chunk adjudication stamps (round-14 verdict item 2): each timed
    * chunk records its query range, wall clock, and the 1-min load at its
    * start and end. A contention window that inflates one contiguous
    * block of an otherwise-calm run (the r14 driver run: q246–q293 at
    * 5–24× calm while the structural leaders sat at 1.4–1.6×) is then
    * identifiable from the record file ALONE — no committed calm detail
    * file or same-day probe needed. Written to the details JSON, never
    * the size-capped stdout contract line.
    */
  private val chunkStamps = scala.collection.mutable.ArrayBuffer[String]()

  private def stamp(first: String, last: String, n: Int, wallSec: Double,
                    loadStart: Double, loadEnd: Double): Unit = {
    def f(v: Double) =
      String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    val _ = chunkStamps += s"""{"first":"$first","last":"$last","n":$n,""" +
      s""""wall":${f(wallSec)},"load_start":${f(loadStart)},""" +
      s""""load_end":${f(loadEnd)}}"""
  }

  /** The sorted, SPARK_GRAFT_ONLY-filtered query list. */
  private def selectedQueries: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)] = {
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .filter(_.nonEmpty)
    def matches(f: Set[String], n: String) =
      f.contains(n) || f.exists(p => n.startsWith(p + "_"))
    val all = SparkEntry.queries.toSeq.sortBy(_._1)
    only match {
      case Some(f) if all.exists(q => matches(f, q._1)) =>
        all.filter(q => matches(f, q._1))
      case _ => all
    }
  }

  private def newSession(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Time `qs` in this JVM: untimed warmup, then per-query noop-sink
    * wall clock with cache isolation. -1 marks a failed query (never its
    * elapsed-to-crash time masquerading as a fast success).
    * `restartEvery` > 0 tears the SparkSession+Context down and builds a
    * fresh one between chunks of that size (same JVM — JIT stays hot,
    * Spark-side accumulation resets).
    */
  private def timeQueries(sfDir: String,
      qs: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)],
      restartEvery: Int = 0)
      : Seq[(String, Double)] = {
    if (restartEvery > 0 && qs.size > restartEvery)
      return qs.grouped(restartEvery).toSeq.flatMap { slice =>
        val timed = timeQueries(sfDir, slice)
        SparkSession.getActiveSession.foreach(_.stop())
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
        timed
      }
    val chunkLoad0 = loadAvg()
    val chunkT0 = System.nanoTime()
    val spark = newSession()
    // Warmup, untimed: entry (scan + shuffle + codegen once) PLUS
    // dedicated exemplars spanning the operator families. A fresh JVM
    // that only warmed `entry` still JIT-compiles the bulk of the
    // Tungsten/codegen machinery inside the first TIMED queries —
    // measured ~+30 s per 100-query chunk at sf0.001 — so the warmup
    // must cover the machinery, not just one path. (Per-query janino
    // codegen of each query's unique class is intrinsic and stays
    // timed, same as the monolithic path.)
    try io.Writers.noop(SparkEntry.entry(spark)) catch { case _: Throwable => () }
    warmupExemplars(spark, sfDir)
    spark.catalog.clearCache()
    val timed = qs.map { case (name, fn) =>
      val t0 = System.nanoTime()
      val sec =
        try { io.Writers.noop(fn(spark, sfDir)); (System.nanoTime() - t0) / 1e9 }
        catch { case _: Throwable => -1.0 }
      // per-query cache isolation: operators (dedup) cache intermediates
      // for intra-query reuse; without this the sequential run
      // accumulates every cached plan in executor memory
      spark.catalog.clearCache()
      name -> sec
    }
    if (qs.nonEmpty)
      stamp(qs.head._1, qs.last._1, qs.size,
        (System.nanoTime() - chunkT0) / 1e9, chunkLoad0, loadAvg())
    timed
  }

  /** Untimed machinery warmup with DEDICATED exemplars, never registry
    * members: the previous warm set (q01/q05/q17/q22/q30/q38/q62/q66)
    * ran untimed in the SAME session that then timed those queries, a
    * self-warming advantage the other ~476 didn't get (ADVICE r13).
    * Each exemplar exercises one family's codegen/shuffle machinery —
    * hash agg + decimal sums, native top-k exec, string predicate
    * ladder, window frames, explode + md5 hash, array-math kNN, HLL
    * sketch registers, partitioned ntile — with shapes that appear in
    * NO registered query.
    */
  private def warmupExemplars(spark: SparkSession, sfDir: String): Unit = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    def t(n: String) = Tables.load(spark, sfDir, n)
    // lazy: a fixture missing either parquet must degrade per-exemplar
    // inside the per-run try below (the warm path never gets to abort
    // the TIMED run — ADVICE r14), not throw from the eager loads
    lazy val li = t("lineitem")
    lazy val docs = t("documents")
    val runs: Seq[() => org.apache.spark.sql.DataFrame] = Seq(
      () => li.groupBy("l_linestatus")
        .agg(sum(col("l_quantity")).as("sq"),
          avg(col("l_discount")).as("ad"), count(lit(1)).as("n")),
      () => ops.Relational.topKPerGroup(
        li.select(col("l_suppkey"), col("l_extendedprice"),
          col("l_orderkey")),
        Seq(col("l_suppkey")),
        Seq(col("l_extendedprice").desc, col("l_orderkey")), 2),
      () => docs.where(lower(col("text")).contains("the"))
        .select(col("doc_id"), length(col("text")).as("len"),
          upper(col("lang")).as("ul")),
      () => li.limit(20000).withColumn("rt",
        sum(col("l_quantity")).over(Window.partitionBy("l_suppkey")
          .orderBy("l_orderkey")
          .rowsBetween(Window.unboundedPreceding, 0))),
      () => docs.select(col("doc_id"),
          explode(split(lower(col("text")), " ")).as("tok"))
        .select((functions.Hashing.hash48(col("tok")) % 101).as("b"))
        .groupBy("b").count(),
      () => {
        val e = t("embeddings")
        similarity.Similarity.knnBruteForce(
          e.where(col("vec_id") < 3).limit(3), e, k = 2)
      },
      () => sketch.Hll.registers(li, col("l_suppkey"), 5),
      () => li.limit(20000).select(col("l_orderkey"),
        ntile(7).over(Window.partitionBy("l_linestatus")
          .orderBy(col("l_extendedprice"), col("l_orderkey"))).as("bin")))
    runs.foreach { r =>
      try io.Writers.noop(r()) catch { case _: Throwable => () }
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // 1-minute system load average, sampled before and after the run: the
    // driver benches on a shared box (documented 2-6x co-tenant swings),
    // and recording the load lets a loaded run be adjudicated from the
    // JSON itself instead of needing a judge re-run each round
    val loadStart = loadAvg()
    val selected = selectedQueries
    val segment = sys.env.getOrElse("SPARK_GRAFT_BENCH_SEGMENT", "100")
    val chunk = scala.util.Try(segment.toInt).getOrElse(100)
    // staging state at run start (marker-complete graft_staged_* dirs
    // under the stage root): committed record totals differ ~10-12 s
    // between cold and warm staged bases, so the adjudication record
    // carries the state instead of leaving it to hidden /tmp contents
    // (ADVICE r13).
    val stagedDirs = {
      val root = new java.io.File(graft.io.Staged.root)
      Option(root.listFiles()).getOrElse(Array.empty)
        .count(d => d.isDirectory && d.getName.startsWith("graft_staged_") &&
          new java.io.File(d, "_graft_staged").exists())
    }
    // segment_mode records what actually RAN: a set that fits in one
    // chunk never segments, so the JSON must not claim isolation that did
    // not happen (ADVICE r13).
    val segmentMode = if (chunk > 0 && selected.size > chunk) "restart" else "off"
    val results = timeQueries(sfDir, selected, restartEvery = chunk)

    val total = results.map(_._2).filter(_ >= 0).sum
    val nFailed = results.count(_._2 < 0)
    // The driver captures only the LAST ~2000 chars of stdout and parses the
    // JSON line out of that tail; with 80 queries the full-name/full-precision
    // map exceeds the window and the line truncates into unparseable garbage
    // (BENCH_r01..r04 all recorded `parsed: null`). Keep the printed line
    // compact — short `qNN` keys, 2-decimal seconds — and write the
    // full-fidelity map to bench_details.json for BASELINE bookkeeping.
    // Locale.ROOT: a comma-decimal default locale would print 12,34 and
    // break the JSON. -1 marker preserved exactly (no "-1.00" ambiguity).
    def fmt(v: Double): String =
      if (v < 0) "-1"
      else String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    // per-query precision on the contract line: 0.1 s is far below this
    // host's run-to-run noise (BASELINE.md documents 2-6x swings);
    // bench_details.json keeps full precision
    def fmt1(v: Double): String =
      if (v < 0) "-1"
      else String.format(java.util.Locale.ROOT, "%.1f", Double.box(v))
    val shortKeys = results.map(_._1.takeWhile(_ != '_'))
    require(shortKeys.distinct.size == results.size,
      s"duplicate short bench keys: ${shortKeys.diff(shortKeys.distinct).distinct}")
    // The printed map carries failures plus the SLOWEST 60 queries: the
    // driver's stdout window is ~2000 chars, and a full map outgrew it
    // at ~165 queries. The totals line is what the judge compares;
    // per-query detail beyond the hot tail lives in bench_details.json.
    val printed = shortKeys.zip(results)
      .sortBy { case (_, (_, v)) => if (v < 0) Double.MinValue else -v }
      .take(60)
    val qsShort = printed.map { case (sk, (_, v)) =>
      "\"" + sk + "\":" + fmt1(v)
    }.mkString("{", ",", "}")
    val qsFull = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val head = s""""metric":"total","value":${fmt(total)},"unit":"sec","failed":$nFailed""" +
      s""","load_avg_start":${fmt(loadStart)},"load_avg_end":${fmt(loadAvg())}""" +
      s""","cpus":$cpus,"segment":$chunk,"segment_mode":"$segmentMode","staged_dirs":$stagedDirs"""
    // the contract line prints FIRST — a failed details-file write (bad
    // cwd, full disk) must never cost the driver its bench JSON.
    // Field order matters: the driver keeps only the LAST ~2000 chars of
    // stdout, so the headline fields sit AFTER the queries map — if the
    // line ever outgrows the window again, truncation eats early
    // per-query entries, not the totals.
    println(s"""{"queries":$qsShort,"n_queries":${results.size},$head,"sf":"$sfDir"}""")
    // SPARK_GRAFT_BENCH_DETAILS redirects the full-fidelity record. The
    // DEFAULT is a gitignored side file: the committed calm record
    // (bench_details.json) is only ever written when the env var points
    // there explicitly, so driver/CI runs under co-tenant load can't
    // clobber it (the incident class of commits 7beb62a / e50118d).
    val detailsPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_DETAILS",
      "bench_details_driver.json")
    // per-chunk wall/load stamps make a loaded window adjudicable from
    // the record file alone (round-14 verdict item 2); details-only —
    // the stdout line is size-capped
    val chunksJson = chunkStamps.mkString("[", ",", "]")
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(detailsPath),
      s"""{$head,"chunks":$chunksJson,"queries":$qsFull,"sf":"$sfDir"}"""
        .getBytes("UTF-8"))
    catch { case _: Throwable => () }
    SparkSession.getActiveSession.foreach(_.stop())
  }
}
