package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.perfbench.Bus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{FileSourceScanExec, LogicalRDD, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.io.{Ingest, Readers, Writers}
import graft.pipelines.Pipelines
import graft.versioned.VersionedTable

/** One benchmark run in one JVM: set-up, then timed passes over a
  * workload's operations. Prints nothing on stdout; writes one JSON
  * document (`out=`) that `perfbench/run.py` turns into the record.
  *
  * Arguments are `key=value` pairs; see `perfbench/run.py` for the list.
  * With `trace=1` a SparkListener, a QueryExecutionListener and Spark's
  * codegen counters attribute work to each operation, and spans are kept
  * around every call into the engine's layers.
  */
object PerfBench {

  private def now(): Long = System.nanoTime()
  private def secs(a: Long, b: Long): Double = (b - a) / 1e9

  // ---- spans ----------------------------------------------------------------

  final case class Span(id: Int, op: Int, name: String, parent: Int,
                        start: Long, end: Long)

  /** In-memory span recorder. Spans of one operation share `op`. */
  final class Tracer(val on: Boolean) {
    val spans = ArrayBuffer[Span]()
    private val stack = mutable.Stack[Int]()
    private var nextId = 0
    var op = -1
    var selfNs = 0L // time spent in tracer bookkeeping (plan walks, drains)
    // set by the harness: stop and restart attributing Spark events to the
    // current operation, around probes that run Spark jobs of their own
    var pause: () => Unit = () => ()
    var resume: () => Unit = () => ()

    def span[T](name: String)(body: => T): T =
      if (!on) body
      else {
        val id = nextId; nextId += 1
        val parent = stack.headOption.getOrElse(-1)
        stack.push(id)
        val t0 = now()
        try body
        finally {
          val t1 = now()
          stack.pop()
          spans += Span(id, op, name, parent, t0, t1)
        }
      }

    def overhead[T](body: => T): T = {
      val t0 = now()
      try body finally selfNs += now() - t0
    }

    /** Bookkeeping that runs Spark jobs: its time is overhead, and its
      * jobs, tasks and plans are not counted as the operation's. */
    def probe[T](body: => T): T = overhead {
      pause()
      try body finally resume()
    }
  }

  // ---- listeners --------------------------------------------------------------

  /** Counters for the traced pass. The bus is drained before and after
    * each operation, so every event lands on its operation. The listener
    * bus thread and the main thread both update the counters, so every
    * access holds the lock. */
  final class Layers(stageRoot: String) extends SparkListener with QueryExecutionListener {
    private val c = mutable.LinkedHashMap[String, Double]().withDefaultValue(0.0)
    private val scannedStaged = mutable.Set[String]()
    private val planIntervals = ArrayBuffer[(Long, Long)]()
    @volatile var active = false

    private def add(k: String, v: Double): Unit = if (active) put(k, v)
    def put(k: String, v: Double): Unit = synchronized { c(k) += v }
    def snapshot(): Map[String, Double] = synchronized { c.toMap }
    /** Stage directories the plans since the last call scanned. */
    def takeScannedStaged(): Set[String] = synchronized {
      val r = scannedStaged.toSet; scannedStaged.clear(); r
    }
    /** Wall-clock (ms) intervals of the planning phases since the last call. */
    def takePlanIntervals(): Seq[(Long, Long)] = synchronized {
      val r = planIntervals.toSeq; planIntervals.clear(); r
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      add("exec.jobs", 1)
      val phase = Option(e.properties).map(_.getProperty("perfbench.phase")).orNull
      if (phase == "build") add("queries.build_jobs", 1)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      add("exec.stages", 1)
      if (e.stageInfo.failureReason.isDefined) add("exec.stage_failures", 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add("exec.tasks", 1)
      if (e.taskInfo != null && !e.taskInfo.successful) add("exec.task_failures", 1)
      val m = e.taskMetrics
      if (m != null) {
        add("exec.task_run_s", m.executorRunTime / 1e3)
        add("exec.task_cpu_s", m.executorCpuTime / 1e9)
        add("exec.task_deser_s", m.executorDeserializeTime / 1e3)
        add("exec.gc_s", m.jvmGCTime / 1e3)
        add("exec.input_mb", m.inputMetrics.bytesRead / 1e6)
        add("exec.shuffle_read_mb", (m.shuffleReadMetrics.remoteBytesRead +
          m.shuffleReadMetrics.localBytesRead) / 1e6)
        add("exec.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1e6)
        add("exec.spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6)
        if (e.taskInfo != null) {
          val delay = e.taskInfo.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime -
            e.taskInfo.gettingResultTime
          add("exec.sched_delay_s", math.max(0L, delay) / 1e3)
        }
      }
    }

    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)

    private def record(qe: QueryExecution): Unit = if (active) {
      qe.tracker.phases.foreach { case (phase, s) =>
        add(s"plans.${phase}_s", (s.endTimeMs - s.startTimeMs) / 1e3)
        synchronized { planIntervals += ((s.startTimeMs, s.endTimeMs)) }
      }
      val nodes = physicalNodes(qe.executedPlan)
      add("plans.exchanges", nodes.count(_.isInstanceOf[ShuffleExchangeLike]).toDouble)
      add("plans.broadcasts", nodes.count(_.isInstanceOf[BroadcastExchangeLike]).toDouble)
      nodes.foreach {
        case s: FileSourceScanExec =>
          s.relation.location.rootPaths.map(_.toUri.getPath)
            .filter(_.startsWith(stageRoot))
            .foreach(p => synchronized {
              scannedStaged += p.stripPrefix(stageRoot).split("/")
                .filter(_.nonEmpty).headOption.getOrElse("")
            })
        case _ =>
      }
    }
  }

  /** Length (ms) of the union of intervals, each clipped to [lo, hi]. */
  private def unionMs(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var end = lo
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
      .foreach { case (a, b) =>
        val from = math.max(a, end)
        if (b > from) { total += b - from; end = b }
      }
    total
  }

  private def physicalNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => physicalNodes(a.executedPlan)
    case q: QueryStageExec => q +: physicalNodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(physicalNodes)
  }

  /** Eager barriers left in a frame's plan: cached relations and
    * checkpointed RDD scans. */
  private def barriers(plan: LogicalPlan): Int =
    plan.collectWithSubqueries {
      case r: InMemoryRelation => r
      case r: LogicalRDD => r
    }.size

  // ---- JSON -------------------------------------------------------------------

  private def js(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => js(x)
    case s: String =>
      val b = new StringBuilder("\"")
      s.foreach {
        case '"' => b ++= "\\\""
        case '\\' => b ++= "\\\\"
        case '\n' => b ++= "\\n"
        case ch if ch < ' ' => b ++= f"\\u${ch.toInt}%04x"
        case ch => b += ch
      }
      (b += '"').toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => js(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => js(k.toString) + ":" + js(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(js).mkString("[", ",", "]")
    case p: Product => js(p.productIterator.toSeq)
    case other => js(other.toString)
  }

  // ---- file helpers -------------------------------------------------------------

  private def walk(f: File): Seq[File] =
    if (!f.exists()) Nil
    else if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
    else Seq(f)

  private def dataFiles(root: String): Seq[File] =
    walk(new File(root)).filterNot { f =>
      val n = f.getName; n.startsWith(".") || n.startsWith("_")
    }

  private def markers(stageRoot: String): Set[String] =
    walk(new File(stageRoot)).filter(_.getName == "_graft_staged")
      .map(_.getParentFile.getName).toSet

  private def rm(p: String): Unit = {
    val root = Paths.get(p)
    if (Files.exists(root))
      Files.walk(root).sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => Files.delete(f))
  }

  private def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  // ---- operations ---------------------------------------------------------------

  /** One timed operation: its name and its body (which throws on failure). */
  final case class Op(name: String, run: () => Any)

  final case class OpResult(name: String, s: Double, buildS: Double,
                            ok: Boolean, error: String)

  def main(args: Array[String]): Unit = {
    val a = args.map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
    val workload = a("workload")
    val inputs = a("inputs")
    val work = a("work")
    val seconds = a("seconds").toDouble
    val passSeconds = a("pass_seconds").toDouble
    val traceOn = a("trace") == "1"
    val cores = Runtime.getRuntime.availableProcessors
    // the run's own stage root (the caller unsets SPARK_GRAFT_STAGE_DIR):
    // staged bases start cold, and their first caller pays the build
    val stageRoot = new File(s"$work/stage").getAbsolutePath + "/"
    System.setProperty("graft.stage.dir", stageRoot)
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

    val tracer = new Tracer(traceOn)
    val layers = new Layers(stageRoot)
    val spark = {
      val s = SparkSession.builder()
        .appName(s"perfbench-$workload")
        .master(s"local[$cores]")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.local.dir", s"$work/spark-local")
        .config("spark.sql.warehouse.dir", s"$work/warehouse")
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      if (traceOn) {
        s.sparkContext.addSparkListener(layers)
        s.listenerManager.register(layers)
      }
      s
    }

    // ---- workload definitions ----
    val queryNames = a.get("ops").map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Nil)

    /** Untimed warmup on generic frames (never a workload operation), so
      * the first timed operation does not pay for Spark's own class
      * loading and JIT alone. */
    def warmup(s: SparkSession): Unit = {
      val src = workload match {
        case "medallion" => Readers.csv(s, s"$inputs/landing/country")
        case _ => s.read.parquet(s"$inputs/lineitem.parquet")
      }
      val c0 = col(src.columns.head)
      Writers.noop(src.groupBy(c0).count().orderBy(c0))
      src.limit(10).write.mode("overwrite").parquet(s"$work/warm")
    }

    // ---- set-up: from JVM start to the first timed operation ----
    warmup(spark)
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    if (traceOn) {
      tracer.pause = () => { Bus.drain(spark.sparkContext); layers.active = false }
      tracer.resume = () => { Bus.drain(spark.sparkContext); layers.active = true }
    }

    // ---- timed passes ----
    val nPasses = math.max(1, math.round(seconds / passSeconds).toInt)
    val passes = ArrayBuffer[(Double, Seq[OpResult])]()
    val medallionChecks = mutable.LinkedHashMap[String, Any]()
    val perPassLayers = ArrayBuffer[collection.Map[String, Double]]()
    var writeAmp = 0.0
    var inputBytes = 0L

    // traced: the current operation's build intervals (wall-clock ms) and
    // codegen compile time inside them, for the non-overlapping fixed time
    val buildIntervals = ArrayBuffer[(Long, Long)]()
    var buildCompileNs = 0L

    def runOps(pass: Int, ops: Seq[Op], buildOf: String => Double): Seq[OpResult] =
      ops.zipWithIndex.map { case (op, i) =>
        tracer.op = pass * 1000 + i
        val before = if (traceOn) tracer.overhead {
          Bus.drain(spark.sparkContext)
          layers.takeScannedStaged()
          layers.takePlanIntervals()
          markers(stageRoot)
        } else Set.empty[String]
        buildIntervals.clear()
        buildCompileNs = 0L
        val cg0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        val cgt0 = CodeGenerator.compileTime
        layers.active = traceOn
        val t0Ms = System.currentTimeMillis()
        val t0 = now()
        val res =
          try {
            tracer.span(s"op:${op.name}")(op.run())
            OpResult(op.name, secs(t0, now()), buildOf(op.name), ok = true, null)
          } catch {
            case e: Throwable =>
              val msg = (e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage))
                .linesIterator.take(3).mkString(" ").take(400)
              OpResult(op.name, secs(t0, now()), buildOf(op.name), ok = false, msg)
          }
        if (traceOn) tracer.overhead {
          val t1Ms = System.currentTimeMillis()
          Bus.drain(spark.sparkContext)
          layers.active = false
          val compileNs = CodeGenerator.compileTime - cgt0
          layers.put("functions.codegen_compiles",
            (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cg0).toDouble)
          layers.put("functions.codegen_compile_s", compileNs / 1e9)
          // fixed time, each instant counted once: build and planning
          // phases as one union of intervals, plus the codegen compile
          // time outside the build (compiles inside it are in the union)
          val planned = unionMs(buildIntervals.toSeq ++ layers.takePlanIntervals(), t0Ms, t1Ms)
          layers.put("fixed_s", planned / 1e3 + math.max(0L, compileNs - buildCompileNs) / 1e9)
          val after = markers(stageRoot)
          layers.put("io.staged_builds", (after -- before).size.toDouble)
          layers.put("io.staged_hits", layers.takeScannedStaged().count(before.contains).toDouble)
        }
        layers.active = false
        res
      }

    def layerSnapshot(): Map[String, Double] = layers.snapshot()

    workload match {
      case "medallion" =>
        for (p <- 0 until nPasses) {
          val lake = s"$work/lake_p$p"
          val (ops, checks) = medallionOps(spark, inputs, lake, a, tracer)
          val before = layerSnapshot()
          val t0 = now()
          val res = runOps(p, ops, _ => 0.0)
          val passS = secs(t0, now())
          passes += ((passS, res))
          val d = layerSnapshot().map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) }
          val lakeBytes = dataFiles(lake).map(_.length).sum
          inputBytes = dataFiles(s"$inputs/landing").map(_.length).sum
          writeAmp = lakeBytes.toDouble / inputBytes
          medallionChecks.clear()
          medallionChecks ++= checks
          medallionChecks("lake_bytes") = lakeBytes
          medallionChecks("lake_files") = dataFiles(lake).size
          perPassLayers += (if (traceOn) d ++ Map(
            "io.bytes_written_mb" -> lakeBytes / 1e6,
            "io.files_written" -> dataFiles(lake).size.toDouble) else d)
          if (p < nPasses - 1) rm(lake)
        }
      case _ =>
        val qs = graft.SparkEntry.queries
        val results = s"$work/results"
        inputBytes = dataFiles(inputs).map(_.length).sum
        for (p <- 0 until nPasses) {
          val build = mutable.Map[String, Double]()
          val ops = queryNames.map { n =>
            Op(n, () => {
              val fn = qs(n)
              spark.sparkContext.setLocalProperty("perfbench.phase", "build")
              val b0Ms = System.currentTimeMillis()
              val cgt0 = CodeGenerator.compileTime
              val b0 = now()
              val df = try tracer.span("queries.build")(fn(spark, inputs))
              finally {
                build(n) = secs(b0, now())
                buildIntervals += ((b0Ms, System.currentTimeMillis()))
                buildCompileNs += CodeGenerator.compileTime - cgt0
                spark.sparkContext.setLocalProperty("perfbench.phase", "run")
              }
              if (traceOn) tracer.overhead {
                layers.put("queries.barriers", barriers(df.queryExecution.withCachedData).toDouble)
              }
              tracer.span("queries.run")(
                df.write.mode("overwrite").parquet(s"$results/$n.parquet"))
              null
            })
          }
          val stageBefore = dataFiles(stageRoot).map(_.getPath).toSet
          val before = layerSnapshot()
          val t0 = now()
          val res = runOps(p, ops, n => build.getOrElse(n, 0.0))
          val passS = secs(t0, now())
          passes += ((passS, res))
          val written = dataFiles(results) ++
            dataFiles(stageRoot).filterNot(f => stageBefore.contains(f.getPath))
          writeAmp = written.map(_.length).sum.toDouble / inputBytes
          val d = layerSnapshot().map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) }
          perPassLayers += (if (traceOn) d ++ Map(
            "io.bytes_written_mb" -> written.map(_.length).sum / 1e6,
            "io.files_written" -> written.size.toDouble) else d)
        }
    }

    val out = mutable.LinkedHashMap[String, Any](
      "workload" -> workload,
      "cores" -> cores,
      "xmx_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "spark_version" -> spark.version,
      "setup_s" -> setupS,
      "passes" -> passes.map { case (s, rs) =>
        Map("pass_s" -> s, "ops" -> rs.map(r => mutable.LinkedHashMap(
          "name" -> r.name, "s" -> r.s, "build_s" -> r.buildS, "ok" -> r.ok,
          "error" -> r.error)))
      }.toSeq,
      "write_amp" -> writeAmp,
      "input_bytes" -> inputBytes,
      "medallion" -> medallionChecks,
      "layers" -> perPassLayers.toSeq,
      "trace_overhead_s" -> tracer.selfNs / 1e9 / math.max(1, passes.size),
      "staged_at_end" -> markers(stageRoot).size,
      "oracles" -> graft.SparkEntry.oracleSql.filter { case (k, _) => queryNames.contains(k) })
    spark.stop()
    out("peak_rss_mb") = vmHwmMb()
    Files.write(Paths.get(a("out")), js(out).getBytes(StandardCharsets.UTF_8))
    if (traceOn) {
      val sp = tracer.spans.sortBy(_.id).map(s => mutable.LinkedHashMap(
        "id" -> s.id, "op" -> s.op, "name" -> s.name, "parent" -> s.parent,
        "start_ns" -> s.start, "end_ns" -> s.end))
      Files.write(Paths.get(a("out") + ".spans.json"), js(sp).getBytes(StandardCharsets.UTF_8))
    }
  }

  // ---- the medallion pipeline -----------------------------------------------------

  /** The reference pipeline as a list of timed steps over one lake root.
    * Returns the steps and a map the steps fill with the values the
    * checker compares against the generator's truth. */
  def medallionOps(spark: SparkSession, inputs: String, lake: String,
                   cfg: Map[String, String], t: Tracer): (Seq[Op], mutable.LinkedHashMap[String, Any]) = {
    val checks = mutable.LinkedHashMap[String, Any]()
    val raw = s"$lake/raw"
    val date = "240101"
    val years = cfg("years").split(",").toSeq
    val idCols = Seq("Country_Name", "Country_Code", "Indicator_Name", "Indicator_Code")
    val vtRoot = s"$lake/vt/co2"
    var table: VersionedTable = null
    def curated(name: String) = Readers.parquet(spark, s"$lake/curated/$name")
    def auditJson(counts: Seq[(String, Long)]) = counts.map { case (k, v) => Seq(k, v) }
    def vt[T](name: String)(body: => T): T = t.span(s"versioned.$name")(body)
    // the curated year is the int partition column; the late batch
    // arrives with a bigint year and an extra column (schema enforcement)
    val badBatch = () => curated("co2").where(col("year") === 2019)
      .withColumn("year", col("year").cast("bigint"))
      .withColumn("Enedc_g/km_V2", col("`Enedc_g/km`") * 1.01)
    val repair = (df: DataFrame) =>
      df.drop("Enedc_g/km_V2").withColumn("year", col("year").cast("int"))
    def vtFiles(): Map[String, Long] =
      dataFiles(s"$vtRoot").filter(_.getName.endsWith(".parquet"))
        .map(f => f.getPath -> f.length).toMap
    /** Copy-on-write step. Traced, it also records the bytes the step
      * wrote against the bytes of the rows it changed, at the table's
      * current bytes per row. */
    def rewrite(name: String, changedRows: => Long)(body: => Unit): Unit =
      if (!t.on) vt(name)(body)
      else {
        val (f0, changed, perRow) = t.probe {
          val live = table.toDF.inputFiles
            .map(p => new File(new java.net.URI(p).getPath).length).sum
          (vtFiles().keySet, changedRows, live.toDouble / math.max(1L, table.countFast))
        }
        vt(name)(body)
        t.overhead {
          val added = vtFiles().filter { case (p, _) => !f0.contains(p) }.values.sum
          checks(s"rewrite.$name") = Map("changed_rows" -> changed,
            "added_bytes" -> added, "changed_bytes" -> changed * perRow)
        }
      }
    val periods = years.map(_.toInt).drop(1)
    val ops = Seq(
      Op("ingest_wdi", () => t.span("io.ingest")(
        Ingest.stage(spark, s"$inputs/landing/wdi", raw, "wdi", date).size)),
      Op("ingest_country", () => t.span("io.ingest")(
        Ingest.stage(spark, s"$inputs/landing/country", raw, "country", date).size)),
      Op("ingest_co2", () => t.span("io.ingest")(
        Ingest.stage(spark, s"$inputs/landing/co2", raw, "co2", date).size)),
      Op("curate_wdi", () => {
        val (df, counts) = t.span("pipelines.curate")(Pipelines.curate(
          Readers.csvQuoted(spark, Ingest.rawPath(raw, "wdi", date)),
          Pipelines.CurateConfig(validityFilters = Seq(
            graft.clean.Cleaning.codeLengthIs(col("Country_Code"), 3),
            graft.clean.Cleaning.noSpaces(col("Indicator_Code"))))))
        t.span("io.write")(Writers.parquetSingleFile(df, s"$lake/curated/wdi"))
        checks("wdi_audit") = auditJson(counts)
        counts.last._2
      }),
      Op("curate_country", () => {
        val (df, counts) = t.span("pipelines.curate")(Pipelines.curate(
          Readers.csv(spark, Ingest.rawPath(raw, "country", date))))
        t.span("io.write")(Writers.parquetSingleFile(df, s"$lake/curated/country"))
        counts.last._2
      }),
      Op("curate_co2", () => {
        val (df, counts) = t.span("pipelines.curate")(Pipelines.curate(
          Readers.jsonLines(spark, Ingest.rawPath(raw, "co2", date)).drop("z (Wh/km)"),
          Pipelines.CurateConfig(validityFilters = Seq(
            graft.clean.Cleaning.matches(col("MS"), "^[A-Z]{2}$")))))
        t.span("io.write")(Writers.parquetPartitioned(df, s"$lake/curated/co2", Seq("year")))
        checks("co2_audit") = auditJson(counts)
        counts.last._2
      }),
      Op("serve_wdi", () => {
        val top = t.span("pipelines.serve")(Pipelines.serve(curated("wdi"),
          Pipelines.ServeConfig(idCols = idCols, valueCols = years,
            groupCols = Seq("Indicator_Code", "Country_Code"),
            topKPartition = Seq("Indicator_Code"),
            topKOrder = "avg_Indicator_Value", k = cfg("k").toInt)))
        t.span("io.write")(Writers.parquetOverwrite(top, s"$lake/serving/wdi_topk"))
        checks("serve_path") = s"$lake/serving/wdi_topk"
        null
      }),
      Op("denormalize_wdi", () => {
        val long = Pipelines.serve(curated("wdi"),
          Pipelines.ServeConfig(idCols = idCols, valueCols = years))
          .withColumn("year", col("year").cast("int"))
        val dim = curated("country").where(col("Region").isNotNull)
          .select(col("Country_Code").as("dim_code"), col("Region"))
        val out = t.span("pipelines.denormalize")(Pipelines.denormalize(long,
          Pipelines.DenormConfig(
            dims = Seq((dim, col("Country_Code") === col("dim_code"))),
            periodCol = "year", keyCols = Seq("Region", "Indicator_Code"),
            valueExpr = col("Indicator_Value").cast("double"),
            periods = periods)))
        t.span("io.write")(Writers.parquetOverwrite(out, s"$lake/serving/denorm"))
        checks("denorm_path") = s"$lake/serving/denorm"
        null
      }),
      Op("vt_create", () => vt("create") {
        table = VersionedTable.create(spark, vtRoot,
          curated("co2").where(col("year").isin(2017, 2018)))
        table.version
      }),
      Op("vt_append_rejected", () => vt("append") {
        val rejected =
          try { table.append(badBatch()); false }
          catch { case _: IllegalArgumentException => true }
        checks("rejected_append_threw") = rejected
        require(rejected, "schema enforcement accepted a mismatched batch")
        rejected
      }),
      Op("vt_append_repaired", () => vt("append") {
        Pipelines.lakehouseAppend(table, badBatch(), repair).version
      }),
      Op("vt_append_merge", () => vt("append") {
        Pipelines.lakehouseAppend(table,
          curated("co2").where(col("year") === 2020)
            .withColumn("Enedc_g/km_V2", col("`Enedc_g/km`") * 1.01),
          mergeSchema = true).version
      }),
      Op("vt_update", () => rewrite("update",
        table.toDF.where(col("Mh") === "FERRARI").count()) {
        val _ = table.update(col("Mh") === "FERRARI", Map("Mh" -> lit("Ferrari")))
      }),
      Op("vt_upsert", () => {
        val nEx = cfg("upsert_existing").toInt
        val nNew = cfg("upsert_new").toInt
        val maxId = cfg("max_id").toLong
        val cur = table.toDF
        val existing = cur.orderBy(col("ID")).limit(nEx)
          .withColumn("Enedc_g/km", col("`Enedc_g/km`") + 1.0)
        val fresh = cur.orderBy(col("ID")).limit(nNew)
          .withColumn("ID", col("ID") + maxId)
        rewrite("upsert", (nEx + nNew).toLong) {
          val _ = table.upsert(existing.unionByName(fresh), Seq("ID"))
        }
      }),
      Op("vt_delete", () => rewrite("delete",
        table.toDF.where(col("MS") === cfg("delete_ms")).count()) {
        val _ = table.delete(col("MS") === cfg("delete_ms"))
      }),
      Op("vt_compact", () => vt("compact") { table.compact(2).version }),
      Op("vt_zorder", () => vt("zorder") {
        table.zorder(cfg("zorder_files").toInt, Seq("ID", "year")).version
      }),
      Op("vt_scan_pruned", () => vt("scan_pruned") {
        val df = table.scanPruned("ID", cfg("scan_lo").toLong, cfg("scan_hi").toLong)
        val n = df.where(col("ID").between(cfg("scan_lo").toLong, cfg("scan_hi").toLong)).count()
        checks("scan_rows") = n
        if (t.on) t.probe {
          checks("scan_files") = df.inputFiles.length
          checks("table_files") = table.toDF.inputFiles.length
        }
        n
      }),
      Op("vt_asof", () => vt("asof") {
        val counts = Seq(1L, 4L).map(v => v.toString -> table.asOf(v).count()).toMap
        checks("asof_rows") = counts
        counts
      }),
      Op("vt_restore", () => vt("restore") {
        table.restore(5).version
      }),
      Op("vt_count_fast", () => vt("count_fast") {
        val n = table.countFast
        checks("count_fast") = n
        n
      }),
      Op("vt_history", () => vt("history") {
        val h = table.history.collect()
        checks("history_rows") = h.length
        checks("history") = h.toSeq.reverse.map(r => Seq(r.getLong(0), r.getString(1),
          r.getLong(2), r.getLong(3), r.getLong(4)))
        h.length
      }))
    (ops, checks)
  }

}
