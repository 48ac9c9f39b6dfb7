package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional third arg: only run queries whose name starts with it
    // (dev iteration shortcut; the driver always calls with two args)
    val (sfDir, outDir, nameFilter) = args match {
      case Array(s, o)    => (s, o, None)
      case Array(s, o, f) => (s, o, Some(f))
      case _ => sys.error("usage: Verify <sfDir> <outDir> [namePrefix]")
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // canonical per-query content hash (round-7 verdict ask): sha256 over
    // the WRITTEN parquet re-read, columns sorted by name, each row
    // rendered with to_json (deterministic for a given Spark version),
    // rows sorted lexicographically. A builder-side run and a driver-side
    // run of Verify at the same commit/SF can now be diffed hash-for-hash
    // without re-deriving anything through pandas.
    val rowHashes = scala.collection.mutable.LinkedHashMap[String, String]()
    // a name-filtered run merges into the output dir's existing hashes:
    // the other queries' entries stay, the re-run ones are replaced (or
    // dropped, if the re-run fails)
    val hashFile = Paths.get(s"$outDir/row_hashes.json")
    for (prefix <- nameFilter if Files.exists(hashFile)) {
      import scala.jdk.CollectionConverters._
      val prior = new com.fasterxml.jackson.databind.ObjectMapper()
        .readValue(hashFile.toFile, classOf[java.util.Map[String, String]])
      rowHashes ++= prior.asScala.filterNot { case (k, _) => k.startsWith(prefix) }
    }
    def canonicalHash(path: String): String = {
      import org.apache.spark.sql.functions.{to_json, struct, col}
      val df = graft.io.Footers.read(spark, path)
      val cols = df.columns.sorted.map(col).toIndexedSeq
      val lines = df.select(to_json(struct(cols: _*)).as("j"))
        .collect().map(_.getString(0)).sorted
      val md = java.security.MessageDigest.getInstance("SHA-256")
      lines.foreach { l =>
        md.update(l.getBytes("UTF-8")); md.update('\n'.toByte)
      }
      md.digest().map(b => f"$b%02x").mkString
    }
    SparkEntry.queries
      .filter { case (name, _) => nameFilter.forall(name.startsWith) }
      .foreach { case (name, fn) =>
      // progress marker (stderr, where the Spark log goes): lets log
      // noise — e.g. a WindowExec warning — be attributed to its query
      System.err.println(s"[verify] running $name")
      // driver contract: result lands at outDir/<name>.parquet (a parquet
      // directory with that literal name — readable by pyarrow/duckdb
      // either as a dir or via <name>.parquet/*.parquet)
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name.parquet")
        rowHashes(name) = canonicalHash(s"$outDir/$name.parquet")
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      finally spark.catalog.clearCache() // per-query cache isolation
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // Driver-handoff hardening (round-1 CORRECTNESS recorded `no_oracle`
    // for every query: the driver keys results by `<name>.parquet`, so the
    // oracle map is emitted redundantly under BOTH the bare query name and
    // the `.parquet`-suffixed result name), plus:
    //  - a per-query `<outDir>/<name>.sql` sidecar (sibling of the result
    //    dir — NEVER inside it, where it would corrupt a directory-as-dataset
    //    parquet read)
    val entries = SparkEntry.oracleSql.toSeq.flatMap { case (k, v) =>
      Seq(k -> v, s"$k.parquet" -> v)
    }
    val json = entries
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    SparkEntry.oracleSql.foreach { case (k, v) =>
      Files.writeString(Paths.get(s"$outDir/$k.sql"), v)
    }
    // canonical hashes + engine-version stamp: makes a builder run and a
    // driver run directly comparable (which side diverged, and on what
    // engine version) instead of reconstructing via pandas
    Files.writeString(hashFile,
      rowHashes.map { case (k, v) => s"${q(k)}: ${q(v)}" }
        .mkString("{", ",", "}"))
    Files.writeString(Paths.get(s"$outDir/env.json"),
      Seq(
        "spark" -> spark.version,
        "java" -> System.getProperty("java.version"),
        "scala" -> scala.util.Properties.versionNumberString,
        "timezone" -> spark.conf.get("spark.sql.session.timeZone"))
        .map { case (k, v) => s"${q(k)}: ${q(v)}" }
        .mkString("{", ",", "}"))
    spark.stop()
  }
}
