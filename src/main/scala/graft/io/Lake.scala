package graft.io

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Hadoop-FS lake utilities (SURVEY.md §2.1 S11) — the `dbutils.fs`
  * surface the reference uses to lay out and move files between lake
  * layers: mkdirs (`setup.py:42-47`), copy landing → raw
  * (`data_import.ipynb.py:41-49`), ls (`data_import.ipynb.py:96`),
  * rm (`curate_data.py:149`).
  *
  * All operations go through the Hadoop `FileSystem` API resolved from the
  * active Spark Hadoop conf, so the same code works on local FS, HDFS, or
  * an object store.
  */
object Lake {

  private def fs(conf: Configuration, p: Path): FileSystem = p.getFileSystem(conf)

  def conf(spark: SparkSession): Configuration =
    spark.sparkContext.hadoopConfiguration

  /** Create the layer directory tree (`setup.py:42-47`). */
  def mkdirs(conf: Configuration, path: String): Boolean = {
    val p = new Path(path)
    fs(conf, p).mkdirs(p)
  }

  /** Copy a file/dir into the lake (`data_import.ipynb.py:41-45`). */
  def copy(conf: Configuration, src: String, dst: String): Unit = {
    val s = new Path(src)
    val d = new Path(dst)
    val _ = org.apache.hadoop.fs.FileUtil.copy(
      fs(conf, s), s, fs(conf, d), d, /*deleteSource=*/ false, conf)
  }

  /** List child paths (`data_import.ipynb.py:96`). */
  def ls(conf: Configuration, path: String): Seq[String] = {
    val p = new Path(path)
    val f = fs(conf, p)
    if (!f.exists(p)) Nil
    else f.listStatus(p).toSeq.map(_.getPath.toUri.getPath)
  }

  /** Recursive delete (`curate_data.py:149`). */
  def rm(conf: Configuration, path: String): Boolean = {
    val p = new Path(path)
    fs(conf, p).delete(p, /*recursive=*/ true)
  }

  def exists(conf: Configuration, path: String): Boolean = {
    val p = new Path(path)
    fs(conf, p).exists(p)
  }

  /** Per-JVM scratch namespace under `java.io.tmpdir`: unique, so
    * concurrent processes sharing the tmpdir never clobber each other's
    * scratch tables mid-run; stable within the JVM, so a repeated run
    * rebuilds in place (rm-first) instead of leaking a copy per call.
    * Deleted when the JVM exits.
    */
  private lazy val scratchNs: String = {
    val ns = s"${sys.props("java.io.tmpdir")}/graft-scratch-" +
      java.util.UUID.randomUUID().toString.take(8)
    sys.addShutdownHook { val _ = org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(ns)) }
    ns
  }

  /** The scratch root for `name` over fixture `dir` in this JVM's
    * namespace. The md5 suffix keeps apart fixture paths that the
    * sanitized name would collide.
    */
  def scratchRoot(name: String, dir: String): String =
    s"$scratchNs/$name-${dir.replaceAll("[^A-Za-z0-9.]", "_")}-" +
      org.apache.commons.codec.digest.DigestUtils.md5Hex(dir).take(8)

  /** [[scratchRoot]], emptied. */
  def scratch(spark: SparkSession, name: String, dir: String): String = {
    val root = scratchRoot(name, dir)
    rm(conf(spark), root)
    root
  }
}
