package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Catalog DDL/introspection helpers (SURVEY.md §2.1 S13).
  *
  * The reference namespaces its lake layers as databases
  * (`curate_data.py:110-111` CREATE DATABASE, `serving_layer.py:17-37`
  * SHOW DATABASES/TABLES, `lakehouse_data_igestion.py:136-138`
  * DESCRIBE TABLE). Thin wrappers over `spark.sql`/`spark.catalog` so
  * pipelines can declare their namespaces programmatically.
  */
object Catalog {

  def createDatabase(spark: SparkSession, name: String): Unit = {
    val _ = spark.sql(s"CREATE DATABASE IF NOT EXISTS `$name`")
  }

  def dropDatabase(spark: SparkSession, name: String): Unit = {
    val _ = spark.sql(s"DROP DATABASE IF EXISTS `$name` CASCADE")
  }

  def showTables(spark: SparkSession, db: String): DataFrame =
    spark.sql(s"SHOW TABLES IN `$db`")

  def tableExists(spark: SparkSession, table: String): Boolean =
    spark.catalog.tableExists(table)

  /** `SET -v`-style session-conf introspection (reference
    * `data_ingestion_and_cleaning/setup.py:12-33`,
    * `data_import.ipynb.py:33` — the conf-dump cell every notebook
    * starts with): the session's RESOLVED values for `keys`, or all
    * documented SQL confs when `keys` is empty. Conf is driver state —
    * this frame is inherently model-sized, never data-sized.
    */
  def confDump(spark: SparkSession, keys: Seq[String] = Nil): DataFrame =
    if (keys.isEmpty)
      spark.sql("SET -v")
        .select(col("key").as("conf_key"), col("value").as("conf_value"))
    else {
      import spark.implicits._
      keys.map(k => (k, spark.conf.getOption(k).getOrElse("<unset>")))
        .toDF("conf_key", "conf_value")
    }
}
