package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.io.Lake
import graft.versioned.VersionedTable

/** Versioned-table (lakehouse) queries — SURVEY.md §2.13 V1–V8 exercised
  * end-to-end through the DuckDB oracle. Each query builds a scratch
  * versioned table from `nation`, applies lakehouse operations, and
  * returns a final state whose expected value is reconstructible in pure
  * SQL over the untouched base table:
  *
  *  - update (V4): `CASE WHEN cond THEN expr ELSE old END`
  *  - time travel (V5): the pre-update snapshot == the base table
  *  - restore (V6): post-restore current == the base table
  *  - evolution (V8): widened rows reconstructed with a CASE'd extra column
  *
  * Scratch tables live in the JVM's scratch namespace
  * ([[graft.io.Lake.scratch]]) and are rebuilt per run.
  */
object VersionedQueries {

  private def nation(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "nation")

  private val NationCols = Seq("n_nationkey", "n_name", "n_regionkey")

  private def ordered(df: DataFrame): DataFrame =
    df.select(NationCols.map(col): _*).orderBy("n_nationkey")

  private val baseOracle =
    "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey"

  def all: Seq[Q] = Seq(

    // V4: copy-on-write UPDATE — current state reflects the update.
    Q("q42_versioned_update", Q.sql("""
        SELECT n_nationkey,
          CASE WHEN n_regionkey = 0 THEN 'REDACTED' ELSE n_name END AS n_name,
          n_regionkey
        FROM nation ORDER BY n_nationkey"""))(
      (s, dir) => {
        val t = VersionedTable.create(s, Lake.scratch(s, "update", dir), nation(s, dir))
        t.update(col("n_regionkey") === 0, Map("n_name" -> lit("REDACTED")))
        ordered(t.toDF)
      }),

    // V5: time travel — asOf(0) after an update equals the base table.
    Q("q43_versioned_timetravel", Q.sql(baseOracle))(
      (s, dir) => {
        val t = VersionedTable.create(s, Lake.scratch(s, "timetravel", dir), nation(s, dir))
        t.update(col("n_regionkey") === 0, Map("n_name" -> lit("REDACTED")))
        ordered(t.asOf(0))
      }),

    // V6: restore — current after update + restore(0) equals the base table.
    Q("q44_versioned_restore", Q.sql(baseOracle))(
      (s, dir) => {
        val t = VersionedTable.create(s, Lake.scratch(s, "restore", dir), nation(s, dir))
        t.update(col("n_regionkey") === 0, Map("n_name" -> lit("REDACTED")))
        t.restore(0)
        ordered(t.toDF)
      }),

    // V8: schema evolution — append a widened batch with mergeSchema; old
    // rows read back null-padded, new rows carry the extra column.
    Q("q45_versioned_evolve", Q.sql("""
        SELECT n_nationkey, n_name, n_regionkey,
          CASE WHEN n_regionkey >= 3 THEN n_nationkey * 2 END AS extrakey
        FROM nation ORDER BY n_nationkey"""))(
      (s, dir) => {
        val base = nation(s, dir)
        val t = VersionedTable.create(s, Lake.scratch(s, "evolve", dir),
          base.where(col("n_regionkey") < 3))
        val widened = base.where(col("n_regionkey") >= 3)
          .withColumn("extrakey", (col("n_nationkey") * 2).cast("long"))
        t.append(widened, mergeSchema = true)
        t.toDF.select((NationCols :+ "extrakey").map(col): _*)
          .orderBy("n_nationkey")
      }),

    // Change feed (Delta CDF analog): the v0→v1 changes of a copy-on-write
    // update are the old matching rows as deletes plus their redacted
    // forms as inserts — rows the rewrite carried over unchanged cancel
    // in the file-diff exceptAll and must NOT appear.
    Q("q69_version_changes", Q.sql("""
        SELECT n_nationkey, 'REDACTED' AS n_name, n_regionkey,
          'insert' AS _change_type
        FROM nation WHERE n_regionkey = 0
        UNION ALL
        SELECT n_nationkey, n_name, n_regionkey, 'delete' AS _change_type
        FROM nation WHERE n_regionkey = 0
        ORDER BY _change_type, n_nationkey"""))(
      (s, dir) => {
        val t = VersionedTable.create(s, Lake.scratch(s, "changes", dir), nation(s, dir))
        t.update(col("n_regionkey") === 0, Map("n_name" -> lit("REDACTED")))
        t.changes(0, 1)
          .select((NationCols :+ "_change_type").map(col): _*)
          .orderBy("_change_type", "n_nationkey")
      }),

    // Stats-pruned scan over a range-clustered table: same rows as the
    // plain filter (the oracle), strictly fewer files opened
    // (VersionedTableSpec asserts the skipping; compact's range-sort is
    // what makes per-file key ranges narrow enough to skip).
    Q("q77_pruned_scan", Q.sql("""
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders
        WHERE o_orderkey BETWEEN 1000 AND 2000
        ORDER BY o_orderkey"""))(
      (s, dir) => {
        val t = VersionedTable.create(s, Lake.scratch(s, "prune", dir),
          Tables.load(s, dir, "orders")
            .select("o_orderkey", "o_custkey", "o_totalprice"))
        t.compact(numFiles = 8, clusterBy = Seq("o_orderkey"))
        t.scanPruned("o_orderkey", 1000L, 2000L)
          .orderBy("o_orderkey")
      }),

    // MERGE/upsert (Delta's MERGE INTO): source rows replace matched
    // keys (region-0 nations, renamed) and insert unmatched ones (a new
    // key 99). Oracle = anti-join union of the same source.
    Q("q78_merge_upsert", Q.sql("""
        WITH source AS (
          SELECT n_nationkey, 'MERGED_' || n_name AS n_name, n_regionkey
          FROM nation WHERE n_regionkey = 0
          UNION ALL
          SELECT 99, 'NEWLAND', 4)
        SELECT n_nationkey, n_name, n_regionkey FROM (
          SELECT n_nationkey, n_name, n_regionkey FROM nation
          WHERE n_nationkey NOT IN (SELECT n_nationkey FROM source)
          UNION ALL
          SELECT * FROM source) t
        ORDER BY n_nationkey"""))(
      (s, dir) => {
        import s.implicits._
        val base = nation(s, dir)
        val t = VersionedTable.create(s, Lake.scratch(s, "merge", dir), base)
        val source = base.where(col("n_regionkey") === 0)
          .select(col("n_nationkey"),
            concat(lit("MERGED_"), col("n_name")).as("n_name"),
            col("n_regionkey"))
          .unionByName(Seq((99, "NEWLAND", 4))
            .toDF("n_nationkey", "n_name", "n_regionkey"))
        t.upsert(source, keys = Seq("n_nationkey"))
        ordered(t.toDF)
      }),

    // TPC-H refresh functions RF1/RF2 on the versioned layer — the part
    // of the TPC-H kit the 22 queries leave out: RF1 appends the "new
    // sales" stream (one atomic commit, no base rewrite), RF2 deletes
    // the "old sales" slice (file-pruned copy-on-write), then the
    // priority rollup runs against the refreshed table. The oracle
    // reconstructs the final state in pure SQL (base ∪ RF1 minus RF2),
    // proving insert+delete composition is exact. countFast = the
    // post-refresh row count from the manifest alone.
    Q("q300_tpch_refresh", Q.sql("""
        WITH refreshed AS (
          SELECT * FROM orders WHERE NOT (o_orderkey % 97 = 0))
        SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
          CAST(sum(CAST(o_totalprice AS DECIMAL(27,4))) AS DOUBLE) AS revenue,
          (SELECT CAST(count(*) AS BIGINT) FROM refreshed) AS table_rows
        FROM refreshed
        GROUP BY 1 ORDER BY 1"""))(
      (s, dir) => {
        val orders = Tables.load(s, dir, "orders")
        val t = VersionedTable.create(s, Lake.scratch(s, "rf", dir),
          orders.where(col("o_orderkey") % 100 =!= 0))
        t.append(orders.where(col("o_orderkey") % 100 === 0)) // RF1
        t.delete(col("o_orderkey") % 97 === 0)                // RF2
        t.toDF.groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n_orders"),
            sum(col("o_totalprice").cast("decimal(27,4)")).cast("double")
              .as("revenue"),
            lit(t.countFast).as("table_rows"))
          .orderBy("o_orderpriority")
      })
  )
}
