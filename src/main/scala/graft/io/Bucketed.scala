package graft.io

import org.apache.spark.sql.SparkSession

import graft.Tables

/** Co-bucketed fact-table staging for shuffle-free joins.
  *
  * The 100 TB strategy for repeated large-fact joins (SURVEY §2.12 /
  * SCALE.md): pay the shuffle ONCE at write time — both tables bucketed
  * and sorted on the join key with the same bucket count — and every
  * subsequent join planwise skips both the Exchange and (with sorted
  * buckets) the Sort. [[Writers.bucketed]] does the write; this object
  * makes the staging idempotent at BOTH lifetimes:
  *  - per session: a memo map short-circuits repeat calls;
  *  - per filesystem: a completion marker written after both tables
  *    land lets a LATER session re-register the existing bucketed files
  *    as catalog tables (one DDL each, no data rewrite) — which is the
  *    actual production shape: the bucketed layout is written once and
  *    every subsequent job only ever declares it.
  * Bucket ids live in the file names Spark itself wrote (`*_NNNNN.*`),
  * so a re-registered table plans exactly like the freshly written one
  * (both paths plan-asserted in AnalyticsSpec's bucketed-join test).
  */
object Bucketed {

  private val staged =
    scala.collection.concurrent.TrieMap[(Int, String, Int), (String, String)]()

  /** Stage `orders` + `lineitem` co-bucketed by order key (once per
    * session+dir+bucket-count; once per filesystem across sessions);
    * returns the catalog table names.
    */
  def ordersLineitem(spark: SparkSession, dir: String,
                     nBuckets: Int = 8): (String, String) =
    staged.getOrElseUpdate((System.identityHashCode(spark), dir, nBuckets), {
      // content-addressed tag: same (dir, nBuckets) -> same names/paths,
      // distinct sf dirs / bucket counts never collide in the warehouse
      // or catalog
      val tag = java.util.UUID.nameUUIDFromBytes(s"$dir#$nBuckets".getBytes("UTF-8"))
        .toString.replace("-", "").take(8)
      val base = s"${System.getProperty("java.io.tmpdir")}/graft_bucketed_$tag"
      val ot = s"bkt_orders_$tag"
      val lt = s"bkt_lineitem_$tag"
      val marker = new java.io.File(s"$base/_graft_staged")
      // The marker records a fingerprint of the SOURCE files (path, size,
      // mtime per table) — reuse is valid only while it matches, so a
      // regenerated fixture at the same path re-stages instead of
      // silently serving stale buckets.
      val fingerprint = s"$dir#$nBuckets#" + Seq("orders", "lineitem").map { t =>
        val f = new java.io.File(s"$dir/$t.parquet")
        s"$t:${f.length}:${f.lastModified}"
      }.mkString("#")
      val markerMatches = marker.exists() &&
        java.nio.file.Files.readString(marker.toPath).trim == fingerprint
      if (markerMatches) {
        register(spark, ot, s"$base/orders", "o_orderkey", nBuckets)
        register(spark, lt, s"$base/lineitem", "l_orderkey", nBuckets)
      } else {
        Writers.bucketed(Tables.load(spark, dir, "orders"), ot,
          s"$base/orders", Seq("o_orderkey"), nBuckets, Seq("o_orderkey"))
        Writers.bucketed(Tables.load(spark, dir, "lineitem"), lt,
          s"$base/lineitem", Seq("l_orderkey"), nBuckets, Seq("l_orderkey"))
        // marker written only AFTER both writes committed: a crash
        // mid-staging leaves no marker, and the next attempt rewrites
        // (mode=overwrite) rather than registering half a layout
        java.nio.file.Files.writeString(marker.toPath, fingerprint + "\n")
      }
      (ot, lt)
    })

  /** Declare existing bucketed parquet files as a catalog table: the
    * cross-session path — schema inferred from the footers, bucket ids
    * parsed from the `*_NNNNN.*` file-name suffixes Spark wrote.
    */
  private def register(spark: SparkSession, table: String, path: String,
                       key: String, nBuckets: Int): Unit = {
    // bucketed CREATE TABLE demands an explicit column list
    // (SPECIFY_BUCKETING_IS_NOT_ALLOWED otherwise) — read it off the
    // footer of the first bucket file, on the driver: no Spark job
    val schemaDdl = Footers.schema(spark, path).toDDL
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val _ = spark.sql(s"""CREATE TABLE $table ($schemaDdl) USING parquet
      CLUSTERED BY ($key) SORTED BY ($key) INTO $nBuckets BUCKETS
      LOCATION '$path'""")
  }

  /** Test hook: forget the session memo so the next call re-resolves
    * through the filesystem marker (simulates a fresh session).
    */
  private[graft] def resetMemo(): Unit = staged.clear()
}
