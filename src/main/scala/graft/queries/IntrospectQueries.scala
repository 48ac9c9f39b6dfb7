package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.{load => T}
import graft.ops.Profile

/** Round-6 batch: the last reference surfaces with no declared-query
  * counterpart — `SET -v` conf introspection (`setup.py:12-33`), the
  * one-call percentile `summary()` block (`data_import.ipynb.py:157-162`),
  * and the S12 landing-zone → dated-raw-layer ingestion flow
  * (`data_import.ipynb.py:22-49`).
  */
object IntrospectQueries {

  /** Confs the engine pins (or Spark 4 fixes) to known values in every
    * entry point — the deterministic introspection subset. The dynamic
    * confs (shuffle partitions = cpu count, warehouse dir) are exactly
    * the ones a portable oracle row can NOT pin.
    */
  private val PinnedConfs = Seq(
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.ansi.enabled" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.sources.default" -> "parquet")

  def all: Seq[Q] = Seq(

    // SET -v introspection over the pinned-conf subset: the conf-dump
    // cell every reference notebook starts with, under the oracle gate.
    // The oracle is the literal expectation — the row goes red if any
    // entry point stops pinning a conf (or a Spark upgrade flips a
    // default) without this table being updated in lockstep.
    Q("q266_conf_dump", Q.sql(s"""
        SELECT * FROM (VALUES
          ${PinnedConfs.map { case (k, v) => s"('$k', '$v')" }.mkString(", ")})
          t(conf_key, conf_value)
        ORDER BY conf_key"""))(
      (s, _) =>
        graft.io.Catalog.confDump(s, PinnedConfs.map(_._1))
          .orderBy("conf_key")),

    // One-call summary() profile of the lineitem measures:
    // count/mean/stddev/min/25%/50%/75%/max per column — the reference's
    // describe-with-quartiles block, exact and engine-deterministic
    // (decimal moments; distributed-prefix global ranks — see Profile).
    Q("q267_summary_profile", Q.sql(Profile.oracleSql(Seq(
      ("l_discount", "l_discount", "lineitem"),
      ("l_extendedprice", "l_extendedprice", "lineitem"),
      ("l_quantity", "l_quantity", "lineitem")))))(
      (s, dir) =>
        Profile.summary(T(s, dir, "lineitem"),
            Seq("l_discount", "l_extendedprice", "l_quantity"))
          .orderBy("col_name")),

    // S12 end-to-end under the oracle gate: promote a landed fixture
    // into the dated raw layer (landing → raw cp, audit listing), read
    // the date partition back, and prove the landed bytes round-trip
    // bit-for-bit against the source table. The wget/curl fetch that
    // precedes this is environment tooling; everything after the bytes
    // land is engine surface (Ingest.stage/audit/readLanded).
    Q("q268_landing_ingest", Q.sql("""
        SELECT doc_id, lang, source, n_chars FROM documents
        ORDER BY doc_id"""))(
      (s, dir) => {
        val rawRoot = graft.io.Lake.scratch(s, "ingest_raw", dir)
        val landed = graft.io.Ingest.stage(s,
          src = s"$dir/documents.parquet",
          rawRoot = rawRoot, dataset = "documents", date = "240101")
        require(landed.nonEmpty && landed.forall(_._2 > 0),
          s"landing audit empty or zero-byte: $landed")
        graft.io.Ingest.readLanded(s, rawRoot, "documents", "240101")
          .select("doc_id", "lang", "source", "n_chars")
          .orderBy("doc_id")
      }),

    // The TopKRewrite optimizer rule under the oracle gate: the query is
    // written in the DECLARATIVE window form — row_number() over
    // (partition/order) filtered to rank <= 3 — and the installed
    // Rule[LogicalPlan] (plans/TopKRewrite.scala) swaps in the native
    // bounded-heap exec at optimization time (no full per-group sort, no
    // WindowExec; plan-asserted in TopKRewriteSpec). Runs on a cloned
    // session so the rewrite stays scoped to this query; the oracle is
    // the window SQL the user wrote.
    Q("q269_rewrite_topk", Q.sql("""
        SELECT source, doc_id, n_chars, rank FROM (
          SELECT source, doc_id, n_chars,
            CAST(row_number() OVER (PARTITION BY source
              ORDER BY n_chars DESC, doc_id) AS INT) AS rank
          FROM documents) t
        WHERE rank <= 3 ORDER BY source, rank"""))(
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val s2 = s.newSession()
        graft.plans.TopKRewrite.install(s2)
        val w = Window.partitionBy(col("source"))
          .orderBy(col("n_chars").desc, col("doc_id"))
        T(s2, dir, "documents")
          .select("source", "doc_id", "n_chars")
          .withColumn("rank", row_number().over(w))
          .where(col("rank") <= 3)
          .orderBy("source", "rank")
      }),

    // Reshard-movement analysis: growing 8 shards to 9, how many keys
    // relocate under modulo sharding vs a consistent-hash ring (4
    // vnodes/shard, 48-bit md5 positions — ops.Sharding)? Modulo moves
    // ~8/9 of the keys; the ring moves ~1/9 — the planning number
    // behind "can we add a node without re-shuffling the lake". The
    // ring is model-sized and broadcast; keys never shuffle.
    Q("q282_reshard_moves", Q.sql(s"""
        WITH k AS (
          SELECT c_custkey AS key,
            ${graft.functions.PortableSql.hexToLong(
              "md5(CAST(c_custkey AS VARCHAR))", 12)} AS kpos
          FROM customer),
        v8 AS (
          SELECT s.s AS shard, ${graft.functions.PortableSql.hexToLong(
            "md5('s' || CAST(s.s AS VARCHAR) || ':v' || CAST(v.v AS VARCHAR))",
            12)} AS vpos
          FROM (SELECT unnest(range(0, 8)) AS s) s,
            (SELECT unnest(range(0, 4)) AS v) v),
        v9 AS (
          SELECT s.s AS shard, ${graft.functions.PortableSql.hexToLong(
            "md5('s' || CAST(s.s AS VARCHAR) || ':v' || CAST(v.v AS VARCHAR))",
            12)} AS vpos
          FROM (SELECT unnest(range(0, 9)) AS s) s,
            (SELECT unnest(range(0, 4)) AS v) v),
        a8 AS (
          SELECT key, min(CASE WHEN vpos >= kpos THEN vpos END) AS ge,
            min(vpos) AS mn
          FROM k CROSS JOIN v8 GROUP BY 1),
        s8 AS (
          SELECT key, min(shard) AS s_old
          FROM a8 JOIN v8 ON v8.vpos = coalesce(ge, mn) GROUP BY 1),
        a9 AS (
          SELECT key, min(CASE WHEN vpos >= kpos THEN vpos END) AS ge,
            min(vpos) AS mn
          FROM k CROSS JOIN v9 GROUP BY 1),
        s9 AS (
          SELECT key, min(shard) AS s_new
          FROM a9 JOIN v9 ON v9.vpos = coalesce(ge, mn) GROUP BY 1),
        ring AS (
          SELECT count(*) AS n_keys,
            CAST(sum(CASE WHEN s_old <> s_new THEN 1 ELSE 0 END) AS BIGINT)
              AS n_moved
          FROM s8 JOIN s9 USING (key)),
        md AS (
          SELECT count(*) AS n_keys,
            CAST(sum(CASE WHEN key % 8 <> key % 9 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_moved
          FROM k)
        SELECT 'mod' AS strategy, n_keys, n_moved,
          round(n_moved * 1.0 / n_keys, 6) AS moved_pct FROM md
        UNION ALL
        SELECT 'ring' AS strategy, n_keys, n_moved,
          round(n_moved * 1.0 / n_keys, 6) AS moved_pct FROM ring
        ORDER BY strategy"""))(
      (s, dir) => {
        import graft.ops.Sharding
        val keys = T(s, dir, "customer").select(col("c_custkey"))
        val modRow = keys.agg(count(lit(1)).as("n_keys"),
            sum(when(col("c_custkey") % 8 =!= col("c_custkey") % 9, 1L)
              .otherwise(0L)).as("n_moved"))
          .select(lit("mod").as("strategy"), col("n_keys"), col("n_moved"),
            round(col("n_moved").cast("double") / col("n_keys"), 6)
              .as("moved_pct"))
        val ringRow = Sharding.ringAssign(keys, col("c_custkey"), 8, 4)
          .withColumnRenamed("shard", "s_old")
          .join(Sharding.ringAssign(keys, col("c_custkey"), 9, 4)
            .withColumnRenamed("shard", "s_new"), "key")
          .agg(count(lit(1)).as("n_keys"),
            sum(when(col("s_old") =!= col("s_new"), 1L).otherwise(0L))
              .as("n_moved"))
          .select(lit("ring").as("strategy"), col("n_keys"), col("n_moved"),
            round(col("n_moved").cast("double") / col("n_keys"), 6)
              .as("moved_pct"))
        modRow.unionByName(ringRow).orderBy("strategy")
      }),

    // Column-encoding advisor: exact distinct-value ratios per lineitem
    // column → dictionary-encoding recommendation (the storage-layout
    // knob that decides parquet dictionary pages and shuffle
    // compressibility at 100 TB). ONE aggregation pass computes every
    // count(DISTINCT) together; the long-form stack is a 5-row literal
    // unpivot of the 1-row aggregate.
    Q("q284_encoding_advisor", Q.sql("""
        WITH a AS (
          SELECT count(*) AS n,
            count(DISTINCT l_returnflag) AS d_returnflag,
            count(DISTINCT l_linestatus) AS d_linestatus,
            count(DISTINCT l_shipdate) AS d_shipdate,
            count(DISTINCT l_partkey) AS d_partkey,
            count(DISTINCT l_quantity) AS d_quantity
          FROM lineitem),
        s AS (
          SELECT 'l_returnflag' AS col_name, n, d_returnflag AS n_distinct FROM a
          UNION ALL SELECT 'l_linestatus', n, d_linestatus FROM a
          UNION ALL SELECT 'l_shipdate', n, d_shipdate FROM a
          UNION ALL SELECT 'l_partkey', n, d_partkey FROM a
          UNION ALL SELECT 'l_quantity', n, d_quantity FROM a)
        SELECT col_name, n AS n_rows, n_distinct,
          round(n_distinct * 1.0 / n, 6) AS distinct_ratio,
          CASE WHEN n_distinct * 1.0 / n <= 0.01 THEN 'dictionary'
               WHEN n_distinct * 1.0 / n <= 0.5 THEN 'consider-dictionary'
               ELSE 'plain' END AS advice
        FROM s ORDER BY col_name"""))(
      (s, dir) => {
        val cols = Seq("l_returnflag", "l_linestatus", "l_shipdate",
          "l_partkey", "l_quantity")
        val a = T(s, dir, "lineitem").agg(count(lit(1)).as("n"),
          cols.map(c => countDistinct(col(c)).as(s"d_$c")): _*)
        val stacked = cols.map(c => a.select(lit(c).as("col_name"),
          col("n"), col(s"d_$c").as("n_distinct")))
          .reduce(_ unionByName _)
        stacked.select(col("col_name"), col("n").as("n_rows"),
            col("n_distinct"),
            round(col("n_distinct").cast("double") / col("n"), 6)
              .as("distinct_ratio"),
            when(col("n_distinct").cast("double") / col("n") <= 0.01,
              "dictionary")
              .when(col("n_distinct").cast("double") / col("n") <= 0.5,
                "consider-dictionary")
              .otherwise("plain").as("advice"))
          .orderBy("col_name")
      })
  )
}
