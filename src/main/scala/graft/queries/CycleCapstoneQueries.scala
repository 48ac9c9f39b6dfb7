package graft.queries

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.Tables.{load => T}
import graft.functions.{Hashing, PortableSql}
import graft.text.TextAnalysis

/** Round-12 capstones (the round-11 verdict's two named depth targets):
  *
  *  - q468: the q455 corpus-curation funnel's INCREMENTAL twin — the
  *    document corpus replayed as a multi-batch stream, each micro-batch
  *    folded into a versioned lakehouse table through `foreachBatch`
  *    with keep-min-id upsert semantics (cross-batch exact dedup lives
  *    IN the table, not in stream state), then BoW near-dedup,
  *    benchmark decontamination, and the hash split run against the
  *    committed table. The batch funnel over the same fixture is the
  *    oracle: hash equality proves the incremental path converges to
  *    the batch answer regardless of how the corpus was batched.
  *  - q469: the TPC-H refresh CYCLE — RF1 append, RF2 delete, OPTIMIZE
  *    compaction, stats-pruned scan, change feed, and the priority
  *    rollup composed against one versioned table through one commit
  *    log, gated as a single sectioned row set.
  *
  * Scale notes: q468's per-batch work is one hash-aggregation plus one
  * key equi-join against the table (both digest-keyed; state is the
  * TABLE, so stream memory stays O(batch) instead of O(corpus) — the
  * reason this shape survives an unbounded corpus where
  * dropDuplicates-style stream state would not). q469's stages are the
  * versioned layer's own file-pruned CoW paths; the rollup and feed
  * aggregations are plain hash-aggs.
  */
object CycleCapstoneQueries {

  private val hexBucket =
    s"${PortableSql.hexToLong("md5(CAST(id AS VARCHAR) || 'r3')", 12)} % 1000"
  private val hexNorm = PortableSql.hexToLong("md5(norm)", 12)

  private val gram8Sql =
    """unnest(list_transform(
         generate_series(1, greatest(len(ws) - 7, 0)),
         i -> array_to_string(ws[i:i+7], ' ')))"""

  private def gram8(ws: Column): Column = explode(
    when(size(ws) < 8, array())
      .otherwise(transform(sequence(lit(1), size(ws) - 7),
        i => concat_ws(" ", slice(ws, i, lit(8))))))

  def all: Seq[Q] = Seq(

    Q("q468_stream_curation_capstone", Q.sql(s"""
        WITH w AS (
          SELECT doc_id AS id,
            lower(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS norm,
            string_split(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')), ' ') AS ws
          FROM documents),
        gated AS (
          SELECT * FROM w WHERE norm <> '' AND len(ws) >= 10
            AND 2 * len(list_filter(ws, x -> regexp_full_match(x, '[a-z]+')))
                >= len(ws)
            AND len(array_to_string(ws, '')) <= 12 * len(ws)),
        k1 AS (SELECT min(id) AS id FROM gated GROUP BY md5(norm)),
        t1 AS (SELECT g.* FROM gated g SEMI JOIN k1 ON k1.id = g.id),
        k2 AS (SELECT min(id) AS id FROM t1
               GROUP BY md5(array_to_string(list_sort(list_distinct(ws)), ' '))),
        s4 AS (SELECT t1.* FROM t1 SEMI JOIN k2 ON k2.id = t1.id),
        pg AS (SELECT DISTINCT $gram8Sql AS gram FROM w WHERE id < 10),
        g4 AS (SELECT id, $gram8Sql AS gram FROM s4 WHERE id >= 10),
        dirty AS (SELECT DISTINCT g4.id FROM g4 JOIN pg ON pg.gram = g4.gram),
        s5 AS (SELECT s4.* FROM s4 ANTI JOIN dirty d ON d.id = s4.id
               WHERE s4.id >= 10),
        sp AS (
          SELECT norm, CASE WHEN b < 800 THEN 'train'
                            WHEN b < 900 THEN 'val'
                            ELSE 'test' END AS split
          FROM (SELECT id, norm, $hexBucket AS b FROM s5) t)
        SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
          CAST(sum(CAST($hexNorm AS HUGEINT)) AS DOUBLE) AS checksum
        FROM sp GROUP BY 1 ORDER BY 1"""))(
      (s, dir) => {
        import org.apache.spark.sql.streaming.Trigger
        import graft.versioned.VersionedTable
        val root = graft.io.Lake.scratch(s, "stream-cur", dir)
        val stage = graft.io.Lake.scratch(s, "stage-cur", dir)
        // replay the corpus as FOUR files → four micro-batches: the
        // stream must converge to the batch answer whatever the split
        // (the oracle is batching-invariant by construction)
        val nBatches = 4
        T(s, dir, "documents")
          .repartition(nBatches, pmod(col("doc_id"), lit(nBatches)))
          .write.mode("overwrite").parquet(stage)
        val schema = graft.io.Footers.schema(s, stage)
        val src = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(stage)
        val normC = TextAnalysis.normalizeText(col("text"))
        val q = src.writeStream
          .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
            val b0 = batch.toDF.select(col("doc_id").as("id"),
              normC.as("norm"), TextAnalysis.tokens(normC).as("ws"))
            val alphaN =
              size(filter(col("ws"), x => x.rlike("^[a-z]+$")))
            val gated = b0.where(col("norm") =!= "" &&
              size(col("ws")) >= 10 &&
              lit(2) * alphaN >= size(col("ws")) &&
              length(concat_ws("", col("ws"))) <= lit(12) * size(col("ws")))
            // batch-local exact dedup: min id per content digest
            val bAgg = gated.groupBy(md5(col("norm")).as("k"))
              .agg(min(col("id")).as("id"), min(col("norm")).as("norm"))
            if (batchId == 0L) {
              VersionedTable.create(s, root, bAgg); ()
            } else {
              // cross-batch dedup lives in the TABLE: keep-min-id upsert
              val t = VersionedTable.open(s, root)
              val cur = t.toDF.select(col("k"), col("id").as("old_id"))
              val merged = bAgg.join(cur, Seq("k"), "left")
                .select(col("k"),
                  least(col("id"), coalesce(col("old_id"), col("id")))
                    .as("id"),
                  col("norm"))
              val _ = t.upsert(merged, keys = Seq("k")); ()
            }
          }
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        // read-side stages against the COMMITTED table
        val t1 = VersionedTable.open(s, root).toDF
          .select(col("id"), col("norm"),
            TextAnalysis.tokens(col("norm")).as("ws"))
        val k2 = t1.groupBy(
            md5(concat_ws(" ", array_sort(array_distinct(col("ws")))))
              .as("__k"))
          .agg(min(col("id")).as("id"))
        val s4 = t1.join(k2.select("id"), Seq("id"), "semi")
        val probe = T(s, dir, "documents").where(col("doc_id") < 10)
          .select(gram8(TextAnalysis.tokens(normC)).as("gram")).distinct()
        val dirty = s4.where(col("id") >= 10)
          .select(col("id"), gram8(col("ws")).as("gram"))
          .join(probe, Seq("gram"), "semi").select("id").distinct()
        val s5 = s4.where(col("id") >= 10).join(dirty, Seq("id"), "anti")
        val sp = s5.select(col("norm"),
          graft.ops.Sampling.bucket(col("id"), "r3").as("b"))
          .select(col("norm"), when(col("b") < 800, "train")
            .when(col("b") < 900, "val").otherwise("test").as("split"))
        sp.groupBy("split")
          .agg(count(lit(1)).cast("long").as("n_docs"),
            sum(Hashing.hash48(col("norm")).cast("decimal(38,0)"))
              .cast("double").as("checksum"))
          .orderBy("split")
      }),

    // TPC-H refresh cycle: base load (v0) → RF1 append (v1) → RF2
    // delete (v2) → OPTIMIZE range-compaction (v3) → stats-pruned scan,
    // change feed, and the priority rollup all against the same log.
    // The change feed reads v0→v2 as a SNAPSHOT DIFF: a row appended by
    // RF1 and removed by RF2 inside the window (o_orderkey divisible by
    // both 100 and 97) is a net no-op and appears in NEITHER list — so
    // insert = RF1 minus the RF2 overlap and delete = RF2 minus the RF1
    // overlap. The compaction commit is deliberately outside the window
    // because a pure rewrite is not a logical change. The oracle
    // reconstructs every section from the raw orders table.
    Q("q469_refresh_cycle_capstone", Q.sql("""
        WITH refreshed AS (
          SELECT * FROM orders WHERE o_orderkey % 97 <> 0),
        sec AS (
          SELECT 'a_rollup' AS section, o_orderpriority AS k,
            CAST(count(*) AS BIGINT) AS n,
            CAST(sum(CAST(o_totalprice AS DECIMAL(27,4))) AS DOUBLE)
              AS val
          FROM refreshed GROUP BY 2
          UNION ALL
          SELECT 'b_changes', 'insert', CAST(count(*) AS BIGINT),
            CAST(sum(CAST(o_totalprice AS DECIMAL(27,4))) AS DOUBLE)
          FROM orders WHERE o_orderkey % 100 = 0 AND o_orderkey % 97 <> 0
          UNION ALL
          SELECT 'b_changes', 'delete', CAST(count(*) AS BIGINT),
            CAST(sum(CAST(o_totalprice AS DECIMAL(27,4))) AS DOUBLE)
          FROM orders WHERE o_orderkey % 97 = 0 AND o_orderkey % 100 <> 0
          UNION ALL
          SELECT 'c_pruned', 'o_orderkey:1000-2000',
            CAST(count(*) AS BIGINT),
            CAST(sum(CAST(o_totalprice AS DECIMAL(27,4))) AS DOUBLE)
          FROM refreshed WHERE o_orderkey BETWEEN 1000 AND 2000
          UNION ALL
          SELECT 'd_meta', 'final_state', CAST(count(*) AS BIGINT),
            CAST(4 AS DOUBLE)
          FROM refreshed)
        SELECT section, k, n, round(val, 4) AS val
        FROM sec ORDER BY section, k"""))(
      (s, dir) => {
        import graft.versioned.VersionedTable
        val orders = T(s, dir, "orders")
        val t0 = VersionedTable.create(s,
          graft.io.Lake.scratch(s, "cycle", dir),
          orders.where(col("o_orderkey") % 100 =!= 0))
        val t1 = t0.append(orders.where(col("o_orderkey") % 100 === 0))
        val t2 = t1.delete(col("o_orderkey") % 97 === 0)
        val t3 = t2.compact(numFiles = 8, clusterBy = Seq("o_orderkey"))
        def dec(c: Column) = sum(c.cast("decimal(27,4)")).cast("double")
        val rollup = t3.toDF.groupBy(col("o_orderpriority").as("k"))
          .agg(count(lit(1)).cast("long").as("n"),
            dec(col("o_totalprice")).as("val"))
          .select(lit("a_rollup").as("section"), col("k"), col("n"),
            col("val"))
        val feed = t3.changes(0, 2)
          .groupBy(col("_change_type").as("k"))
          .agg(count(lit(1)).cast("long").as("n"),
            dec(col("o_totalprice")).as("val"))
          .select(lit("b_changes").as("section"), col("k"), col("n"),
            col("val"))
        val pruned = t3.scanPruned("o_orderkey", 1000L, 2000L)
          .agg(count(lit(1)).cast("long").as("n"),
            dec(col("o_totalprice")).as("val"))
          .select(lit("c_pruned").as("section"),
            lit("o_orderkey:1000-2000").as("k"), col("n"), col("val"))
        val nv = t3.history.agg(count(lit(1)).cast("long").as("nv"))
        val meta = nv.select(lit("d_meta").as("section"),
          lit("final_state").as("k"), lit(t3.countFast).as("n"),
          col("nv").cast("double").as("val"))
        rollup.unionByName(feed).unionByName(pruned).unionByName(meta)
          .select(col("section"), col("k"), col("n"),
            round(col("val"), 4).as("val"))
          .orderBy("section", "k")
      }),

    // Streaming drift-monitor capstone: the event log replayed as four
    // micro-batches (staged by user_id % 4); each batch computes its
    // per-type Population Stability Index against a broadcast REFERENCE
    // histogram (5 types × ≤10 fixed value buckets — model-bounded) and
    // appends one metrics row per (batch, type) to a versioned metrics
    // table, one atomic commit per batch — the production shape of a
    // training-data drift monitor (reference profile broadcast, O(batch)
    // stream state, history queryable/time-travelable in the table).
    // Batch identity is DATA-derived (user_id % 4), so the result is
    // independent of file arrival order; the oracle computes the same
    // PSI per modulus class relationally. Empty/unmatched bins are
    // skipped (bc>0 AND rc>0 — the standard finite-PSI convention);
    // the per-bin terms ride the rounded@9 DECIMAL sum.
    Q("q479_stream_drift_capstone", Q.sql("""
        WITH e AS (
          SELECT event_type, CAST(user_id % 4 AS BIGINT) AS grp,
            CAST(least(floor(CASE WHEN value < 0 THEN 0 ELSE value END
              / 100), 9) AS BIGINT) AS bucket
          FROM events WHERE value IS NOT NULL),
        ref AS (
          SELECT event_type, bucket, CAST(count(*) AS BIGINT) AS rc
          FROM e GROUP BY 1, 2),
        rt AS (SELECT event_type, CAST(sum(rc) AS BIGINT) AS rn
               FROM ref GROUP BY 1),
        b AS (
          SELECT event_type, grp, bucket, CAST(count(*) AS BIGINT) AS bc
          FROM e GROUP BY 1, 2, 3),
        bt AS (SELECT event_type, grp, CAST(sum(bc) AS BIGINT) AS bn
               FROM b GROUP BY 1, 2),
        terms AS (
          SELECT b.grp, b.event_type,
            CAST(round(
              (CAST(b.bc AS DOUBLE) / bt.bn
                - CAST(ref.rc AS DOUBLE) / rt.rn)
              * ln((CAST(b.bc AS DOUBLE) / bt.bn)
                   / (CAST(ref.rc AS DOUBLE) / rt.rn)), 9)
              AS DECIMAL(28,9)) AS term,
            bt.bn
          FROM b
          JOIN bt ON bt.event_type = b.event_type AND bt.grp = b.grp
          JOIN ref ON ref.event_type = b.event_type
            AND ref.bucket = b.bucket
          JOIN rt ON rt.event_type = b.event_type
          WHERE b.bc > 0 AND ref.rc > 0)
        SELECT grp AS batch_group, event_type,
          CAST(max(bn) AS BIGINT) AS n_events,
          round(CAST(sum(term) AS DOUBLE), 6) AS psi
        FROM terms GROUP BY 1, 2
        ORDER BY batch_group, event_type"""))(
      (s, dir) => {
        import org.apache.spark.sql.streaming.Trigger
        import graft.versioned.VersionedTable
        val root = graft.io.Lake.scratch(s, "drift", dir)
        val stage = graft.io.Lake.scratch(s, "stage-drift", dir)
        def bucketed(df: DataFrame): DataFrame = df
          .where(col("value").isNotNull)
          .select(col("event_type"),
            (col("user_id") % 4).cast("long").as("grp"),
            least(floor(when(col("value") < 0, 0.0).otherwise(col("value"))
              / 100), lit(9L)).cast("long").as("bucket"))
        val fixture = Tables.load(s, dir, "events")
        fixture.repartition(4, pmod(col("user_id"), lit(4)))
          .write.mode("overwrite").parquet(stage)
        // reference profile from the full fixture — 5 types × ≤10
        // buckets, the model-bounded frame every batch broadcasts
        val ref = bucketed(fixture)
          .groupBy("event_type", "bucket")
          .agg(count(lit(1)).cast("long").as("rc"))
        val rt = ref.groupBy("event_type")
          .agg(sum(col("rc")).cast("long").as("rn"))
        val refAll = ref.join(rt, "event_type").cache()
        val schema = graft.io.Footers.schema(s, stage)
        val src = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(stage)
        val q = src.writeStream
          .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
            val bb = bucketed(batch.toDF)
              .groupBy("event_type", "grp", "bucket")
              .agg(count(lit(1)).cast("long").as("bc"))
            val bt = bb.groupBy("event_type", "grp")
              .agg(sum(col("bc")).cast("long").as("bn"))
            val pr = col("bc").cast("double") / col("bn")
            val qr = col("rc").cast("double") / col("rn")
            val psi = bb.join(bt, Seq("event_type", "grp"))
              .join(broadcast(refAll), Seq("event_type", "bucket"))
              .where(col("bc") > 0 && col("rc") > 0)
              .select(col("grp"), col("event_type"), col("bn"),
                round((pr - qr) * log(pr / qr), 9).cast("decimal(28,9)")
                  .as("term"))
              .groupBy("grp", "event_type")
              .agg(max(col("bn")).cast("long").as("n_events"),
                sum(col("term")).cast("double").as("psi0"))
              .select(col("grp").as("batch_group"), col("event_type"),
                col("n_events"), round(col("psi0"), 6).as("psi"))
            if (batchId == 0L) { VersionedTable.create(s, root, psi); () }
            else { val _ = VersionedTable.open(s, root).append(psi); () }
          }
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        VersionedTable.open(s, root).toDF
          .orderBy("batch_group", "event_type")
      })
  )
}
