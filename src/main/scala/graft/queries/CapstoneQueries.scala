package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables.{load => T}
import graft.functions.PortableSql
import graft.text.TextAnalysis

/** Round-11 capstones: end-to-end multi-stage pipelines composed from
  * operators the engine already proves individually, gated as ONE
  * oracle row set each — the round-10 verdict's "pipeline depth" ask.
  * The value demonstrated is composition: every stage hands a DataFrame
  * to the next with no driver round-trips, so the whole funnel is one
  * lazy plan whose stages fuse/pipeline under Catalyst.
  *
  *  - q455: the full corpus-curation funnel a pretraining data pipeline
  *    runs — normalize → length gate → exact dedup → bag-of-words
  *    near-dedup → benchmark decontamination (8-gram screen, the q386
  *    mechanism) → quality gate → deterministic hash split (the q56
  *    mechanism) — reported as a per-stage survivor funnel.
  *  - q456: the product-analytics funnel — sessionize (30-min gap rule)
  *    → per-session view→click→purchase ordered-funnel flags → cohort
  *    conversion rates.
  *
  * Scale notes: q455's stages are hash-aggregations and equi-joins on
  * content digests (never all-pairs; the 8-gram screen joins on the
  * gram hash exactly like q386); q455 splits ride the pure-function
  * md5 bucket (no coordination). q456's windows are per-user (bounded
  * session lists), the funnel joins are per-(user, session) equi-joins,
  * and the final rollup is a 10-group conditional aggregation.
  */
object CapstoneQueries {

  private val hexBucket =
    s"${PortableSql.hexToLong("md5(CAST(id AS VARCHAR) || 'r3')", 12)} % 1000"

  val all: Seq[Q] = Seq(

    // Corpus-curation capstone: the q26/q34/q386/q302/q56 mechanisms
    // composed as one funnel. Every comparison in the gates is INTEGER
    // (2·alpha ≥ n_tokens; total_chars ≤ 12·n_tokens) so no float
    // divergence can enter the survivor sets; the only doubles on the
    // wire are the final pct ratios (one division each).
    Q("q455_curation_capstone", Q.sql(s"""
        WITH w AS (
          SELECT doc_id AS id,
            lower(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS norm,
            string_split(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')), ' ') AS ws
          FROM documents),
        s1 AS (SELECT * FROM w WHERE norm <> ''),
        s2 AS (SELECT * FROM s1 WHERE len(ws) >= 10),
        k3 AS (SELECT min(id) AS id FROM s2 GROUP BY md5(norm)),
        s3 AS (SELECT s2.* FROM s2 SEMI JOIN k3 ON k3.id = s2.id),
        k4 AS (SELECT min(id) AS id FROM s3
               GROUP BY md5(array_to_string(list_sort(list_distinct(ws)), ' '))),
        s4 AS (SELECT s3.* FROM s3 SEMI JOIN k4 ON k4.id = s3.id),
        g AS (
          SELECT id, unnest(list_transform(
              generate_series(1, greatest(len(ws) - 7, 0)),
              i -> array_to_string(ws[i:i+7], ' '))) AS gram
          FROM s4),
        probe AS (SELECT DISTINCT gram FROM g WHERE id < 10),
        dirty AS (
          SELECT DISTINCT g.id FROM g JOIN probe p ON p.gram = g.gram
          WHERE g.id >= 10),
        s5 AS (SELECT s4.* FROM s4 ANTI JOIN dirty d ON d.id = s4.id
               WHERE s4.id >= 10),
        s6 AS (SELECT * FROM s5
          WHERE 2 * len(list_filter(ws, x -> regexp_full_match(x, '[a-z]+')))
                  >= len(ws)
            AND len(array_to_string(ws, '')) <= 12 * len(ws)),
        sp AS (
          SELECT id, CASE WHEN b < 800 THEN '7_train'
                          WHEN b < 900 THEN '8_val'
                          ELSE '9_test' END AS stage
          FROM (SELECT id, $hexBucket AS b FROM s6) t),
        n0 AS (SELECT CAST(count(*) AS BIGINT) AS c FROM w),
        stages AS (
          SELECT '0_ingested' AS stage, CAST(count(*) AS BIGINT) AS n_docs FROM w
          UNION ALL SELECT '1_nonempty', count(*) FROM s1
          UNION ALL SELECT '2_min_tokens', count(*) FROM s2
          UNION ALL SELECT '3_exact_dedup', count(*) FROM s3
          UNION ALL SELECT '4_bow_dedup', count(*) FROM s4
          UNION ALL SELECT '5_decontaminated', count(*) FROM s5
          UNION ALL SELECT '6_quality_gate', count(*) FROM s6
          UNION ALL SELECT stage, count(*) FROM sp GROUP BY 1)
        SELECT stage, n_docs,
          round(CAST(n_docs AS DOUBLE) / n0.c, 6) AS pct_of_ingested
        FROM stages, n0
        ORDER BY stage"""))(
      (s, dir) => {
        import graft.ops.Frames.cached
        val normC = TextAnalysis.normalizeText(col("text"))
        val w = cached(T(s, dir, "documents")
          .select(col("doc_id").as("id"), normC.as("norm"),
            TextAnalysis.tokens(normC).as("ws")))
        val s1 = w.where(col("norm") =!= "")
        val s2 = cached(s1.where(size(col("ws")) >= 10))
        def dedupBy(df: DataFrame, key: Column): DataFrame =
          df.join(df.groupBy(key.as("__k")).agg(min(col("id")).as("id")),
            Seq("id"), "semi")
        val s3 = cached(dedupBy(s2, md5(col("norm"))))
        val s4 = cached(dedupBy(s3,
          md5(concat_ws(" ", array_sort(array_distinct(col("ws")))))))
        val g = cached(s4.select(col("id"), explode(
          when(size(col("ws")) < 8, array())
            .otherwise(transform(
              sequence(lit(1), size(col("ws")) - 7),
              i => concat_ws(" ", slice(col("ws"), i, lit(8)))))).as("gram")))
        val probe = g.where(col("id") < 10).select("gram").distinct()
        val dirty = g.where(col("id") >= 10)
          .join(probe, Seq("gram"), "semi").select("id").distinct()
        val s5 = cached(s4.where(col("id") >= 10)
          .join(dirty, Seq("id"), "anti"))
        val alphaN = size(filter(col("ws"), x => x.rlike("^[a-z]+$")))
        val s6 = cached(s5.where(
          lit(2) * alphaN >= size(col("ws")) &&
            length(concat_ws("", col("ws"))) <= lit(12) * size(col("ws"))))
        val sp = s6.select(col("id"),
          graft.ops.Sampling.bucket(col("id"), "r3").as("b"))
          .select(when(col("b") < 800, "7_train")
            .when(col("b") < 900, "8_val")
            .otherwise("9_test").as("stage"))
        def st(tag: String, df: DataFrame): DataFrame =
          df.agg(count(lit(1)).as("n_docs")).select(lit(tag).as("stage"),
            col("n_docs"))
        val stages = st("0_ingested", w)
          .unionByName(st("1_nonempty", s1))
          .unionByName(st("2_min_tokens", s2))
          .unionByName(st("3_exact_dedup", s3))
          .unionByName(st("4_bow_dedup", s4))
          .unionByName(st("5_decontaminated", s5))
          .unionByName(st("6_quality_gate", s6))
          .unionByName(sp.groupBy("stage")
            .agg(count(lit(1)).as("n_docs")))
        val n0 = w.agg(count(lit(1)).as("c"))
        stages.crossJoin(broadcast(n0))
          .select(col("stage"), col("n_docs"),
            round(col("n_docs").cast("double") / col("c"), 6)
              .as("pct_of_ingested"))
          .orderBy("stage")
      }),

    // Product-analytics capstone: sessionization (30-minute inactivity
    // rule over per-user ordered events), ordered funnel flags per
    // session (first view, first click AT/AFTER it, first purchase
    // AT/AFTER that), cohort conversion rollup. Zero-denominator
    // cohorts yield NULL rates on both engines (the q398 guard).
    Q("q456_funnel_capstone", Q.sql("""
        WITH o AS (
          SELECT user_id, event_id, event_type, ts,
            lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pts
          FROM events),
        f AS (
          SELECT user_id, event_id, event_type, ts,
            CASE WHEN pts IS NULL OR epoch_us(ts) - epoch_us(pts) > 1800000000
                 THEN 1 ELSE 0 END AS new_s
          FROM o),
        s AS (
          SELECT user_id, event_id, event_type, ts,
            CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sess
          FROM f),
        a AS (
          SELECT user_id, sess,
            min(CASE WHEN event_type = 'view' THEN ts END) AS t_view
          FROM s GROUP BY 1, 2),
        b AS (
          SELECT s.user_id, s.sess, min(s.ts) AS t_click
          FROM s JOIN a ON a.user_id = s.user_id AND a.sess = s.sess
          WHERE s.event_type = 'click' AND a.t_view IS NOT NULL
            AND s.ts >= a.t_view
          GROUP BY 1, 2),
        c AS (
          SELECT s.user_id, s.sess, min(s.ts) AS t_purch
          FROM s JOIN b ON b.user_id = s.user_id AND b.sess = s.sess
          WHERE s.event_type = 'purchase' AND s.ts >= b.t_click
          GROUP BY 1, 2),
        fl AS (
          SELECT a.user_id, a.sess,
            CASE WHEN a.t_view IS NOT NULL THEN 1 ELSE 0 END AS hv,
            CASE WHEN b.t_click IS NOT NULL THEN 1 ELSE 0 END AS hc,
            CASE WHEN c.t_purch IS NOT NULL THEN 1 ELSE 0 END AS hp
          FROM a
          LEFT JOIN b ON b.user_id = a.user_id AND b.sess = a.sess
          LEFT JOIN c ON c.user_id = a.user_id AND c.sess = a.sess)
        SELECT CAST(user_id % 10 AS BIGINT) AS cohort,
          CAST(count(*) AS BIGINT) AS n_sessions,
          CAST(sum(hv) AS BIGINT) AS n_view,
          CAST(sum(hc) AS BIGINT) AS n_click_after_view,
          CAST(sum(hp) AS BIGINT) AS n_purchase_funnel,
          round(CASE WHEN sum(hv) > 0
            THEN CAST(sum(hc) AS DOUBLE) / sum(hv) END, 6) AS view_to_click,
          round(CASE WHEN sum(hc) > 0
            THEN CAST(sum(hp) AS DOUBLE) / sum(hc) END, 6)
            AS click_to_purchase
        FROM fl GROUP BY 1 ORDER BY 1"""))(
      (s, dir) => {
        import graft.ops.Frames.cached
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val o = T(s, dir, "events")
          .select(col("user_id"), col("event_id"), col("event_type"),
            col("ts"), lag(col("ts"), 1).over(w).as("pts"))
        val f = o.select(col("user_id"), col("event_id"),
          col("event_type"), col("ts"),
          when(col("pts").isNull ||
            unix_micros(col("ts")) - unix_micros(col("pts")) > 1800000000L,
            1).otherwise(0).as("new_s"))
        val sess = cached(f.select(col("user_id"), col("event_id"),
          col("event_type"), col("ts"),
          sum(col("new_s")).over(w.rowsBetween(Window.unboundedPreceding,
            Window.currentRow)).cast("long").as("sess")))
        val a = cached(sess.groupBy("user_id", "sess")
          .agg(min(when(col("event_type") === "view", col("ts")))
            .as("t_view")))
        val b = cached(sess.where(col("event_type") === "click")
          .join(a.where(col("t_view").isNotNull), Seq("user_id", "sess"))
          .where(col("ts") >= col("t_view"))
          .groupBy("user_id", "sess").agg(min(col("ts")).as("t_click")))
        val cp = sess.where(col("event_type") === "purchase")
          .join(b, Seq("user_id", "sess"))
          .where(col("ts") >= col("t_click"))
          .groupBy("user_id", "sess").agg(min(col("ts")).as("t_purch"))
        val fl = a
          .join(b, Seq("user_id", "sess"), "left")
          .join(cp, Seq("user_id", "sess"), "left")
          .select(col("user_id"),
            when(col("t_view").isNotNull, 1).otherwise(0).as("hv"),
            when(col("t_click").isNotNull, 1).otherwise(0).as("hc"),
            when(col("t_purch").isNotNull, 1).otherwise(0).as("hp"))
        fl.groupBy((col("user_id") % 10).cast("long").as("cohort"))
          .agg(count(lit(1)).cast("long").as("n_sessions"),
            sum(col("hv")).cast("long").as("n_view"),
            sum(col("hc")).cast("long").as("n_click_after_view"),
            sum(col("hp")).cast("long").as("n_purchase_funnel"),
            round(when(sum(col("hv")) > 0,
              sum(col("hc")).cast("double") / sum(col("hv"))), 6)
              .as("view_to_click"),
            round(when(sum(col("hc")) > 0,
              sum(col("hp")).cast("double") / sum(col("hc"))), 6)
              .as("click_to_purchase"))
          .orderBy("cohort")
      }),

    // Lakehouse-operations capstone: the V-layer exercised as ONE
    // composed lifecycle — CONVERT-style create (v0) → copy-on-write
    // UPDATE (v1, negative balances clamped) → DELETE (v2, a whole
    // segment dropped) → schema-evolving APPEND (v3, +10% VIP clones
    // with a new boolean column) — with the final per-segment state,
    // the time-travel row count at v0, and the manifest version count
    // all read back through the SAME log, and the expected values
    // reconstructed in pure SQL over the untouched fixture (deleted
    // MACHINERY rows survive only via the post-delete clones). Scratch
    // table rebuilt per run (q42-q45 mechanism).
    Q("q464_lakehouse_capstone", Q.sql("""
        WITH kept AS (
          SELECT c_mktsegment,
            CASE WHEN c_acctbal < 0 THEN 0.0 ELSE c_acctbal END AS bal,
            0 AS vip
          FROM customer WHERE c_mktsegment <> 'MACHINERY'),
        clones AS (
          SELECT c_mktsegment, c_acctbal AS bal, 1 AS vip
          FROM customer WHERE c_custkey % 10 = 0),
        cur AS (SELECT * FROM kept UNION ALL SELECT * FROM clones),
        n0 AS (SELECT CAST(count(*) AS BIGINT) AS n_v0 FROM customer)
        SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_rows,
          round(CAST(sum(CAST(bal AS DECIMAL(27,8))) AS DOUBLE), 2)
            AS acctbal_sum,
          CAST(sum(vip) AS BIGINT) AS n_vip,
          n0.n_v0,
          CAST(4 AS BIGINT) AS n_versions
        FROM cur, n0
        GROUP BY c_mktsegment, n0.n_v0
        ORDER BY c_mktsegment"""))(
      (s, dir) => {
        import graft.ops.Relational.dsum
        import graft.versioned.VersionedTable
        val base = T(s, dir, "customer")
        val t0 = VersionedTable.create(s,
          graft.io.Lake.scratch(s, "capstone", dir), base)
        val t1 = t0.update(col("c_acctbal") < 0,
          Map("c_acctbal" -> lit(0.0)))
        val t2 = t1.delete(col("c_mktsegment") === "MACHINERY")
        val clones = base.where(col("c_custkey") % 10 === 0)
          .withColumn("vip", lit(true))
        val t3 = t2.append(clones, mergeSchema = true)
        val n0 = t3.asOf(0).agg(count(lit(1)).cast("long").as("n_v0"))
        val nv = t3.history
          .agg(count(lit(1)).cast("long").as("n_versions"))
        t3.toDF.groupBy("c_mktsegment").agg(
            count(lit(1)).cast("long").as("n_rows"),
            round(dsum(col("c_acctbal"), 8), 2).as("acctbal_sum"),
            sum(when(col("vip") === true, 1L).otherwise(0L))
              .cast("long").as("n_vip"))
          .crossJoin(broadcast(n0)).crossJoin(broadcast(nv))
          .orderBy("c_mktsegment")
      })
  )
}
