package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables.{load => T}
import graft.ops.Relational.dsum

/** Round-10 batch 7: sequential testing, survey weighting, queueing,
  * retrieval, and sampling-design operators — Wald's SPRT, iterative
  * proportional fitting (raking), the Lindley backlog recursion,
  * Dirichlet-smoothed query likelihood, and Neyman optimal allocation —
  * each oracle-checked bit-for-bit against DuckDB.
  */
object SeqDesignQueries {

  def all: Seq[Q] = Seq(

    // Wald's SPRT (AOMS'45) — the sequential A/B monitor: walk the
    // daily purchase-share log-likelihood ratio between H0: p=18% and
    // H1: p=22% and stop at the first boundary crossing (A = ln 19,
    // the α=β=0.05 thresholds). Day LLRs use integer-argument logs
    // (ln 22 − ln 18 — never a decimal-literal division, which DuckDB
    // would compute in decimal), rounded@6 ×  exact integer counts,
    // rounded@8; the cumulative walk is the DISTRIBUTED prefix (no
    // global window), the first crossing a broadcast min-day join.
    Q("q411_sprt", Q.sql("""
        WITH d AS (
          SELECT CAST(ts AS DATE) AS day,
            CAST(count(*) AS BIGINT) AS n,
            CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS k
          FROM events GROUP BY 1),
        l AS (
          SELECT day, n, k,
            CAST(round(k * round(ln(22) - ln(18), 6)
              + (n - k) * round(ln(78) - ln(82), 6), 8)
              AS DECIMAL(27,8)) AS llr
          FROM d),
        c AS (
          SELECT a.day, CAST(sum(b.llr) AS DOUBLE) AS cum
          FROM l a JOIN l b ON b.day <= a.day GROUP BY 1),
        cross_days AS (
          SELECT day, cum,
            CASE WHEN cum >= round(ln(19), 6) THEN 'accept_h1'
                 ELSE 'accept_h0' END AS decision
          FROM c
          WHERE cum >= round(ln(19), 6) OR cum <= -round(ln(19), 6)),
        first_cross AS (
          SELECT day, cum, decision FROM cross_days
          ORDER BY day LIMIT 1),
        fin AS (
          SELECT CAST(count(*) AS BIGINT) AS n_days,
            CAST(max(day) AS DATE) AS last_day
          FROM c),
        fc AS (
          SELECT cum AS cum_final FROM c, fin WHERE c.day = fin.last_day)
        SELECT fin.n_days,
          coalesce((SELECT decision FROM first_cross), 'continue')
            AS decision,
          (SELECT day FROM first_cross) AS cross_day,
          round((SELECT cum FROM first_cross), 6) AS cum_at_cross,
          round(fc.cum_final, 6) AS llr_final
        FROM fin, fc"""))(
      (s, dir) => {
        val d = T(s, dir, "events")
          .groupBy(to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("n"),
            sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
              .as("k"))
        val l1 = round(log(lit(22)) - log(lit(18)), 6)
        val l0 = round(log(lit(78)) - log(lit(82)), 6)
        val a = round(log(lit(19)), 6)
        val l = d.select(col("day"), col("n"), col("k"),
          round(col("k") * l1 + (col("n") - col("k")) * l0, 8)
            .cast("decimal(27,8)").as("llr"))
        val c = graft.ops.Prefix.runningTotal(
            l, Seq(col("day")), col("llr"), "__cum")
          .select(col("day"), col("__cum").cast("double").as("cum"))
        val crossings = c.where(col("cum") >= a || col("cum") <= -a)
          .select(col("day"), col("cum"),
            when(col("cum") >= a, lit("accept_h1"))
              .otherwise(lit("accept_h0")).as("decision"))
        val firstCross = crossings.orderBy("day").limit(1)
          .select(col("day").as("cross_day"),
            col("cum").as("cum_raw"), col("decision"))
        val fin = c.agg(count(lit(1)).as("n_days"),
          max(col("day")).as("last_day"))
        val fc = c.join(broadcast(fin), col("day") === col("last_day"))
          .limit(1).select(col("cum").as("cum_final"))
        fin.crossJoin(broadcast(fc))
          .join(firstCross, lit(true), "left")
          .select(col("n_days"),
            coalesce(col("decision"), lit("continue")).as("decision"),
            col("cross_day"),
            round(col("cum_raw"), 6).as("cum_at_cross"),
            round(col("cum_final"), 6).as("llr_final"))
      }),

    // Raking / iterative proportional fitting (Deming & Stephan
    // AOMS'40) — reweight the event_type × weekday count table so
    // weekday margins come out UNIFORM (deseasonalized calendar) while
    // type margins stay observed. Three column/row scaling sweeps
    // unrolled (weights rounded@9 after every sweep so both engines
    // walk identical doubles); every frame after the one events scan is
    // the model-sized 35-cell table — margin sums are DECIMAL-routed
    // group-bys over a broadcast, IPF at 100 TB is scan-once + O(1)
    // iteration on the margins.
    Q("q412_raking_ipf", Q.sql("""
        WITH cells AS (
          SELECT event_type, CAST(isodow(CAST(ts AS DATE)) AS BIGINT) AS dow,
            CAST(count(*) AS BIGINT) AS n
          FROM events GROUP BY 1, 2),
        tt AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM cells),
        rt AS (
          SELECT event_type, CAST(sum(n) AS BIGINT) AS row_target
          FROM cells GROUP BY 1),
        w0 AS (SELECT event_type, dow, CAST(n AS DOUBLE) AS w, n FROM cells),
        c1m AS (
          SELECT dow, CAST(sum(CAST(round(w, 9) AS DECIMAL(27,9)))
            AS DOUBLE) AS cm FROM w0 GROUP BY 1),
        c1 AS (
          SELECT w0.event_type, w0.dow, w0.n,
            round(w0.w * ((CAST(tt.total AS DOUBLE) / 7) / c1m.cm), 9) AS w
          FROM w0 JOIN c1m ON c1m.dow = w0.dow, tt),
        r1m AS (
          SELECT event_type, CAST(sum(CAST(round(w, 9) AS DECIMAL(27,9)))
            AS DOUBLE) AS rm FROM c1 GROUP BY 1),
        r1 AS (
          SELECT c1.event_type, c1.dow, c1.n,
            round(c1.w * (CAST(rt.row_target AS DOUBLE) / r1m.rm), 9) AS w
          FROM c1 JOIN r1m ON r1m.event_type = c1.event_type
          JOIN rt ON rt.event_type = c1.event_type),
        c2m AS (
          SELECT dow, CAST(sum(CAST(round(w, 9) AS DECIMAL(27,9)))
            AS DOUBLE) AS cm FROM r1 GROUP BY 1),
        c2 AS (
          SELECT r1.event_type, r1.dow, r1.n,
            round(r1.w * ((CAST(tt.total AS DOUBLE) / 7) / c2m.cm), 9) AS w
          FROM r1 JOIN c2m ON c2m.dow = r1.dow, tt),
        r2m AS (
          SELECT event_type, CAST(sum(CAST(round(w, 9) AS DECIMAL(27,9)))
            AS DOUBLE) AS rm FROM c2 GROUP BY 1),
        r2 AS (
          SELECT c2.event_type, c2.dow, c2.n,
            round(c2.w * (CAST(rt.row_target AS DOUBLE) / r2m.rm), 9) AS w
          FROM c2 JOIN r2m ON r2m.event_type = c2.event_type
          JOIN rt ON rt.event_type = c2.event_type),
        c3m AS (
          SELECT dow, CAST(sum(CAST(round(w, 9) AS DECIMAL(27,9)))
            AS DOUBLE) AS cm FROM r2 GROUP BY 1),
        c3 AS (
          SELECT r2.event_type, r2.dow, r2.n,
            round(r2.w * ((CAST(tt.total AS DOUBLE) / 7) / c3m.cm), 9) AS w
          FROM r2 JOIN c3m ON c3m.dow = r2.dow, tt)
        SELECT event_type, dow, n, round(w, 6) AS w,
          round(w / n, 6) AS weight_factor
        FROM c3 ORDER BY event_type, dow"""))(
      (s, dir) => {
        // materialized (|types|x7-row frame): tt/rt/w all re-reference
        // cells, and each IPF sweep references the previous sweep twice
        // (marginal agg + join) — unbarriered, the plan doubles per sweep
        // (2^5 copies of the events agg); per-sweep barriers keep it flat
        val cells = graft.ops.Frames.materialize(T(s, dir, "events")
          .groupBy(col("event_type"),
            (weekday(to_date(col("ts"))) + 1).cast("long").as("dow"))
          .agg(count(lit(1)).as("n")).coalesce(1))
        val tt = cells.agg(sum(col("n")).cast("long").as("total"))
        val rt = cells.groupBy("event_type")
          .agg(sum(col("n")).cast("long").as("row_target"))
        var w = cells.select(col("event_type"), col("dow"), col("n"),
          col("n").cast("double").as("w"))
        def colSweep(df: DataFrame): DataFrame = {
          val cm = df.groupBy("dow")
            .agg(dsum(round(col("w"), 9), 9).as("cm"))
          df.join(broadcast(cm), "dow").crossJoin(broadcast(tt))
            .select(col("event_type"), col("dow"), col("n"),
              round(col("w") * ((col("total").cast("double") / 7)
                / col("cm")), 9).as("w"))
        }
        def rowSweep(df: DataFrame): DataFrame = {
          val rm = df.groupBy("event_type")
            .agg(dsum(round(col("w"), 9), 9).as("rm"))
          df.join(broadcast(rm), "event_type").join(broadcast(rt),
              "event_type")
            .select(col("event_type"), col("dow"), col("n"),
              round(col("w") * (col("row_target").cast("double")
                / col("rm")), 9).as("w"))
        }
        def bar(df: DataFrame): DataFrame =
          graft.ops.Frames.materialize(df.coalesce(1))
        w = bar(colSweep(w)); w = bar(rowSweep(w))
        w = bar(colSweep(w)); w = bar(rowSweep(w))
        w = colSweep(w)
        w.select(col("event_type"), col("dow"), col("n"),
            round(col("w"), 6).as("w"),
            round(col("w") / col("n"), 6).as("weight_factor"))
          .orderBy("event_type", "dow")
      }),

    // Lindley backlog recursion (Lindley '52) — if each type's daily
    // events hit a processor sized at ⌈mean daily volume⌉, what backlog
    // builds? B_t = max(0, B_{t−1} + arrivals_t − capacity), walked by
    // a Spark `aggregate` fold over the rn-sorted per-type day list in
    // the SAME order as the oracle's WITH RECURSIVE (the q339 pattern —
    // here all-INTEGER, so agreement is exact, not just bit-identical
    // doubles). Lists are calendar-bounded (days, not events).
    Q("q413_lindley_backlog", Q.sql("""
        WITH RECURSIVE d AS (
          SELECT event_type, CAST(ts AS DATE) AS day,
            CAST(count(*) AS BIGINT) AS arr
          FROM events GROUP BY 1, 2),
        i AS (
          SELECT event_type, arr,
            CAST(row_number() OVER (PARTITION BY event_type ORDER BY day)
              AS BIGINT) AS rn
          FROM d),
        cap AS (
          SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
            CAST((sum(arr) + count(*) - 1) // count(*) AS BIGINT) AS cap
          FROM i GROUP BY 1),
        walk(event_type, rn, b, mx, nd) AS (
          SELECT i.event_type, i.rn,
            greatest(CAST(0 AS BIGINT), i.arr - cap.cap),
            greatest(CAST(0 AS BIGINT), i.arr - cap.cap),
            CASE WHEN i.arr - cap.cap > 0 THEN CAST(1 AS BIGINT)
              ELSE CAST(0 AS BIGINT) END
          FROM i JOIN cap ON cap.event_type = i.event_type
          WHERE i.rn = 1
          UNION ALL
          SELECT i.event_type, i.rn,
            greatest(CAST(0 AS BIGINT), w.b + i.arr - cap.cap),
            greatest(w.mx,
              greatest(CAST(0 AS BIGINT), w.b + i.arr - cap.cap)),
            w.nd + CASE WHEN w.b + i.arr - cap.cap > 0
              THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END
          FROM walk w
          JOIN i ON i.event_type = w.event_type AND i.rn = w.rn + 1
          JOIN cap ON cap.event_type = i.event_type),
        last AS (
          SELECT w.event_type, w.b, w.mx, w.nd
          FROM walk w JOIN cap ON cap.event_type = w.event_type
          WHERE w.rn = cap.n_days)
        SELECT cap.event_type, cap.n_days, cap.cap AS capacity,
          last.mx AS max_backlog, last.nd AS days_backlogged,
          last.b AS final_backlog
        FROM cap JOIN last ON last.event_type = cap.event_type
        ORDER BY cap.event_type"""))(
      (s, dir) => {
        val d = T(s, dir, "events")
          .groupBy(col("event_type"), to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("arr"))
        val w = Window.partitionBy("event_type").orderBy("day")
        val i = d.select(col("event_type"), col("arr"),
          row_number().over(w).cast("long").as("rn"))
        val lists = i.groupBy("event_type")
          .agg(count(lit(1)).cast("long").as("n_days"),
            expr("CAST((sum(arr) + count(*) - 1) div count(*) AS BIGINT)")
              .as("capacity"),
            sort_array(collect_list(struct(col("rn"), col("arr"))))
              .as("lst"))
        val folded = lists.select(col("event_type"), col("n_days"),
          col("capacity"),
          aggregate(col("lst"),
            struct(lit(0L).as("b"), lit(0L).as("mx"), lit(0L).as("nd")),
            (acc, p) => {
              val nb = greatest(lit(0L),
                acc.getField("b") + p.getField("arr") - col("capacity"))
              struct(nb.as("b"),
                greatest(acc.getField("mx"), nb).as("mx"),
                (acc.getField("nd") + when(acc.getField("b")
                    + p.getField("arr") - col("capacity") > 0, 1L)
                  .otherwise(0L)).as("nd"))
            }).as("st"))
        folded.select(col("event_type"), col("n_days"), col("capacity"),
            col("st").getField("mx").as("max_backlog"),
            col("st").getField("nd").as("days_backlogged"),
            col("st").getField("b").as("final_backlog"))
          .orderBy("event_type")
      }),

    // Dirichlet-smoothed query likelihood (Zhai & Lafferty SIGIR'01) —
    // the probabilistic-retrieval twin of q133's BM25 over the same
    // fixed query: score(d) = Σ_t ln((tf + μ·cf_t/|C|)/(dl + μ)), μ =
    // 2000. One tokenize pass → per-doc lengths + three conditional
    // term counts (never a per-term join), corpus stats a broadcast
    // scalar; each ln rounded@6 and the THREE terms summed in written
    // order — fixed-order doubles both engines. Top-10 by score.
    Q("q414_dirichlet_ql", Q.sql("""
        WITH toks AS (
          SELECT doc_id, unnest(string_split(lower(regexp_replace(
            trim(text), '\\s+', ' ', 'g')), ' ')) AS tok
          FROM documents),
        dl AS (
          SELECT doc_id, CAST(count(*) AS BIGINT) AS dl,
            CAST(sum(CASE WHEN tok = 'table' THEN 1 ELSE 0 END) AS BIGINT)
              AS tf1,
            CAST(sum(CASE WHEN tok = 'spark' THEN 1 ELSE 0 END) AS BIGINT)
              AS tf2,
            CAST(sum(CASE WHEN tok = 'merge' THEN 1 ELSE 0 END) AS BIGINT)
              AS tf3
          FROM toks GROUP BY 1),
        corp AS (
          SELECT CAST(sum(dl) AS BIGINT) AS ctot,
            CAST(sum(tf1) AS BIGINT) AS cf1,
            CAST(sum(tf2) AS BIGINT) AS cf2,
            CAST(sum(tf3) AS BIGINT) AS cf3
          FROM dl),
        sc AS (
          SELECT doc_id, dl, tf1 + tf2 + tf3 AS tf_total,
            round(ln((tf1 + CAST(2000 AS DOUBLE) * cf1 / ctot) / (dl + 2000)), 6)
            + round(ln((tf2 + CAST(2000 AS DOUBLE) * cf2 / ctot) / (dl + 2000)), 6)
            + round(ln((tf3 + CAST(2000 AS DOUBLE) * cf3 / ctot) / (dl + 2000)), 6)
              AS score
          FROM dl, corp)
        SELECT doc_id, dl, tf_total, round(score, 6) AS score
        FROM sc ORDER BY score DESC, doc_id LIMIT 10"""))(
      (s, dir) => {
        val toks = T(s, dir, "documents")
          .select(col("doc_id"), explode(graft.text.TextAnalysis.tokens(
            graft.text.TextAnalysis.normalizeText(col("text")))).as("tok"))
        def tf(t: String) =
          sum(when(col("tok") === t, 1L).otherwise(0L))
        val dl = toks.groupBy("doc_id")
          .agg(count(lit(1)).as("dl"),
            tf("table").as("tf1"), tf("spark").as("tf2"),
            tf("merge").as("tf3"))
        val corp = dl.agg(sum(col("dl")).as("ctot"),
          sum(col("tf1")).as("cf1"), sum(col("tf2")).as("cf2"),
          sum(col("tf3")).as("cf3"))
        def term(tfc: String, cfc: String) =
          round(log((col(tfc) + lit(2000.0) * col(cfc) / col("ctot"))
            / (col("dl") + 2000)), 6)
        val sc = dl.crossJoin(broadcast(corp))
          .select(col("doc_id"), col("dl"),
            (col("tf1") + col("tf2") + col("tf3")).as("tf_total"),
            (term("tf1", "cf1") + term("tf2", "cf2")
              + term("tf3", "cf3")).as("score"))
        sc.select(col("doc_id"), col("dl"), col("tf_total"),
            round(col("score"), 6).as("score"))
          .orderBy(col("score").desc, col("doc_id")).limit(10)
      }),

    // Neyman optimal allocation (Neyman JRSS'34) — under a 1000-doc
    // labeling budget, how many docs should each source contribute?
    // n_h ∝ N_h·S_h (std of token counts — label where the strata are
    // big AND heterogeneous) vs proportional N_h/N, with the shares'
    // rounding identical in both engines (floor(x+½) on the same
    // double). Strata moments are exact (n·Q−S² DECIMAL numerators) off
    // one tokenize pass; the allocation frame is source-bounded.
    Q("q415_neyman_allocation", Q.sql("""
        WITH t AS (
          SELECT source,
            CAST(len(string_split(lower(regexp_replace(trim(text),
              '\\s+', ' ', 'g')), ' ')) AS BIGINT) AS tok
          FROM documents),
        m AS (
          SELECT source, CAST(count(*) AS BIGINT) AS nh,
            CAST(sum(tok) AS BIGINT) AS sv,
            CAST(sum(CAST(tok AS HUGEINT) * tok) AS DECIMAL(38,0)) AS q
          FROM t GROUP BY 1),
        sd AS (
          SELECT source, nh,
            round(sqrt(CAST(nh * q - CAST(sv AS HUGEINT) * sv AS DOUBLE)
              / nh / (nh - 1)), 6) AS sh
          FROM m),
        ns AS (
          SELECT source, nh, sh,
            CAST(round(nh * sh, 6) AS DECIMAL(27,6)) AS nhsh
          FROM sd),
        tot AS (
          SELECT CAST(sum(nhsh) AS DOUBLE) AS denom,
            CAST(sum(nh) AS BIGINT) AS n
          FROM ns)
        SELECT source, nh, sh,
          CAST(floor(1000 * (CAST(nhsh AS DOUBLE) / tot.denom) + 0.5)
            AS BIGINT) AS neyman_n,
          CAST(floor(1000 * (CAST(nh AS DOUBLE) / tot.n) + 0.5)
            AS BIGINT) AS proportional_n
        FROM ns, tot ORDER BY source"""))(
      (s, dir) => {
        val t = T(s, dir, "documents")
          .select(col("source"),
            size(graft.text.TextAnalysis.tokens(
              graft.text.TextAnalysis.normalizeText(col("text"))))
              .cast("long").as("tok"))
        val m = t.groupBy("source")
          .agg(count(lit(1)).as("nh"), sum(col("tok")).as("sv"),
            sum(col("tok").cast("decimal(19,0)") * col("tok"))
              .cast("decimal(38,0)").as("q"))
        val sd = m.select(col("source"), col("nh"),
          round(sqrt((col("nh") * col("q")
              - col("sv").cast("decimal(19,0)") * col("sv"))
            .cast("double") / col("nh") / (col("nh") - 1)), 6).as("sh"))
        val ns = sd.select(col("source"), col("nh"), col("sh"),
          round(col("nh") * col("sh"), 6).cast("decimal(27,6)")
            .as("nhsh"))
        val tot = ns.agg(sum(col("nhsh")).cast("double").as("denom"),
          sum(col("nh")).cast("long").as("n"))
        ns.crossJoin(broadcast(tot))
          .select(col("source"), col("nh"), col("sh"),
            floor(lit(1000) * (col("nhsh").cast("double") / col("denom"))
              + 0.5).cast("long").as("neyman_n"),
            floor(lit(1000) * (col("nh").cast("double") / col("n"))
              + 0.5).cast("long").as("proportional_n"))
          .orderBy("source")
      })
  )
}
