package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.{load => T}
import graft.ops.Relational.dsum
import graft.queries.Bases.{dailyMass, dailyMassSql}
import graft.text.TextAnalysis

/** Round-10 batch 9: causal-inference, rank-fusion, and profiling
  * design operators — sharp regression discontinuity, difference-in-
  * differences, Borda rank fusion, histogram bin-width selectors, and
  * a tokenizer-parity audit — each oracle-checked bit-for-bit against
  * DuckDB.
  */
object CausalDesignQueries {

  def all: Seq[Q] = Seq(

    // Sharp regression discontinuity (Thistlethwaite & Campbell '60;
    // Imbens & Lemieux JoE'08) — does purchase revenue JUMP at the
    // calendar midpoint? Local linear fits on each side of the cutoff
    // (left x ∈ [−30,−1], right x ∈ [0,30]), τ = α_R − α_L at x = 0.
    // The cutoff is the exact lower-median day (min day whose rank ≥
    // ⌈N/2⌉ — value-grouped prefix, no raw-row sort); both OLS fits use
    // the q179 centered-determinant discipline on exact integer
    // moments (x day offsets, y 4-dp longs), so τ is one fixed-order
    // double.
    Q("q421_regression_discontinuity", Q.sql(s"""
        WITH d AS ($dailyMassSql),
        p AS (SELECT day, v FROM d WHERE event_type = 'purchase'),
        dc AS (
          SELECT a.day, CAST(count(*) AS BIGINT) AS rk
          FROM p a JOIN p b ON b.day <= a.day GROUP BY 1),
        nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM p),
        cut AS (
          SELECT min(day) AS c FROM dc, nn WHERE rk >= (nn.n + 1) // 2),
        side AS (
          SELECT CASE WHEN p.day >= cut.c THEN 1 ELSE 0 END AS r,
            CAST(p.day - cut.c AS BIGINT) AS x, p.v
          FROM p, cut
          WHERE p.day - cut.c BETWEEN -30 AND 30),
        m AS (
          SELECT r, CAST(count(*) AS BIGINT) AS n,
            CAST(sum(x) AS BIGINT) AS sx,
            CAST(sum(CAST(x AS HUGEINT) * x) AS BIGINT) AS sxx,
            CAST(sum(v) AS BIGINT) AS sy,
            CAST(sum(CAST(x AS HUGEINT) * v) AS DECIMAL(38,0)) AS sxy
          FROM side GROUP BY 1),
        fit AS (
          SELECT r, n,
            (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * sy)
            / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
              AS slope,
            (CAST(sy AS DOUBLE) - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                - CAST(sx AS DOUBLE) * sy)
              / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx))
              * sx) / n AS alpha
          FROM m)
        SELECT cut.c AS cutoff_day,
          (SELECT n FROM fit WHERE r = 0) AS n_left,
          (SELECT n FROM fit WHERE r = 1) AS n_right,
          round((SELECT slope FROM fit WHERE r = 0) / 1e7, 6)
            AS slope_left_kd,
          round((SELECT slope FROM fit WHERE r = 1) / 1e7, 6)
            AS slope_right_kd,
          round(((SELECT alpha FROM fit WHERE r = 1)
            - (SELECT alpha FROM fit WHERE r = 0)) / 1e7, 6) AS jump_kd
        FROM cut"""))(
      (s, dir) => {
        val p = dailyMass(s, dir)
          .where(col("event_type") === "purchase")
          .select(col("day"), col("v"))
        val dc = graft.ops.Prefix.runningTotal(
          p.withColumn("__one", lit(1L)), Seq(col("day")), col("__one"),
          "rk")
        val nn = p.agg(count(lit(1)).as("n"))
        val cut = dc.crossJoin(broadcast(nn))
          .where(col("rk") >= expr("(n + 1) div 2"))
          .agg(min(col("day")).as("c"))
        val side = p.crossJoin(broadcast(cut))
          .where(datediff(col("day"), col("c")).between(-30, 30))
          .select(when(col("day") >= col("c"), 1).otherwise(0).as("r"),
            datediff(col("day"), col("c")).cast("long").as("x"), col("v"))
        val m = side.groupBy("r").agg(count(lit(1)).as("n"),
          sum(col("x")).as("sx"),
          sum(col("x").cast("decimal(19,0)") * col("x")).cast("long")
            .as("sxx"),
          sum(col("v")).as("sy"),
          sum(col("x").cast("decimal(19,0)") * col("v"))
            .cast("decimal(38,0)").as("sxy"))
        val nD = col("n").cast("double")
        val slope = (nD * col("sxy").cast("double")
            - col("sx").cast("double") * col("sy"))
          .divide(nD * col("sxx") - col("sx").cast("double") * col("sx"))
        val fit = m.select(col("r"), col("n"), slope.as("slope"),
          ((col("sy").cast("double") - slope * col("sx")) / col("n"))
            .as("alpha"))
        val l = fit.where(col("r") === 0).select(col("n").as("n_left"),
          col("slope").as("sl"), col("alpha").as("al"))
        val rr = fit.where(col("r") === 1).select(col("n").as("n_right"),
          col("slope").as("sr"), col("alpha").as("ar"))
        cut.crossJoin(broadcast(l)).crossJoin(broadcast(rr))
          .select(col("c").as("cutoff_day"), col("n_left"),
            col("n_right"),
            round(col("sl") / lit(1e7), 6).as("slope_left_kd"),
            round(col("sr") / lit(1e7), 6).as("slope_right_kd"),
            round((col("ar") - col("al")) / lit(1e7), 6).as("jump_kd"))
      }),

    // Difference-in-differences (Card & Krueger AER'94 design) —
    // purchase (treated) vs click (control) daily revenue, before vs
    // after the calendar midpoint: DiD = (ȳ_T,post − ȳ_T,pre) −
    // (ȳ_C,post − ȳ_C,pre), with the classic pooled-variance SE from
    // exact n·Q−S² cell moments. One scan, a 4-cell frame; everything
    // exact until the last-mile doubles.
    Q("q422_diff_in_diff", Q.sql(s"""
        WITH d AS ($dailyMassSql),
        pc AS (
          SELECT event_type, day, v FROM d
          WHERE event_type IN ('purchase', 'click')),
        dc AS (
          SELECT a.day, CAST(count(DISTINCT b.day) AS BIGINT) AS rk
          FROM pc a JOIN pc b ON b.day <= a.day GROUP BY 1),
        nn AS (SELECT CAST(count(DISTINCT day) AS BIGINT) AS n FROM pc),
        cut AS (
          SELECT min(day) AS c FROM dc, nn WHERE rk >= (nn.n + 1) // 2),
        cells AS (
          SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS t,
            CASE WHEN pc.day >= cut.c THEN 1 ELSE 0 END AS post,
            CAST(count(*) AS BIGINT) AS n,
            CAST(sum(v) AS BIGINT) AS sv,
            CAST(sum(CAST(v AS HUGEINT) * v) AS DECIMAL(38,0)) AS q
          FROM pc, cut GROUP BY 1, 2),
        g AS (
          SELECT t, post, n, CAST(sv AS DOUBLE) / n / 1e7 AS mean_kd,
            CAST(n * q - CAST(sv AS HUGEINT) * sv AS DOUBLE)
              / n / (n - 1) / 1e14 AS var_kd
          FROM cells),
        f AS (
          SELECT
            (SELECT mean_kd FROM g WHERE t = 1 AND post = 1) AS tp,
            (SELECT mean_kd FROM g WHERE t = 1 AND post = 0) AS tr,
            (SELECT mean_kd FROM g WHERE t = 0 AND post = 1) AS cp,
            (SELECT mean_kd FROM g WHERE t = 0 AND post = 0) AS cr,
            (SELECT sum(var_kd / n) FROM g) AS se2,
            (SELECT CAST(sum(n) AS BIGINT) FROM g) AS n_obs)
        SELECT n_obs, round(tp, 6) AS treated_post,
          round(tr, 6) AS treated_pre,
          round(cp, 6) AS control_post, round(cr, 6) AS control_pre,
          round((tp - tr) - (cp - cr), 6) AS did_kd,
          round(((tp - tr) - (cp - cr)) / sqrt(se2), 6) AS t_stat
        FROM f"""))(
      (s, dir) => {
        val pc = dailyMass(s, dir)
          .where(col("event_type").isin("purchase", "click"))
        val days = pc.select("day").distinct()
        val dc = graft.ops.Prefix.runningTotal(
          days.withColumn("__one", lit(1L)), Seq(col("day")),
          col("__one"), "rk")
        val nn = days.agg(count(lit(1)).as("n"))
        val cut = dc.crossJoin(broadcast(nn))
          .where(col("rk") >= expr("(n + 1) div 2"))
          .agg(min(col("day")).as("c"))
        val cells = pc.crossJoin(broadcast(cut))
          .groupBy(
            when(col("event_type") === "purchase", 1).otherwise(0).as("t"),
            when(col("day") >= col("c"), 1).otherwise(0).as("post"))
          .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"),
            sum(col("v").cast("decimal(19,0)") * col("v"))
              .cast("decimal(38,0)").as("q"))
        val g = cells.select(col("t"), col("post"), col("n"),
          (col("sv").cast("double") / col("n") / lit(1e7)).as("mean_kd"),
          ((col("n") * col("q")
              - col("sv").cast("decimal(19,0)") * col("sv"))
            .cast("double") / col("n") / (col("n") - 1) / lit(1e14))
            .as("var_kd"))
        def cell(t: Int, post: Int, as: String) = broadcast(
          g.where(col("t") === t && col("post") === post)
            .select(col("mean_kd").as(as)))
        val se2 = broadcast(g.agg(
          sum(col("var_kd") / col("n")).as("se2"),
          sum(col("n")).cast("long").as("n_obs")))
        val f = cell(1, 1, "tp").crossJoin(cell(1, 0, "tr"))
          .crossJoin(cell(0, 1, "cp")).crossJoin(cell(0, 0, "cr"))
          .crossJoin(se2)
        val did = (col("tp") - col("tr")) - (col("cp") - col("cr"))
        f.select(col("n_obs"), round(col("tp"), 6).as("treated_post"),
          round(col("tr"), 6).as("treated_pre"),
          round(col("cp"), 6).as("control_post"),
          round(col("cr"), 6).as("control_pre"),
          round(did, 6).as("did_kd"),
          round(did / sqrt(col("se2")), 6).as("t_stat"))
      }),

    // Borda rank fusion (Borda 1781; de Borda count) — three rankers
    // over parts (revenue, order count, total quantity) fused by Borda
    // points N − rank, deterministic (metric DESC, partkey) tie-break;
    // the positional-voting companion to q185's RRF. Each rank comes
    // from ONE distributed-prefix pass (never a global window), the
    // fusion is a 3-way partkey equi-join, top-15 consensus out.
    Q("q423_borda_fusion", Q.sql("""
        WITH m AS (
          SELECT l_partkey AS pk,
            CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
              AS BIGINT) AS rev,
            CAST(count(DISTINCT l_orderkey) AS BIGINT) AS ords,
            CAST(sum(CAST(round(l_quantity, 0) AS BIGINT)) AS BIGINT)
              AS qty
          FROM lineitem GROUP BY 1),
        n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM m),
        r1 AS (
          SELECT pk, CAST(row_number() OVER (ORDER BY rev DESC, pk)
            AS BIGINT) AS rk FROM m),
        r2 AS (
          SELECT pk, CAST(row_number() OVER (ORDER BY ords DESC, pk)
            AS BIGINT) AS rk FROM m),
        r3 AS (
          SELECT pk, CAST(row_number() OVER (ORDER BY qty DESC, pk)
            AS BIGINT) AS rk FROM m),
        fused AS (
          SELECT r1.pk,
            (n.n - r1.rk) + (n.n - r2.rk) + (n.n - r3.rk) AS borda,
            r1.rk AS rank_rev, r2.rk AS rank_orders, r3.rk AS rank_qty
          FROM r1 JOIN r2 ON r2.pk = r1.pk JOIN r3 ON r3.pk = r1.pk, n)
        SELECT pk AS partkey, borda, rank_rev, rank_orders, rank_qty
        FROM fused ORDER BY borda DESC, pk LIMIT 15"""))(
      (s, dir) => {
        // materialized: m feeds the three rank passes plus n — without
        // the barrier each rankBy re-runs the lineitem scan AND the
        // two-phase countDistinct aggregation (4 fact passes total)
        val m = graft.ops.Frames.materialize(T(s, dir, "lineitem")
          .groupBy(col("l_partkey").as("pk"))
          .agg(sum(round(col("l_extendedprice") * 100, 0).cast("long"))
              .as("rev"),
            countDistinct(col("l_orderkey")).as("ords"),
            sum(round(col("l_quantity"), 0).cast("long")).as("qty")))
        val n = m.agg(count(lit(1)).as("n"))
        def rankBy(c: String, as: String): DataFrame =
          graft.ops.Prefix.runningTotal(
            m.select(col("pk"), col(c)).withColumn("__one", lit(1L)),
            Seq(col(c).desc, col("pk")), col("__one"), as)
            .select(col("pk"), col(as))
        val fused = rankBy("rev", "rank_rev")
          .join(rankBy("ords", "rank_orders"), "pk")
          .join(rankBy("qty", "rank_qty"), "pk")
          .crossJoin(broadcast(n))
          .select(col("pk").as("partkey"),
            ((col("n") - col("rank_rev")) + (col("n") - col("rank_orders"))
              + (col("n") - col("rank_qty"))).as("borda"),
            col("rank_rev"), col("rank_orders"), col("rank_qty"))
        fused.orderBy(col("borda").desc, col("partkey")).limit(15)
      }),

    // Histogram bin-width selectors (Freedman-Diaconis AOS'81; Scott
    // Biometrika'79; Sturges JASA'26) — per type over daily masses:
    // exact order-statistic quartiles (value-grouped prefix at ranks
    // ⌈N/4⌉ / ⌈3N/4⌉ — never a raw-row sort), FD width 2·IQR/∛n, Scott
    // 3.49·σ/∛n from exact moments, Sturges ⌈log2 n⌉+1 — the
    // data-profiling advisor that sizes q113-style histograms before
    // building them.
    Q("q424_binwidth_selectors", Q.sql(s"""
        WITH d AS ($dailyMassSql),
        vc AS (
          SELECT event_type, v, CAST(count(*) AS BIGINT) AS c
          FROM d GROUP BY 1, 2),
        cum AS (
          SELECT a.event_type, a.v, CAST(sum(b.c) AS BIGINT) AS cc
          FROM vc a JOIN vc b ON b.event_type = a.event_type
            AND b.v <= a.v
          GROUP BY 1, 2),
        st AS (
          SELECT event_type, CAST(count(*) AS BIGINT) AS n,
            CAST(sum(v) AS BIGINT) AS sv,
            CAST(sum(CAST(v AS HUGEINT) * v) AS DECIMAL(38,0)) AS q,
            CAST(min(v) AS BIGINT) AS lo, CAST(max(v) AS BIGINT) AS hi
          FROM d GROUP BY 1),
        q1 AS (
          SELECT cum.event_type, min(v) AS q1
          FROM cum JOIN st ON st.event_type = cum.event_type
          WHERE cc >= (st.n + 3) // 4 GROUP BY 1),
        q3 AS (
          SELECT cum.event_type, min(v) AS q3
          FROM cum JOIN st ON st.event_type = cum.event_type
          WHERE cc >= (3 * st.n + 3) // 4 GROUP BY 1),
        f AS (
          SELECT st.event_type, st.n,
            (q3.q3 - q1.q1) / 1e7 AS iqr_kd,
            sqrt(CAST(st.n * st.q - CAST(st.sv AS HUGEINT) * st.sv
              AS DOUBLE) / st.n / (st.n - 1)) / 1e7 AS sd_kd,
            (st.hi - st.lo) / 1e7 AS range_kd
          FROM st JOIN q1 ON q1.event_type = st.event_type
          JOIN q3 ON q3.event_type = st.event_type)
        SELECT event_type, n AS n_days, round(iqr_kd, 6) AS iqr_kd,
          round(2 * iqr_kd / exp(ln(CAST(n AS DOUBLE)) / 3), 6) AS fd_width_kd,
          round(3.49 * sd_kd / exp(ln(CAST(n AS DOUBLE)) / 3), 6)
            AS scott_width_kd,
          CAST(ceil(round(ln(CAST(n AS DOUBLE)) / ln(2), 9)) + 1
            AS BIGINT) AS sturges_bins,
          CAST(ceil(round(range_kd
            / (2 * iqr_kd / exp(ln(CAST(n AS DOUBLE)) / 3)), 9))
            AS BIGINT) AS fd_bins
        FROM f ORDER BY event_type"""))(
      (s, dir) => {
        val d = dailyMass(s, dir)
        val vc = d.groupBy("event_type", "v").agg(count(lit(1)).as("c"))
        val cum = graft.ops.Prefix.runningTotal(
          vc, Seq(col("v")), col("c"), "cc", strataCols = Seq("event_type"))
        val st = d.groupBy("event_type").agg(count(lit(1)).as("n"),
          sum(col("v")).as("sv"),
          sum(col("v").cast("decimal(19,0)") * col("v"))
            .cast("decimal(38,0)").as("q"),
          min(col("v")).as("lo"), max(col("v")).as("hi"))
        val withN = cum.join(broadcast(st.select("event_type", "n")),
          "event_type")
        val q1 = withN.where(col("cc") >= expr("(n + 3) div 4"))
          .groupBy("event_type").agg(min(col("v")).as("q1"))
        val q3 = withN.where(col("cc") >= expr("(3 * n + 3) div 4"))
          .groupBy("event_type").agg(min(col("v")).as("q3"))
        val f = st.join(broadcast(q1), "event_type")
          .join(broadcast(q3), "event_type")
          .select(col("event_type"), col("n"),
            ((col("q3") - col("q1")) / lit(1e7)).as("iqr_kd"),
            (sqrt((col("n") * col("q")
                - col("sv").cast("decimal(19,0)") * col("sv"))
              .cast("double") / col("n") / (col("n") - 1)) / lit(1e7))
              .as("sd_kd"),
            ((col("hi") - col("lo")) / lit(1e7)).as("range_kd"))
        val fdw = lit(2) * col("iqr_kd") /
          exp(log(col("n").cast("double")) / 3)
        f.select(col("event_type"), col("n").as("n_days"),
            round(col("iqr_kd"), 6).as("iqr_kd"),
            round(fdw, 6).as("fd_width_kd"),
            round(lit(3.49) * col("sd_kd")
              / exp(log(col("n").cast("double")) / 3), 6)
              .as("scott_width_kd"),
            (ceil(round(log(col("n").cast("double"))
              / log(lit(2.0)), 9)) + 1).cast("long").as("sturges_bins"),
            ceil(round(col("range_kd") / fdw, 9)).cast("long")
              .as("fd_bins"))
          .orderBy("event_type")
      }),

    // Tokenizer parity audit (Petrov et al. '23 "tokenizer unfairness")
    // — per language: whitespace tokens, BPE-ish regex tokens, chars;
    // fertility = bpeish/ws-token, chars-per-token, and the PREMIUM
    // each language pays relative to English (tokens-per-char ratio vs
    // en) — the fairness screen a multilingual corpus budget needs.
    // One scan with the tokenizers hoisted once, a lang-bounded agg,
    // the en row a broadcast scalar; exact integers until the ratios.
    Q("q425_tokenizer_parity", Q.sql("""
        WITH t AS (
          SELECT lang,
            CAST(length(text) AS BIGINT) AS nc,
            CAST(len(string_split(lower(regexp_replace(trim(text),
              '\\s+', ' ', 'g')), ' ')) AS BIGINT) AS nt,
            CAST(len(regexp_extract_all(lower(text),
              '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS nb
          FROM documents),
        g AS (
          SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
            CAST(sum(nc) AS BIGINT) AS chars,
            CAST(sum(nt) AS BIGINT) AS ws_tokens,
            CAST(sum(nb) AS BIGINT) AS bpeish_tokens
          FROM t GROUP BY 1),
        en AS (
          SELECT CAST(bpeish_tokens AS DOUBLE) / chars AS en_tpc
          FROM g WHERE lang = 'en')
        SELECT lang, n_docs, chars, ws_tokens, bpeish_tokens,
          round(CAST(bpeish_tokens AS DOUBLE) / ws_tokens, 6)
            AS fertility,
          round(CAST(chars AS DOUBLE) / bpeish_tokens, 6)
            AS chars_per_token,
          round((CAST(bpeish_tokens AS DOUBLE) / chars) / en.en_tpc, 6)
            AS premium_vs_en
        FROM g, en ORDER BY lang"""))(
      (s, dir) => {
        val t = T(s, dir, "documents")
          .select(col("lang"),
            length(col("text")).cast("long").as("nc"),
            size(TextAnalysis.tokens(TextAnalysis.normalizeText(
              col("text")))).cast("long").as("nt"),
            TextAnalysis.bpeishCount(col("text")).cast("long").as("nb"))
        val g = t.groupBy("lang").agg(count(lit(1)).as("n_docs"),
          sum(col("nc")).as("chars"), sum(col("nt")).as("ws_tokens"),
          sum(col("nb")).as("bpeish_tokens"))
        val en = broadcast(g.where(col("lang") === "en")
          .select((col("bpeish_tokens").cast("double") / col("chars"))
            .as("en_tpc")))
        g.crossJoin(en)
          .select(col("lang"), col("n_docs"), col("chars"),
            col("ws_tokens"), col("bpeish_tokens"),
            round(col("bpeish_tokens").cast("double") / col("ws_tokens"),
              6).as("fertility"),
            round(col("chars").cast("double") / col("bpeish_tokens"), 6)
              .as("chars_per_token"),
            round((col("bpeish_tokens").cast("double") / col("chars"))
              / col("en_tpc"), 6).as("premium_vs_en"))
          .orderBy("lang")
      })
  )
}
