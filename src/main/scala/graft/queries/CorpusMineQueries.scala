package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables.{load => T}
import graft.ops.Relational.dsum
import graft.queries.Bases.{dailyMass, dailyMassSql}
import graft.text.TextAnalysis

/** Round-10 batch 2: corpus mining and paired/group diagnostics — the
  * Dunning log-likelihood keyword test, train/eval n-gram contamination,
  * distinct-n diversity, the Wilcoxon signed-rank test, and Bartlett's
  * variance-homogeneity test — each oracle-checked bit-for-bit against
  * DuckDB.
  */
object CorpusMineQueries {

  /** Shared tokenizer CTE (StyleQueries/CurationQueries house form). */
  private val wordsCte = """
    WITH w AS (
      SELECT doc_id AS id, source,
        string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ') AS ws
      FROM documents)"""

  /** One row per (id, source, word-n-gram occurrence) — the
    * [[graft.dedup.Dedup.shinglesRaw]] construction with the source
    * column carried through (guarded `sequence` so short docs yield no
    * rows).
    */
  private def gramsOf(s: SparkSession, dir: String, n: Int): DataFrame = {
    val words = TextAnalysis.tokens(TextAnalysis.normalizeText(col("text")))
    T(s, dir, "documents")
      .select(col("doc_id").as("id"), col("source"), words.as("ws"))
      .select(col("id"), col("source"),
        explode(
          when(size(col("ws")) < n, array())
            .otherwise(transform(
              sequence(lit(1), size(col("ws")) - (n - 1)),
              i => concat_ws(" ", slice(col("ws"), i, lit(n)))))).as("gram"))
  }

  /** DuckDB twin of [[gramsOf]] (1-based inclusive list slice). */
  private def gramsSql(n: Int): String = s"""
    g AS (
      SELECT id, source,
        unnest(list_transform(
          generate_series(1, greatest(len(ws) - ${n - 1}, 0)),
          i -> array_to_string(ws[i:i+${n - 1}], ' '))) AS gram
      FROM w)"""

  def all: Seq[Q] = Seq(

    // Dunning log-likelihood ratio (CL'93) — the corpus-linguistics
    // keyword test: which tokens are over-represented in each source vs
    // the rest of the corpus? G² over the (token-in-source) 2×2 table,
    // computed per cell as O·ln(O·N/(R·C)) with the q149 MI discipline
    // (each ln rounded@6 before the fixed-order 4-term sum). Count
    // floor 5; top-10 per source by (G² DESC, token); the per-source
    // totals are a 20-row broadcast, the per-token totals an
    // equi-join on the vocab frame — never all-pairs.
    Q("q385_dunning_llr", Q.sql(s"""
        $wordsCte,
        tok AS (
          SELECT source, unnest(ws) AS tk FROM w),
        csw AS (
          SELECT source, tk, CAST(count(*) AS BIGINT) AS k11
          FROM tok GROUP BY 1, 2),
        cs AS (
          SELECT source, CAST(count(*) AS BIGINT) AS c_s
          FROM tok GROUP BY 1),
        cw AS (
          SELECT tk, CAST(count(*) AS BIGINT) AS c_w
          FROM tok GROUP BY 1),
        nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM tok),
        cells AS (
          SELECT csw.source, csw.tk, csw.k11,
            cs.c_s - csw.k11 AS k12,
            cw.c_w - csw.k11 AS k21,
            nn.n - cs.c_s - cw.c_w + csw.k11 AS k22,
            cs.c_s, cw.c_w, nn.n
          FROM csw JOIN cs ON cs.source = csw.source
          JOIN cw ON cw.tk = csw.tk, nn
          WHERE csw.k11 >= 5),
        g AS (
          SELECT source, tk, k11,
            round(2 * (
              (CASE WHEN k11 > 0 THEN round(CAST(k11 AS DOUBLE)
                * round(ln((CAST(k11 AS DOUBLE) * n)
                  / (CAST(c_s AS DOUBLE) * c_w)), 6), 6) ELSE 0.0 END)
              + (CASE WHEN k12 > 0 THEN round(CAST(k12 AS DOUBLE)
                * round(ln((CAST(k12 AS DOUBLE) * n)
                  / (CAST(c_s AS DOUBLE) * (n - c_w))), 6), 6)
                ELSE 0.0 END)
              + (CASE WHEN k21 > 0 THEN round(CAST(k21 AS DOUBLE)
                * round(ln((CAST(k21 AS DOUBLE) * n)
                  / (CAST(n - c_s AS DOUBLE) * c_w)), 6), 6)
                ELSE 0.0 END)
              + (CASE WHEN k22 > 0 THEN round(CAST(k22 AS DOUBLE)
                * round(ln((CAST(k22 AS DOUBLE) * n)
                  / (CAST(n - c_s AS DOUBLE) * (n - c_w))), 6), 6)
                ELSE 0.0 END)), 6) AS g2
          FROM cells),
        rk AS (
          SELECT source, tk AS token, k11 AS n_occ, g2,
            row_number() OVER (PARTITION BY source
              ORDER BY g2 DESC, tk) AS rank
          FROM g)
        SELECT source, token, n_occ, g2, rank
        FROM rk WHERE rank <= 10 ORDER BY source, rank"""))(
      (s, dir) => {
        val tok = gramsOf(s, dir, 1).select(col("source"),
          col("gram").as("tk"))
        val csw = tok.groupBy("source", "tk")
          .agg(count(lit(1)).as("k11"))
        val cs = tok.groupBy("source").agg(count(lit(1)).as("c_s"))
        val cw = tok.groupBy("tk").agg(count(lit(1)).as("c_w"))
        val nn = tok.agg(count(lit(1)).as("n"))
        val cells = csw.where(col("k11") >= 5)
          .join(broadcast(cs), "source")
          .join(cw, "tk")
          .crossJoin(broadcast(nn))
          .select(col("source"), col("tk"), col("k11"),
            (col("c_s") - col("k11")).as("k12"),
            (col("c_w") - col("k11")).as("k21"),
            (col("n") - col("c_s") - col("c_w") + col("k11")).as("k22"),
            col("c_s"), col("c_w"), col("n"))
        def cell(o: org.apache.spark.sql.Column,
                 r: org.apache.spark.sql.Column,
                 c: org.apache.spark.sql.Column) =
          when(o > 0, round(o.cast("double")
            * round(log((o.cast("double") * col("n"))
              / (r.cast("double") * c)), 6), 6)).otherwise(lit(0.0))
        val g = cells.select(col("source"), col("tk"), col("k11"),
          round(lit(2) * (
            cell(col("k11"), col("c_s"), col("c_w"))
            + cell(col("k12"), col("c_s"), col("n") - col("c_w"))
            + cell(col("k21"), col("n") - col("c_s"), col("c_w"))
            + cell(col("k22"), col("n") - col("c_s"),
                col("n") - col("c_w"))), 6).as("g2"))
        g.select(col("source"), col("tk").as("token"),
            col("k11").as("n_occ"), col("g2"),
            row_number().over(Window.partitionBy("source")
              .orderBy(col("g2").desc, col("tk"))).as("rank"))
          .where(col("rank") <= 10)
          .orderBy("source", "rank")
      }),

    // Train/eval n-gram contamination (the GPT-2 WebText 8-gram
    // screen): split the corpus by doc_id%5, count each eval doc's
    // DISTINCT 8-grams that also occur anywhere in train. One
    // distinct-gram equi-join on the gram key (shuffle-bounded by the
    // corpus gram count) — never doc×doc. Per source: docs screened,
    // docs contaminated, gram hit-rate.
    Q("q386_ngram_contamination", Q.sql(s"""
        $wordsCte,
        ${gramsSql(8)},
        tr AS (
          SELECT DISTINCT gram FROM g WHERE id % 5 <> 0),
        ev AS (
          SELECT id, source, gram FROM g WHERE id % 5 = 0 GROUP BY ALL),
        hits AS (
          SELECT ev.id, ev.source, count(*) AS n_grams,
            CAST(count(tr.gram) AS BIGINT) AS n_hit
          FROM ev LEFT JOIN tr ON tr.gram = ev.gram
          GROUP BY 1, 2)
        SELECT source,
          CAST(count(*) AS BIGINT) AS n_eval_docs,
          CAST(sum(CASE WHEN n_hit > 0 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_contaminated,
          CAST(sum(n_grams) AS BIGINT) AS grams,
          CAST(sum(n_hit) AS BIGINT) AS gram_hits,
          round(CAST(sum(n_hit) AS DOUBLE) / sum(n_grams), 6) AS hit_rate
        FROM hits GROUP BY 1 ORDER BY 1"""))(
      (s, dir) => {
        val g = gramsOf(s, dir, 8)
        val tr = g.where(col("id") % 5 =!= 0).select("gram").distinct()
        val ev = g.where(col("id") % 5 === 0)
          .select("id", "source", "gram").distinct()
        val hits = ev.join(tr.withColumn("hit", lit(1)), Seq("gram"), "left")
          .groupBy("id", "source")
          .agg(count(lit(1)).as("n_grams"),
            sum(coalesce(col("hit"), lit(0))).cast("long").as("n_hit"))
        hits.groupBy("source").agg(
            count(lit(1)).cast("long").as("n_eval_docs"),
            sum(when(col("n_hit") > 0, 1).otherwise(0)).cast("long")
              .as("n_contaminated"),
            sum(col("n_grams")).cast("long").as("grams"),
            sum(col("n_hit")).cast("long").as("gram_hits"),
            round(sum(col("n_hit")).cast("double") / sum(col("n_grams")), 6)
              .as("hit_rate"))
          .orderBy("source")
      }),

    // Distinct-n diversity (Li et al. NAACL'16) — the generation-
    // diversity metric applied as a corpus template/boilerplate screen:
    // unique n-grams ÷ total n-grams per source for n ∈ {1,2,3}. Three
    // shingle passes, each one hash-agg pair; low distinct-2/3 marks
    // templated sources the way q378's Yule K marks repetitive vocab.
    Q("q387_distinct_n", Q.sql(s"""
        $wordsCte,
        g1 AS (
          SELECT id, source, unnest(ws) AS gram FROM w),
        g2 AS (
          SELECT id, source,
            unnest(list_transform(generate_series(1, greatest(len(ws) - 1, 0)),
              i -> array_to_string(ws[i:i+1], ' '))) AS gram
          FROM w),
        g3 AS (
          SELECT id, source,
            unnest(list_transform(generate_series(1, greatest(len(ws) - 2, 0)),
              i -> array_to_string(ws[i:i+2], ' '))) AS gram
          FROM w),
        lv AS (
          SELECT source, 1 AS n, count(*) AS total,
            count(DISTINCT gram) AS uniq FROM g1 GROUP BY 1
          UNION ALL
          SELECT source, 2, count(*), count(DISTINCT gram)
          FROM g2 GROUP BY 1
          UNION ALL
          SELECT source, 3, count(*), count(DISTINCT gram)
          FROM g3 GROUP BY 1)
        SELECT source, n, CAST(total AS BIGINT) AS total,
          CAST(uniq AS BIGINT) AS uniq,
          round(CAST(uniq AS DOUBLE) / total, 6) AS distinct_n
        FROM lv ORDER BY source, n"""))(
      (s, dir) => {
        def level(n: Int): DataFrame =
          gramsOf(s, dir, n).groupBy("source")
            .agg(count(lit(1)).as("total"),
              countDistinct(col("gram")).as("uniq"))
            .select(col("source"), lit(n).as("n"), col("total"), col("uniq"))
        level(1).unionByName(level(2)).unionByName(level(3))
          .select(col("source"), col("n"),
            col("total").cast("long").as("total"),
            col("uniq").cast("long").as("uniq"),
            round(col("uniq").cast("double") / col("total"), 6)
              .as("distinct_n"))
          .orderBy("source", "n")
      }),

    // Wilcoxon signed-rank test (Biometrics'45) — the PAIRED twin of
    // q338's Mann-Whitney: do purchase and click daily revenue masses
    // differ, pairing by day? Differences are exact fixed-point longs;
    // midranks come from a broadcast self-join count over the
    // calendar-bounded nonzero-diff frame (doubled to stay integer:
    // R2 = 2·#less + #equal + 1 — no global window); W, E and the
    // tie-corrected variance are all-integer until the final z.
    Q("q388_wilcoxon_signed_rank", Q.sql(s"""
        WITH d AS ($dailyMassSql),
        pair AS (
          SELECT a.day, a.v - b.v AS diff
          FROM (SELECT day, v FROM d WHERE event_type = 'purchase') a
          JOIN (SELECT day, v FROM d WHERE event_type = 'click') b
            ON b.day = a.day
          WHERE a.v <> b.v),
        rk AS (
          SELECT a.day, a.diff,
            2 * sum(CASE WHEN abs(b.diff) < abs(a.diff) THEN 1 ELSE 0 END)
              + sum(CASE WHEN abs(b.diff) = abs(a.diff) THEN 1 ELSE 0 END)
              + 1 AS r2
          FROM pair a, pair b GROUP BY 1, 2),
        ties AS (
          SELECT CAST(sum(t * t * t - t) AS BIGINT) AS tcorr FROM (
            SELECT CAST(count(*) AS BIGINT) AS t
            FROM pair GROUP BY abs(diff)) g),
        stat AS (
          SELECT CAST(count(*) AS BIGINT) AS n,
            CAST(sum(CASE WHEN diff > 0 THEN r2 ELSE 0 END) AS BIGINT)
              AS w2
          FROM rk)
        SELECT s.n AS n_pairs, s.w2,
          round((CAST(s.w2 AS DOUBLE) - CAST(s.n * (s.n + 1) / 2 AS DOUBLE))
            / sqrt(CAST(2 * s.n * (s.n + 1) * (2 * s.n + 1) - t.tcorr
              AS DOUBLE) / 12), 6) AS z
        FROM stat s, ties t"""))(
      (s, dir) => {
        val d = dailyMass(s, dir)
        val a = d.where(col("event_type") === "purchase")
          .select(col("day"), col("v").as("va"))
        val b = d.where(col("event_type") === "click")
          .select(col("day"), col("v").as("vb"))
        val pair = a.join(b, "day")
          .where(col("va") =!= col("vb"))
          .select(col("day"), (col("va") - col("vb")).as("diff"))
        val other = broadcast(pair.select(col("diff").as("diff2")))
        val rk = pair.crossJoin(other)
          .groupBy("day", "diff")
          .agg((lit(2) * sum(when(abs(col("diff2")) < abs(col("diff")), 1)
              .otherwise(0))
            + sum(when(abs(col("diff2")) === abs(col("diff")), 1)
              .otherwise(0)) + 1).as("r2"))
        val ties = pair.groupBy(abs(col("diff")).as("ad"))
          .agg(count(lit(1)).as("t"))
          .agg(sum(col("t") * col("t") * col("t") - col("t"))
            .cast("long").as("tcorr"))
        val stat = rk.agg(count(lit(1)).cast("long").as("n"),
          sum(when(col("diff") > 0, col("r2")).otherwise(0L)).cast("long")
            .as("w2"))
        stat.crossJoin(broadcast(ties))
          .select(col("n").as("n_pairs"), col("w2"),
            round((col("w2").cast("double")
                - (col("n") * (col("n") + 1) / 2).cast("double"))
              / sqrt((lit(2) * col("n") * (col("n") + 1)
                  * (lit(2) * col("n") + 1) - col("tcorr")).cast("double")
                / 12), 6).as("z"))
      }),

    // Bartlett's test (PRSL'37) — the normal-theory sharp end of the
    // variance-homogeneity family next to Levene (q329 assumption) and
    // Brown-Forsythe (q330): are the per-type daily revenue variances
    // equal? Per-group SSD numerators are exact DECIMAL(38,0)
    // (n·Q − S²); variances are expressed in kilodollar² units (the
    // ln-scale shift cancels exactly since Σ(nᵢ−1) = N−k), each ln
    // rounded@9, the k-term sums DECIMAL-routed — the only frame is the
    // k-row group-moment table.
    Q("q389_bartlett", Q.sql(s"""
        WITH d AS ($dailyMassSql),
        m AS (
          SELECT event_type, CAST(count(*) AS BIGINT) AS n,
            CAST(sum(v) AS BIGINT) AS sv,
            CAST(sum(CAST(v AS HUGEINT) * v) AS DECIMAL(38,0)) AS svv
          FROM d GROUP BY 1),
        g AS (
          SELECT event_type, n,
            CAST(n * svv - CAST(sv AS HUGEINT) * sv AS DOUBLE)
              / n / 1e14 AS ssd
          FROM m),
        terms AS (
          SELECT n,
            round(ssd, 6) AS ssd6,
            round(CAST(n - 1 AS DOUBLE)
              * round(ln(ssd / (n - 1)), 9), 6) AS lterm,
            round(1.0 / (n - 1), 9) AS invt
          FROM g),
        agg AS (
          SELECT CAST(count(*) AS BIGINT) AS k,
            CAST(sum(n) AS BIGINT) AS nt,
            CAST(sum(CAST(ssd6 AS DECIMAL(27,6))) AS DOUBLE) AS sssd,
            CAST(sum(CAST(lterm AS DECIMAL(27,6))) AS DOUBLE) AS slt,
            CAST(sum(CAST(invt AS DECIMAL(27,9))) AS DOUBLE) AS sinv
          FROM terms)
        SELECT k, nt AS n_total,
          round((CAST(nt - k AS DOUBLE)
              * round(ln(sssd / (nt - k)), 9) - slt)
            / (1 + (sinv - 1.0 / (nt - k)) / (3 * (k - 1))), 6)
            AS chi2_c,
          round(1 + (sinv - 1.0 / (nt - k)) / (3 * (k - 1)), 6) AS c
        FROM agg"""))(
      (s, dir) => {
        val d = dailyMass(s, dir)
        val m = d.groupBy("event_type").agg(
          count(lit(1)).as("n"),
          sum(col("v")).as("sv"),
          sum(col("v").cast("decimal(19,0)") * col("v"))
            .cast("decimal(38,0)").as("svv"))
        val g = m.select(col("event_type"), col("n"),
          ((col("n") * col("svv")
              - col("sv").cast("decimal(19,0)") * col("sv"))
            .cast("double") / col("n") / lit(1e14)).as("ssd"))
        val terms = g.select(col("n"),
          round(col("ssd"), 6).as("ssd6"),
          round((col("n") - 1).cast("double")
            * round(log(col("ssd") / (col("n") - 1)), 9), 6).as("lterm"),
          round(lit(1.0) / (col("n") - 1), 9).as("invt"))
        val agg = terms.agg(
          count(lit(1)).cast("long").as("k"),
          sum(col("n")).cast("long").as("nt"),
          dsum(col("ssd6"), 6).as("sssd"),
          dsum(col("lterm"), 6).as("slt"),
          dsum(col("invt"), 9).as("sinv"))
        val c = lit(1) + ((col("sinv") - lit(1.0) / (col("nt") - col("k"))) /
          (lit(3) * (col("k") - 1)))
        agg.select(col("k"), col("nt").as("n_total"),
          round(((col("nt") - col("k")).cast("double")
              * round(log(col("sssd") / (col("nt") - col("k"))), 9)
              - col("slt")) / c, 6).as("chi2_c"),
          round(c, 6).as("c"))
      })
  )
}
