package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables.{load => T}
import graft.queries.Bases.wordsCte
import graft.text.TextAnalysis

/** Round-9 batch 4: information-theoretic corpus statistics and
  * empirical-Bayes estimation — TextRank keyword extraction, Good-Turing
  * frequency smoothing, beta-binomial shrinkage, the dispersion (Fano)
  * burstiness index, and Huffman coding cost — each oracle-checked
  * bit-for-bit against DuckDB. (A Zipf slope draft was dropped here:
  * q180_zipf_slope already covers that operator.)
  */
object CodingQueries {

  def all: Seq[Q] = Seq(

    // TextRank keywords (Mihalcea & Tarau EMNLP'04) — PageRank over the
    // word co-occurrence graph (window 2 = adjacent tokens, undirected,
    // distinct edges), 2 damped rounds r' = (1−d) + d·Σ r_u/deg_u with
    // d = 0.85 — the unsupervised keyword extractor that beats raw
    // frequency by rewarding CONNECTED terms. Exactness: per-neighbor
    // contributions are rounded at 9 dp and DECIMAL-summed
    // (order-independent); deg is an exact integer; ranks carry exact
    // decimal into the next round (q310's routing). Vocab-bounded
    // frames, one bigram shuffle to build the graph.
    Q("q350_textrank", Q.sql(s"""
        $wordsCte,
        shr AS (
          SELECT ws[pos] AS w1, ws[pos+1] AS w2
          FROM w, LATERAL (SELECT unnest(generate_series(1, greatest(len(ws) - 1, 0))) AS pos) t),
        ed AS (
          SELECT DISTINCT w1 AS a, w2 AS b FROM shr WHERE w1 <> w2),
        und AS (
          SELECT a, b FROM ed UNION SELECT b, a FROM ed),
        deg AS (
          SELECT a AS v, CAST(count(*) AS BIGINT) AS d FROM und GROUP BY 1),
        r1 AS (
          SELECT u.a AS v,
            CAST(0.15 AS DOUBLE) + CAST(0.85 AS DOUBLE) * CAST(sum(
              CAST(round(CAST(1.0 AS DOUBLE) / dn.d, 9) AS DECIMAL(28,9)))
              AS DOUBLE) AS r
          FROM und u JOIN deg dn ON dn.v = u.b GROUP BY 1),
        r2 AS (
          SELECT u.a AS v,
            CAST(0.15 AS DOUBLE) + CAST(0.85 AS DOUBLE) * CAST(sum(
              CAST(round(r1.r / dn.d, 9) AS DECIMAL(28,9))) AS DOUBLE) AS r
          FROM und u JOIN deg dn ON dn.v = u.b JOIN r1 ON r1.v = u.b
          GROUP BY 1)
        SELECT v AS keyword, round(r, 6) AS score,
          (SELECT d FROM deg WHERE deg.v = r2.v) AS degree
        FROM r2 ORDER BY round(r, 6) DESC, keyword LIMIT 20"""))(
      (s, dir) => {
        val toks = T(s, dir, "documents")
          .select(TextAnalysis.tokens(TextAnalysis.normalizeText(col("text")))
            .as("ws"))
        val shr = toks
          .select(col("ws"), explode(
            when(size(col("ws")) >= 2, sequence(lit(1), size(col("ws")) - 1))
              .otherwise(array().cast("array<int>"))).as("pos"))
          .select(element_at(col("ws"), col("pos")).as("w1"),
            element_at(col("ws"), col("pos") + 1).as("w2"))
        val ed = shr.where(col("w1") =!= col("w2"))
          .select(col("w1").as("a"), col("w2").as("b")).distinct()
        val und = ed.unionByName(ed.select(col("b").as("a"),
          col("a").as("b"))).distinct()
        val deg = und.groupBy(col("a").as("v"))
          .agg(count(lit(1)).cast("long").as("d"))
        def round2(prev: DataFrame): DataFrame =
          und.join(deg.select(col("v").as("b"), col("d")), Seq("b"))
            .join(prev.select(col("v").as("b"), col("r").as("rb")), Seq("b"))
            .groupBy(col("a").as("v"))
            .agg((lit(0.15) + lit(0.85)
              * sum(round(col("rb") / col("d"), 9).cast("decimal(28,9)"))
                .cast("double")).as("r"))
        val r0 = deg.select(col("v"), lit(1.0).as("r"))
        val r2 = round2(round2(r0))
        r2.join(deg, Seq("v"))
          .select(col("v").as("keyword"), round(col("r"), 6).as("score"),
            col("d").as("degree"))
          .orderBy(round(col("r"), 6).desc, col("keyword"))
          .limit(20)
      }),

    // Good-Turing frequency smoothing (Good Biometrika'53) — the
    // frequency-of-frequencies estimate r* = (r+1)·N_{r+1}/N_r that
    // reallocates mass to unseen events, THE classic LM smoothing
    // before KN (q312) and the standard "how much corpus is singleton
    // noise" audit. Over BIGRAMS (the corpus's unigram distribution is
    // near-uniform, so only the quadratic-sparsity bigram space has the
    // low-frequency tail GT is about). Pure integer counts from the
    // shared bigram agg + a freq-of-freq re-agg; one exact double ratio
    // per row, plus the unseen-mass estimate N_1/N on every row.
    Q("q351_good_turing", Q.sql(s"""
        $wordsCte,
        shr AS (
          SELECT ws[pos] AS w1, ws[pos+1] AS w2
          FROM w, LATERAL (SELECT unnest(generate_series(1, greatest(len(ws) - 1, 0))) AS pos) t),
        cnt AS (
          SELECT w1, w2, CAST(count(*) AS BIGINT) AS r FROM shr
          GROUP BY 1, 2),
        fof AS (
          SELECT r, CAST(count(*) AS BIGINT) AS nr FROM cnt GROUP BY 1),
        nn AS (
          SELECT CAST(sum(r * nr) AS BIGINT) AS n,
            CAST(sum(CASE WHEN r = 1 THEN nr ELSE 0 END) AS BIGINT) AS n1
          FROM fof)
        SELECT a.r, a.nr,
          round(CAST(a.r + 1 AS DOUBLE) * CAST(b.nr AS DOUBLE)
            / CAST(a.nr AS DOUBLE), 6) AS r_star,
          round(CAST(nn.n1 AS DOUBLE) / CAST(nn.n AS DOUBLE), 6)
            AS unseen_mass
        FROM fof a JOIN fof b ON b.r = a.r + 1, nn
        WHERE a.r <= 25
        ORDER BY a.r"""))(
      (s, dir) => {
        val toks = T(s, dir, "documents")
          .select(TextAnalysis.tokens(TextAnalysis.normalizeText(col("text")))
            .as("ws"))
        val pairs = toks
          .select(col("ws"), explode(
            when(size(col("ws")) >= 2, sequence(lit(1), size(col("ws")) - 1))
              .otherwise(array().cast("array<int>"))).as("pos"))
          .select(element_at(col("ws"), col("pos")).as("w1"),
            element_at(col("ws"), col("pos") + 1).as("w2"))
        val cnt = pairs.groupBy("w1", "w2")
          .agg(count(lit(1)).cast("long").as("r"))
        val fof = cnt.groupBy("r").agg(count(lit(1)).cast("long").as("nr"))
        val nn = fof.agg(sum(col("r") * col("nr")).cast("long").as("n"),
          sum(when(col("r") === 1, col("nr")).otherwise(0L)).cast("long")
            .as("n1"))
        fof.as("a")
          .join(fof.select((col("r") - 1).as("r"), col("nr").as("nr2")),
            Seq("r"))
          .where(col("r") <= 25)
          .crossJoin(broadcast(nn))
          .select(col("r"), col("nr"),
            round((col("r") + 1).cast("double") * col("nr2").cast("double")
              / col("nr").cast("double"), 6).as("r_star"),
            round(col("n1").cast("double") / col("n").cast("double"), 6)
              .as("unseen_mass"))
          .orderBy("r")
      }),

    // Empirical-Bayes beta-binomial shrinkage (Robbins '56; Efron &
    // Morris JASA'75): per-supplier return rates x_i/n_i shrunk toward
    // the corpus prior — method-of-moments Beta(α, β) fit from the
    // per-supplier rate mean/variance, then shrunk_i = (x_i+α)/(n_i+α+β).
    // The noisy-small-sample fix every per-source quality score needs
    // before it gates curation. Moments: per-supplier rates rounded at
    // 9 dp, squared, DECIMAL-summed — order-independent; α, β and each
    // shrunk rate are fixed-order double expressions. Top-10 by
    // |shrunk − raw| (the suppliers the prior saves), fully tie-broken.
    Q("q352_eb_shrinkage", Q.sql("""
        WITH s AS (
          SELECT l_suppkey AS sk,
            CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
              AS BIGINT) AS x,
            CAST(count(*) AS BIGINT) AS n
          FROM lineitem GROUP BY 1),
        r AS (
          SELECT sk, x, n,
            CAST(round(CAST(x AS DOUBLE) / CAST(n AS DOUBLE), 9)
              AS DECIMAL(28,9)) AS p
          FROM s),
        mo AS (
          SELECT CAST(count(*) AS BIGINT) AS k,
            CAST(sum(p) AS DOUBLE) AS sp,
            CAST(sum(CAST(round(CAST(p AS DOUBLE) * CAST(p AS DOUBLE), 9)
              AS DECIMAL(28,9))) AS DOUBLE) AS spp
          FROM r),
        ab AS (
          SELECT k, sp / k AS m,
            (spp - sp * sp / k) / (k - 1) AS v
          FROM mo),
        prior AS (
          SELECT m * (m * (1.0 - m) / v - 1.0) AS alpha,
            (1.0 - m) * (m * (1.0 - m) / v - 1.0) AS beta
          FROM ab)
        SELECT r.sk AS suppkey, r.x, r.n,
          round(CAST(r.p AS DOUBLE), 6) AS raw_rate,
          round((CAST(r.x AS DOUBLE) + pr.alpha)
            / (CAST(r.n AS DOUBLE) + pr.alpha + pr.beta), 6) AS shrunk_rate,
          round(pr.alpha, 6) AS alpha, round(pr.beta, 6) AS beta
        FROM r, prior pr
        ORDER BY abs(round(CAST(r.p AS DOUBLE), 6)
          - round((CAST(r.x AS DOUBLE) + pr.alpha)
            / (CAST(r.n AS DOUBLE) + pr.alpha + pr.beta), 6)) DESC, r.sk
        LIMIT 10"""))(
      (s, dir) => {
        val sup = T(s, dir, "lineitem")
          .groupBy(col("l_suppkey").as("sk"))
          .agg(sum(when(col("l_returnflag") === "R", 1).otherwise(0))
            .cast("long").as("x"),
            count(lit(1)).cast("long").as("n"))
        val r = sup.select(col("sk"), col("x"), col("n"),
          round(col("x").cast("double") / col("n").cast("double"), 9)
            .cast("decimal(28,9)").as("p"))
        val mo = r.agg(count(lit(1)).cast("long").as("k"),
          sum(col("p")).cast("double").as("sp"),
          sum(round(col("p").cast("double") * col("p").cast("double"), 9)
            .cast("decimal(28,9)")).cast("double").as("spp"))
        val prior = mo.select(
          (col("sp") / col("k")).as("m"),
          ((col("spp") - col("sp") * col("sp") / col("k"))
            / (col("k") - 1)).as("v"))
          .select(
            (col("m") * (col("m") * (lit(1.0) - col("m")) / col("v")
              - 1.0)).as("alpha"),
            ((lit(1.0) - col("m")) * (col("m") * (lit(1.0) - col("m"))
              / col("v") - 1.0)).as("beta"))
        val shrunk = (col("x").cast("double") + col("alpha")) /
          (col("n").cast("double") + col("alpha") + col("beta"))
        r.crossJoin(broadcast(prior))
          .select(col("sk").as("suppkey"), col("x"), col("n"),
            round(col("p").cast("double"), 6).as("raw_rate"),
            round(shrunk, 6).as("shrunk_rate"),
            round(col("alpha"), 6).as("alpha"),
            round(col("beta"), 6).as("beta"))
          .orderBy(abs(col("raw_rate") - col("shrunk_rate")).desc,
            col("suppkey"))
          .limit(10)
      }),

    // Dispersion / Fano burstiness index (Fano '47; Cox-Lewis '66
    // index of dispersion): var/mean of DAILY event counts per type —
    // Poisson traffic has D ≈ 1, bursty logs D ≫ 1 — the first-line
    // anomaly screen for ingestion volumes. Counts are exact integers;
    // both moments come from one DECIMAL(38,0) agg over the
    // calendar-bounded daily frame; D and the χ² = D·(n−1) statistic
    // are fixed-order doubles.
    Q("q353_fano_dispersion", Q.sql("""
        WITH d AS (
          SELECT event_type, CAST(ts AS DATE) AS day,
            CAST(count(*) AS BIGINT) AS c
          FROM events GROUP BY 1, 2),
        m AS (
          SELECT event_type, CAST(count(*) AS BIGINT) AS n,
            CAST(sum(c) AS BIGINT) AS sc,
            CAST(sum(CAST(c AS DECIMAL(38,0)) * c) AS DECIMAL(38,0)) AS scc
          FROM d GROUP BY 1)
        SELECT event_type, n, sc AS total_events,
          round((CAST(scc AS DOUBLE) - CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE)
              / CAST(n AS DOUBLE)) / CAST(n - 1 AS DOUBLE)
            / (CAST(sc AS DOUBLE) / CAST(n AS DOUBLE)), 6) AS fano_d,
          round((CAST(scc AS DOUBLE) - CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE)
              / CAST(n AS DOUBLE))
            / (CAST(sc AS DOUBLE) / CAST(n AS DOUBLE)), 6) AS chi2
        FROM m ORDER BY event_type"""))(
      (s, dir) => {
        val d = T(s, dir, "events")
          .groupBy(col("event_type"), to_date(col("ts")).as("day"))
          .agg(count(lit(1)).cast("long").as("c"))
        val m = d.groupBy("event_type")
          .agg(count(lit(1)).cast("long").as("n"),
            sum(col("c")).cast("long").as("sc"),
            sum(col("c").cast("decimal(38,0)") * col("c"))
              .cast("decimal(38,0)").as("scc"))
        val ssq = m("scc").cast("double") -
          (m("sc").cast("double") * m("sc").cast("double") /
            m("n").cast("double"))
        val mean = m("sc").cast("double") / m("n").cast("double")
        m.select(col("event_type"), col("n"), col("sc").as("total_events"),
            round(ssq / (col("n") - 1).cast("double") / mean, 6)
              .as("fano_d"),
            round(ssq / mean, 6).as("chi2"))
          .orderBy("event_type")
      }),

    // Huffman coding cost (Huffman Proc.IRE'52) vs Shannon entropy of
    // the event-type distribution: total Huffman cost = Σ internal
    // merge weights (unrolled greedy min-merges over the 5-symbol
    // frame, ties broken by weight then lexical min-label — EXACT
    // integer arithmetic end-to-end), expected bits/symbol = cost/N,
    // beside H = Σ −p·log2 p (rounded@9, DECIMAL-summed). The
    // compression-efficiency audit (H ≤ Huffman < H+1) for any
    // categorical column you'd dictionary-encode at 100 TB.
    Q("q354_huffman_cost", {
      // 5 symbols -> 4 greedy merges; each round: rank the pool by
      // (weight, label) via a pool-sized self-join count (labels are
      // unique by construction: merged nodes take the pair's min label,
      // which leaves the pool with them — no global window needed),
      // merge the two smallest into (w1+w2, min-label), keep the rest.
      val merge = (from: String, to: String) => s"""
        $to AS (
          SELECT a.w, a.lbl,
            CASE WHEN 1 + sum(CASE WHEN b.w < a.w
                OR (b.w = a.w AND b.lbl < a.lbl) THEN 1 ELSE 0 END) <= 2
              THEN 0 ELSE 1 END AS grp
          FROM $from a, $from b GROUP BY a.w, a.lbl),
        ${to}m AS (
          SELECT CAST(sum(w) AS BIGINT) AS w, min(lbl) AS lbl
          FROM $to WHERE grp = 0
          UNION ALL SELECT w, lbl FROM $to WHERE grp = 1)"""
      Q.sql(s"""
        WITH f AS (
          SELECT event_type AS lbl, CAST(count(*) AS BIGINT) AS w
          FROM events GROUP BY 1),
        base AS (SELECT w, lbl FROM f),
        ${merge("base", "s1")}, ${merge("s1m", "s2")},
        ${merge("s2m", "s3")}, ${merge("s3m", "s4")},
        cost AS (
          SELECT (SELECT CAST(sum(w) AS BIGINT) FROM s1 WHERE grp = 0)
            + (SELECT CAST(sum(w) AS BIGINT) FROM s2 WHERE grp = 0)
            + (SELECT CAST(sum(w) AS BIGINT) FROM s3 WHERE grp = 0)
            + (SELECT CAST(sum(w) AS BIGINT) FROM s4 WHERE grp = 0)
            AS total_bits),
        nn AS (SELECT CAST(sum(w) AS BIGINT) AS n FROM f),
        ent AS (
          SELECT CAST(sum(CAST(round(
            -(CAST(w AS DOUBLE) / nn.n)
              * log2(CAST(w AS DOUBLE) / nn.n), 9) AS DECIMAL(28,9)))
            AS DOUBLE) AS h
          FROM f, nn)
        SELECT f.lbl AS event_type, f.w AS count,
          c.total_bits,
          round(CAST(c.total_bits AS DOUBLE) / CAST(nn.n AS DOUBLE), 6)
            AS huffman_bits_per_symbol,
          round(ent.h, 6) AS shannon_entropy
        FROM f, cost c, nn, ent
        ORDER BY event_type""")
    })(
      (s, dir) => {
        // the symbol frame is model-sized (5 rows) but every merge round
        // references its pool TWICE (crossJoin sides) and the cost/entropy
        // branches re-reference earlier rounds — without per-round
        // barriers the physical plan doubles per round (measured: 10,573
        // plan lines / 758 Exchanges, 3.9 s steady at sf0.001). One
        // eager localCheckpoint per tiny frame keeps the plan flat and
        // scans events exactly once (the BpeTrain round-barrier pattern).
        val f = graft.ops.Frames.materialize(T(s, dir, "events")
          .groupBy(col("event_type").as("lbl"))
          .agg(count(lit(1)).cast("long").as("w"))
          .coalesce(1))
        // greedy merges on the model-sized symbol frame: each round
        // ranks via a broadcast self-join count (no global window),
        // splits rank<=2 / rest, sums the merged pair's weight into the
        // running cost, and reinserts (w1+w2, min-label)
        def mergeRound(df: DataFrame): (DataFrame, DataFrame) = {
          val other = broadcast(
            df.select(col("w").as("w2"), col("lbl").as("lbl2")))
          val rk = graft.ops.Frames.materialize(df.crossJoin(other)
            .groupBy("w", "lbl")
            .agg((sum(when(col("w2") < col("w")
              || (col("w2") === col("w") && col("lbl2") < col("lbl")), 1)
              .otherwise(0)) + 1).as("rk"))
            .coalesce(1))
          val merged = rk.where(col("rk") <= 2)
            .agg(sum(col("w")).cast("long").as("w"), min(col("lbl")).as("lbl"))
          val rest = rk.where(col("rk") > 2).select("w", "lbl")
          (merged.unionByName(rest), merged.select(col("w").as("bits")))
        }
        val (s1, c1) = mergeRound(f)
        val (s2, c2) = mergeRound(s1)
        val (s3, c3) = mergeRound(s2)
        val (_, c4) = mergeRound(s3)
        val cost = c1.unionByName(c2).unionByName(c3).unionByName(c4)
          .agg(sum(col("bits")).cast("long").as("total_bits"))
        val nn = f.agg(sum(col("w")).cast("long").as("n"))
        val ent = f.crossJoin(broadcast(nn))
          .select(round(-(col("w").cast("double") / col("n"))
            * log2(col("w").cast("double") / col("n")), 9)
            .cast("decimal(28,9)").as("t"))
          .agg(sum(col("t")).cast("double").as("h"))
        f.crossJoin(broadcast(cost)).crossJoin(broadcast(nn))
          .crossJoin(broadcast(ent))
          .select(col("lbl").as("event_type"), col("w").as("count"),
            col("total_bits"),
            round(col("total_bits").cast("double")
              / col("n").cast("double"), 6).as("huffman_bits_per_symbol"),
            round(col("h"), 6).as("shannon_entropy"))
          .orderBy("event_type")
      })
  )
}
