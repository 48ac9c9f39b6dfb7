package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.{load => T}
import graft.functions.PortableSql
import graft.ops.{Frames, LogReg}
import graft.text.{BpeTrain, TextAnalysis}

/** Round-16 widening: the LEARNED side of the curation stack — three
  * operators a training-data pipeline runs to fit its own knobs from
  * the corpus rather than hand-setting them:
  *
  *  - q489 BPE merge-rule learning (Sennrich et al. ACL'16) — the
  *    tokenizer trainer, on the vocab-collapse trick that makes it one
  *    data-sized pass + vocab-sized rounds;
  *  - q490 quality-classifier training (distributed batch-GD logistic
  *    regression distilling a heuristic rule label into a linear
  *    scorer — the GPT-3/CCNet quality-filter shape), with a
  *    distributed z-score standardization stage in front (raw-scale
  *    surface features leave batch GD ill-conditioned);
  *  - q491 α-temperature mixture weights (the multilingual sampling
  *    law of GPT-3/XLM-R: w_i ∝ p_i^α) at α = 1/2, where the power is
  *    `sqrt` — a correctly-rounded IEEE op, exact on both engines.
  *
  * Engine-parity protocol is q487's: integer/count frames are built
  * per-dialect (results identical by construction), and every
  * floating-point stage downstream is ONE generated string evaluated
  * verbatim by both engines, with per-row terms rounded@9 through the
  * shared floor ladder and summed in exact DECIMAL(38,9).
  */
object PipelineLearnQueries {

  // ---------------------------------------------------------------- q489

  private val BpeRounds = 4

  /** DuckDB mirror of [[BpeTrain]]: same normalize/vocab/pair/argmax/
    * merge arithmetic, unrolled as one CTE chain per round. DuckDB
    * dialect upstream (string_split / unnest / len); the merge is the
    * identical [[BpeTrain.MergePasses]]-pass literal replace chain.
    */
  private def bpeOracle: Option[String] = {
    def pairs(wv: String, pv: String) =
      s"""$pv AS (
        SELECT l[i] || ' ' || l[i+1] AS pair, CAST(sum(wc) AS BIGINT) AS cnt
        FROM (SELECT unnest(generate_series(1, len(l)-1)) AS i, l, wc
              FROM (SELECT string_split(w, ' ') AS l, wc FROM $wv))
        GROUP BY 1)"""
    def best(pv: String, bv: String) =
      s"$bv AS (SELECT pair, cnt FROM $pv ORDER BY cnt DESC, pair LIMIT 1)"
    def merge(wv: String, bv: String, nv: String) = {
      val pat = "' ' || pair || ' '"
      val rep = "' ' || replace(pair, ' ', '') || ' '"
      var e = "' ' || w || ' '"
      for (_ <- 1 to BpeTrain.MergePasses) e = s"replace($e, $pat, $rep)"
      s"$nv AS (SELECT trim($e) AS w, wc FROM $wv, $bv)"
    }
    def tok(wv: String, tv: String) =
      s"""$tv AS (SELECT CAST(sum(wc * len(string_split(w, ' ')))
        AS BIGINT) AS tok FROM $wv)"""
    val w0 =
      """w0 AS (
        SELECT trim(regexp_replace(word, '(.)', '\1 ', 'g')) AS w,
          CAST(count(*) AS BIGINT) AS wc
        FROM (SELECT unnest(string_split(
            lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ')) AS word
          FROM documents)
        WHERE word <> '' AND regexp_matches(word, '^[a-z]+$')
        GROUP BY 1)"""
    val ctes = Seq.newBuilder[String]
    val arms = Seq.newBuilder[String]
    ctes += w0
    for (r <- 1 to BpeRounds) {
      ctes += pairs(s"w${r - 1}", s"p$r")
      ctes += best(s"p$r", s"b$r")
      ctes += merge(s"w${r - 1}", s"b$r", s"w$r")
      ctes += tok(s"w$r", s"t$r")
      arms += s"""SELECT CAST($r AS BIGINT) AS round,
        string_split(pair, ' ')[1] AS sym_a,
        string_split(pair, ' ')[2] AS sym_b,
        cnt AS pair_cnt,
        (SELECT tok FROM t$r) AS vocab_tokens FROM b$r"""
    }
    Q.sql("WITH " + ctes.result().mkString(", ") +
      " SELECT * FROM (" + arms.result().mkString(" UNION ALL ") +
      ") ORDER BY round")
  }

  // ---------------------------------------------------------------- q490

  /** Portable whitespace token count of the single-spaced norm (spaces
    * + 1), guarded to 1 on an empty doc so the ratio features never
    * divide by zero. Pure length/replace arithmetic — integer-exact on
    * both engines.
    */
  private def tokenCountCol(norm: Column): Column =
    when(norm === "", 1)
      .otherwise(length(norm) -
        length(call_function("replace", norm, lit(" "), lit(""))) + 1)
      .cast("int")

  private val EnMarkers = Seq(" the ", " a ", " of ")

  // shared float ladder, downstream of the per-engine integer frame
  // fi(t, mke, ch)
  private val x1Raw =
    PortableSql.round("(CAST(mke AS DOUBLE) / CAST(t AS DOUBLE))", 6)
  private val x2Raw =
    PortableSql.round("(CAST(ch AS DOUBLE) / CAST(t AS DOUBLE))", 6)

  /** Heuristic rule label being distilled: marker density ≥ 0.05 (the
    * q32-style en-stopword rule). Thresholded on the ROUNDED feature so
    * the comparison runs on a bit-identical double.
    */
  private val yDef =
    s"(CASE WHEN ($x1Raw) >= CAST(0.05 AS DOUBLE)" +
      " THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END)"

  private val frCols =
    Seq(s"$x1Raw AS x1", s"$x2Raw AS x2", s"$yDef AS y")
  private val fr2Cols = Seq("x1", "x2", "y",
    PortableSql.round("(x1 * x1)", 9) + " AS q1",
    PortableSql.round("(x2 * x2)", 9) + " AS q2")

  private def sumDec(c: String, as: String) =
    s"CAST(sum(CAST($c AS DECIMAL(38,9))) AS DOUBLE) AS $as"
  private val st0Cols = Seq("CAST(count(1) AS DOUBLE) AS n",
    sumDec("x1", "sx1"), sumDec("q1", "sq1"),
    sumDec("x2", "sx2"), sumDec("q2", "sq2"))

  /** One-pass mean/sd: m = Σx/n, sd = √(Σx²/n − m²) with the rounded m
    * reused verbatim and the radicand floored at 0 (constant column →
    * sd 0, routed to the ELSE-0 standardization branch).
    */
  private def mDef(sx: String) = PortableSql.round(s"($sx / n)", 9)
  private def sdDef(sx: String, sq: String) = PortableSql.round(
    s"sqrt(greatest((($sq / n) - (${mDef(sx)} * ${mDef(sx)}))," +
      " CAST(0 AS DOUBLE)))", 9)
  private val stCols = Seq(
    s"${mDef("sx1")} AS m1", s"${sdDef("sx1", "sq1")} AS sd1",
    s"${mDef("sx2")} AS m2", s"${sdDef("sx2", "sq2")} AS sd2")

  private def zScore(x: String, m: String, sd: String) = PortableSql.round(
    s"(CASE WHEN $sd > CAST(0 AS DOUBLE) THEN (($x - $m) / $sd)" +
      s" ELSE CAST(0 AS DOUBLE) END)", 6)
  private val f2Cols = Seq("y",
    s"${zScore("x1", "m1", "sd1")} AS x1",
    s"${zScore("x2", "m2", "sd2")} AS x2")

  /** η = 8 (integer literal — renders identically on both engines; the
    * largest stable step for these standardized features, probed on the
    * fixture: 16 oscillates).
    */
  private val EtaLit = "CAST(8 AS DOUBLE)"
  private val GdIters = 3

  private def logRegOracle: Option[String] = {
    val carried = "y, x1, x2, pw0, pw1, pw2"
    def iter(k: Int, prevW: String) = {
      val inner =
        s"SELECT $carried, ${LogReg.ZDef} AS z FROM f2, $prevW"
      val mid = s"SELECT $carried, ${LogReg.SigDef} AS sig FROM ($inner)"
      s"""gr$k AS (SELECT $carried,
          ${(0 to 2).map(LogReg.gDef).mkString(", ")} FROM ($mid)),
        wt$k AS (SELECT ${(0 to 2).map(LogReg.wUp(_, EtaLit)).mkString(", ")}
          FROM gr$k),
        ac$k AS (SELECT ${LogReg.AccDef}
          FROM (SELECT y, ${LogReg.ZDef} AS z FROM f2, wt$k))"""
    }
    val arms = (1 to GdIters).map { k =>
      s"""SELECT CAST($k AS BIGINT) AS iter, pw0 AS w0, pw1 AS w1,
        pw2 AS w2, n_correct FROM wt$k, ac$k"""
    }
    Q.sql(s"""
      WITH nrm AS (
        SELECT lower(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS norm
        FROM documents),
      fi AS (
        SELECT CASE WHEN norm = '' THEN 1
            ELSE length(norm) - length(replace(norm, ' ', '')) + 1 END AS t,
          (${EnMarkers.map(PortableSql.countOccurrences("p", _))
            .mkString(" + ")}) AS mke,
          length(norm) AS ch
        FROM (SELECT norm, ' ' || norm || ' ' AS p FROM nrm)),
      fr AS (SELECT ${frCols.mkString(", ")} FROM fi),
      fr2 AS (SELECT ${fr2Cols.mkString(", ")} FROM fr),
      st0 AS (SELECT ${st0Cols.mkString(", ")} FROM fr2),
      st AS (SELECT ${stCols.mkString(", ")} FROM st0),
      f2 AS (SELECT ${f2Cols.mkString(", ")} FROM fr2, st),
      wt0 AS (SELECT CAST(0 AS DOUBLE) AS pw0, CAST(0 AS DOUBLE) AS pw1,
        CAST(0 AS DOUBLE) AS pw2),
      ${(1 to GdIters).map(k => iter(k, s"wt${k - 1}")).mkString(", ")}
      SELECT * FROM (${arms.mkString(" UNION ALL ")}) ORDER BY iter""")
  }

  // ---------------------------------------------------------------- q491

  /** α = 1/2 mixture ladder, downstream of the per-engine integer frame
    * m(lang, n_docs, toks) and its 1-row total tt.
    */
  private val sqDef = PortableSql.round(
    "sqrt(CAST(toks AS DOUBLE) / CAST(tt AS DOUBLE))", 9)
  private val mixFinal = Seq("lang", "n_docs", "toks",
    PortableSql.round("(CAST(toks AS DOUBLE) / CAST(tt AS DOUBLE))", 9)
      + " AS p_corpus",
    PortableSql.round("(sq / zs)", 9) + " AS w_alpha",
    PortableSql.round(
      "(((sq / zs) * CAST(tt AS DOUBLE)) / CAST(toks AS DOUBLE))", 6)
      + " AS epochs")

  def all: Seq[Q] = Seq(

    // BPE merge-rule learning over the documents corpus: the 4 learned
    // merges with their weighted pair counts and the corpus token count
    // after each (the tokenizer trainer's compression curve). Scale
    // shape: ONE data-sized hash-agg collapses the corpus to its
    // (word, count) vocabulary; every round after that is a vocab-sized
    // agg + a 1-row argmax collect (the model) + a literal replace —
    // Sennrich's trick, unchanged at 100 TB where |vocab| ≪ corpus.
    Q("q489_bpe_merges", bpeOracle)(
      (s, dir) => {
        val merges = BpeTrain.learn(
          BpeTrain.wordVocab(T(s, dir, "documents"), col("text")),
          BpeRounds)
        s.createDataFrame(merges)
          .toDF("round", "sym_a", "sym_b", "pair_cnt", "vocab_tokens")
          .orderBy("round")
      }),

    // Quality-classifier training: distill the marker-density rule
    // label into a linear scorer by 3 batch-GD iterations over z-scored
    // surface features. Per iteration: one hash-agg of rounded gradient
    // terms + two 1-row broadcast attaches — nothing data-sized leaves
    // the executors, and the same shape is one partial/final agg per
    // iteration at 100 TB. Output: weights + training accuracy per
    // iteration (monotone on this fixture: the convergence record).
    Q("q490_quality_logreg", logRegOracle)(
      (s, dir) => {
        val norm = TextAnalysis.normalizeText(col("text"))
        val pad = concat(lit(" "), norm, lit(" "))
        def occ(n: String) = TextAnalysis.countOccurrences(pad, n)
        val fi = T(s, dir, "documents").select(
          tokenCountCol(norm).as("t"),
          EnMarkers.map(occ).reduce(_ + _).cast("int").as("mke"),
          length(norm).as("ch"))
        val fr2 = Frames.cached(
          fi.selectExpr(frCols: _*).selectExpr(fr2Cols: _*))
        val st = fr2.agg(expr(st0Cols.head), st0Cols.tail.map(expr): _*)
          .selectExpr(stCols: _*)
        // 1-row stats frame (aggregate → maxRows = 1), broadcast attach
        val f2 = fr2.crossJoin(broadcast(st)).selectExpr(f2Cols: _*)
        LogReg.fit(s, f2, EtaLit, GdIters)
      }),

    // α-temperature mixture weights (α = 1/2): per language, corpus
    // share p_i, sampling weight w_i = √p_i / Σ√p_j, and the implied
    // epochs over each slice at a one-pass token budget — upsampling
    // low-resource languages (epochs > 1) and downsampling the head.
    // Scale shape: one data-sized hash-agg to |langs| rows; everything
    // downstream is domain-bounded ladder arithmetic (√ is a correctly-
    // rounded IEEE op — the reason for α = 1/2 over a transcendental
    // pow).
    Q("q491_alpha_mixture", Q.sql(s"""
        WITH d AS (
          SELECT lang, CASE WHEN norm = '' THEN 1
            ELSE length(norm) - length(replace(norm, ' ', '')) + 1 END AS t
          FROM (SELECT lang,
            lower(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS norm
            FROM documents)),
        m AS (SELECT lang, CAST(count(1) AS BIGINT) AS n_docs,
          CAST(sum(t) AS BIGINT) AS toks FROM d GROUP BY 1),
        tot AS (SELECT CAST(sum(toks) AS BIGINT) AS tt FROM m),
        s AS (SELECT lang, n_docs, toks, tt, $sqDef AS sq FROM m, tot),
        z AS (SELECT CAST(sum(CAST(sq AS DECIMAL(38,9))) AS DOUBLE) AS zs
          FROM s)
        SELECT ${mixFinal.mkString(", ")} FROM s, z ORDER BY lang"""))(
      (s, dir) => {
        val norm = TextAnalysis.normalizeText(col("text"))
        val d = T(s, dir, "documents")
          .select(col("lang"), tokenCountCol(norm).as("t"))
        val m = Frames.cached(d.groupBy("lang").agg(
          count(lit(1)).cast("long").as("n_docs"),
          sum("t").cast("long").as("toks")))
        val tot = m.agg(sum("toks").cast("long").as("tt"))
        // |langs|-row frame × its own 1-row total: broadcast attach
        val sq = Frames.cached(
          m.crossJoin(broadcast(tot))
            .selectExpr("lang", "n_docs", "toks", "tt", s"$sqDef AS sq"))
        val z = sq.agg(
          expr("CAST(sum(CAST(sq AS DECIMAL(38,9))) AS DOUBLE) AS zs"))
        sq.crossJoin(broadcast(z))
          .selectExpr(mixFinal: _*)
          .orderBy("lang")
      }))
}
