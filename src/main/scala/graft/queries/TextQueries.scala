package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.{load => T}
import graft.functions.PortableSql
import graft.ops.Sampling
import graft.text.TextAnalysis

/** North-star text-analysis queries over `documents`: token counting,
  * language ID, quality scoring, fingerprinting (BASELINE.json north-star;
  * SURVEY §7 step 8).
  *
  * Oracle parity: DuckDB `regexp_replace` needs the explicit 'g' flag
  * (Spark's is always global); marker counting uses the portable
  * replace-length trick so no regex dialect is involved in scoring.
  */
object TextQueries {

  /** DuckDB expression for the normalized text form
    * ([[TextAnalysis.normalizeText]]).
    */
  private val normSql = "lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))"
  private val paddedSql = s"(' ' || $normSql || ' ')"

  private def langScoreSql(lang: String): String =
    TextAnalysis.LangMarkers.toMap.apply(lang)
      .map(m => PortableSql.countOccurrences(paddedSql, m))
      .mkString("(", " + ", ")")

  /** CTE chain of the corpus-curation pipeline (q50 / `Corpus.curate`):
    * exact dedup survivors → language + quality scoring → serving filter,
    * ending in `curated(doc_id, n_tokens, quality)`. Shared by q50 and
    * the q61 export capstone.
    */
  private val corpusCurateCtes: String = {
    val maxExpr = TextAnalysis.LangMarkers
      .map { case (l, _) => s"score_$l" }
      .mkString("greatest(", ", ", ")")
    val caseArms = TextAnalysis.LangMarkers.map { case (l, _) =>
      s"WHEN mx > 0 AND score_$l = mx THEN '$l'"
    }.mkString(" ")
    val scores = TextAnalysis.LangMarkers.map { case (l, _) =>
      s"${langScoreSql(l)} AS score_$l"
    }.mkString(", ")
    s"""keep AS (
          SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5($normSql)),
        surv AS (
          SELECT * FROM documents WHERE doc_id IN (SELECT doc_id FROM keep)),
        scored AS (
          SELECT doc_id, $maxExpr AS mx,
            CASE $caseArms ELSE 'und' END AS lang_pred,
            n_tokens,
            round(least(n_tokens / 100.0, 1.0) * 0.4
              + (alpha / n_chr) * 0.4
              + (1.0 - least(symbols * 5.0 / n_chr, 1.0)) * 0.2, 6) AS quality
          FROM (
            SELECT doc_id, $scores,
              CAST(len(string_split_regex(trim(text), '\\s+')) AS INT) AS n_tokens,
              CAST(length(text) AS DOUBLE) AS n_chr,
              CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) AS alpha,
              CAST(length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) AS DOUBLE) AS symbols
            FROM surv) raw),
        curated AS (
          SELECT doc_id, n_tokens, quality
          FROM scored
          WHERE lang_pred = 'en' AND quality >= 0.5)"""
  }

  def all: Seq[Q] = Seq(

    // Token counting: whitespace tokens + BPE-ish subword count.
    Q("q30_token_stats", Q.sql("""
        SELECT doc_id,
          CAST(len(string_split_regex(trim(text), '\s+')) AS INT) AS n_tokens,
          CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS INT) AS n_bpeish,
          length(text) AS n_chars_measured
        FROM documents
        ORDER BY doc_id"""))(
      (s, dir) =>
        T(s, dir, "documents")
          .select(col("doc_id"),
            TextAnalysis.tokenCount(col("text")).as("n_tokens"),
            TextAnalysis.bpeishCount(col("text")).as("n_bpeish"),
            length(col("text")).cast("int").as("n_chars_measured"))
          .orderBy("doc_id")),

    // Language ID: marker-occurrence argmax with fixed tie-break order.
    Q("q31_lang_id", {
      val scores = TextAnalysis.LangMarkers.map { case (l, _) =>
        s"${langScoreSql(l)} AS score_$l"
      }.mkString(", ")
      val maxExpr = TextAnalysis.LangMarkers
        .map { case (l, _) => s"score_$l" }
        .mkString("greatest(", ", ", ")")
      val caseArms = TextAnalysis.LangMarkers.map { case (l, _) =>
        s"WHEN mx > 0 AND score_$l = mx THEN '$l'"
      }.mkString(" ")
      Q.sql(s"""
        SELECT doc_id, lang, lang_pred, score_en, score_es, score_de, score_fr
        FROM (
          SELECT doc_id, lang, $maxExpr AS mx,
            CASE $caseArms ELSE 'und' END AS lang_pred,
            score_en, score_es, score_de, score_fr
          FROM (SELECT doc_id, lang, $scores FROM documents) raw) scored
        ORDER BY doc_id""")
    })(
      (s, dir) => {
        // normalize+pad hoisted into ONE projected column; scores projected
        // as attributes before langId references them (~2× each). Inlining
        // instead re-normalizes per marker and blows the codegen JIT limit.
        val langs = TextAnalysis.LangMarkers.map(_._1)
        val padded = T(s, dir, "documents")
          .repartition(s.sparkContext.defaultParallelism)
          .withColumn("__pad",
            TextAnalysis.padNorm(TextAnalysis.normalizeText(col("text"))))
        val scored = langs.foldLeft(padded) { (d, l) =>
          d.withColumn(s"score_$l",
            TextAnalysis.langScoreFromPadded(col("__pad"), l))
        }
        scored
          .withColumn("lang_pred", TextAnalysis.langIdFromScores(
            langs.map(l => l -> col(s"score_$l"))))
          .select(Seq(col("doc_id"), col("lang"), col("lang_pred")) ++
            langs.map(l => col(s"score_$l")): _*)
          .orderBy("doc_id")
      }),

    // Quality scoring: saturating-length + alpha-density - symbol-density.
    Q("q32_quality_score", Q.sql("""
        SELECT doc_id, n_tokens,
          round(least(n_tokens / 100.0, 1.0) * 0.4
            + (alpha / n_chr) * 0.4
            + (1.0 - least(symbols * 5.0 / n_chr, 1.0)) * 0.2, 6) AS quality
        FROM (
          SELECT doc_id,
            CAST(len(string_split_regex(trim(text), '\s+')) AS INT) AS n_tokens,
            CAST(length(text) AS DOUBLE) AS n_chr,
            CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) AS alpha,
            CAST(length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) AS DOUBLE) AS symbols
          FROM documents) t
        ORDER BY doc_id"""))(
      (s, dir) =>
        T(s, dir, "documents")
          .select(col("doc_id"),
            TextAnalysis.tokenCount(col("text")).as("n_tokens"),
            TextAnalysis.qualityScore(col("text")).as("quality"))
          .orderBy("doc_id")),

    // Deterministic content fingerprint (rolling-hash role, md5-based so
    // both engines agree).
    Q("q33_fingerprint", Q.sql(s"""
        SELECT doc_id, md5($normSql) AS fp
        FROM documents
        ORDER BY doc_id"""))(
      (s, dir) =>
        T(s, dir, "documents")
          .select(col("doc_id"),
            TextAnalysis.fingerprint(col("text")).as("fp"))
          .orderBy("doc_id")),

    // Rabin-Karp rolling-hash fingerprint over the normalized text — the
    // streaming-hash counterpart to q33's md5 (custom codegen expression;
    // oracle folds the identical polynomial with list_reduce).
    // Winnowing fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD'03 —
    // the MOSS algorithm): per document, hash every 4-token k-gram, then
    // keep the MINIMUM hash of each sliding window of w=4 consecutive
    // k-grams (packed as h·4096+pos so min() alone selects hash-then-
    // leftmost-position — one deterministic BIGINT op, no argmin
    // tiebreak ambiguity; start-of-doc windows are frame-truncated, so
    // every non-empty doc fingerprints). Guarantees: any shared run of
    // ≥ w+k−1 tokens shares a fingerprint, expected density 2/(w+1) —
    // the sublinear fingerprint index a plagiarism/mirror detector
    // builds INSTEAD of indexing every k-gram. Windows partition by doc.
    // Positions pack below the 48-bit hash with multiplier 2^15 — the
    // exact headroom a 63-bit positive long leaves ((2^48-1)*2^15 +
    // 32767 = 2^63-1) — and a GUARDED branch raises on pos >= 32768 in
    // BOTH engines, so an oversized doc fails loudly instead of
    // fingerprinting wrong (shard longer docs before fingerprinting).
    Q("q295_winnowing", Q.sql(s"""
        WITH w AS (
          SELECT doc_id AS id,
            string_split($normSql, ' ') AS ws
          FROM documents),
        kg AS (
          SELECT id, pos,
            ${PortableSql.hexToLong(
              "md5(ws[pos] || ' ' || ws[pos+1] || ' ' || ws[pos+2] || ' ' || ws[pos+3])",
              12)} AS h
          FROM w, LATERAL (
            SELECT unnest(generate_series(1, greatest(len(ws) - 3, 0))) AS pos) t),
        sel AS (
          SELECT id, min(CASE WHEN pos < 32768 THEN h * 32768 + pos
            ELSE error('winnowing: doc exceeds 32767 k-grams; shard it')
            END) OVER (
            PARTITION BY id ORDER BY pos
            ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS m
          FROM kg),
        fp AS (SELECT DISTINCT id, m FROM sel),
        nk AS (SELECT id, count(*) AS n_kgrams FROM kg GROUP BY 1),
        nf AS (SELECT id, count(*) AS n_fps FROM fp GROUP BY 1)
        SELECT nk.id AS doc_id, nk.n_kgrams, nf.n_fps,
          round(nf.n_fps * 1.0 / nk.n_kgrams, 6) AS density
        FROM nk JOIN nf ON nf.id = nk.id
        ORDER BY doc_id"""))(
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        // tokenize in a SEPARATE projection: an expression referenced
        // inside a transform() lambda is re-evaluated per element — the
        // lambda below must see `ws` as a bound attribute, or the
        // regex tokenizer runs O(tokens) times per doc
        val toks = T(s, dir, "documents")
          .select(col("doc_id").as("id"),
            TextAnalysis.tokens(TextAnalysis.normalizeText(col("text")))
              .as("ws"))
        // cached: both the fingerprint window and the k-gram census read
        // this frame — without the barrier the explode pipeline runs twice
        val kg = graft.ops.Frames.cached(toks
          .select(col("id"),
            posexplode(transform(
              // sequence(1,0) would step BACKWARD in Spark — emit an
              // explicit empty array for docs under k tokens (DuckDB's
              // generate_series(1,0) is empty)
              when(size(col("ws")) >= 4, sequence(lit(1), size(col("ws")) - 3))
                .otherwise(array().cast("array<int>")),
              i => concat_ws(" ", slice(col("ws"), i, lit(4)))))
              .as(Seq("pos0", "shingle")))
          .select(col("id"), (col("pos0") + 1).as("pos"),
            graft.functions.Hashing.hash48(col("shingle")).as("h")))
        val win = Window.partitionBy("id").orderBy("pos").rowsBetween(-3, 0)
        val packed = when(col("pos") < 32768, col("h") * 32768 + col("pos"))
          .otherwise(raise_error(
            lit("winnowing: doc exceeds 32767 k-grams; shard it")).cast("long"))
        val fp = kg
          .select(col("id"), min(packed).over(win).as("m"))
          .distinct()
        val nk = kg.groupBy("id").agg(count(lit(1)).as("n_kgrams"))
        val nf = fp.groupBy("id").agg(count(lit(1)).as("n_fps"))
        nk.join(nf, "id")
          .select(col("id").as("doc_id"), col("n_kgrams"), col("n_fps"),
            round(col("n_fps") * 1.0 / col("n_kgrams"), 6).as("density"))
          .orderBy("doc_id")
      }),

    Q("q51_rolling_hash", Q.sql(s"""
        SELECT doc_id, list_reduce(
          list_prepend(CAST(0 AS BIGINT),
            list_transform(regexp_extract_all($normSql, '.'),
              c -> CAST(unicode(c) AS BIGINT))),
          (h, c) -> (h * 31 + c) % 1000000007) AS rh
        FROM documents
        ORDER BY doc_id"""))(
      (s, dir) =>
        T(s, dir, "documents")
          .select(col("doc_id"),
            graft.functions.RollingHash.rollingHash(
              TextAnalysis.normalizeText(col("text"))).as("rh"))
          .orderBy("doc_id")),

    // Capstone: the training-corpus preparation pipeline composed
    // end-to-end — exact dedup (survivor = min doc_id per content hash),
    // language filter (en), quality floor, token stats out. Every stage
    // is the oracle-checked primitive from q31-q34, so the composition
    // is verified as a whole.
    Q("q50_corpus_pipeline", Q.sql(s"""
        WITH $corpusCurateCtes
        SELECT doc_id, n_tokens, quality
        FROM curated
        ORDER BY doc_id"""))(
      (s, dir) =>
        // The pipeline is library API — [[graft.pipelines.Corpus]] owns
        // the scale shape (spread scan, shared normalized-text column,
        // semi-join dedup, persisted scoring boundary); this query is its
        // oracle check.
        graft.pipelines.Corpus.curate(T(s, dir, "documents"))
          .orderBy("doc_id"))
          ,

    // The SAME curation pipeline as a Structured-Streaming job, proven
    // equal to q50's batch oracle: documents arrive as a stream, per-row
    // scoring (fingerprint/lang/quality) is stateless, and exact dedup
    // becomes a streaming per-fingerprint aggregation in Complete mode.
    // Copies share identical text, so min() over every copy equals the
    // batch min-id-survivor's values regardless of arrival order or
    // partitioning — no first-row-wins nondeterminism. At cluster scale
    // the same pipeline runs unbounded with the memory sink swapped for
    // a real one; the transform graph is unchanged.
    Q("q261_stream_curate", Q.sql(s"""
        WITH $corpusCurateCtes
        SELECT doc_id, n_tokens, quality
        FROM curated
        ORDER BY doc_id"""))(
      (s, dir) => {
        val src = graft.streaming.StreamRun.tableStream(s, dir, "documents")
        val scored = src.select(
          col("doc_id"),
          md5(TextAnalysis.normalizeText(col("text")).cast("binary")).as("fp"),
          TextAnalysis.langId(col("text")).as("lang_pred"),
          TextAnalysis.tokenCount(col("text")).as("n_tokens"),
          TextAnalysis.qualityScore(col("text")).as("quality"))
        // ONE min over the (doc_id-first) struct, not independent mins:
        // the survivor's fields travel atomically, so the result is the
        // min-id copy's scores even if same-fingerprint duplicates ever
        // carried different raw text (fingerprint normalization is
        // lossier than the raw text the scores are computed on)
        val perFp = scored.groupBy("fp").agg(
          min(struct(col("doc_id"), col("lang_pred"), col("n_tokens"),
            col("quality"))).as("m"))
        graft.streaming.StreamRun.runToTable("q261_sink", perFp,
            org.apache.spark.sql.streaming.OutputMode.Complete())
          .select(col("m.doc_id").as("doc_id"), col("m.lang_pred").as("lang_pred"),
            col("m.n_tokens").as("n_tokens"), col("m.quality").as("quality"))
          .where(col("lang_pred") === "en" && col("quality") >= 0.5)
          .select("doc_id", "n_tokens", "quality")
          .orderBy("doc_id")
      }),

    // TF-IDF keyword extraction: top-5 terms per document by
    // tf · ln(N/df), rounded to 6 decimals BEFORE ranking so ties break
    // on the token identically in both engines.
    Q("q55_tfidf_keywords", Q.sql(s"""
        WITH toks AS (
          SELECT doc_id AS id, unnest(string_split_regex($normSql, '\\s+')) AS tok
          FROM documents),
        tfq AS (SELECT id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
        dfq AS (SELECT tok, count(*) AS df_docs FROM tfq GROUP BY 1),
        nq AS (SELECT count(*) AS n_docs FROM documents),
        scored AS (
          SELECT id, tfq.tok AS tok, tf, df_docs,
            round(tf * ln(CAST(n_docs AS DOUBLE) / df_docs), 6) AS tfidf
          FROM tfq JOIN dfq ON tfq.tok = dfq.tok CROSS JOIN nq)
        SELECT id, tok, tf, df_docs, tfidf, rank FROM (
          SELECT scored.*, CAST(row_number() OVER (
            PARTITION BY id ORDER BY tfidf DESC, tok) AS INT) AS rank
          FROM scored) ranked
        WHERE rank <= 5
        ORDER BY id, rank"""))(
      (s, dir) =>
        graft.text.TfIdf.topKeywords(
            T(s, dir, "documents"), col("doc_id"), col("text"), k = 5)
          .orderBy("id", "rank")),

    // Deterministic hash-bucket sampling / train-val-test split: the
    // decision is a pure function of the data key, so any engine, any
    // partitioning, any run derives the identical split.
    Q("q56_hash_split", Q.sql(s"""
        SELECT doc_id, bucket,
          CASE WHEN bucket < 800 THEN 'train'
               WHEN bucket < 900 THEN 'val'
               ELSE 'test' END AS split
        FROM (
          SELECT doc_id,
            ${PortableSql.hexToLong("md5(CAST(doc_id AS VARCHAR) || 'r3')", 12)} % 1000 AS bucket
          FROM documents) b
        ORDER BY doc_id"""))(
      (s, dir) => {
        val withBucket = T(s, dir, "documents")
          .withColumn("bucket", Sampling.bucket(col("doc_id"), "r3"))
        Sampling.split(withBucket, col("doc_id"), trainPm = 800, valPm = 100,
            salt = "r3")
          .select(col("doc_id"), col("bucket"), col("split"))
          .orderBy("doc_id")
      }),

    // Token-budget shard packing: greedy sequential packing computed with
    // a fully parallel two-phase prefix sum (Prefix.runningTotal) — no
    // single-partition window anywhere.
    Q("q57_pack_shards", Q.sql("""
        WITH t AS (
          SELECT doc_id,
            CAST(len(string_split_regex(trim(text), '\s+')) AS INT) AS n_tokens
          FROM documents),
        c AS (
          SELECT doc_id, n_tokens,
            CAST(sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
          FROM t)
        SELECT doc_id, n_tokens, cum_tokens,
          CAST((cum_tokens - n_tokens) // 2000 AS BIGINT) AS shard
        FROM c
        ORDER BY doc_id"""))(
      (s, dir) =>
        graft.ops.Prefix.packShards(
            T(s, dir, "documents")
              .select(col("doc_id"),
                TextAnalysis.tokenCount(col("text")).as("n_tokens")),
            orderCols = Seq(col("doc_id")), sizeCol = col("n_tokens"),
            budget = 2000L, cum = "cum_tokens", shard = "shard")
          .orderBy("doc_id")),

    // Deterministic corpus shuffle: reproducible random training order
    // (position = rank of md5(key ++ salt)); same parallel prefix-sum
    // machinery assigns global positions.
    Q("q58_shuffle_order", Q.sql("""
        SELECT doc_id, md5(CAST(doc_id AS VARCHAR) || 'e1') AS shuffle_key,
          CAST(row_number() OVER (
            ORDER BY md5(CAST(doc_id AS VARCHAR) || 'e1'), doc_id) AS BIGINT) AS pos
        FROM documents
        ORDER BY pos"""))(
      (s, dir) =>
        Sampling.shuffleOrder(T(s, dir, "documents").select("doc_id"),
            col("doc_id"), salt = "e1")
          .select(col("doc_id"), col("shuffle_key"), col("pos"))
          .orderBy("pos")),

    // Stratified deterministic sample: per-language keep rates over one
    // shared hash bucket — still a scan-level filter, no shuffle.
    Q("q59_stratified_sample", Q.sql(s"""
        SELECT doc_id, lang, bucket FROM (
          SELECT doc_id, lang,
            ${PortableSql.hexToLong("md5(CAST(doc_id AS VARCHAR) || 's9')", 12)} % 1000 AS bucket
          FROM documents) t
        WHERE bucket < CASE lang WHEN 'en' THEN 600 WHEN 'es' THEN 300 ELSE 100 END
        ORDER BY doc_id"""))(
      (s, dir) => {
        val d = T(s, dir, "documents")
          .select(col("doc_id"), col("lang"))
          .withColumn("bucket", Sampling.bucket(col("doc_id"), "s9"))
        Sampling.stratifiedSample(d, col("doc_id"), col("lang"),
            permille = Map("en" -> 600, "es" -> 300), defaultPm = 100,
            salt = "s9")
          .orderBy("doc_id")
      }),

    // Corpus vocabulary: top-50 tokens by occurrence (tie-break on the
    // token) with document frequency — the vocab-extraction precursor to
    // subword tokenizer training. Top-k via orderBy+limit
    // (TakeOrderedAndProject): parallel partial top-k per partition, no
    // global-window single-partition trap.
    Q("q60_vocab_topk", Q.sql(s"""
        WITH toks AS (
          SELECT doc_id, unnest(string_split_regex($normSql, '\\s+')) AS tok
          FROM documents),
        v AS (
          SELECT tok, count(*) AS n_occ, count(DISTINCT doc_id) AS n_docs
          FROM toks GROUP BY 1)
        SELECT tok, n_occ, n_docs FROM v
        ORDER BY n_occ DESC, tok
        LIMIT 50"""))(
      (s, dir) =>
        T(s, dir, "documents")
          .repartition(s.sparkContext.defaultParallelism)
          .select(col("doc_id"),
            explode(TextAnalysis.tokens(TextAnalysis.normalizeText(col("text")))).as("tok"))
          .groupBy("tok")
          .agg(count(lit(1)).as("n_occ"), countDistinct(col("doc_id")).as("n_docs"))
          .orderBy(col("n_occ").desc, col("tok").asc)
          .limit(50))
          ,

    // Capstone: the full training-data export — curate (q50) → split →
    // deterministic shuffle → per-split token-budget shards. Every stage
    // is a deterministic function of the data, so the oracle replays the
    // pipeline as SQL: the split CASE off the md5 bucket, and the packing
    // as a per-split ordered window cumsum (the Spark side computes the
    // same thing with the parallel two-phase prefix sum).
    Q("q61_corpus_export", Q.sql(s"""
        WITH $corpusCurateCtes,
        tagged AS (
          SELECT doc_id, n_tokens, quality,
            CASE WHEN ${PortableSql.hexToLong("md5(CAST(doc_id AS VARCHAR) || 'x1')", 12)} % 1000 < 800 THEN 'train'
                 WHEN ${PortableSql.hexToLong("md5(CAST(doc_id AS VARCHAR) || 'x1')", 12)} % 1000 < 900 THEN 'val'
                 ELSE 'test' END AS split,
            md5(CAST(doc_id AS VARCHAR) || 'x1') AS sk
          FROM curated),
        packed AS (
          SELECT doc_id, n_tokens, quality, split,
            CAST(sum(n_tokens) OVER (
              PARTITION BY split ORDER BY sk, doc_id
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
          FROM tagged)
        SELECT doc_id, n_tokens, quality, split, cum_tokens,
          CAST((cum_tokens - n_tokens) // 5000 AS BIGINT) AS shard
        FROM packed
        ORDER BY doc_id"""))(
      (s, dir) =>
        graft.pipelines.Corpus.export(T(s, dir, "documents"),
            tokensPerShard = 5000L, salt = "x1")
          .select(col("doc_id"), col("n_tokens"), col("quality"),
            col("split"), col("cum_tokens"), col("shard"))
          .orderBy("doc_id")),

    // Deterministic weighted corpus mix (training-mix schedule): each
    // language is md5-shuffled in place, then interleaved by
    // mix_pos = rank / weight — English at weight 1.0, the rest 0.5, so
    // the schedule upsamples English 2:1. Weights are powers of two →
    // rank/weight is EXACT in double on both engines.
    Q("q80_corpus_mix", Q.sql("""
        WITH r AS (
          SELECT doc_id, lang,
            row_number() OVER (
              PARTITION BY lang
              ORDER BY md5(CAST(doc_id AS VARCHAR) || 'm1'), doc_id) AS rn
          FROM documents)
        SELECT doc_id, lang,
          round(CAST(rn AS DOUBLE) /
            (CASE WHEN lang = 'en' THEN 1.0 ELSE 0.5 END), 6) AS mix_pos,
          CAST(row_number() OVER (
            ORDER BY round(CAST(rn AS DOUBLE) /
              (CASE WHEN lang = 'en' THEN 1.0 ELSE 0.5 END), 6), doc_id)
            AS BIGINT) AS mix_rank
        FROM r
        ORDER BY mix_rank"""))(
      (s, dir) =>
        Sampling.mixOrder(T(s, dir, "documents").select("doc_id", "lang"),
            groupCol = col("lang"),
            weight = when(col("lang") === "en", 1.0).otherwise(0.5),
            keyCol = col("doc_id"), salt = "m1")
          .select("doc_id", "lang", "mix_pos", "mix_rank")
          .orderBy("mix_rank")),

    // Sparse TF-IDF cosine top-5 similar documents for the query slice
    // (doc_id % 97 = 0) — the inverted-index similarity join: weights
    // matched on the token via a SHUFFLED merge join (the query side is a
    // corpus fraction, so a broadcast would grow with the data), with
    // df > 390 stop-tokens capped out before the join so no posting list
    // is quadratic (see TfIdf.sparseCosineTopK for the 100 TB shape).
    // Dots/norms are decimal-routed sums of pre-rounded weights:
    // bit-identical on both engines.
    Q("q89_sparse_cosine", Q.sql(s"""
        WITH toks AS (
          SELECT doc_id AS id, unnest(string_split_regex($normSql, '\\s+')) AS tok
          FROM documents),
        tfq AS (SELECT id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
        dfq AS (SELECT tok, count(*) AS df_docs FROM tfq GROUP BY 1),
        nq AS (SELECT count(*) AS n_docs FROM documents),
        w AS (
          SELECT id, tfq.tok AS tok,
            round(tf * ln(CAST(n_docs AS DOUBLE) / df_docs), 6) AS tfidf
          FROM tfq JOIN dfq ON tfq.tok = dfq.tok CROSS JOIN nq
          WHERE df_docs <= 390),
        norms AS (
          SELECT id,
            sqrt(CAST(sum(CAST(tfidf * tfidf AS DECIMAL(27,8))) AS DOUBLE)) AS norm
          FROM w GROUP BY 1),
        dots AS (
          SELECT a.id AS id_q, b.id AS id_d,
            CAST(sum(CAST(a.tfidf * b.tfidf AS DECIMAL(27,8))) AS DOUBLE) AS dot
          FROM w a JOIN w b ON a.tok = b.tok AND a.id <> b.id
          WHERE a.id % 97 = 0
          GROUP BY 1, 2),
        cos AS (
          SELECT id_q, id_d, round(dot / (nq.norm * nd.norm), 6) AS cosine
          FROM dots
          JOIN norms nq ON nq.id = id_q
          JOIN norms nd ON nd.id = id_d)
        SELECT id_q, id_d, cosine, rank FROM (
          SELECT cos.*, CAST(row_number() OVER (
            PARTITION BY id_q ORDER BY cosine DESC, id_d) AS INT) AS rank
          FROM cos) r
        WHERE rank <= 5
        ORDER BY id_q, rank"""))(
      (s, dir) =>
        graft.text.TfIdf.sparseCosineTopK(
            T(s, dir, "documents"), col("doc_id"), col("text"),
            queryPred = _ % 97 === 0, k = 5, maxDf = Some(390))
          .orderBy("id_q", "rank")),

    // Hashing-trick document vectors (64 md5 buckets, no dictionary
    // pass) + sparse cosine top-3 — the text→vector bridge when no
    // embedding model is in the loop. Counts and dot products are exact
    // integers, so the result is aggregation-order-free on both engines
    // without any decimal routing.
    Q("q262_hashed_doc_knn", {
      val bucket = s"${PortableSql.hexToLong("md5(tok)", 12)} % 64"
      Q.sql(s"""
        WITH toks AS (
          SELECT doc_id AS id, unnest(string_split_regex($normSql, '\\s+')) AS tok
          FROM documents),
        b AS (SELECT id, $bucket AS bucket, count(*) AS cnt
          FROM toks GROUP BY 1, 2),
        n AS (SELECT id, sqrt(CAST(sum(cnt * cnt) AS DOUBLE)) AS nrm
          FROM b GROUP BY 1),
        d AS (
          SELECT qa.id AS query_id, bb.id AS neighbor_id,
            CAST(sum(qa.cnt * bb.cnt) AS BIGINT) AS dot
          FROM b qa JOIN b bb
            ON qa.bucket = bb.bucket AND qa.id < 10 AND qa.id <> bb.id
          GROUP BY 1, 2),
        c AS (
          SELECT query_id, neighbor_id,
            round(dot / (nq.nrm * nd.nrm), 6) AS cos_sim
          FROM d
          JOIN n nq ON nq.id = query_id
          JOIN n nd ON nd.id = neighbor_id)
        SELECT query_id, neighbor_id, cos_sim, rank FROM (
          SELECT c.*, CAST(row_number() OVER (
            PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS INT)
            AS rank
          FROM c) t
        WHERE rank <= 3
        ORDER BY query_id, rank""")
    })(
      (s, dir) =>
        graft.text.TfIdf.hashedCosineTopK(
            T(s, dir, "documents"), col("doc_id"), col("text"),
            buckets = 64, queryPred = _ < 10, k = 3,
            broadcastQuery = true) // `< 10` is a bounded id set
          .select("query_id", "neighbor_id", "cos_sim", "rank")
          .orderBy("query_id", "rank")),

    // Out-of-vocabulary rate against the corpus top-30 vocabulary — the
    // tokenizer-coverage report a training pipeline runs before switching
    // vocab/tokenizer. The vocab is a 30-row frame (broadcast side); the
    // corpus aggregates per doc and never shuffles on content.
    Q("q94_oov_rate", Q.sql(s"""
        WITH toks AS (
          SELECT doc_id AS id, unnest(string_split_regex($normSql, '\\s+')) AS tok
          FROM documents),
        cnts AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY 1),
        vocab AS (
          SELECT tok FROM (
            SELECT tok, row_number() OVER (ORDER BY cnt DESC, tok) AS rn
            FROM cnts) r
          WHERE rn <= 30)
        SELECT id, count(*) AS n_tokens,
          CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
          round(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) * 1.0 / count(*), 6)
            AS oov_rate
        FROM toks t LEFT JOIN vocab v ON t.tok = v.tok
        GROUP BY id
        ORDER BY id"""))(
      (s, dir) => {
        import graft.ops.Frames.{cached, spread}
        val toks = cached(spread(T(s, dir, "documents"))
          .select(col("doc_id").as("id"),
            explode(TextAnalysis.tokens(TextAnalysis.normalizeText(col("text"))))
              .as("tok")))
        // top-30 vocab via distributed sort-limit (the rank itself is
        // unused) — a lit(1)-partitioned rank window would fold into an
        // unpartitioned one, and the vocab frame grows with the corpus
        val vocab = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("tok").asc).limit(30)
          .select(col("tok"), lit(1).as("in_vocab"))
        toks.join(broadcast(vocab), Seq("tok"), "left")
          .groupBy("id")
          .agg(count(lit(1)).as("n_tokens"),
            sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
          .withColumn("oov_rate",
            round(col("n_oov") * 1.0 / col("n_tokens"), 6))
          .orderBy("id")
      }),

    // Composite quality gate with reasons: the keep/drop decision a
    // curation pipeline materializes per document — token-length,
    // unigram-LM score (q91), and n-gram repetition (q71) checks folded
    // into one report. Docs too short to have 3-grams pass the
    // repetition check by construction (LEFT JOIN + coalesce).
    Q("q95_quality_gate", Q.sql(s"""
        ${DedupQueries.shingleCtesFor("doc_id")},
        occ AS (
          SELECT id, ${PortableSql.hexToLong("md5(shingle)", 12)} AS sh2,
            count(*) AS n
          FROM shr GROUP BY 1, 2),
        rep AS (SELECT id, round(max(n) * 1.0 / sum(n), 6) AS rep_ratio
          FROM occ GROUP BY id),
        toks AS (SELECT id, unnest(ws) AS tok FROM w),
        cnts AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY 1),
        tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_total FROM cnts),
        lp AS (
          SELECT tok, round(ln(CAST(cnt AS DOUBLE) / n_total), 6) AS logp
          FROM cnts CROSS JOIN tot),
        lm AS (
          SELECT id, count(*) AS n_tokens,
            round(CAST(sum(CAST(logp AS DECIMAL(27,6))) AS DOUBLE) / count(*), 6)
              AS avg_logp
          FROM toks JOIN lp USING (tok)
          GROUP BY id)
        SELECT lm.id AS id, n_tokens, coalesce(rep_ratio, 0.0) AS rep_ratio,
          avg_logp,
          (n_tokens >= 20 AND avg_logp >= -3.5
            AND coalesce(rep_ratio, 0.0) <= 0.05) AS keep,
          concat_ws(',',
            CASE WHEN n_tokens < 20 THEN 'short' END,
            CASE WHEN avg_logp < -3.5 THEN 'perplexity' END,
            CASE WHEN coalesce(rep_ratio, 0.0) > 0.05 THEN 'repeat' END)
            AS reasons
        FROM lm LEFT JOIN rep ON rep.id = lm.id
        ORDER BY id"""))(
      (s, dir) => {
        val docs = T(s, dir, "documents")
        val lm = graft.text.UnigramLm.score(docs, col("doc_id"), col("text"))
        val rep = graft.dedup.Dedup.repetitionRatios(
            docs, col("doc_id"), col("text"), 3)
          .select("id", "rep_ratio")
        lm.join(rep, Seq("id"), "left")
          .withColumn("rep_ratio", coalesce(col("rep_ratio"), lit(0.0)))
          .withColumn("keep",
            col("n_tokens") >= 20 && col("avg_logp") >= -3.5 &&
              col("rep_ratio") <= 0.05)
          .withColumn("reasons", concat_ws(",",
            when(col("n_tokens") < 20, lit("short")),
            when(col("avg_logp") < -3.5, lit("perplexity")),
            when(col("rep_ratio") > 0.05, lit("repeat"))))
          .select("id", "n_tokens", "rep_ratio", "avg_logp", "keep", "reasons")
          .orderBy("id")
      }),

    // Per-source document cap (the C4-style anti-dominance rule): keep at
    // most 15 docs per source, selected by deterministic md5 order —
    // reproducible on any engine/partitioning (see Sampling.capPerGroup).
    Q("q96_domain_cap", Q.sql(s"""
        SELECT doc_id, source, grp_rn FROM (
          SELECT doc_id, source, CAST(row_number() OVER (
            PARTITION BY source
            ORDER BY md5(CAST(doc_id AS VARCHAR) || 'cap'), doc_id) AS INT)
            AS grp_rn
          FROM documents) t
        WHERE grp_rn <= 15
        ORDER BY doc_id"""))(
      (s, dir) =>
        Sampling.capPerGroup(T(s, dir, "documents"),
            groupCol = col("source"), keyCol = col("doc_id"),
            cap = 15, salt = "cap")
          .select("doc_id", "source", "grp_rn")
          .orderBy("doc_id")),

    // Unigram LM quality scoring (CCNet-style): per-document mean token
    // log-probability under the corpus's own unigram model. The model fit
    // is a vocab-bounded aggregation; scoring joins the corpus to the
    // broadcast vocab (see text.UnigramLm).
    Q("q91_unigram_lm", Q.sql(s"""
        WITH toks AS (
          SELECT doc_id AS id, unnest(string_split_regex($normSql, '\\s+')) AS tok
          FROM documents),
        cnts AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY 1),
        tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_total FROM cnts),
        lp AS (
          SELECT tok, round(ln(CAST(cnt AS DOUBLE) / n_total), 6) AS logp
          FROM cnts CROSS JOIN tot)
        SELECT id, count(*) AS n_tokens,
          round(CAST(sum(CAST(logp AS DECIMAL(27,6))) AS DOUBLE) / count(*), 6)
            AS avg_logp
        FROM toks JOIN lp USING (tok)
        GROUP BY id
        ORDER BY id"""))(
      (s, dir) =>
        graft.text.UnigramLm.score(
            T(s, dir, "documents"), col("doc_id"), col("text"))
          .orderBy("id")),

    // Held-out perplexity filter: add-one-smoothed unigram LM fit on the
    // train slice (doc_id % 5 <> 0), every held-out doc scored by mean
    // negative token log-prob — unlike q91 the reference LM never sees
    // the scored text, and OOV tokens get explicit Laplace mass instead
    // of silently dropping from the join (see UnigramLm.heldoutCrossEntropy).
    Q("q271_heldout_perplexity", Q.sql(s"""
        WITH toks AS (
          SELECT doc_id AS id, (doc_id % 5 <> 0) AS is_train,
            unnest(string_split_regex($normSql, '\\s+')) AS tok
          FROM documents),
        cnts AS (
          SELECT tok, count(*) AS cnt FROM toks WHERE is_train GROUP BY 1),
        model AS (
          SELECT CAST(sum(cnt) AS BIGINT) AS t_total, count(*) AS v_size
          FROM cnts),
        lp AS (
          SELECT tok,
            round(ln((cnt + 1) * 1.0 / (t_total + v_size + 1)), 6) AS logp
          FROM cnts CROSS JOIN model),
        sc AS (
          SELECT t.id,
            (CASE WHEN lp.logp IS NULL THEN 1 ELSE 0 END) AS is_oov,
            coalesce(lp.logp, round(ln(1.0 / (t_total + v_size + 1)), 6)) AS l
          FROM toks t LEFT JOIN lp USING (tok) CROSS JOIN model
          WHERE NOT is_train)
        SELECT id, count(*) AS n_tokens, CAST(sum(is_oov) AS BIGINT) AS n_oov,
          round((-(CAST(sum(CAST(l AS DECIMAL(27,6))) AS DOUBLE))) / count(*), 6)
            AS cross_entropy
        FROM sc GROUP BY id ORDER BY id"""))(
      (s, dir) =>
        graft.text.UnigramLm.heldoutCrossEntropy(
            T(s, dir, "documents"), col("doc_id"), col("text"),
            col("doc_id") % 5 =!= 0)
          .orderBy("id")),

    // Perplexity-gate operating curve (the CCNet filtering decision,
    // swept): held-out cross-entropy per doc (q271's scorer — the LM
    // never saw the scored text) evaluated at four candidate cutoffs in
    // one pass, reporting docs/tokens retained and their fractions —
    // the q293 calibration pattern applied to QUALITY filtering: dedup
    // has its threshold curve, the quality gate gets one too. Exact
    // integer counts, single-division fractions.
    Q("q302_quality_sweep", Q.sql(s"""
        WITH toks AS (
          SELECT doc_id AS id, (doc_id % 5 <> 0) AS is_train,
            unnest(string_split_regex($normSql, '\\s+')) AS tok
          FROM documents),
        cnts AS (
          SELECT tok, count(*) AS cnt FROM toks WHERE is_train GROUP BY 1),
        model AS (
          SELECT CAST(sum(cnt) AS BIGINT) AS t_total, count(*) AS v_size
          FROM cnts),
        lp AS (
          SELECT tok,
            round(ln((cnt + 1) * 1.0 / (t_total + v_size + 1)), 6) AS logp
          FROM cnts CROSS JOIN model),
        sc AS (
          SELECT t.id,
            coalesce(lp.logp, round(ln(1.0 / (t_total + v_size + 1)), 6)) AS l
          FROM toks t LEFT JOIN lp USING (tok) CROSS JOIN model
          WHERE NOT is_train),
        ce AS (
          SELECT id, count(*) AS n_tokens,
            round((-(CAST(sum(CAST(l AS DECIMAL(27,6))) AS DOUBLE))) / count(*), 6)
              AS cross_entropy
          FROM sc GROUP BY id),
        th AS (SELECT CAST(unnest([3.38, 3.4, 3.42, 3.45]) AS DOUBLE) AS cutoff),
        tot AS (
          SELECT CAST(count(*) AS BIGINT) AS n_docs,
            CAST(sum(n_tokens) AS BIGINT) AS n_toks
          FROM ce),
        kept AS (
          SELECT cutoff,
            CAST(sum(CASE WHEN cross_entropy <= cutoff THEN 1 ELSE 0 END)
              AS BIGINT) AS n_docs_kept,
            CAST(sum(CASE WHEN cross_entropy <= cutoff THEN n_tokens ELSE 0 END)
              AS BIGINT) AS n_tokens_kept
          FROM ce, th GROUP BY 1)
        SELECT cutoff, n_docs_kept, n_tokens_kept,
          round(n_docs_kept * 1.0 / tot.n_docs, 6) AS frac_docs,
          round(n_tokens_kept * 1.0 / tot.n_toks, 6) AS frac_tokens
        FROM kept, tot ORDER BY cutoff"""))(
      (s, dir) => {
        val ce = graft.text.UnigramLm.heldoutCrossEntropy(
          T(s, dir, "documents"), col("doc_id"), col("text"),
          col("doc_id") % 5 =!= 0)
        val th = s.range(1)
          .select(explode(typedlit(Seq(3.38, 3.4, 3.42, 3.45))).as("cutoff"))
        val tot = ce.agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("n_toks"))
        ce.crossJoin(broadcast(th))
          .groupBy("cutoff")
          .agg(
            sum(when(col("cross_entropy") <= col("cutoff"), 1L).otherwise(0L))
              .as("n_docs_kept"),
            sum(when(col("cross_entropy") <= col("cutoff"), col("n_tokens"))
              .otherwise(0L)).as("n_tokens_kept"))
          .crossJoin(broadcast(tot))
          .select(col("cutoff"), col("n_docs_kept"), col("n_tokens_kept"),
            round(col("n_docs_kept") * 1.0 / col("n_docs"), 6).as("frac_docs"),
            round(col("n_tokens_kept") * 1.0 / col("n_toks"), 6)
              .as("frac_tokens"))
          .orderBy("cutoff")
      }),

    // Language-ID evaluation: confusion-derived per-class metrics of the
    // q31 classifier against the labeled `lang` column. Three bounded
    // aggregations over the scored frame (classes, not rows); F1 is
    // computed as 2·TP/(|true|+|pred|) — the harmonic identity — so no
    // intermediate rounding enters the metric.
    Q("q176_langid_eval", {
      val scores = TextAnalysis.LangMarkers.map { case (l, _) =>
        s"${langScoreSql(l)} AS score_$l"
      }.mkString(", ")
      val maxExpr = TextAnalysis.LangMarkers
        .map { case (l, _) => s"score_$l" }
        .mkString("greatest(", ", ", ")")
      val caseArms = TextAnalysis.LangMarkers.map { case (l, _) =>
        s"WHEN mx > 0 AND score_$l = mx THEN '$l'"
      }.mkString(" ")
      Q.sql(s"""
        WITH scored AS (
          SELECT doc_id, lang, $maxExpr AS mx,
            CASE $caseArms ELSE 'und' END AS lang_pred
          FROM (SELECT doc_id, lang, $scores FROM documents) raw),
        t AS (SELECT lang AS cls, count(*) AS n_true FROM scored GROUP BY 1),
        p AS (SELECT lang_pred AS cls, count(*) AS n_pred FROM scored GROUP BY 1),
        hit AS (
          SELECT lang AS cls, count(*) AS tp FROM scored
          WHERE lang = lang_pred GROUP BY 1),
        cls AS (SELECT cls FROM t UNION SELECT cls FROM p)
        SELECT cls.cls AS cls,
          coalesce(n_true, 0) AS n_true,
          coalesce(n_pred, 0) AS n_pred,
          coalesce(tp, 0) AS tp,
          round(CASE WHEN coalesce(n_pred, 0) > 0
            THEN CAST(coalesce(tp, 0) AS DOUBLE) / n_pred
            ELSE CAST(0 AS DOUBLE) END, 6) AS prec,
          round(CASE WHEN coalesce(n_true, 0) > 0
            THEN CAST(coalesce(tp, 0) AS DOUBLE) / n_true
            ELSE CAST(0 AS DOUBLE) END, 6) AS rec,
          round(CASE WHEN coalesce(n_true, 0) + coalesce(n_pred, 0) > 0
            THEN CAST(2 * coalesce(tp, 0) AS DOUBLE) / (coalesce(n_true, 0) + coalesce(n_pred, 0))
            ELSE CAST(0 AS DOUBLE) END, 6) AS f1
        FROM cls
        LEFT JOIN t ON cls.cls = t.cls
        LEFT JOIN p ON cls.cls = p.cls
        LEFT JOIN hit ON cls.cls = hit.cls
        ORDER BY cls""")
    })(
      (s, dir) => {
        val langs = TextAnalysis.LangMarkers.map(_._1)
        val padded = T(s, dir, "documents")
          .repartition(s.sparkContext.defaultParallelism)
          .withColumn("__pad",
            TextAnalysis.padNorm(TextAnalysis.normalizeText(col("text"))))
        val scored = langs.foldLeft(padded) { (d, l) =>
          d.withColumn(s"score_$l",
            TextAnalysis.langScoreFromPadded(col("__pad"), l))
        }.withColumn("lang_pred", TextAnalysis.langIdFromScores(
          langs.map(l => l -> col(s"score_$l"))))
          .select("doc_id", "lang", "lang_pred")
        // ONE pass over the scored docs builds the (classes² bounded)
        // confusion cells; all three marginals derive from it. The
        // materialize barrier is load-bearing twice over: without it the
        // aggregation re-expands the full scoring CASE tree into its
        // grouping keys (a >64KB non-compiling codegen stage), and each
        // marginal would re-score the corpus.
        val cells = graft.ops.Frames.materialize(scored)
          .groupBy(col("lang"), col("lang_pred"))
          .agg(count(lit(1)).as("n_cell"))
        val t = cells.groupBy(col("lang").as("cls"))
          .agg(sum(col("n_cell")).as("n_true"))
        val p = cells.groupBy(col("lang_pred").as("cls"))
          .agg(sum(col("n_cell")).as("n_pred"))
        val hit = cells.where(col("lang") === col("lang_pred"))
          .groupBy(col("lang").as("cls")).agg(sum(col("n_cell")).as("tp"))
        t.join(p, Seq("cls"), "full_outer")
          .join(hit, Seq("cls"), "left_outer")
          .select(col("cls"),
            coalesce(col("n_true"), lit(0L)).as("n_true"),
            coalesce(col("n_pred"), lit(0L)).as("n_pred"),
            coalesce(col("tp"), lit(0L)).as("tp"))
          .select(col("cls"), col("n_true"), col("n_pred"), col("tp"),
            round(when(col("n_pred") > 0,
              col("tp").cast("double") / col("n_pred"))
              .otherwise(lit(0).cast("double")), 6).as("prec"),
            round(when(col("n_true") > 0,
              col("tp").cast("double") / col("n_true"))
              .otherwise(lit(0).cast("double")), 6).as("rec"),
            round(when(col("n_true") + col("n_pred") > 0,
              (lit(2) * col("tp")).cast("double") /
                (col("n_true") + col("n_pred")))
              .otherwise(lit(0).cast("double")), 6).as("f1"))
          .orderBy("cls")
      }),

    // Heaps' law fit: vocabulary growth V(n) ≈ K·n^β over the corpus in
    // doc_id order — log-log OLS via the shared decimal-exact moments
    // machinery. The cumulative window runs over the per-doc frame
    // (corpus-bounded, one row per document), token first-sightings come
    // from one vocab-bounded aggregation.
    Q("q177_heaps_law", Q.sql(s"""
        WITH tok AS (
          SELECT doc_id, unnest(string_split($normSql, ' ')) AS w
          FROM documents),
        per_doc AS (SELECT doc_id, count(*) AS n_tok FROM tok GROUP BY 1),
        firstd AS (SELECT w, min(doc_id) AS fd FROM tok GROUP BY 1),
        new_types AS (SELECT fd AS doc_id, count(*) AS nt FROM firstd GROUP BY 1),
        cum AS (
          SELECT d.doc_id,
            CAST(sum(d.n_tok) OVER (ORDER BY d.doc_id) AS BIGINT) AS cum_tokens,
            CAST(sum(coalesce(t.nt, 0)) OVER (ORDER BY d.doc_id) AS BIGINT) AS cum_types
          FROM per_doc d LEFT JOIN new_types t ON d.doc_id = t.doc_id),
        pts AS (
          SELECT round(ln(CAST(cum_tokens AS DOUBLE)), 6) AS lx,
            round(ln(CAST(cum_types AS DOUBLE)), 6) AS ly
          FROM cum),
        m AS (${graft.ops.Stats.oracleMomentsCte("pts", Seq("'all' AS g"),
          "lx", "ly")})
        SELECT g, ${graft.ops.Stats.oracleSelect}
        FROM m ORDER BY 1"""))(
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val tok = T(s, dir, "documents")
          .select(col("doc_id"),
            explode(split(TextAnalysis.normalizeText(col("text")), " ")).as("w"))
        val perDoc = tok.groupBy("doc_id").agg(count(lit(1)).as("n_tok"))
        val newTypes = tok.groupBy("w").agg(min(col("doc_id")).as("doc_id"))
          .groupBy("doc_id").agg(count(lit(1)).as("nt"))
        // both running sums in one distributed prefix pass (the per-doc
        // frame is corpus-sized — too big for one window task)
        val cum = graft.ops.Prefix.runningTotals(
            perDoc.join(newTypes, Seq("doc_id"), "left_outer"),
            Seq(col("doc_id")),
            Seq(col("n_tok") -> "cum_tokens",
              coalesce(col("nt"), lit(0L)) -> "cum_types"))
          .select("doc_id", "cum_tokens", "cum_types")
        val pts = cum.select(
          round(log(col("cum_tokens").cast("double")), 6).as("lx"),
          round(log(col("cum_types").cast("double")), 6).as("ly"))
        graft.ops.Stats.corrRegr(pts, Seq(lit("all").as("g")),
            col("lx"), col("ly"))
          .orderBy("g")
      }),

    // Zipf's law fit over the top-1000 token frequencies: ln(freq) vs
    // ln(rank) OLS — the rank window runs over the vocab frame (bounded
    // by corpus vocabulary, never corpus size), ties broken by token so
    // the ranking is total and engine-identical.
    Q("q180_zipf_slope", Q.sql(s"""
        WITH tok AS (
          SELECT unnest(string_split($normSql, ' ')) AS w FROM documents),
        freq AS (SELECT w, count(*) AS f FROM tok GROUP BY 1),
        top AS (
          SELECT f, rnk FROM (
            SELECT f, row_number() OVER (ORDER BY f DESC, w) AS rnk
            FROM freq) t
          WHERE rnk <= 1000),
        pts AS (
          SELECT round(ln(CAST(rnk AS DOUBLE)), 6) AS lx,
            round(ln(CAST(f AS DOUBLE)), 6) AS ly
          FROM top),
        m AS (${graft.ops.Stats.oracleMomentsCte("pts", Seq("'all' AS g"),
          "lx", "ly")})
        SELECT g, ${graft.ops.Stats.oracleSelect}
        FROM m ORDER BY 1"""))(
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val freq = T(s, dir, "documents")
          .select(explode(split(
            TextAnalysis.normalizeText(col("text")), " ")).as("w"))
          .groupBy("w").agg(count(lit(1)).as("f"))
        // distributed sort-limit + prefix rank over ONE stated order
        // (no unpartitioned window)
        val top = graft.ops.Prefix.rankTop(freq,
            Seq(col("f").desc, col("w").asc), k = 1000, out = "rnk")
          .select(col("f"), col("rnk"))
        val pts = top.select(
          round(log(col("rnk").cast("double")), 6).as("lx"),
          round(log(col("f").cast("double")), 6).as("ly"))
        graft.ops.Stats.corrRegr(pts, Seq(lit("all").as("g")),
            col("lx"), col("ly"))
          .orderBy("g")
      })
  )
}
