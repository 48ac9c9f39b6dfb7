package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.{load => T}
import graft.ops.{Events, Stats}
import graft.pipelines.Corpus
import graft.text.TextAnalysis

/** Training-set preparation operators the reference's notebooks stop
  * short of but a large-scale pipeline needs between curation and the
  * trainer: token-budget selection, fixed-length batch planning,
  * annotator agreement, and temporal-split contamination audits.
  *
  * All integer/indicator arithmetic with one final rounded division per
  * ratio, so every query is oracle-exact (SURVEY §5 determinism rules).
  */
object TrainPrepQueries {

  /** Shared DuckDB token-count fragment (q30's verified derivation). */
  private val TokSql =
    "CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)"

  def all: Seq[Q] = Seq(

    // Token-budget curriculum selection: take documents best-first
    // (longest n_chars, id tiebreak) while the RUNNING token total stays
    // within budget — "train on the best 10k tokens". The running sum is
    // the three-phase distributed prefix (Prefix.runningTotal), never a
    // single-partition window.
    Q("q248_token_budget", Q.sql(s"""
        WITH t AS (
          SELECT doc_id, n_chars, $TokSql AS n_tokens
          FROM documents),
        c AS (
          SELECT doc_id, n_tokens,
            CAST(sum(n_tokens) OVER (
              ORDER BY n_chars DESC, doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
              AS cum_tokens
          FROM t)
        SELECT doc_id, n_tokens, cum_tokens
        FROM c WHERE cum_tokens <= 10000
        ORDER BY doc_id"""))(
      (s, dir) => {
        val docs = T(s, dir, "documents").select(col("doc_id"),
          col("n_chars"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
        Corpus.budgetSelect(docs,
            orderCols = Seq(col("n_chars").desc, col("doc_id")),
            tokensCol = col("n_tokens"), budget = 10000L)
          .select("doc_id", "n_tokens", "cum_tokens")
          .orderBy("doc_id")
      }),

    // Cohen's kappa between two heuristic document labelers (char-length
    // vs token-count gates at the corpus medians) — the agreement check
    // before trusting heuristic labels. One indicator aggregation.
    Q("q249_cohens_kappa", Q.sql(s"""
        WITH l AS (
          SELECT (CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END) AS a,
            (CASE WHEN $TokSql >= 55 THEN 1 ELSE 0 END) AS b
          FROM documents),
        c AS (
          SELECT count(*) AS n, CAST(sum(a) AS BIGINT) AS na,
            CAST(sum(b) AS BIGINT) AS nb,
            CAST(sum(a * b) AS BIGINT) AS n_both,
            CAST(sum((1 - a) * (1 - b)) AS BIGINT) AS n_neither
          FROM l),
        k AS (
          SELECT n, n_both, n_neither,
            (n_both + n_neither) * 1.0 / n AS po_raw,
            (na * nb + (n - na) * (n - nb)) * 1.0 / (n * n) AS pe_raw
          FROM c)
        SELECT n, n_both, n_neither, round(po_raw, 6) AS po,
          round(pe_raw, 6) AS pe,
          round((po_raw - pe_raw) / (1 - pe_raw), 6) AS kappa
        FROM k"""))(
      (s, dir) =>
        Stats.cohensKappa(T(s, dir, "documents"),
          col("n_chars") >= 300,
          TextAnalysis.tokenCount(col("text")) >= 55)),

    // Fleiss' kappa across THREE heuristic document labelers (q249's two
    // gates plus an avg-word-length gate) — the multi-rater agreement
    // check for annotator ensembles. One integer aggregation; all
    // post-aggregation arithmetic is fixed-order IEEE (see
    // Stats.fleissKappa).
    Q("q270_fleiss_kappa", Q.sql(s"""
        WITH l AS (
          SELECT (CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END)
            + (CASE WHEN $TokSql >= 55 THEN 1 ELSE 0 END)
            + (CASE WHEN n_chars >= 5 * $TokSql THEN 1 ELSE 0 END) AS n1
          FROM documents),
        c AS (
          SELECT count(*) AS n,
            CAST(sum(n1 * n1 + (3 - n1) * (3 - n1)) AS BIGINT) AS s,
            CAST(sum(n1) AS BIGINT) AS v1
          FROM l),
        k AS (
          SELECT n, s, v1,
            (s - n * 3) * 1.0 / (n * 3 * 2) AS pbar_raw,
            v1 * 1.0 / (n * 3) AS p1_raw
          FROM c)
        SELECT n, 3 AS n_raters, round(p1_raw, 6) AS p1,
          round(pbar_raw, 6) AS p_bar,
          round(p1_raw * p1_raw + (1 - p1_raw) * (1 - p1_raw), 6) AS p_e,
          round((pbar_raw - (p1_raw * p1_raw + (1 - p1_raw) * (1 - p1_raw)))
            / (1 - (p1_raw * p1_raw + (1 - p1_raw) * (1 - p1_raw))), 6)
            AS kappa
        FROM k"""))(
      (s, dir) => {
        val nTok = TextAnalysis.tokenCount(col("text")).cast("long")
        Stats.fleissKappa(T(s, dir, "documents"), Seq(
          col("n_chars") >= 300,
          nTok >= 55,
          col("n_chars") >= lit(5L) * nTok))
      }),

    // Temporal train/test split audit on events: sizes per side of the
    // boundary plus the users leaking across it per event type — the
    // contamination check for time-split behavioral training data.
    Q("q250_temporal_split", Q.sql("""
        WITH e AS (
          SELECT event_type, user_id,
            (CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
              THEN 1 ELSE 0 END) AS is_train
          FROM events),
        agg AS (
          SELECT event_type, CAST(sum(is_train) AS BIGINT) AS n_train,
            CAST(sum(1 - is_train) AS BIGINT) AS n_test
          FROM e GROUP BY 1),
        leak AS (
          SELECT event_type, count(*) AS n_leak_users FROM (
            SELECT event_type, user_id FROM e
            GROUP BY 1, 2
            HAVING sum(is_train) > 0 AND sum(1 - is_train) > 0) t
          GROUP BY 1)
        SELECT a.event_type, n_train, n_test,
          coalesce(l.n_leak_users, 0) AS n_leak_users
        FROM agg a LEFT JOIN leak l USING (event_type)
        ORDER BY event_type"""))(
      (s, dir) =>
        Events.temporalSplitAudit(T(s, dir, "events"),
            lit("2024-01-16 00:00:00").cast("timestamp"))
          .orderBy("event_type")),

    // Padding-waste profile for fixed-length batches: docs round up to
    // the smallest fitting sequence length (32/64/128/256, overflow 512);
    // report per-bucket doc count, real tokens, padding, waste ratio —
    // the table that sizes bucketed batching.
    Q("q251_padding_waste", Q.sql(s"""
        WITH t AS (
          SELECT $TokSql AS n_tokens FROM documents),
        b AS (
          SELECT n_tokens,
            (CASE WHEN n_tokens <= 32 THEN 32 WHEN n_tokens <= 64 THEN 64
              WHEN n_tokens <= 128 THEN 128 WHEN n_tokens <= 256 THEN 256
              ELSE 512 END) AS seq_len
          FROM t)
        SELECT CAST(seq_len AS BIGINT) AS seq_len, count(*) AS n_docs,
          CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
          CAST(sum(seq_len - n_tokens) AS BIGINT) AS total_padding,
          round(sum(seq_len - n_tokens) * 1.0 /
            (sum(n_tokens) + sum(seq_len - n_tokens)), 6) AS waste_ratio
        FROM b GROUP BY 1 ORDER BY 1"""))(
      (s, dir) =>
        Corpus.paddingWaste(T(s, dir, "documents"),
            TextAnalysis.tokenCount(col("text")),
            seqLens = Seq(32, 64, 128, 256), overflowLen = 512)
          .orderBy("seq_len")),

    // Deterministic minibatch plan: global md5-shuffled order (q58's
    // verified derivation, distributed prefix — no single-partition
    // window) chopped into fixed 32-doc batches, with per-batch token
    // load and max length — the schedule a data loader replays
    // identically on any worker count.
    Q("q254_batch_plan", Q.sql(s"""
        WITH o AS (
          SELECT doc_id, $TokSql AS n_tokens,
            row_number() OVER (
              ORDER BY md5(CAST(doc_id AS VARCHAR) || 'b4'), doc_id) AS pos
          FROM documents)
        SELECT CAST(floor((pos - 1) / 32) AS BIGINT) AS batch_id,
          count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS batch_tokens,
          CAST(max(n_tokens) AS BIGINT) AS max_tokens
        FROM o GROUP BY 1 ORDER BY 1"""))(
      (s, dir) => {
        val docs = T(s, dir, "documents").select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
        graft.ops.Sampling.shuffleOrder(docs, col("doc_id"), salt = "b4")
          .withColumn("batch_id",
            floor((col("pos") - 1) / lit(32)).cast("long"))
          .groupBy("batch_id")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tokens")).as("batch_tokens"),
            max(col("n_tokens")).as("max_tokens"))
          .orderBy("batch_id")
      }),

    // Purged walk-forward CV plan over the event log: weekly test folds
    // from 2024-01-01, a 1-day embargo ahead of each fold excluded from
    // train (de Prado's purged k-fold in walk-forward form) — the split
    // discipline for time-series features. Exact integer µs comparisons.
    Q("q263_purged_folds", {
      // 2024-01-01 00:00:00 UTC in µs; 7-day folds; 1-day embargo
      val origin = 1704067200000000L
      val week = 604800000000L
      val day = 86400000000L
      Q.sql(s"""
        WITH e AS (SELECT epoch_us(ts) AS us FROM events),
        f AS (SELECT unnest([1, 2, 3, 4]) AS fold),
        j AS (SELECT fold, us, $origin + fold * $week AS fstart
          FROM e CROSS JOIN f)
        SELECT fold,
          CAST(sum(CASE WHEN us < fstart - $day THEN 1 ELSE 0 END) AS BIGINT)
            AS n_train,
          CAST(sum(CASE WHEN us >= fstart - $day AND us < fstart
            THEN 1 ELSE 0 END) AS BIGINT) AS n_embargo,
          CAST(sum(CASE WHEN us >= fstart AND us < fstart + $week
            THEN 1 ELSE 0 END) AS BIGINT) AS n_test
        FROM j GROUP BY 1 ORDER BY 1""")
    })(
      (s, dir) =>
        Events.purgedWalkForward(T(s, dir, "events"), col("ts"),
            originUs = 1704067200000000L, foldUs = 604800000000L,
            embargoUs = 86400000000L, folds = Seq(1, 2, 3, 4))
          .orderBy("fold"))
  )
}
