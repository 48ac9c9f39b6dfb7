package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables.{load => T}
import graft.text.TextAnalysis

/** Round-9 batch 9: corpus style and keyword mining — RAKE keyword
  * extraction, Yule's K vocabulary-richness index, and Burrows' Delta
  * stylometry — each oracle-checked bit-for-bit against DuckDB.
  */
object StyleQueries {

  /** Shared tokenizer CTE (CurationQueries/InferenceQueries house form). */
  private val wordsCte = """
    WITH w AS (
      SELECT doc_id AS id, source,
        string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ') AS ws
      FROM documents)"""

  private def toksOf(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "documents")
      .select(col("doc_id").as("id"), col("source"),
        posexplode(TextAnalysis.tokens(
          TextAnalysis.normalizeText(col("text")))))
      .withColumnRenamed("col", "tok")

  /** RAKE delimiter stopwords — one fixed list, shared verbatim by the
    * Spark predicate and the oracle IN-list. */
  private val RakeStop: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "are", "was",
    "were", "for", "on", "with", "as", "by", "at", "it", "this", "that",
    "be", "from", "but", "not", "has", "have", "had", "will", "would",
    "they", "their", "its", "he", "she", "we", "you", "i")
  private val RakeStopSql = RakeStop.map(w => s"'$w'").mkString(", ")

  def all: Seq[Q] = Seq(

    // RAKE keyword extraction (Rose et al., "Automatic Keyword
    // Extraction from Individual Documents", 2010): candidate phrases
    // are maximal stopword-delimited token runs (capped at 4 tokens),
    // word score = degree/frequency over phrase co-occurrence, phrase
    // score = sum of member word scores. The islands come from a
    // pos - row_number gap id (window PARTITIONED by doc); word scores
    // are exact integer ratios rounded@9; phrase scores are
    // DECIMAL-summed; identical phrases aggregate across documents and
    // the top-15 is a deterministic (score DESC, phrase) take.
    Q("q377_rake_keywords", Q.sql(s"""
        $wordsCte,
        tok AS (
          SELECT id, CAST(t.pos AS BIGINT) AS pos, ws[t.pos] AS tok
          FROM w, LATERAL (SELECT unnest(generate_series(1, len(ws)))
            AS pos) t),
        ns AS (
          SELECT id, pos, tok,
            pos - row_number() OVER (PARTITION BY id ORDER BY pos)
              AS grp
          FROM tok
          WHERE tok NOT IN ($RakeStopSql) AND tok <> ''),
        phr AS (
          SELECT id, grp, CAST(count(*) AS BIGINT) AS len,
            string_agg(tok, ' ' ORDER BY pos) AS phrase
          FROM ns GROUP BY 1, 2),
        keep AS (SELECT * FROM phr WHERE len <= 4),
        member AS (
          SELECT n.id, n.grp, n.tok, k.len
          FROM ns n JOIN keep k ON k.id = n.id AND k.grp = n.grp),
        ws_ AS (
          SELECT tok, CAST(count(*) AS BIGINT) AS freq,
            CAST(sum(len) AS BIGINT) AS deg
          FROM member GROUP BY 1),
        wsc AS (
          SELECT tok,
            CAST(round(CAST(deg AS DOUBLE) / freq, 9) AS DECIMAL(28,9))
              AS wscore
          FROM ws_),
        psc AS (
          SELECT m.id, m.grp,
            CAST(sum(c.wscore) AS DECIMAL(28,9)) AS score
          FROM member m JOIN wsc c ON c.tok = m.tok
          GROUP BY 1, 2),
        agg AS (
          SELECT k.phrase, CAST(max(k.len) AS BIGINT) AS phrase_len,
            CAST(count(*) AS BIGINT) AS n_occurrences,
            max(p.score) AS score
          FROM keep k JOIN psc p ON p.id = k.id AND p.grp = k.grp
          GROUP BY 1)
        SELECT phrase, phrase_len, n_occurrences,
          round(CAST(score AS DOUBLE), 6) AS rake_score
        FROM agg ORDER BY score DESC, phrase LIMIT 15"""))(
      (s, dir) => {
        import graft.ops.Frames.cached
        val tok = toksOf(s, dir)
          .select(col("id"), (col("pos") + 1).cast("long").as("pos"),
            col("tok"))
        // ns / keep / member each feed 2+ consumers below; uncached, the
        // scan→posexplode→window island pass re-runs once per consumer
        // (measured: 10 parquet scans / 10 window sorts / 22 Exchanges in
        // one plan). The caches collapse that to ONE tokenize pass.
        val ns = cached(tok
          .where(!col("tok").isin(RakeStop: _*) && col("tok") =!= "")
          .select(col("id"), col("pos"), col("tok"),
            (col("pos") - row_number().over(
              Window.partitionBy("id").orderBy("pos"))).as("grp")))
        val phr = ns.groupBy("id", "grp")
          .agg(count(lit(1)).cast("long").as("len"),
            array_join(transform(
              array_sort(collect_list(struct(col("pos"), col("tok")))),
              x => x.getField("tok")), " ").as("phrase"))
        val keep = phr.where(col("len") <= 4)
        val member = cached(ns.join(keep.select(col("id"), col("grp"),
          col("len")), Seq("id", "grp")))
        val ws = member.groupBy("tok")
          .agg(count(lit(1)).cast("long").as("freq"),
            sum(col("len")).cast("long").as("deg"))
        val wsc = ws.select(col("tok"),
          round(col("deg").cast("double") / col("freq"), 9)
            .cast("decimal(28,9)").as("wscore"))
        val psc = member.join(broadcast(wsc), Seq("tok"))
          .groupBy("id", "grp")
          .agg(sum(col("wscore")).cast("decimal(28,9)").as("score"))
        val agg = keep.join(psc, Seq("id", "grp"))
          .groupBy("phrase")
          .agg(max(col("len")).cast("long").as("phrase_len"),
            count(lit(1)).cast("long").as("n_occurrences"),
            max(col("score")).as("score"))
        agg.orderBy(col("score").desc, col("phrase"))
          .limit(15)
          .select(col("phrase"), col("phrase_len"), col("n_occurrences"),
            round(col("score").cast("double"), 6).as("rake_score"))
      }),

    // Yule's characteristic K (Yule, "The Statistical Study of Literary
    // Vocabulary", 1944): vocabulary-repetitiveness index
    // K = 10^4 * (sum r^2 N_r - N) / N^2 per language — the
    // boilerplate/template screen that complements q177's Heaps' law
    // growth curve (K is length-invariant where raw TTR is not). Built
    // entirely from the frequency-of-frequencies table: every term an
    // exact integer, one final double division.
    Q("q378_yule_k", Q.sql(s"""
        $wordsCte,
        w2 AS (
          SELECT w.id, d.lang, w.ws
          FROM w JOIN documents d ON d.doc_id = w.id),
        tc AS (
          SELECT lang, t.tok, CAST(count(*) AS BIGINT) AS r
          FROM (SELECT lang, unnest(ws) AS tok FROM w2) t
          WHERE t.tok <> '' GROUP BY 1, 2),
        fof AS (
          SELECT lang, r, CAST(count(*) AS BIGINT) AS nr
          FROM tc GROUP BY 1, 2),
        mo AS (
          SELECT lang, CAST(sum(r * nr) AS BIGINT) AS n,
            CAST(sum(nr) AS BIGINT) AS vocab,
            CAST(sum(r * r * nr) AS BIGINT) AS srr
          FROM fof GROUP BY 1)
        SELECT lang, n AS n_tokens, vocab,
          round(10000.0 * (srr - n) / (CAST(n AS DOUBLE) * n), 6)
            AS yule_k
        FROM mo ORDER BY lang"""))(
      (s, dir) => {
        val tc = T(s, dir, "documents")
          .select(col("lang"), explode(TextAnalysis.tokens(
            TextAnalysis.normalizeText(col("text")))).as("tok"))
          .where(col("tok") =!= "")
          .groupBy("lang", "tok")
          .agg(count(lit(1)).cast("long").as("r"))
        val fof = tc.groupBy("lang", "r")
          .agg(count(lit(1)).cast("long").as("nr"))
        val mo = fof.groupBy("lang")
          .agg(sum(col("r") * col("nr")).cast("long").as("n"),
            sum(col("nr")).cast("long").as("vocab"),
            sum(col("r") * col("r") * col("nr")).cast("long").as("srr"))
        mo.select(col("lang"), col("n").as("n_tokens"), col("vocab"),
            round(lit(10000.0) * (col("srr") - col("n")) /
              (col("n").cast("double") * col("n")), 6).as("yule_k"))
          .orderBy("lang")
      }),

    // Burrows' Delta stylometry (Burrows LLC'02; Argamon LLC'08): which
    // SOURCES write alike? Relative frequencies of the top-30 corpus
    // words per source (exact ratios rounded@9), z-scored across
    // sources per word (sample std from DECIMAL moments of the rounded
    // freqs — order-free), Delta(a,b) = mean |z_a - z_b| over the 30
    // marker words. The marker list and the source x marker matrix are
    // model-sized broadcast frames; output is every source pair ranked
    // most-similar first.
    Q("q379_burrows_delta", Q.sql(s"""
        $wordsCte,
        tok AS (
          SELECT source, t.tok FROM (
            SELECT source, unnest(ws) AS tok FROM w) t
          WHERE t.tok <> ''),
        top AS (
          SELECT tok, CAST(count(*) AS BIGINT) AS cf
          FROM tok GROUP BY 1 ORDER BY cf DESC, tok LIMIT 30),
        st AS (
          SELECT source, CAST(count(*) AS BIGINT) AS t_s
          FROM tok GROUP BY 1),
        cell AS (
          SELECT t.source, p.tok, CAST(count(*) AS BIGINT) AS c
          FROM tok t JOIN top p ON p.tok = t.tok
          GROUP BY 1, 2),
        grid AS (
          SELECT s.source, p.tok, s.t_s,
            CAST(COALESCE(c.c, 0) AS BIGINT) AS c
          FROM st s CROSS JOIN top p
          LEFT JOIN cell c ON c.source = s.source AND c.tok = p.tok),
        f AS (
          SELECT source, tok,
            CAST(round(CAST(c AS DOUBLE) / t_s, 9) AS DECIMAL(28,9))
              AS fr
          FROM grid),
        wm AS (
          SELECT tok, CAST(count(*) AS BIGINT) AS ns,
            CAST(sum(fr) AS DECIMAL(28,9)) AS msum,
            CAST(sum(CAST(round(CAST(fr AS DOUBLE) * CAST(fr AS DOUBLE),
              18) AS DECIMAL(38,18))) AS DECIMAL(38,18)) AS qsum
          FROM f GROUP BY 1),
        z AS (
          SELECT f.source, f.tok,
            (CAST(f.fr AS DOUBLE) - CAST(w2.msum AS DOUBLE) / w2.ns)
              / sqrt((w2.ns * CAST(w2.qsum AS DOUBLE)
                - CAST(w2.msum AS DOUBLE) * CAST(w2.msum AS DOUBLE))
                / (CAST(w2.ns AS DOUBLE) * (w2.ns - 1))) AS z
          FROM f JOIN wm w2 ON w2.tok = f.tok),
        pairs AS (
          SELECT a.source AS src_a, b.source AS src_b,
            CAST(sum(CAST(round(abs(a.z - b.z), 9) AS DECIMAL(28,9)))
              AS DOUBLE) / 30 AS delta
          FROM z a JOIN z b ON b.tok = a.tok AND b.source > a.source
          GROUP BY 1, 2)
        SELECT src_a, src_b, round(delta, 6) AS delta
        FROM pairs ORDER BY delta, src_a, src_b"""))(
      (s, dir) => {
        val tok = T(s, dir, "documents")
          .select(col("source"), explode(TextAnalysis.tokens(
            TextAnalysis.normalizeText(col("text")))).as("tok"))
          .where(col("tok") =!= "")
        val top = tok.groupBy("tok")
          .agg(count(lit(1)).cast("long").as("cf"))
          .orderBy(col("cf").desc, col("tok")).limit(30)
        val st = tok.groupBy("source")
          .agg(count(lit(1)).cast("long").as("t_s"))
        val cell = tok.join(broadcast(top.select("tok")), Seq("tok"))
          .groupBy("source", "tok")
          .agg(count(lit(1)).cast("long").as("c"))
        val grid = st.crossJoin(broadcast(top.select("tok")))
          .join(cell, Seq("source", "tok"), "left")
          .select(col("source"), col("tok"), col("t_s"),
            coalesce(col("c"), lit(0L)).as("c"))
        val f = grid.select(col("source"), col("tok"),
          round(col("c").cast("double") / col("t_s"), 9)
            .cast("decimal(28,9)").as("fr"))
        val wm = f.groupBy("tok")
          .agg(count(lit(1)).cast("long").as("ns"),
            sum(col("fr")).cast("decimal(28,9)").as("msum"),
            sum(round(col("fr").cast("double") * col("fr").cast("double"),
              18).cast("decimal(38,18)")).cast("decimal(38,18)")
              .as("qsum"))
        val zden = sqrt((col("ns") * col("qsum").cast("double") -
          col("msum").cast("double") * col("msum").cast("double")) /
          (col("ns").cast("double") * (col("ns") - 1)))
        val z = f.join(broadcast(wm), Seq("tok"))
          .select(col("source"), col("tok"),
            ((col("fr").cast("double") -
              col("msum").cast("double") / col("ns")) / zden).as("z"))
        val pairs = z.join(
            z.select(col("tok"), col("source").as("src_b"),
              col("z").as("zb")), Seq("tok"))
          .where(col("src_b") > col("source"))
          .groupBy(col("source").as("src_a"), col("src_b"))
          .agg((sum(round(abs(col("z") - col("zb")), 9)
            .cast("decimal(28,9)")).cast("double") / 30).as("delta"))
        pairs.select(col("src_a"), col("src_b"),
            round(col("delta"), 6).as("delta"))
          .orderBy(col("delta"), col("src_a"), col("src_b"))
      })
  )
}
