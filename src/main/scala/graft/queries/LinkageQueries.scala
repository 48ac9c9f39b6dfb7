package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.{load => T}
import graft.functions.{PortableSql, StringSim}
import graft.ops.Relational.dsum
import graft.text.TextAnalysis

/** Round-5 batch 20: record linkage + subword statistics — blocked
  * Levenshtein matching, Jaro-Winkler vocabulary linkage via the native
  * [[graft.functions.StringSim.JaroWinkler]] expression, BPE first-merge
  * pair statistics, and Jensen-Shannon source-vs-corpus divergence —
  * each oracle-checked bit-for-bit vs DuckDB.
  */
object LinkageQueries {

  private val normSql = "lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))"

  def all: Seq[Q] = Seq(

    // Blocked Levenshtein linkage over part names: candidate pairs are
    // generated only inside a (brand, size) block — the classic linkage
    // blocking that turns O(n²) into Σ block², each block dimension-
    // bounded — then scored with the codegen'd edit distance both
    // engines implement identically. At 100 TB the block key is the
    // shuffle key; no cross-block pair ever materializes.
    Q("q219_lev_linkage", Q.sql("""
        SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
          a.p_name AS name_a, b.p_name AS name_b,
          CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist
        FROM part a JOIN part b
          ON a.p_brand = b.p_brand AND a.p_size = b.p_size
          AND a.p_partkey < b.p_partkey
        WHERE levenshtein(a.p_name, b.p_name) <= 4
        ORDER BY 1, 2"""))(
      (s, dir) => {
        val p = T(s, dir, "part")
        val a = p.select(col("p_partkey").as("id_a"), col("p_name").as("name_a"),
          col("p_brand").as("brand"), col("p_size").as("size"))
        val b = p.select(col("p_partkey").as("id_b"), col("p_name").as("name_b"),
          col("p_brand").as("brand"), col("p_size").as("size"))
        a.join(b, Seq("brand", "size"))
          .where(col("id_a") < col("id_b"))
          .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
          .where(col("dist") <= 4)
          .select("id_a", "id_b", "name_a", "name_b", "dist")
          .orderBy("id_a", "id_b")
      }),

    // Jaro-Winkler linkage across the corpus vocabulary: every distinct
    // token pair (vocab is corpus-bounded, never corpus-sized) scored
    // with the native expression — codegen semantics verified against
    // DuckDB's jaro_winkler_similarity (0.7 boost threshold, prefix 4,
    // weight 0.1). The near-identical pairs are tokenizer-merge /
    // typo-unification candidates.
    Q("q220_jw_linkage", Q.sql(s"""
        WITH v AS (
          SELECT DISTINCT unnest(string_split_regex($normSql, '\\s+')) AS tok
          FROM documents)
        SELECT a.tok AS tok_a, b.tok AS tok_b,
          round(jaro_winkler_similarity(a.tok, b.tok), 6) AS jw
        FROM v a JOIN v b ON a.tok < b.tok
        WHERE round(jaro_winkler_similarity(a.tok, b.tok), 6) >= 0.7
        ORDER BY 1, 2"""))(
      (s, dir) => {
        val v = T(s, dir, "documents")
          .select(explode(TextAnalysis.tokens(
            TextAnalysis.normalizeText(col("text")))).as("tok"))
          .distinct()
        val a = v.select(col("tok").as("tok_a"))
        val b = v.select(col("tok").as("tok_b"))
        a.join(b, col("tok_a") < col("tok_b"))
          .withColumn("jw",
            round(StringSim.jaroWinklerCol(col("tok_a"), col("tok_b")), 6))
          .where(col("jw") >= 0.7)
          .orderBy("tok_a", "tok_b")
      }),

    // Damerau-Levenshtein linkage over the vocabulary: UNRESTRICTED
    // transposition-tolerant edit distance (native codegen expression,
    // Lowrance-Wagner DP — "ca"→"abc" is 2, matching DuckDB's
    // damerau_levenshtein), catching swapped-letter typos plain edit
    // distance over-counts. Unlike q220, DL <= 2 implies the lengths
    // differ by <= 2, so the pair frame is LENGTH-BLOCKED: side a
    // explodes to its 5 candidate lengths (la-2..la+2) and equi-joins
    // side b on exact length — each qualifying pair matches exactly
    // once (at key = len(b)), the length-filter classic that turns the
    // vocab all-pairs into a banded hash join.
    Q("q235_dl_linkage", Q.sql(s"""
        WITH v AS (
          SELECT DISTINCT unnest(string_split_regex($normSql, '\\s+')) AS tok
          FROM documents)
        SELECT a.tok AS tok_a, b.tok AS tok_b,
          CAST(damerau_levenshtein(a.tok, b.tok) AS INT) AS dl
        FROM v a JOIN v b ON a.tok < b.tok
        WHERE damerau_levenshtein(a.tok, b.tok) <= 2
        ORDER BY 1, 2"""))(
      (s, dir) => {
        val v = T(s, dir, "documents")
          .select(explode(TextAnalysis.tokens(
            TextAnalysis.normalizeText(col("text")))).as("tok"))
          .distinct()
        val a = v.select(col("tok").as("tok_a"),
            explode(sequence(length(col("tok")) - 2,
              length(col("tok")) + 2)).as("lb"))
        val b = v.select(col("tok").as("tok_b"),
          length(col("tok")).as("lb"))
        a.join(b, "lb")
          .where(col("tok_a") < col("tok_b"))
          .withColumn("dl",
            StringSim.damerauLevenshteinCol(col("tok_a"), col("tok_b")))
          .where(col("dl") <= 2)
          .select("tok_a", "tok_b", "dl")
          .orderBy("tok_a", "tok_b")
      }),

    // BPE first-merge statistics: the frequency of every adjacent
    // character pair across the corpus, weighted by token occurrence —
    // the exact quantity byte-pair-encoding training maximizes at each
    // merge step. Two bounded frames: token counts (vocab-bounded hash
    // agg over the corpus) then pair explosion over the VOCAB (never the
    // corpus) — at 100 TB only the first agg touches the data.
    Q("q221_bpe_pairs", Q.sql(s"""
        WITH toks AS (
          SELECT tok, count(*) AS n FROM (
            SELECT unnest(string_split_regex($normSql, '\\s+')) AS tok
            FROM documents) t
          WHERE length(tok) >= 2 GROUP BY 1),
        pairs AS (
          SELECT substr(tok, CAST(i AS INT), 2) AS pair, n
          FROM toks, unnest(range(1, length(tok))) AS r(i)),
        agg AS (
          SELECT pair, CAST(sum(n) AS BIGINT) AS n_occ,
            CAST(count(*) AS BIGINT) AS n_types
          FROM pairs GROUP BY 1)
        SELECT pair, n_occ, n_types FROM agg
        ORDER BY n_occ DESC, pair LIMIT 40"""))(
      (s, dir) =>
        T(s, dir, "documents")
          .select(explode(TextAnalysis.tokens(
            TextAnalysis.normalizeText(col("text")))).as("tok"))
          .where(length(col("tok")) >= 2)
          .groupBy("tok").agg(count(lit(1)).as("n"))
          .select(col("n"),
            explode(expr("transform(sequence(1, length(tok) - 1), i -> substring(tok, i, 2))"))
              .as("pair"))
          .groupBy("pair")
          .agg(sum(col("n")).as("n_occ"), count(lit(1)).as("n_types"))
          .orderBy(col("n_occ").desc, col("pair").asc)
          .limit(40)),

    // Jensen-Shannon divergence of each source's token distribution vs
    // the whole corpus — the bounded-[0, ln 2] drift score used to spot
    // outlier shards/domains before training. Laplace-smoothed over the
    // corpus vocab (source×vocab spine is sources·vocab, data-free);
    // per-cell log terms rounded then decimal-summed, like q182's PSI.
    Q("q222_jsd_sources", Q.sql(s"""
        WITH toks AS (
          SELECT source, unnest(string_split_regex($normSql, '\\s+')) AS tok
          FROM documents),
        cnt AS (SELECT source, tok, count(*) AS c FROM toks GROUP BY 1, 2),
        vocab AS (SELECT tok, CAST(sum(c) AS BIGINT) AS cg FROM cnt GROUP BY 1),
        srcn AS (SELECT source, CAST(sum(c) AS BIGINT) AS ns FROM cnt GROUP BY 1),
        tot AS (SELECT CAST(sum(cg) AS BIGINT) AS ng,
          CAST(count(*) AS BIGINT) AS nv FROM vocab),
        dense AS (
          SELECT s.source,
            (CAST(coalesce(c.c, 0) AS DOUBLE) + 1) / (CAST(s.ns AS DOUBLE) + t.nv) AS p,
            (CAST(v.cg AS DOUBLE) + 1) / (CAST(t.ng AS DOUBLE) + t.nv) AS q
          FROM srcn s CROSS JOIN vocab v CROSS JOIN tot t
          LEFT JOIN cnt c ON c.source = s.source AND c.tok = v.tok),
        terms AS (
          SELECT source,
            round(0.5 * p * ln(p / ((p + q) / 2))
              + 0.5 * q * ln(q / ((p + q) / 2)), 9) AS term
          FROM dense)
        SELECT source, round(CAST(sum(CAST(term AS DECIMAL(27,9))) AS DOUBLE), 6) AS jsd
        FROM terms GROUP BY 1 ORDER BY 1"""))(
      (s, dir) => {
        val cnt = T(s, dir, "documents")
          .select(col("source"), explode(TextAnalysis.tokens(
            TextAnalysis.normalizeText(col("text")))).as("tok"))
          .groupBy("source", "tok").agg(count(lit(1)).as("c"))
        val vocab = cnt.groupBy("tok").agg(sum(col("c")).as("cg"))
        val srcn = cnt.groupBy("source").agg(sum(col("c")).as("ns"))
        val tot = vocab.agg(sum(col("cg")).as("ng"), count(lit(1)).as("nv"))
        val spine = srcn.crossJoin(broadcast(vocab)).crossJoin(broadcast(tot))
        val dense = spine
          .join(cnt, Seq("source", "tok"), "left_outer")
          .select(col("source"),
            ((coalesce(col("c"), lit(0L)).cast("double") + 1) /
              (col("ns").cast("double") + col("nv"))).as("p"),
            ((col("cg").cast("double") + 1) /
              (col("ng").cast("double") + col("nv"))).as("q"))
        dense
          .select(col("source"),
            round(lit(0.5) * col("p") * log(col("p") / ((col("p") + col("q")) / 2)) +
              lit(0.5) * col("q") * log(col("q") / ((col("p") + col("q")) / 2)), 9)
              .as("term"))
          .groupBy("source")
          .agg(sum(col("term").cast("decimal(27,9)")).cast("double").as("jsd"))
          .select(col("source"), round(col("jsd"), 6).as("jsd"))
          .orderBy("source")
      }),

    // Sorted-neighborhood linkage (Hernandez & Stolfo, SIGMOD'95): rank
    // the vocabulary in lexicographic order (distributed prefix — no
    // global window), then compare only tokens within a 10-rank window
    // via a banded block join (each probe checks its own block and the
    // previous one, so every close pair is seen exactly once). The
    // linear-cost alternative to q220's all-pairs vocabulary join —
    // n·w candidate pairs instead of n²/2.
    Q("q280_sorted_neighborhood", Q.sql(s"""
        WITH v AS (
          SELECT DISTINCT unnest(string_split_regex($normSql, '\\s+')) AS tok
          FROM documents),
        r AS (SELECT tok, row_number() OVER (ORDER BY tok) AS rk FROM v),
        a AS (SELECT tok, rk, CAST(floor((rk - 1) / 10) AS BIGINT) AS blk
          FROM r),
        probe AS (
          SELECT tok AS tok_b, rk AS rk_b, blk - d AS pblk
          FROM a, (SELECT unnest([0, 1]) AS d) dd)
        SELECT x.tok AS tok_a, probe.tok_b AS tok_b,
          (rk_b - x.rk) AS rank_dist,
          round(jaro_winkler_similarity(x.tok, tok_b), 6) AS jw
        FROM a x JOIN probe ON x.blk = probe.pblk
          AND rk_b > x.rk AND rk_b - x.rk < 10
        WHERE round(jaro_winkler_similarity(x.tok, tok_b), 6) >= 0.75
        ORDER BY tok_a, tok_b"""))(
      (s, dir) => {
        val v = T(s, dir, "documents")
          .select(explode(TextAnalysis.tokens(
            TextAnalysis.normalizeText(col("text")))).as("tok"))
          .distinct()
        val a = graft.ops.Prefix.runningTotal(v, Seq(col("tok")), lit(1L),
            out = "rk")
          .withColumn("blk", floor((col("rk") - 1) / 10).cast("long"))
        val probe = a.select(col("tok").as("tok_b"), col("rk").as("rk_b"),
          explode(array(col("blk"), col("blk") - 1)).as("pblk"))
        a.select(col("tok").as("tok_a"), col("rk").as("rk_a"),
            col("blk").as("pblk"))
          .join(probe, Seq("pblk"))
          .where(col("rk_b") > col("rk_a") && col("rk_b") - col("rk_a") < 10)
          .withColumn("jw",
            round(StringSim.jaroWinklerCol(col("tok_a"), col("tok_b")), 6))
          .where(col("jw") >= 0.75)
          .select(col("tok_a"), col("tok_b"),
            (col("rk_b") - col("rk_a")).as("rank_dist"), col("jw"))
          .orderBy("tok_a", "tok_b")
      }),

    // Fellegi-Sunter probabilistic linkage (JASA 1969): blocked
    // candidate pairs scored by the log-likelihood ratio of their
    // field-agreement vector, Σ log2(m_i/u_i) on agreement and
    // Σ log2((1-m_i)/(1-u_i)) on disagreement, then classified by the
    // two-threshold decision rule. The TYPE field's u-probability is
    // ESTIMATED FROM THE DATA as the random-pair agreement rate
    // Σ_v(n_v/N)² — exact integer sums, one division — the standard
    // frequency-table estimate; name/price use assumed (m,u) embedded
    // as shared 6-dp literals (EM estimation is the upgrade path).
    // Scale = q219's blocking: pairs exist only inside (brand, size)
    // blocks, the u-table is one broadcast row, scoring is pure scalar.
    Q("q291_fellegi_sunter", {
      val ln2 = PortableSql.doubleLit(math.log(2.0))
      def r6(x: Double): String =
        new java.math.BigDecimal(x).setScale(6,
          java.math.RoundingMode.HALF_UP).toPlainString
      val (mName, uName, mPrice, uPrice) = (0.9, 0.05, 0.85, 0.1)
      val waN = r6(math.log(mName / uName) / math.log(2.0))
      val wdN = r6(math.log((1 - mName) / (1 - uName)) / math.log(2.0))
      val waP = r6(math.log(mPrice / uPrice) / math.log(2.0))
      val wdP = r6(math.log((1 - mPrice) / (1 - uPrice)) / math.log(2.0))
      Q.sql(s"""
        WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM part),
        tf AS (
          SELECT p_type, CAST(count(*) AS BIGINT) AS c FROM part GROUP BY 1),
        uu AS (
          SELECT CAST(sum(c * c) AS DOUBLE)
            / (CAST(max(n) AS DOUBLE) * CAST(max(n) AS DOUBLE)) AS u
          FROM tf, nn),
        p AS (
          SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
            CASE WHEN a.p_type = b.p_type THEN 1 ELSE 0 END AS agree_type,
            CASE WHEN levenshtein(a.p_name, b.p_name) <= 4
              THEN 1 ELSE 0 END AS agree_name,
            CASE WHEN abs(a.p_retailprice - b.p_retailprice) <= 50
              THEN 1 ELSE 0 END AS agree_price
          FROM part a JOIN part b
            ON a.p_brand = b.p_brand AND a.p_size = b.p_size
            AND a.p_partkey < b.p_partkey),
        scored AS (
          SELECT id_a, id_b, agree_type, agree_name, agree_price,
            round(
              (CASE WHEN agree_type = 1
                THEN round(ln(0.95 / uu.u) / ($ln2), 6)
                ELSE round(ln(0.05 / (1 - uu.u)) / ($ln2), 6) END)
              + (CASE WHEN agree_name = 1 THEN $waN ELSE $wdN END)
              + (CASE WHEN agree_price = 1 THEN $waP ELSE $wdP END),
              6) AS score
          FROM p, uu)
        SELECT id_a, id_b, agree_type, agree_name, agree_price, score,
          CASE WHEN score >= 6 THEN 'match'
               WHEN score >= 0 THEN 'possible'
               ELSE 'non_match' END AS decision
        FROM scored ORDER BY id_a, id_b""")
    })(
      (s, dir) => {
        val ln2 = math.log(2.0)
        def r6(x: Double): Double =
          new java.math.BigDecimal(x).setScale(6,
            java.math.RoundingMode.HALF_UP).doubleValue()
        val (mName, uName, mPrice, uPrice) = (0.9, 0.05, 0.85, 0.1)
        val part = T(s, dir, "part")
        val nn = part.agg(count(lit(1)).as("n"))
        val tf = part.groupBy("p_type").agg(count(lit(1)).as("c"))
        val uu = tf.crossJoin(nn)
          .agg((sum(col("c") * col("c")).cast("double")
            / (max(col("n")).cast("double") * max(col("n")).cast("double")))
            .as("u"))
        val a = part.select(col("p_partkey").as("id_a"),
          col("p_type").as("ta"), col("p_name").as("na"),
          col("p_retailprice").as("pa"),
          col("p_brand").as("brand"), col("p_size").as("size"))
        val b = part.select(col("p_partkey").as("id_b"),
          col("p_type").as("tb"), col("p_name").as("nb"),
          col("p_retailprice").as("pb"),
          col("p_brand").as("brand"), col("p_size").as("size"))
        val typeW = when(col("agree_type") === 1,
          round(log(lit(0.95) / col("u")) / lit(ln2), 6))
          .otherwise(round(log(lit(0.05) / (lit(1.0) - col("u"))) / lit(ln2), 6))
        val nameW = when(col("agree_name") === 1,
          lit(r6(math.log(mName / uName) / ln2)))
          .otherwise(lit(r6(math.log((1 - mName) / (1 - uName)) / ln2)))
        val priceW = when(col("agree_price") === 1,
          lit(r6(math.log(mPrice / uPrice) / ln2)))
          .otherwise(lit(r6(math.log((1 - mPrice) / (1 - uPrice)) / ln2)))
        a.join(b, Seq("brand", "size"))
          .where(col("id_a") < col("id_b"))
          .select(col("id_a"), col("id_b"),
            when(col("ta") === col("tb"), 1).otherwise(0).as("agree_type"),
            when(levenshtein(col("na"), col("nb")) <= 4, 1).otherwise(0)
              .as("agree_name"),
            when(abs(col("pa") - col("pb")) <= 50, 1).otherwise(0)
              .as("agree_price"))
          .crossJoin(broadcast(uu))
          .withColumn("score", round(typeW + nameW + priceW, 6))
          .select(col("id_a"), col("id_b"), col("agree_type"),
            col("agree_name"), col("agree_price"), col("score"),
            when(col("score") >= 6, "match")
              .when(col("score") >= 0, "possible")
              .otherwise("non_match").as("decision"))
          .orderBy("id_a", "id_b")
      })
  )
}
