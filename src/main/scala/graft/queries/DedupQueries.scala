package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.{load => T}
import graft.dedup.Dedup
import graft.functions.PortableSql
import graft.text.TextAnalysis

/** North-star deduplication queries over `documents`: exact content-hash
  * dedup, n-gram Jaccard near-dup pairs, MinHash+LSH near-dup pipeline,
  * SimHash fingerprints. All md5-based so every stage is oracle-checkable
  * bit-for-bit (see [[graft.dedup.Dedup]] for the scale design).
  */
object DedupQueries {

  /** Shared oracle CTEs: normalized words, raw 3-gram shingle occurrences
    * (`shr`), and the distinct string-free (id, shash) set (`sh`) — the
    * identical derivation to [[Dedup.shingleHashSet]]: the 48-bit
    * md5-prefix hash is taken per occurrence and the DISTINCT runs on the
    * hash, exactly as the Spark side does (so even a 48-bit collision
    * affects both engines identically).
    */
  private[queries] def shingleCtesFor(idExpr: String) = s"""
    WITH w AS (
      SELECT $idExpr AS id,
        string_split(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')), ' ') AS ws
      FROM documents),
    shr AS (
      SELECT id, ws[pos] || ' ' || ws[pos+1] || ' ' || ws[pos+2] AS shingle
      FROM w, LATERAL (SELECT unnest(generate_series(1, greatest(len(ws) - 2, 0))) AS pos) t),
    sh AS (
      SELECT DISTINCT id, ${PortableSql.hexToLong("md5(shingle)", 12)} AS shash
      FROM shr),
    cnt AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY 1)"""

  private val shingleCtes = shingleCtesFor("doc_id")

  private val MinhashK = 8
  private val RowsPerBand = 2

  /** One shared staging version for the whole minhash family: jacc3 is
    * DERIVED from the minhash3 stage, so its marker must go stale
    * whenever minhash3's does — two independent per-stage versions would
    * let a minhash3 bump (n or K change) rebuild the upstream while the
    * downstream keeps serving pairs computed from the OLD hashes. Bump
    * this when the shingle size n, MinhashK, or either derivation
    * changes.
    */
  private val MinhashFamilyVersion = 1

  /** SimHash fingerprint width for the near-dup family (q52/q54/q84).
    * 48 bits -> 4 pigeonhole bands of 12 bits for maxDist=3: candidate
    * volume scales as n²/2^bandBits per band, so 12-bit bands (4096
    * buckets) keep the banded self-join ~64x sparser than the 6-bit
    * bands a 24-bit fingerprint would force — the knob that keeps this
    * pipeline sub-quadratic as the corpus grows (Manku et al., WWW'07
    * use 64-bit fingerprints with the same band split; 48 is the widest
    * width whose integer bit math stays exact in BOTH engines — see
    * [[graft.functions.PortableSql.bit]]).
    */
  private val SimhashBits = 48

  /** The simhash near-dup pair frame and its connected components,
    * staged to parquet once per fixture ([[graft.io.Staged]]): six
    * queries (q52/q54/q84/q247/q252 and the cluster report) otherwise
    * each re-run the scan→tokenize→md5→bit-sum simhash pipeline, the
    * banded self-join AND the pointer-jumping pass — the dedup family's
    * shared intermediates, exactly like the graph-family pair bases.
    * First caller pays compute + write inside its own timing.
    */
  private def stagedSimhashPairs(s: SparkSession, dir: String): DataFrame =
    graft.io.Staged.parquet(s, dir, "simpairs", "documents")(
      Dedup.simhashNearDups(T(s, dir, "documents"),
        col("doc_id"), col("text"), maxDist = 3, bits = SimhashBits))

  private def stagedSimhashComponents(s: SparkSession,
                                      dir: String): DataFrame =
    graft.io.Staged.parquet(s, dir, "simcomp", "documents")(
      Dedup.components(stagedSimhashPairs(s, dir)))

  /** The per-occurrence 3-shingle hash frame (id, shash, h0..h{K-1} —
    * [[Dedup.hashedShingleFrame]]), staged to parquet once per fixture:
    * the minhash family's shared base. q35/q36/q90/q293 each otherwise
    * re-pay the scan→tokenize→explode→md5 pass — the family's dominant
    * cost — before their own joins. Signatures aggregate this frame
    * (min is multiset-invariant) and the verify side distincts its
    * (id, shash) projection, so every consumer derives exactly the rows
    * it derived from the raw text. Bump `version` if K or n changes.
    */
  private def stagedMinhashHashes(s: SparkSession, dir: String): DataFrame =
    graft.io.Staged.parquet(s, dir, "minhash3", "documents",
      version = MinhashFamilyVersion)(
      Dedup.hashedShingleFrame(T(s, dir, "documents"),
        col("doc_id"), col("text"), 3, MinhashK))

  /** The DISTINCT string-free (id, shash) 3-shingle set over documents
    * (= [[Dedup.shingleHashSet]](n=3)), staged once per fixture: the
    * set-similarity family (q165 containment, q70 decontaminate, q259
    * novelty) and the jacc3 pair stage each otherwise re-pay the
    * distinct shuffle over the per-occurrence rows. DERIVED from the
    * minhash3 stage (the distinct of its (id, shash) projection), so it
    * shares [[MinhashFamilyVersion]] — a shingle-size or K bump
    * invalidates every stage in the family together. Package-visible:
    * the consumers span queries/ files.
    */
  private[queries] def stagedShingleSet(s: SparkSession,
                                        dir: String): DataFrame =
    graft.io.Staged.parquet(s, dir, "shset3", "documents",
      version = MinhashFamilyVersion)(
      stagedMinhashHashes(s, dir).select("id", "shash").distinct())

  /** The full 3-gram exact-Jaccard pair frame (threshold 0 — every pair
    * sharing ≥1 shingle hash, with counts and the rounded score), staged
    * once per fixture: q35 is a filter over it, q293's ground-truth side
    * IS it, and q36's exact verify is an equi-join of the LSH candidates
    * against it (candidate-restricted verify ≡ full-pairs ∩ candidates —
    * DedupSpec proves the identity). Three queries otherwise re-run the
    * posting-list self-join — the family's dominant cost.
    *
    * 100 TB posture: this is the TRUTH/VERIFY intermediate, quadratic in
    * posting-list collisions by definition — the pass LSH exists to
    * avoid. At scale it is computed over a sample or with the df-cap
    * ([[Dedup.jaccardPairs]] `maxDf`) exactly as q293's calibration doc
    * prescribes, and the stage then holds that bounded slice; the
    * staging mechanics (one distributed write, every consumer scans)
    * are unchanged.
    */
  private def stagedJaccardPairs(s: SparkSession, dir: String): DataFrame =
    graft.io.Staged.parquet(s, dir, "jacc3", "documents",
      version = MinhashFamilyVersion)(
      Dedup.jaccardPairs(stagedShingleSet(s, dir), threshold = 0.0))

  /** MinHash signature + LSH banding CTE chain shared by q36 and q90:
    * `sig(id, m0..m{K-1})` (raw-occurrence double-hashed minima — the
    * identical derivation to [[Dedup.minhashSignatures]]) and
    * `cand(id_a, id_b)` (distinct banded-collision pairs). Appended after
    * [[shingleCtes]], which provides `shr`.
    */
  private val minhashCandCtes: String = {
    val h1 = PortableSql.hexToLong("md5(shingle)", 12)
    val h2 = PortableSql.hexToLong("substr(md5(shingle), 13, 12)", 12)
    val sigCols = (0 until MinhashK)
      .map(i => s"min((($h1) + $i * ($h2)) % ${1L << 48}) AS m$i")
      .mkString(", ")
    val nBands = MinhashK / RowsPerBand
    val bandArms = (0 until nBands).map { b =>
      val ms = (b * RowsPerBand until (b + 1) * RowsPerBand)
        .map(i => s"CAST(m$i AS VARCHAR)").mkString(" || '|' || ")
      s"WHEN $b THEN $ms"
    }.mkString(" ")
    val bandIdxList = (0 until nBands).mkString("[", ", ", "]")
    s"""sig AS (SELECT id, $sigCols FROM shr GROUP BY 1),
        bands AS (
          SELECT id, band_idx, CASE band_idx $bandArms END AS band_key
          FROM sig, (SELECT unnest($bandIdxList) AS band_idx) bi),
        cand AS (
          SELECT DISTINCT x.id AS id_a, y.id AS id_b
          FROM bands x JOIN bands y
            ON x.band_idx = y.band_idx AND x.band_key = y.band_key
              AND x.id < y.id)"""
  }

  /** Simhash near-dup pair CTE chain (48-bit fingerprints, pigeonhole
    * bands, hamming verify) — the body of q52's oracle, shared with q54's
    * component oracle. Produces `cand(id_a, id_b, hamming)`.
    */
  private val simhashPairCtes: String = {
    val Bits = SimhashBits
    val bandBits = Bits / 4
    val h = PortableSql.hexToLong("md5(tok)", Bits / 4)
    val bitSums = (0 until Bits)
      .map(b => s"sum(${PortableSql.bit("h", b)} * 2 - 1) AS s$b")
      .mkString(", ")
    val fp = (0 until Bits)
      .map(b => s"(CASE WHEN s$b >= 0 THEN ${PortableSql.pow2(b)} ELSE 0 END)")
      .mkString(" + ")
    val divisors = (0 until 4).map(b => 1L << (b * bandBits))
    val divCase = s"CASE band_idx WHEN 0 THEN ${divisors(0)} WHEN 1 THEN ${divisors(1)} " +
      s"WHEN 2 THEN ${divisors(2)} ELSE ${divisors(3)} END"
    s"""toks AS (
          SELECT doc_id AS id,
            unnest(string_split(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')), ' ')) AS tok
          FROM documents),
        hashed AS (SELECT id, $h AS h FROM toks),
        bitsums AS (SELECT id, $bitSums FROM hashed GROUP BY 1),
        fp AS (SELECT id, $fp AS simhash FROM bitsums),
        banded AS (
          SELECT id, simhash, band_idx,
            CAST(floor(simhash / $divCase) AS BIGINT) % ${1 << bandBits} AS band_val
          FROM fp, (SELECT unnest([0, 1, 2, 3]) AS band_idx) b),
        cand AS (
          SELECT DISTINCT x.id AS id_a, y.id AS id_b,
            bit_count(xor(CAST(x.simhash AS BIGINT), CAST(y.simhash AS BIGINT))) AS hamming
          FROM banded x JOIN banded y
            ON x.band_idx = y.band_idx AND x.band_val = y.band_val
              AND x.id < y.id)"""
  }

  /** Recursive transitive-closure CTE chain over the simhash pair graph
    * (the hamming<=3 slice of [[simhashPairCtes]]'s `cand`): produces
    * `comp(id, component)` with min-reachable-id representatives. Shared
    * by q54 and q84 so the closure logic can never drift between them;
    * callers must open with `WITH RECURSIVE`.
    */
  private val componentCtes: String = s"""$simhashPairCtes,
        pairs AS (SELECT id_a, id_b FROM cand WHERE hamming <= 3),
        edges AS (
          SELECT id_a AS src, id_b AS dst FROM pairs
          UNION
          SELECT id_b AS src, id_a AS dst FROM pairs),
        reach(id, lab) AS (
          SELECT src, src FROM edges
          UNION
          SELECT e.src, r.lab FROM edges e JOIN reach r ON e.dst = r.id),
        comp AS (SELECT id, min(lab) AS component FROM reach GROUP BY id)"""

  def all: Seq[Q] = Seq(

    // Content-defined chunking (the LBFS/rsync/FastCDC idea): chunk
    // boundaries fall where the 48-bit hash of the local 8-char window
    // is ≡ 0 (mod 64) — so an insertion early in a document SHIFTS
    // boundaries only until the next hash-synchronized cut, unlike
    // fixed-size blocks where one byte shifts every block. Expected
    // chunk length = the modulus (64 chars). Per-chunk signature =
    // sum of position hashes mod 2^48 (order-free integer, replayed
    // exactly in the oracle); chunks whose (signature, length) recurs
    // in ANOTHER doc are cross-doc duplicates — sub-document dedup at
    // the granularity storage dedup uses. Plan: documents are
    // hash-partitioned by doc_id BEFORE the gram explode, so the
    // generator runs on every core and the per-doc window and per-chunk
    // aggregate reuse that partitioning (the one shuffle carries
    // documents, not grams); the cross-doc test is a window over
    // (sig, clen) on the chunk rows, not a self-join, so the
    // explode→window→aggregate subtree runs once. Every later shuffle
    // carries chunk rows. No all-pairs anywhere.
    Q("q307_cdc_chunking", Q.sql(s"""
        WITH d AS (
          SELECT doc_id, lower(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS norm
          FROM documents),
        g AS (
          SELECT doc_id, pos,
            ${PortableSql.hexToLong("md5(substr(norm, pos, 8))", 12)} AS h
          FROM d, LATERAL (
            SELECT unnest(generate_series(1, greatest(length(norm) - 7, 0))) AS pos) t),
        c AS (
          SELECT doc_id, pos, h,
            1 + coalesce(sum(CASE WHEN h % 64 = 0 THEN 1 ELSE 0 END) OVER (
              PARTITION BY doc_id ORDER BY pos
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk
          FROM g),
        ch AS (
          SELECT doc_id, chunk, count(*) AS clen,
            CAST(CAST(sum(h) AS DECIMAL(38,0)) % ${1L << 48} AS BIGINT) AS sig
          FROM c GROUP BY 1, 2),
        dup AS (
          SELECT sig, clen, count(DISTINCT doc_id) AS n_docs
          FROM ch GROUP BY 1, 2)
        SELECT ch.doc_id AS doc_id, count(*) AS n_chunks,
          CAST(sum(CASE WHEN dup.n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_dup_chunks,
          round(CAST(sum(ch.clen) AS DOUBLE) / count(*), 6) AS avg_chunk_len
        FROM ch JOIN dup ON dup.sig = ch.sig AND dup.clen = ch.clen
        GROUP BY 1 ORDER BY doc_id"""))(
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        // an explicit partition count: AQE would coalesce a by-column
        // repartition of a small file back into one task
        val d = T(s, dir, "documents")
          .repartition(s.sessionState.conf.numShufflePartitions, col("doc_id"))
          .select(col("doc_id"), TextAnalysis.normalizeText(col("text")).as("norm"))
        // per-position 8-char window hashes; docs under 8 chars emit no
        // grams (sequence(1,0) would step BACKWARD in Spark — emit an
        // explicit empty array, the q295 guard)
        val g = d.select(col("doc_id"),
            posexplode(transform(
              when(length(col("norm")) >= 8,
                sequence(lit(1), length(col("norm")) - 7))
                .otherwise(array().cast("array<int>")),
              i => col("norm").substr(i, lit(8)))).as(Seq("pos0", "gram")))
          .select(col("doc_id"), (col("pos0") + 1).as("pos"),
            graft.functions.Hashing.hash48(col("gram")).as("h"))
        val w = Window.partitionBy("doc_id").orderBy("pos")
          .rowsBetween(Window.unboundedPreceding, -1)
        val ch = g
          .withColumn("chunk", lit(1) + coalesce(
            sum(when(col("h") % 64 === 0, 1).otherwise(0)).over(w), lit(0)))
          .groupBy("doc_id", "chunk")
          .agg(count(lit(1)).as("clen"),
            (sum(col("h")).cast("decimal(38,0)") % lit(1L << 48))
              .cast("long").as("sig"))
        // a (sig, clen) shared by two doc_ids is a cross-doc duplicate:
        // min != max over its window is count(DISTINCT doc_id) > 1; the
        // null-sig filter keeps the oracle's inner-join semantics
        val bySig = Window.partitionBy("sig", "clen")
        ch.where(col("sig").isNotNull)
          .withColumn("dup", min(col("doc_id")).over(bySig) =!= max(col("doc_id")).over(bySig))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_chunks"),
            sum(when(col("dup"), 1L).otherwise(0L)).as("n_dup_chunks"),
            round(sum(col("clen")).cast("double") / count(lit(1)), 6)
              .as("avg_chunk_len"))
          .orderBy("doc_id")
      }),

    // Survivorship / golden-record construction (the MDM step AFTER
    // clustering, q247's field-level generalization): each near-dup
    // cluster (q54's simhash components; unclustered docs are their own
    // singleton cluster) merges into ONE record by explicit field
    // rules — longest text wins the content (tie → smallest id), the
    // MODAL language wins lang (tie → lexicographically smallest), and
    // provenance keeps the distinct-source count. Every rule is a
    // deterministic total order, so the golden record is reproducible
    // run-to-run — the property that makes survivorship auditable.
    // Scale: the component frame joins back to the doc table on id
    // (equi), the two rules are one cluster-partitioned window each.
    Q("q316_survivorship", Q.sql(s"""
        WITH RECURSIVE $componentCtes,
        mem AS (
          SELECT d.doc_id, coalesce(c.component, d.doc_id) AS cluster,
            d.lang, d.source, d.n_chars
          FROM documents d LEFT JOIN comp c ON c.id = d.doc_id),
        surv AS (
          SELECT cluster, doc_id AS survivor_id, n_chars AS survivor_chars
          FROM (
            SELECT cluster, doc_id, n_chars, row_number() OVER (
              PARTITION BY cluster ORDER BY n_chars DESC, doc_id) AS rn
            FROM mem) x
          WHERE rn = 1),
        lc AS (
          SELECT cluster, lang AS modal_lang FROM (
            SELECT cluster, lang, row_number() OVER (
              PARTITION BY cluster ORDER BY count(*) DESC, lang) AS rn
            FROM mem GROUP BY cluster, lang) x
          WHERE rn = 1),
        st AS (
          SELECT cluster, count(*) AS n_members,
            count(DISTINCT source) AS n_sources
          FROM mem GROUP BY 1)
        SELECT st.cluster AS cluster, st.n_members, st.n_sources,
          surv.survivor_id, surv.survivor_chars, lc.modal_lang
        FROM st JOIN surv ON surv.cluster = st.cluster
          JOIN lc ON lc.cluster = st.cluster
        ORDER BY cluster"""))(
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val docs = T(s, dir, "documents")
        val comp = stagedSimhashComponents(s, dir)
        val mem = docs
          .join(comp, docs("doc_id") === comp("id"), "left")
          .select(col("doc_id"),
            coalesce(col("component"), col("doc_id")).as("cluster"),
            col("lang"), col("source"), col("n_chars"))
        val surv = mem
          .withColumn("rn", row_number().over(Window.partitionBy("cluster")
            .orderBy(col("n_chars").desc, col("doc_id"))))
          .where(col("rn") === 1)
          .select(col("cluster"), col("doc_id").as("survivor_id"),
            col("n_chars").as("survivor_chars"))
        val lc = mem.groupBy("cluster", "lang")
          .agg(count(lit(1)).as("cnt"))
          .withColumn("rn", row_number().over(Window.partitionBy("cluster")
            .orderBy(col("cnt").desc, col("lang"))))
          .where(col("rn") === 1)
          .select(col("cluster"), col("lang").as("modal_lang"))
        val st = mem.groupBy("cluster")
          .agg(count(lit(1)).as("n_members"),
            countDistinct(col("source")).as("n_sources"))
        st.join(surv, "cluster").join(lc, "cluster")
          .select(col("cluster"), col("n_members"), col("n_sources"),
            col("survivor_id"), col("survivor_chars"), col("modal_lang"))
          .orderBy("cluster")
      }),

    // Exact dedup: one row per content hash with survivor id + copy count.
    Q("q34_dedup_exact", Q.sql("""
        SELECT md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS content_hash,
          min(doc_id) AS keep_id, count(*) AS n_copies
        FROM documents
        GROUP BY 1
        ORDER BY content_hash"""))(
      (s, dir) =>
        Dedup.exactGroups(T(s, dir, "documents"), col("doc_id"), col("text"))
          .orderBy("content_hash")),

    // Exact n-gram Jaccard near-dup pairs (3-word shingles, j >= 0.8).
    Q("q35_jaccard_pairs", Q.sql(s"""
        $shingleCtes,
        inter AS (
          SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_inter
          FROM sh a JOIN sh b ON a.shash = b.shash AND a.id < b.id
          GROUP BY 1, 2)
        SELECT id_a, id_b, n_inter, ca.n_sh AS n_a, cb.n_sh AS n_b,
          round(n_inter * 1.0 / (ca.n_sh + cb.n_sh - n_inter), 6) AS jaccard
        FROM inter
        JOIN cnt ca ON ca.id = id_a
        JOIN cnt cb ON cb.id = id_b
        WHERE round(n_inter * 1.0 / (ca.n_sh + cb.n_sh - n_inter), 6) >= 0.8
        ORDER BY id_a, id_b"""))(
      (s, dir) =>
        // the staged frame is jaccardPairs at threshold 0 over the
        // staged base's (id, shash) distinct (= shingleHashSet(n=3):
        // same md5-prefix derivation, distinct applied after); the 0.8
        // cut is the same rounded-column filter jaccardPairs applies
        stagedJaccardPairs(s, dir)
          .where(col("jaccard") >= 0.8)
          .select("id_a", "id_b", "n_inter", "n_a", "n_b", "jaccard")
          .orderBy("id_a", "id_b")),

    // All-pairs Jaccard via PREFIX FILTERING (Bayardo et al. WWW'07) on
    // 4-gram shingles at t=0.5, DEDUP-FIRST (round-15 SCALE.md
    // adjudication, encoded as the default): byte-identical texts
    // collapse to one representative (min doc_id, group size kept as
    // sz) BEFORE the prefix filter, so a duplicate-heavy corpus no
    // longer materializes sz·(sz−1)/2 mandatory J=1 intra-group pairs —
    // the 100× replica fixture grew exact-duplicate pairs ~3×10⁶×
    // while per-candidate work stayed flat; those pairs are now implied
    // by sz > 1. Each rep indexes only its |d|-ceil(t|d|)+1 rarest
    // shingles, candidates collide inside prefixes only, then the exact
    // verify runs on candidates. The oracle computes the UNFILTERED
    // all-pairs result over the same deduped universe — the hash match
    // is the empirical proof that the prefix filter is lossless.
    Q("q279_ppjoin_pairs", Q.sql(s"""
        WITH g AS (
          SELECT min(doc_id) AS id, text, CAST(count(*) AS BIGINT) AS sz
          FROM documents GROUP BY text),
        w AS (
          SELECT id,
            string_split(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')), ' ') AS ws
          FROM g),
        shr AS (
          SELECT id, ws[pos] || ' ' || ws[pos+1] || ' ' || ws[pos+2]
            || ' ' || ws[pos+3] AS shingle
          FROM w, LATERAL (SELECT unnest(generate_series(1,
            greatest(len(ws) - 3, 0))) AS pos) t),
        sh AS (
          SELECT DISTINCT id, ${PortableSql.hexToLong("md5(shingle)", 12)}
            AS shash
          FROM shr),
        cnt AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY 1),
        inter AS (
          SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_inter
          FROM sh a JOIN sh b ON a.shash = b.shash AND a.id < b.id
          GROUP BY 1, 2)
        SELECT id_a, id_b, ga.sz AS sz_a, gb.sz AS sz_b,
          ca.n_sh AS n_a, cb.n_sh AS n_b,
          round(n_inter * 1.0 / (ca.n_sh + cb.n_sh - n_inter), 6) AS jaccard
        FROM inter
        JOIN cnt ca ON ca.id = id_a
        JOIN cnt cb ON cb.id = id_b
        JOIN g ga ON ga.id = id_a
        JOIN g gb ON gb.id = id_b
        WHERE n_inter * 1.0 / (ca.n_sh + cb.n_sh - n_inter) >= 0.5
        ORDER BY id_a, id_b"""))(
      (s, dir) => {
        import graft.ops.Frames.cached
        val reps = cached(Dedup.exactDedupReps(
          T(s, dir, "documents"), col("doc_id"), col("text")))
        val sz = reps.select(col("id"), col("sz"))
        Dedup.jaccardPairsPrefix(
            Dedup.shingleHashSet(reps, col("id"), col("text"), 4),
            threshold = 0.5)
          .join(sz.toDF("id_a", "sz_a"), "id_a")
          .join(sz.toDF("id_b", "sz_b"), "id_b")
          .select(col("id_a"), col("id_b"), col("sz_a"), col("sz_b"),
            col("n_a"), col("n_b"), col("jaccard"))
          .orderBy("id_a", "id_b")
      }),

    // MinHash(K=8) + LSH(4 bands x 2 rows) candidates, verified at j >= 0.8.
    // Minhashes are the 48-bit (12 hex char) md5 prefix as BIGINT — same
    // value on both engines, and keeps Spark's aggregation on the
    // HashAggregate fast path (string min would force SortAggregate).
    Q("q36_minhash_lsh", {
      // Signatures aggregate the RAW occurrences (min is multiset-
      // invariant), mirroring the Spark side's single-pass form — and the
      // same double-hashing derivation: hash i = (h1 + i*h2) mod 2^48
      // from the two 48-bit halves of one md5 (Dedup.perShingleHashes).
      Q.sql(s"""
        $shingleCtes,
        $minhashCandCtes,
        inter AS (
          SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_inter
          FROM sh a JOIN sh b ON a.shash = b.shash AND a.id < b.id
          GROUP BY 1, 2)
        SELECT c.id_a, c.id_b,
          round(n_inter * 1.0 / (ca.n_sh + cb.n_sh - n_inter), 6) AS jaccard
        FROM cand c
        JOIN inter i ON i.id_a = c.id_a AND i.id_b = c.id_b
        JOIN cnt ca ON ca.id = c.id_a
        JOIN cnt cb ON cb.id = c.id_b
        WHERE round(n_inter * 1.0 / (ca.n_sh + cb.n_sh - n_inter), 6) >= 0.8
        ORDER BY 1, 2""")
    })(
      (s, dir) => {
        // LSH banding from the staged hash base; exact verify is an
        // equi-join against the staged pair frame (candidate-restricted
        // verify ≡ full-pairs ∩ candidates — DedupSpec)
        val cand = Dedup.minhashCandidates(
          Dedup.signaturesOf(stagedMinhashHashes(s, dir), MinhashK),
          MinhashK, RowsPerBand)
        cand.join(stagedJaccardPairs(s, dir), Seq("id_a", "id_b"))
          .where(col("jaccard") >= 0.8)
          .select("id_a", "id_b", "jaccard")
          .orderBy("id_a", "id_b")
      }),

    // Sketch-only estimated Jaccard over the LSH candidates: signature
    // agreement (matches/K) with NO exact verify join — the pure-sketch
    // pass a 100 TB dedup runs when shingle sets are too large to rejoin
    // (see Dedup.minhashEstimates). K=8 bounds the estimate to eighths;
    // threshold 0.5 keeps the plausible near-dups.
    Q("q90_minhash_estimate", {
      val matches = (0 until MinhashK)
        .map(i => s"CASE WHEN a.m$i = b.m$i THEN 1 ELSE 0 END")
        .mkString(" + ")
      Q.sql(s"""
        $shingleCtes,
        $minhashCandCtes
        SELECT id_a, id_b, est_jaccard FROM (
          SELECT c.id_a, c.id_b,
            round(($matches) / ${MinhashK}.0, 6) AS est_jaccard
          FROM cand c
          JOIN sig a ON a.id = c.id_a
          JOIN sig b ON b.id = c.id_b) t
        WHERE est_jaccard >= 0.5
        ORDER BY id_a, id_b""")
    })(
      (s, dir) =>
        Dedup.minhashEstimatesFrom(
            Dedup.signaturesOf(stagedMinhashHashes(s, dir), MinhashK),
            k = MinhashK, rowsPerBand = RowsPerBand, minEstimate = 0.5)
          .orderBy("id_a", "id_b")),

    // Cross-source contamination matrix: shingle-set Jaccard between
    // SOURCES (the corpus-governance report that catches mirrored/scraped
    // feeds before they skew the training mix). Same string-free
    // (id, shash) machinery as q35 keyed by source — posting lists are
    // bounded by the source count, so the pair join is never quadratic in
    // documents.
    Q("q93_source_overlap", Q.sql(s"""
        ${shingleCtesFor("source")},
        inter AS (
          SELECT a.id AS source_a, b.id AS source_b, count(*) AS n_inter
          FROM sh a JOIN sh b ON a.shash = b.shash AND a.id < b.id
          GROUP BY 1, 2)
        SELECT source_a, source_b, n_inter, ca.n_sh AS n_a, cb.n_sh AS n_b,
          round(n_inter * 1.0 / (ca.n_sh + cb.n_sh - n_inter), 6) AS jaccard
        FROM inter
        JOIN cnt ca ON ca.id = source_a
        JOIN cnt cb ON cb.id = source_b
        ORDER BY source_a, source_b"""))(
      (s, dir) =>
        Dedup.jaccardPairs(
            Dedup.shingleHashSet(T(s, dir, "documents"),
              col("source"), col("text"), 3),
            threshold = 0.0)
          .withColumnRenamed("id_a", "source_a")
          .withColumnRenamed("id_b", "source_b")
          .orderBy("source_a", "source_b")),

    // SimHash hamming-near pairs: pigeonhole banding (maxDist+1 = 4 bands
    // of 12 bits over a 48-bit fingerprint) + exact bit_count(xor)
    // verification. Wide fingerprints are the scale knob: band-bucket
    // collisions (the candidate volume) drop 2^6x vs the 24-bit/6-bit-band
    // configuration, and d<=3 over 48 bits is a sharper near-dup signal.
    Q("q52_simhash_neardup", Q.sql(s"""
        WITH $simhashPairCtes
        SELECT id_a, id_b, hamming FROM cand
        WHERE hamming <= 3
        ORDER BY id_a, id_b"""))(
      (s, dir) =>
        stagedSimhashPairs(s, dir)
          .orderBy("id_a", "id_b")),

    // SimHash (16-bit, token-frequency weighted) per document.
    Q("q37_simhash", {
      val h = PortableSql.hexToLong("md5(tok)", 4)
      val bitSums = (0 until 16)
        .map(b => s"sum(${PortableSql.bit("h", b)} * 2 - 1) AS s$b")
        .mkString(", ")
      val fp = (0 until 16)
        .map(b => s"(CASE WHEN s$b >= 0 THEN ${PortableSql.pow2(b)} ELSE 0 END)")
        .mkString(" + ")
      Q.sql(s"""
        WITH toks AS (
          SELECT doc_id AS id,
            unnest(string_split(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')), ' ')) AS tok
          FROM documents),
        hashed AS (SELECT id, $h AS h FROM toks),
        bitsums AS (SELECT id, $bitSums FROM hashed GROUP BY 1)
        SELECT id, $fp AS simhash FROM bitsums
        ORDER BY id""")
    })(
      (s, dir) =>
        Dedup.simhash(T(s, dir, "documents"), col("doc_id"), col("text"))
          .orderBy("id")),

    // Near-dup cluster formation: connected components over the simhash
    // pair graph (q52's edges) — min reachable id as the cluster
    // representative. Spark side is iterative min-label propagation
    // (diameter-bounded joins); oracle is the equivalent transitive
    // closure via a recursive CTE.
    Q("q54_components", Q.sql(s"""
        WITH RECURSIVE $componentCtes
        SELECT id, component
        FROM comp
        ORDER BY id"""))(
      (s, dir) =>
        stagedSimhashComponents(s, dir)
          .orderBy("id")),

    // Benchmark decontamination report (the n-gram-overlap check every
    // training corpus runs against eval sets): docs sharing any 3-gram
    // shingle with the pseudo-benchmark slice (id % 97 = 0), with the
    // overlap count and contamination ratio that drive the drop decision.
    // Scale shape: the benchmark shingle set is tiny (eval suites are
    // ~10^3 docs) → BROADCAST semi-join against it; the corpus never
    // shuffles on content.
    Q("q70_decontaminate", Q.sql(s"""
        $shingleCtes,
        bench AS (SELECT DISTINCT shash FROM sh WHERE id % 97 = 0),
        ov AS (
          SELECT id, count(*) AS n_overlap
          FROM sh
          WHERE id % 97 <> 0 AND shash IN (SELECT shash FROM bench)
          GROUP BY 1)
        SELECT ov.id AS id, n_overlap, n_sh,
          round(n_overlap * 1.0 / n_sh, 6) AS contamination
        FROM ov JOIN cnt ON cnt.id = ov.id
        ORDER BY id"""))(
      (s, dir) => {
        // staged distinct 3-shingle set: the scan-explode-distinct pass
        // runs once per fixture (io/Staged), not once per query
        val sh = stagedShingleSet(s, dir)
        val bench = broadcast(
          sh.where(col("id") % 97 === 0).select("shash").distinct())
        sh.where(col("id") % 97 =!= 0)
          .join(bench, Seq("shash"), "left_semi")
          .groupBy("id").agg(count(lit(1)).as("n_overlap"))
          .join(Dedup.shingleCounts(sh), Seq("id"))
          .withColumn("contamination",
            round(col("n_overlap") * 1.0 / col("n_sh"), 6))
          .select("id", "n_overlap", "n_sh", "contamination")
          .orderBy("id")
      }),

    // Intra-document repetition ratio (Gopher-style quality rule): the
    // most frequent 3-gram's share of all 3-gram occurrences. One narrow
    // two-level aggregation over the hashed raw shingles — no joins, no
    // per-doc state beyond the agg buffers.
    Q("q71_repetition", Q.sql(s"""
        $shingleCtes,
        occ AS (
          SELECT id, ${PortableSql.hexToLong("md5(shingle)", 12)} AS sh,
            count(*) AS n
          FROM shr GROUP BY 1, 2)
        SELECT id, max(n) AS max_rep, CAST(sum(n) AS BIGINT) AS n_occ,
          round(max(n) * 1.0 / sum(n), 6) AS rep_ratio
        FROM occ GROUP BY id
        ORDER BY id"""))(
      (s, dir) =>
        Dedup.repetitionRatios(T(s, dir, "documents"),
            col("doc_id"), col("text"), 3)
          .orderBy("id")),

    // End-to-end near-dup corpus dedup: q52's simhash pair graph collapsed
    // to connected components (q54), keep one representative per cluster
    // plus all unpaired docs — the surviving corpus with its cluster
    // sizes. This is the frame a 100 TB training pipeline actually feeds
    // downstream after near-dedup (see Dedup.dedupByComponents for the
    // broadcast-shaped scale story).
    Q("q84_cluster_dedup", Q.sql(s"""
        WITH RECURSIVE $componentCtes,
        csize AS (SELECT component, count(*) AS cluster_size FROM comp GROUP BY 1)
        SELECT d.doc_id AS id, coalesce(cluster_size, 1) AS cluster_size
        FROM documents d
        LEFT JOIN comp c ON c.id = d.doc_id
        LEFT JOIN csize s ON s.component = c.component
        WHERE c.id IS NULL OR c.component = d.doc_id
        ORDER BY id"""))(
      (s, dir) =>
        Dedup.dedupByComponentsFrom(
            T(s, dir, "documents"), col("doc_id"),
            stagedSimhashComponents(s, dir))
          .orderBy("id")),

    // Quality-aware cluster collapse: same simhash component graph as
    // q84, but each cluster keeps its HIGHEST-n_chars member (ties to the
    // lowest id) instead of the min-id one — the retention policy a
    // training pipeline actually wants (keep the best copy, not an
    // arbitrary one). Singletons pass through with cluster_size 1.
    Q("q247_best_rep_dedup", Q.sql(s"""
        WITH RECURSIVE $componentCtes,
        m AS (
          SELECT c.component, c.id, d.n_chars,
            row_number() OVER (
              PARTITION BY c.component ORDER BY d.n_chars DESC, c.id) AS rn,
            count(*) OVER (PARTITION BY c.component) AS cluster_size
          FROM comp c JOIN documents d ON d.doc_id = c.id)
        SELECT id AS keep_id, cluster_size, n_chars AS rep_score
        FROM m WHERE rn = 1
        UNION ALL
        SELECT d.doc_id, CAST(1 AS BIGINT), d.n_chars
        FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
        WHERE c.id IS NULL
        ORDER BY keep_id"""))(
      (s, dir) =>
        Dedup.dedupByBestFrom(T(s, dir, "documents"), col("doc_id"),
            col("n_chars"),
            stagedSimhashComponents(s, dir))
          .orderBy("keep_id")),

    // Near-dup-aware train/test split: the split key is the doc's near-dup
    // COMPONENT representative (itself when unpaired), so every member of
    // a near-dup cluster lands on the same side — the leakage guard plain
    // per-doc hash splits (q56) cannot give. Split stays a pure function
    // of content, so any engine/run reproduces it.
    Q("q252_component_split", {
      val rep = "coalesce(c.component, d.doc_id)"
      Q.sql(s"""
        WITH RECURSIVE $componentCtes
        SELECT d.doc_id, $rep AS rep_id,
          CASE WHEN ${PortableSql.hexToLong(
            s"md5(CAST($rep AS VARCHAR) || 'cs')", 12)} % 1000 < 900
            THEN 'train' ELSE 'test' END AS split
        FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
        ORDER BY d.doc_id""")
    })(
      (s, dir) => {
        val docs = T(s, dir, "documents")
        val comp = stagedSimhashComponents(s, dir)
        val withRep = docs.select(col("doc_id"))
          .join(comp.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
          .withColumn("rep_id", coalesce(col("component"), col("doc_id")))
        graft.ops.Sampling.split(withRep, col("rep_id"), trainPm = 900,
            valPm = 0, salt = "cs")
          .select("doc_id", "rep_id", "split")
          .orderBy("doc_id")
      }),

    // Per-source duplication profile: how much of each source survives
    // exact dedup — the report that decides which crawls/sources are
    // worth re-ingesting. One aggregation over (source, fingerprint).
    Q("q255_dedup_report", Q.sql("""
        SELECT source, count(*) AS n_docs,
          count(DISTINCT md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))))
            AS n_unique,
          CAST(count(*) -
            count(DISTINCT md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))))
            AS BIGINT) AS n_dup_docs,
          round((count(*) -
            count(DISTINCT md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g')))))
            * 1.0 / count(*), 6) AS dup_ratio
        FROM documents
        GROUP BY 1 ORDER BY 1"""))(
      (s, dir) =>
        T(s, dir, "documents")
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            countDistinct(TextAnalysis.fingerprint(col("text")))
              .as("n_unique"))
          .withColumn("n_dup_docs", col("n_docs") - col("n_unique"))
          .withColumn("dup_ratio",
            round((col("n_docs") - col("n_unique")) * lit(1.0) /
              col("n_docs"), 6))
          .orderBy("source")),

    // Token-weighted dedup inflation per language: how many tokens the
    // raw corpus carries vs its per-lang exact-dedup survivors — the
    // "effective corpus size" number that decides whether dedup is worth
    // a pipeline stage for that slice. Copies of a fingerprint share the
    // token count, so the per-group one-copy count is max(n_tokens).
    Q("q258_dup_inflation", Q.sql("""
        WITH f AS (
          SELECT doc_id, lang,
            CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
              AS n_tokens,
            md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
          FROM documents),
        g AS (
          SELECT lang, fp, count(*) AS cnt,
            CAST(sum(n_tokens) AS BIGINT) AS tok_total,
            max(n_tokens) AS tok_one
          FROM f GROUP BY 1, 2)
        SELECT lang, CAST(sum(cnt) AS BIGINT) AS n_docs,
          CAST(sum(tok_total) AS BIGINT) AS total_tokens,
          CAST(sum(tok_one) AS BIGINT) AS unique_tokens,
          round(sum(tok_total) * 1.0 / sum(tok_one), 6) AS inflation
        FROM g GROUP BY 1 ORDER BY 1"""))(
      (s, dir) =>
        T(s, dir, "documents")
          .select(col("doc_id"), col("lang"),
            TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"),
            TextAnalysis.fingerprint(col("text")).as("fp"))
          .groupBy("lang", "fp")
          .agg(count(lit(1)).as("cnt"), sum(col("n_tokens")).as("tok_total"),
            max(col("n_tokens")).as("tok_one"))
          .groupBy("lang")
          .agg(sum(col("cnt")).as("n_docs"),
            sum(col("tok_total")).as("total_tokens"),
            sum(col("tok_one")).as("unique_tokens"))
          .withColumn("inflation",
            round(col("total_tokens") * lit(1.0) / col("unique_tokens"), 6))
          .orderBy("lang")),

    // Shingle novelty: fraction of each doc's distinct 3-gram shingles
    // with global document frequency 1 — low novelty flags boilerplate
    // and near-copies the pairwise passes price individually; it is also
    // the memorization-risk screen (how much of this doc exists nowhere
    // else). Two hash shuffles on the shingle-hash key, no text moves.
    Q("q259_novelty", Q.sql(s"""
        $shingleCtes,
        gdf AS (SELECT shash, count(*) AS df FROM sh GROUP BY 1)
        SELECT sh.id AS doc_id, count(*) AS n_sh,
          CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
          round(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) * 1.0 / count(*), 6)
            AS novelty
        FROM sh JOIN gdf USING (shash)
        GROUP BY 1 ORDER BY 1"""))(
      (s, dir) =>
        // staged distinct 3-shingle set (shared with q70/q165/jacc3)
        Dedup.noveltyScoresFrom(stagedShingleSet(s, dir))
          .select(col("id").as("doc_id"), col("n_sh"), col("n_novel"),
            col("novelty"))
          .orderBy("doc_id")),

    // N-gram diversity per source: distinct/total 3-gram ratio — the
    // templated-content detector (low diversity = a source stamping the
    // same boilerplate into many documents). One aggregation over the
    // (source, shingle-hash) frame.
    Q("q260_ngram_diversity", {
      val h = PortableSql.hexToLong("md5(shingle)", 12)
      Q.sql(s"""
        WITH w AS (
          SELECT source,
            string_split(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')), ' ') AS ws
          FROM documents),
        shr AS (
          SELECT source, ws[pos] || ' ' || ws[pos+1] || ' ' || ws[pos+2] AS shingle
          FROM w, LATERAL (SELECT unnest(generate_series(1, greatest(len(ws) - 2, 0))) AS pos) t)
        SELECT source, count(*) AS n_shingles,
          count(DISTINCT $h) AS n_distinct,
          round(count(DISTINCT $h) * 1.0 / count(*), 6) AS diversity
        FROM shr GROUP BY 1 ORDER BY 1""")
    })(
      (s, dir) =>
        Dedup.shinglesRaw(T(s, dir, "documents"), col("source"),
            col("text"), 3)
          .select(col("id").as("source"),
            graft.functions.Hashing.hash48(col("shingle")).as("sh"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_shingles"),
            countDistinct(col("sh")).as("n_distinct"))
          .withColumn("diversity",
            round(col("n_distinct") * lit(1.0) / col("n_shingles"), 6))
          .orderBy("source")),

    // Incremental ingest dedup: the batch with doc_id >= 400 admitted
    // against the fingerprint index of the existing corpus (doc_id <
    // 400) — the per-batch admission check an always-on pipeline runs
    // instead of re-deduping everything. Text never shuffles; only the
    // md5 key moves.
    Q("q264_incremental_dedup", Q.sql("""
        WITH idx AS (
          SELECT DISTINCT md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
          FROM documents WHERE doc_id < 400),
        inc AS (
          SELECT doc_id AS id,
            md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
          FROM documents WHERE doc_id >= 400)
        SELECT inc.id, inc.fp, (idx.fp IS NOT NULL) AS dup_of_existing
        FROM inc LEFT JOIN idx ON idx.fp = inc.fp
        ORDER BY id"""))(
      (s, dir) => {
        val docs = T(s, dir, "documents")
        Dedup.incrementalDedup(
            existing = docs.where(col("doc_id") < 400),
            incoming = docs.where(col("doc_id") >= 400),
            col("doc_id"), col("text"))
          .orderBy("id")
      }),

    // LSH threshold calibration: precision/recall of the q36 banding
    // (K=8, 2 rows/band) against GROUND-TRUTH Jaccard, swept over five
    // candidate thresholds in one pass — the operating curve that picks
    // a production dedup threshold. Truth pairs come from the exact
    // posting-list join (the q35 machinery); candidates with no shared
    // shingle count as J=0. Run this calibration on a SAMPLE at 100 TB —
    // the truth side is the quadratic pass LSH exists to avoid; the
    // banding side is the production shape. All ratios are single
    // divisions of exact integers.
    Q("q293_dedup_calibration", Q.sql(s"""
        $shingleCtes,
        $minhashCandCtes,
        inter AS (
          SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_inter
          FROM sh a JOIN sh b ON a.shash = b.shash AND a.id < b.id
          GROUP BY 1, 2),
        tj AS (
          SELECT i.id_a, i.id_b,
            round(n_inter * 1.0 / (ca.n_sh + cb.n_sh - n_inter), 6) AS j
          FROM inter i
          JOIN cnt ca ON ca.id = i.id_a
          JOIN cnt cb ON cb.id = i.id_b),
        th AS (SELECT unnest([40, 50, 60, 70, 80]) AS t_pct),
        truth AS (
          SELECT t_pct, CAST(count(*) AS BIGINT) AS n_truth
          FROM tj, th WHERE j >= t_pct / 100.0 GROUP BY 1),
        candj AS (
          SELECT c.id_a, c.id_b, coalesce(tj.j, 0.0) AS j
          FROM cand c LEFT JOIN tj ON tj.id_a = c.id_a AND tj.id_b = c.id_b),
        cs AS (
          SELECT t_pct, CAST(count(*) AS BIGINT) AS n_cand,
            CAST(sum(CASE WHEN j >= t_pct / 100.0 THEN 1 ELSE 0 END)
              AS BIGINT) AS tp
          FROM candj, th GROUP BY 1)
        SELECT cs.t_pct, cs.n_cand, cs.tp,
          coalesce(truth.n_truth, CAST(0 AS BIGINT)) AS n_truth,
          round(cs.tp * 1.0 / cs.n_cand, 6) AS prec,
          CASE WHEN coalesce(truth.n_truth, CAST(0 AS BIGINT)) = 0 THEN NULL
               ELSE round(cs.tp * 1.0 / truth.n_truth, 6) END AS recall
        FROM cs LEFT JOIN truth ON truth.t_pct = cs.t_pct
        ORDER BY cs.t_pct"""))(
      (s, dir) => {
        // Both staged family bases serve here: the hash base feeds the
        // signature→banding pipeline, and the staged pair frame IS the
        // ground-truth side (the minhashNearDups sharing, externalized
        // and amortized across the family).
        val cand = Dedup.minhashCandidates(
          Dedup.signaturesOf(stagedMinhashHashes(s, dir), MinhashK),
          MinhashK, RowsPerBand)
        // cached: the truth frame is consumed by the per-threshold census
        // AND the candidate left-join
        val tj = graft.ops.Frames.cached(stagedJaccardPairs(s, dir)
          .select(col("id_a"), col("id_b"), col("jaccard").as("j")))
        val th = s.range(1)
          .select(explode(typedlit(Seq(40, 50, 60, 70, 80))).as("t_pct"))
        val cut = col("t_pct") / lit(100.0)
        val truth = tj.crossJoin(broadcast(th)).where(col("j") >= cut)
          .groupBy("t_pct").agg(count(lit(1)).as("n_truth"))
        val candj = cand.join(tj, Seq("id_a", "id_b"), "left")
          .select(col("id_a"), col("id_b"), coalesce(col("j"), lit(0.0)).as("j"))
        val cs = candj.crossJoin(broadcast(th))
          .groupBy("t_pct")
          .agg(count(lit(1)).as("n_cand"),
            sum(when(col("j") >= cut, 1L).otherwise(0L)).as("tp"))
        cs.join(truth, Seq("t_pct"), "left")
          .select(col("t_pct"), col("n_cand"), col("tp"),
            coalesce(col("n_truth"), lit(0L)).as("n_truth"),
            round(col("tp") * 1.0 / col("n_cand"), 6).as("prec"),
            when(coalesce(col("n_truth"), lit(0L)) === 0, lit(null))
              .otherwise(round(col("tp") * 1.0 / col("n_truth"), 6))
              .as("recall"))
          .orderBy("t_pct")
      })
  )
}
