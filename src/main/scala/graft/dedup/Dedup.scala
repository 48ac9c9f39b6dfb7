package graft.dedup

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

import graft.text.TextAnalysis

/** Deduplication operators for a training-data pipeline (north-star set):
  * exact (content-hash), n-gram Jaccard near-dup, MinHash+LSH, SimHash.
  *
  * Scale design (100 TB):
  *  - exact dedup is one hash aggregation on the 32-byte fingerprint — the
  *    shuffle carries (hash, min_id, count), never the documents;
  *  - shingling is a narrow projection + explode; the distinct is a
  *    map-side-combined aggregation on (doc, shingle);
  *  - MinHash signatures aggregate K mins per doc in ONE pass (K agg
  *    columns, not K passes); LSH banding turns the quadratic pair search
  *    into an equi-join on band keys — only same-bucket pairs are
  *    materialized, so candidate volume scales with collision count, not
  *    n^2;
  *  - the exact-Jaccard verify join touches only candidate pairs.
  *
  * All hashing is md5-based (identical on both engines) so every step is
  * oracle-checkable — see [[graft.functions.PortableSql]].
  */
object Dedup {

  import graft.ops.Frames.{cached, driverSized, materialize, materializeCounted, spread}

  /** Exact dedup groups: one row per distinct content fingerprint with the
    * surviving (minimum) id and the duplicate count.
    */
  def exactGroups(df: DataFrame, idCol: Column, textCol: Column): DataFrame =
    df.groupBy(TextAnalysis.fingerprint(textCol).as("content_hash"))
      .agg(min(idCol).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Exact-dedup pre-stage for the pair pipelines (the PPJoin
    * "dedup-first" lever, SCALE.md round-15b adjudication): collapse
    * byte-identical texts to ONE representative (minimum id) BEFORE any
    * shingling or pair join. Output (id, text, sz) — one row per
    * distinct text, sz = group size. A duplicate-heavy corpus otherwise
    * forces the pair join to materialize every intra-group pair
    * (sz·(sz−1)/2 mandatory J=1 rows per group — output-sized, not
    * work-sized); after this stage those pairs are IMPLIED by sz > 1
    * and the similarity join runs on the distinct universe. The
    * original-universe pair set is recoverable by expanding each
    * representative pair across its two groups (and each group
    * internally) — the expansion is the consumer's choice, never a
    * mandatory materialization.
    *
    * One hash aggregation on the md5 fingerprint; `first(text)` is
    * deterministic here because all texts in a group are byte-identical.
    */
  def exactDedupReps(df: DataFrame, idCol: Column, textCol: Column): DataFrame =
    df.select(idCol.as("id"), textCol.as("text"))
      .groupBy(TextAnalysis.fingerprint(col("text")).as("content_hash"))
      .agg(min(col("id")).as("id"), first(col("text")).as("text"),
        count(lit(1)).cast("long").as("sz"))
      .select("id", "text", "sz")

  /** Word n-gram shingles with multiplicity (NOT deduped): one row per
    * (id, shingle occurrence). `sequence(1, size-n+1)` is guarded so short
    * documents yield no rows (sequence would otherwise count DOWN for
    * stop < start).
    */
  def shinglesRaw(df: DataFrame, idCol: Column, textCol: Column, n: Int): DataFrame = {
    val words = TextAnalysis.tokens(TextAnalysis.normalizeText(textCol))
    spread(df).select(idCol.as("id"), words.as("w"))
      .select(col("id"),
        explode(
          when(size(col("w")) < n, array())
            .otherwise(transform(
              sequence(lit(1), size(col("w")) - (n - 1)),
              i => concat_ws(" ", slice(col("w"), i, lit(n)))))).as("shingle"))
  }

  /** Pair joins run on the shared 48-bit md5 key instead of the shingle
    * text — see [[graft.functions.Hashing.hash48]].
    */
  private def hash48(c: Column): Column = graft.functions.Hashing.hash48(c)

  /** Word n-gram shingles, one row per (id, distinct shingle), plus
    * `shash` (the 48-bit join hash). Kept for callers that need the
    * shingle TEXT; the pair pipelines use [[shingleHashSet]], which drops
    * the string before the dedup shuffle.
    */
  def shingles(df: DataFrame, idCol: Column, textCol: Column, n: Int): DataFrame =
    shinglesRaw(df, idCol, textCol, n)
      .distinct()
      .withColumn("shash", hash48(col("shingle")))

  /** The distinct (id, shash) shingle set — the string-free form every
    * pair join consumes. The projection to the 8-byte hash happens BEFORE
    * the distinct, so the dedup shuffle carries two longs per row, never
    * the shingle text. Set semantics are identical to
    * `shingles().select(id, shash)` up to simultaneous 48-bit collisions
    * within one document (~2^-48 per in-doc pair); the generated oracle
    * SQL applies the same distinct-on-hash so both engines agree exactly.
    */
  def shingleHashSet(df: DataFrame, idCol: Column, textCol: Column, n: Int): DataFrame =
    shinglesRaw(df, idCol, textCol, n)
      .select(col("id"), hash48(col("shingle")).as("shash"))
      .distinct()

  /** Per-id shingle counts (needed for Jaccard denominators). */
  def shingleCounts(sh: DataFrame): DataFrame =
    sh.groupBy("id").agg(count(lit(1)).as("n_sh"))

  /** Exact pairwise Jaccard over a distinct (id, shash) shingle set
    * (see [[shingleHashSet]]): self-join on shash,
    * |A∩B| / (|A|+|B|-|A∩B|), keeping pairs with jaccard >= threshold.
    * Quadratic in colliding docs — use [[minhashCandidates]] to prefilter
    * at scale.
    *
    * `maxDf` (scale path, off by default): drop shingles appearing in more
    * than `maxDf` documents BEFORE counts and the pair join. Boilerplate
    * shingles have quadratic posting lists (df=10⁶ → 5·10¹¹ pairs for ONE
    * key) and carry no near-dup signal; capping them bounds the worst key
    * at maxDf²/2 pairs. Changes semantics to "Jaccard over shingles with
    * df <= maxDf" — the caller's oracle must apply the same cap.
    */
  def jaccardPairs(shRaw: DataFrame, threshold: Double,
                   maxDf: Option[Int] = None): DataFrame = {
    // The shingle frame is referenced four times below (join sides + both
    // count denominators); without materialization Spark recomputes the
    // scan→explode→distinct subtree per reference. Project to the two
    // 8-byte columns first so a string-bearing caller frame is never
    // cached or shuffled. Cache lifecycle: the harness mains clear the
    // session cache after each query's action.
    val shAll = cached(shRaw.select(col("id"), col("shash")))
    val sh = maxDf match {
      case None => shAll
      case Some(cap) =>
        // df-filter joins on shash, the same key as the pair join below —
        // co-partitioned, so the cap costs one aggregation, no extra
        // shuffle of the big side.
        val keep = shAll.groupBy("shash")
          .agg(count(lit(1)).as("df")).where(col("df") <= cap)
          .select("shash")
        shAll.join(keep, Seq("shash"), "left_semi")
    }
    val counts = shingleCounts(sh)
    val a = sh.as("a")
    val b = sh.as("b")
    val inter = a.join(b,
        col("a.shash") === col("b.shash") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("n_inter"))
    inter
      .join(counts.withColumnRenamed("id", "id_a").withColumnRenamed("n_sh", "n_a"), "id_a")
      .join(counts.withColumnRenamed("id", "id_b").withColumnRenamed("n_sh", "n_b"), "id_b")
      .withColumn("jaccard",
        round(col("n_inter") * 1.0 / (col("n_a") + col("n_b") - col("n_inter")), 6))
      .where(col("jaccard") >= threshold)
      .select("id_a", "id_b", "n_inter", "n_a", "n_b", "jaccard")
  }

  /** Exact-Jaccard pairs via PREFIX FILTERING (Chaudhuri et al. ICDE'06;
    * Bayardo et al. WWW'07 "all-pairs"): each document indexes only its
    * π = |d| − ⌈t·|d|⌉ + 1 globally-RAREST shingles (canonical order:
    * df asc, hash asc); J(A,B) ≥ t forces |A∩B| ≥ ⌈t·|A|⌉ and ⌈t·|B|⌉,
    * so any qualifying pair must collide inside the prefixes — the
    * filter is LOSSLESS while indexing only a (1−t) fraction of each
    * posting list, and the rarest-first order makes the indexed lists
    * the SHORTEST ones. The exact-Jaccard verify then touches candidate
    * pairs only. Same result as [[jaccardPairs]] for any corpus whose
    * pair-union sizes stay under ~5·10^5 shingles; beyond that the two
    * differ only on the 6-dp rounding edge — this filters on the TRUE
    * ratio (the set the prefix bound is lossless for), while
    * [[jaccardPairs]] filters on the rounded display value, which can
    * admit a pair with true J in [t−5e-7, t). At 100 TB this is the
    * difference between joining every posting list and joining the
    * rare tail.
    *
    * The within-document prefix rank is a window PARTITIONED BY id —
    * bounded by document shingle counts, never the corpus.
    * Output: (id_a, id_b, n_a, n_b, jaccard), pairs with jaccard ≥ t.
    */
  def jaccardPairsPrefix(shRaw: DataFrame, threshold: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sh = cached(shRaw.select(col("id"), col("shash")))
    val counts = shingleCounts(sh)
    val dfs = sh.groupBy("shash").agg(count(lit(1)).as("df"))
    val pref = sh.join(dfs, "shash")
      .withColumn("pos", row_number().over(
        Window.partitionBy("id").orderBy(col("df"), col("shash"))))
      .join(counts, "id")
      .where(col("pos") <= col("n_sh") - ceil(col("n_sh") * threshold) + 1)
      .select("id", "shash")
    val cand = pref.as("x").join(pref.as("y"),
        col("x.shash") === col("y.shash") && col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .distinct()
    val inter = cand
      .join(sh.select(col("id").as("id_a"), col("shash")), Seq("id_a"))
      .join(sh.select(col("id").as("id_b"), col("shash")),
        Seq("id_b", "shash"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_inter"))
    inter
      .join(counts.withColumnRenamed("id", "id_a")
        .withColumnRenamed("n_sh", "n_a"), "id_a")
      .join(counts.withColumnRenamed("id", "id_b")
        .withColumnRenamed("n_sh", "n_b"), "id_b")
      // filter on the TRUE ratio, not the 6-dp display rounding: the
      // prefix bound is lossless exactly for {true J >= t}, while a
      // rounded filter would admit pairs with true J in [t-5e-7, t)
      // that the prefix may (correctly) have pruned — divergence only
      // reachable at pair-union sizes above ~5*10^5 shingles, but the
      // exact contract costs nothing
      .where(col("n_inter") * 1.0 /
        (col("n_a") + col("n_b") - col("n_inter")) >= threshold)
      .withColumn("jaccard",
        round(col("n_inter") * 1.0 /
          (col("n_a") + col("n_b") - col("n_inter")), 6))
      .select("id_a", "id_b", "n_a", "n_b", "jaccard")
  }

  /** MinHash signature: K independent min-hashes per id, computed in one
    * aggregation pass. Hash i of shingle s = (h1 + i·h2) mod 2^48 with
    * h1/h2 the two 48-bit halves of ONE md5(s) (see
    * [[perShingleHashes]]). BIGINT buffers keep the aggregation on the
    * HashAggregate fast path — `min` over strings forces SortAggregate
    * (sort-based, an order of magnitude slower here).
    * `min` is multiset-invariant, so the input may be raw
    * ([[shinglesRaw]]) or distinct ([[shingles]]) — identical signatures,
    * and the raw form skips a whole distinct shuffle.
    * Output: id, m0..m{k-1} (long).
    */
  def minhashSignatures(sh: DataFrame, k: Int): DataFrame =
    perShingleHashes(sh, k).groupBy("id")
      .agg(min(col("h0")).as("m0"),
        (1 until k).map(i => min(col(s"h$i")).as(s"m$i")): _*)

  /** Per-shingle-occurrence hash projection: the pair-join hash `shash`
    * plus the K signature hashes h0..h{k-1}, one narrow row of longs per
    * occurrence. This is the last stage that touches the shingle STRING —
    * everything downstream (signature agg, distinct, pair joins) moves
    * only fixed-width longs.
    *
    * ONE md5 per occurrence: the 128-bit digest yields two independent
    * 48-bit halves h1 (= shash, same derivation as [[hash48]]) and h2;
    * signature hash i is (h1 + i·h2) mod 2^48 — double hashing (Kirsch &
    * Mitzenmacher, "Less Hashing, Same Performance", ESA'06). K md5
    * calls per occurrence collapse to one; i·h2 + h1 < 2^52 never
    * overflows a BIGINT, so both engines compute identical values.
    */
  private def perShingleHashes(sh: DataFrame, k: Int): DataFrame = {
    // Digest-direct halves (one md5 per occurrence via Md5Long's memo);
    // numerically identical to conv(substring(md5,...),16,10) — the
    // oracle's derivation.
    val h1 = graft.functions.Md5Long.md5PrefixLong(col("shingle"), 0, 6)
    val h2 = graft.functions.Md5Long.md5PrefixLong(col("shingle"), 6, 6)
    sh.select(
      col("id") +: h1.as("shash") +:
        (0 until k).map(i =>
          ((h1 + lit(i.toLong) * h2) % lit(1L << 48)).as(s"h$i")): _*)
  }

  /** The cached one-pass hash frame [[minhashNearDups]] builds
    * internally, exposed for pipelines that need BOTH the signature and
    * the verify projections (e.g. q293's calibration study): one shingle
    * explode + one md5 per occurrence feeds everything downstream.
    */
  def hashedShingleFrame(df: DataFrame, idCol: Column, textCol: Column,
                         n: Int, k: Int): DataFrame =
    cached(perShingleHashes(shinglesRaw(df, idCol, textCol, n), k))

  /** Signatures from an existing [[hashedShingleFrame]] (the same
    * aggregation [[minhashSignatures]] performs, minus the re-hash).
    */
  def signaturesOf(hashed: DataFrame, k: Int): DataFrame =
    hashed.groupBy("id")
      .agg(min(col("h0")).as("m0"),
        (1 until k).map(i => min(col(s"h$i")).as(s"m$i")): _*)

  /** LSH banding: group the K signature columns into bands of `rowsPerBand`,
    * key each band by the concatenated min-hashes, and emit candidate
    * pairs sharing any band key. Equi-join on (band_idx, band_key) — no
    * cross product. (The band key is plain string concatenation of the
    * BIGINT minhashes — hashing it again buys nothing for an equi-join.)
    *
    * First-matching-band dedup: a pair colliding in several bands would
    * be emitted once per band and need a full `distinct()` shuffle over
    * the candidate multiset (the largest intermediate in the pipeline —
    * near-dup-dense corpora collide in MOST bands). Instead each exploded
    * row carries the whole band-key array and the join keeps a pair only
    * at its LOWEST matching band ("no earlier band also matched", a cheap
    * string-compare filter evaluated inside the join), so every pair
    * surfaces exactly once and the distinct disappears.
    */
  def minhashCandidates(sig: DataFrame, k: Int, rowsPerBand: Int): DataFrame = {
    val nBands = k / rowsPerBand
    val bands = sig.select(
      col("id") +:
        (0 until nBands).map { b =>
          val cols = (b * rowsPerBand until (b + 1) * rowsPerBand)
            .map(i => col(s"m$i").cast("string"))
          concat_ws("|", cols: _*).as(s"band$b")
        }: _*)
    // Cache before the self-join: both sides reference this frame, and
    // without materialization Spark recomputes the whole signature
    // pipeline per side. n_docs × nBands rows of (id, 4-string array,
    // band scalars) — tiny.
    val long = cached(bands.select(col("id"),
      array((0 until nBands).map(b => col(s"band$b")): _*).as("bands"),
      explode(array((0 until nBands).map { b =>
        struct(lit(b).as("band_idx"), col(s"band$b").as("band_key"))
      }: _*)).as("bk"))
      .select(col("id"), col("bands"), col("bk.band_idx").as("band_idx"),
        col("bk.band_key").as("band_key")))
    // true iff no band BEFORE this row's band_idx also matches — the
    // CASE arm for band b compares the b earlier array slots.
    val firstMatch = (1 until nBands).foldLeft(
        when(col("x.band_idx") === 0, lit(true))) { (acc, b) =>
      acc.when(col("x.band_idx") === b,
        (0 until b).map(p =>
          element_at(col("x.bands"), p + 1) =!= element_at(col("y.bands"), p + 1))
          .reduce(_ && _))
    }
    long.as("x").join(long.as("y"),
        col("x.band_idx") === col("y.band_idx") &&
          col("x.band_key") === col("y.band_key") &&
          col("x.id") < col("y.id") && firstMatch)
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
  }

  /** Full MinHash-LSH near-dup pipeline: shingle -> sign -> band -> candidate
    * pairs -> exact-Jaccard verification at `threshold`.
    *
    * Recall caveat when tuning (k, rowsPerBand, threshold): the K hash
    * functions come from double hashing (h1 + i·h2 — see
    * [[perShingleHashes]]), which is Kirsch-Mitzenmacher-sound but makes
    * them pairwise dependent, so band collision probability deviates
    * slightly from the classic independent-hash s-curve
    * (1-(1-s^r)^b). Verification is exact, so precision is unaffected —
    * only recall at the threshold boundary shifts marginally.
    *
    * The verify stage is candidate-restricted: intersections are computed
    * FROM the candidate pairs (pair ⋈ shingles-of-a ⋈ shingles-of-b), never
    * over all shingle collisions — the whole point of LSH is that the
    * candidate set is tiny while the all-collisions pair set is quadratic.
    * Equivalent to intersecting the full Jaccard-pair set with the
    * candidates (DedupSpec proves it), at candidate-proportional cost.
    */
  def minhashNearDups(df: DataFrame, idCol: Column, textCol: Column,
                      n: Int, k: Int, rowsPerBand: Int,
                      threshold: Double): DataFrame =
    // ONE pass over the raw (non-distinct) shingles computes the join hash
    // and all K signature hashes; the cached frame is (k+2) longs wide and
    // the shingle string never reaches a shuffle. Signatures aggregate the
    // raw multiset directly (min is multiset-invariant); the verify side
    // distincts the two-long (id, shash) projection.
    minhashNearDupsFrom(hashedShingleFrame(df, idCol, textCol, n, k),
      k, rowsPerBand, threshold)

  /** [[minhashNearDups]] from a precomputed per-occurrence hash frame
    * (a [[hashedShingleFrame]], possibly served from a
    * [[graft.io.Staged]] parquet stage): identical pair set, minus the
    * shingle-explode + md5 pass every caller of the (df, text) form
    * re-pays.
    */
  def minhashNearDupsFrom(hashedRaw: DataFrame, k: Int, rowsPerBand: Int,
                          threshold: Double): DataFrame = {
    val hashed = cached(hashedRaw)
    val sig = signaturesOf(hashed, k)
    val cands = minhashCandidates(sig, k, rowsPerBand)
    val sh = hashed.select("id", "shash").distinct()
    val inter = cands
      .join(sh.select(col("id").as("id_a"), col("shash")), Seq("id_a"))
      .join(sh.select(col("id").as("id_b"), col("shash")), Seq("id_b", "shash"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_inter"))
    val counts = shingleCounts(sh)
    inter
      .join(counts.withColumnRenamed("id", "id_a").withColumnRenamed("n_sh", "n_a"), "id_a")
      .join(counts.withColumnRenamed("id", "id_b").withColumnRenamed("n_sh", "n_b"), "id_b")
      .withColumn("jaccard",
        round(col("n_inter") * 1.0 / (col("n_a") + col("n_b") - col("n_inter")), 6))
      .where(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Intra-document repetition ratio (the Gopher-style quality rule): the
    * most frequent n-gram's share of all n-gram occurrences per document.
    * Output: (id, max_rep, n_occ, rep_ratio). Two narrow hash
    * aggregations over the hashed raw shingles — no joins, no per-doc
    * state beyond the agg buffers. Documents with fewer than `n` words
    * have no n-grams and produce NO row (callers gating on repetition
    * left-join and coalesce).
    */
  def repetitionRatios(df: DataFrame, idCol: Column, textCol: Column,
                       n: Int): DataFrame =
    shinglesRaw(df, idCol, textCol, n)
      .select(col("id"), hash48(col("shingle")).as("sh"))
      .groupBy("id", "sh").agg(count(lit(1)).as("n"))
      .groupBy("id").agg(max(col("n")).as("max_rep"), sum(col("n")).as("n_occ"))
      .withColumn("rep_ratio", round(col("max_rep") * 1.0 / col("n_occ"), 6))

  /** Sketch-only near-dup scoring: estimated Jaccard from MinHash
    * signature agreement over the LSH candidates — matches/k, never an
    * exact-shingle verify join. This is the pass a 100 TB pipeline runs
    * when the shingle sets are too large to re-join: candidate volume is
    * collision-bounded and verification touches only the k-long
    * signatures already in hand (E[matches/k] = Jaccard; k bounds the
    * estimator variance). Output: (id_a, id_b, est_jaccard) for
    * candidates with est_jaccard >= `minEstimate`.
    */
  def minhashEstimates(df: DataFrame, idCol: Column, textCol: Column,
                       n: Int, k: Int, rowsPerBand: Int,
                       minEstimate: Double): DataFrame =
    minhashEstimatesFrom(
      minhashSignatures(shinglesRaw(df, idCol, textCol, n), k),
      k, rowsPerBand, minEstimate)

  /** [[minhashEstimates]] from a precomputed signature frame
    * (id, m0..m{k-1}) — e.g. [[signaturesOf]] over a staged
    * [[hashedShingleFrame]].
    */
  def minhashEstimatesFrom(sigRaw: DataFrame, k: Int, rowsPerBand: Int,
                           minEstimate: Double): DataFrame = {
    // Referenced by the banding AND both sides of the estimate join.
    val sig = cached(sigRaw)
    val cands = minhashCandidates(sig, k, rowsPerBand)
    val a = sig.select(col("id").as("id_a") +:
      (0 until k).map(i => col(s"m$i").as(s"am$i")): _*)
    val b = sig.select(col("id").as("id_b") +:
      (0 until k).map(i => col(s"m$i").as(s"bm$i")): _*)
    cands.join(a, "id_a").join(b, "id_b")
      .select(col("id_a"), col("id_b"),
        round((0 until k).map(i =>
            when(col(s"am$i") === col(s"bm$i"), 1).otherwise(0))
          .reduce(_ + _) / lit(k.toDouble), 6).as("est_jaccard"))
      .where(col("est_jaccard") >= minEstimate)
  }

  /** SimHash near-duplicate pairs: hamming(simhash_a, simhash_b) <=
    * `maxDist`. Pigeonhole banding makes it an equi-join: split the
    * fingerprint into `maxDist + 1` bands — any pair within
    * `maxDist` must agree on at least one whole band — then verify
    * candidates with an exact `bit_count(xor)`. No n² comparison;
    * candidate volume scales with band collisions.
    */
  def simhashNearDups(df: DataFrame, idCol: Column, textCol: Column,
                      maxDist: Int = 3, bits: Int = 16): DataFrame = {
    val nBands = maxDist + 1
    val bandBits = bits / nBands
    val fp = simhash(df, idCol, textCol, bits)
    // Cached for the same reason as the LSH bands: the self-join below
    // would otherwise recompute the scan→tokenize→md5→bit-sum pipeline
    // once per side. n_docs × (maxDist+1) rows of four scalars.
    val banded = cached(fp.select(col("id"), col("simhash"),
      explode(array((0 until nBands).map { b =>
        struct(lit(b).as("band_idx"),
          shiftright(col("simhash"), b * bandBits)
            .bitwiseAND(lit((1L << bandBits) - 1)).as("band_val"))
      }: _*)).as("bk"))
      .select(col("id"), col("simhash"),
        col("bk.band_idx").as("band_idx"), col("bk.band_val").as("band_val")))
    // First-matching-band dedup (same trick as [[minhashCandidates]]): a
    // near-identical pair agrees on MOST bands, so the plain banded join
    // emits it up to nBands times and a full `distinct()` over that
    // multiset is the pipeline's largest shuffle. Keeping a pair only at
    // its lowest matching band is a bit-math filter evaluated inside the
    // join (both fingerprints are in the row) — same unique pair set, no
    // distinct stage.
    def bandOf(sim: Column, b: Int): Column =
      shiftright(sim, b * bandBits).bitwiseAND(lit((1L << bandBits) - 1))
    val firstMatch = (1 until nBands).foldLeft(
        when(col("x.band_idx") === 0, lit(true))) { (acc, b) =>
      acc.when(col("x.band_idx") === b,
        (0 until b).map(p =>
          bandOf(col("x.simhash"), p) =!= bandOf(col("y.simhash"), p))
          .reduce(_ && _))
    }
    banded.as("x").join(banded.as("y"),
        col("x.band_idx") === col("y.band_idx") &&
          col("x.band_val") === col("y.band_val") &&
          col("x.id") < col("y.id") && firstMatch)
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).as("hamming"))
      .where(col("hamming") <= maxDist)
  }

  /** Connected components over a near-dup pair graph (id_a, id_b):
    * returns one (id, component) row per endpoint, where `component` is
    * the minimum id reachable — the cluster representative a dedup
    * pipeline keeps. Pair generators ([[minhashNearDups]],
    * [[simhashNearDups]], [[jaccardPairs]]) emit edges; this turns them
    * into groups. Ids are non-null in every caller (document ids, part
    * names filtered `isNotNull`); a null id is rejected on the driver
    * path and has no defined component on the distributed one.
    *
    * Path selection: the mirrored edge list (both directions of every
    * pair) is materialized first, and the job that builds it also counts
    * it ([[graft.ops.Frames.materializeCounted]]). When that count passes
    * the graph kernels' size rule ([[graft.ops.Frames.driverSized]]), the
    * edges are collected and clustered on the driver
    * ([[componentsOnDriver]]): two jobs (build and collect) instead of
    * about two dozen round jobs and checkpoints, for the small graphs
    * near-dup generators emit (SCALE.md).
    *
    * Distributed path (any larger graph; the only path that handles a
    * graph too big for the driver, and the reference the tests compare
    * against): min-label contraction with pointer jumping. Each round
    * (1) relabels every node to the min of itself and its neighbours,
    * (2) CONTRACTS the edge list to the distinct cross-label edges —
    * near-dup clusters are dense, so after round one the 2|pairs|-row
    * edge list collapses to almost nothing and later rounds are free —
    * and (3) composes the cumulative node→representative mapping with
    * itself (pointer jumping), which halves any remaining chain depth so
    * even path-shaped graphs converge in O(log n) rounds (the same
    * regime as the large-star/small-star method of Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14). No
    * driver-side graph state; [[graft.ops.Frames.materialize]] truncates
    * lineage between rounds so round N's plan does not replay rounds
    * 1..N-1, and the contracted edge list is counted by the job that
    * materializes it, so the convergence test costs no job of its own.
    *
    * Both paths return the same columns, types and rows.
    *
    * Throws `IllegalStateException` if edges remain after `maxIters`
    * rounds of the distributed path — an unconverged labeling must never
    * masquerade as a valid clustering. Pointer jumping converges in
    * O(log n) rounds, so the default 25 covers any graph this side of
    * 2^25 chained merges; a throw means the input is adversarial, not
    * that more rounds are a fix.
    */
  def components(pairs: DataFrame, maxIters: Int = 25): DataFrame = {
    require(maxIters > 0, s"maxIters must be positive, got $maxIters")
    // Undirected: keep each edge in both directions so one aggregation
    // per round sees every neighbour. Mirrored with ONE pass over the
    // input (explode of the forward+reverse structs) — a two-branch
    // union would run the pair generator twice before this first
    // materialization barrier, and pair generation (a banded self-join)
    // dwarfs everything below. Generators emit unique id_a < id_b pairs,
    // so the mirrored list needs no dedup; later rounds dedup their own
    // contracted output.
    val (mirrored, Seq(nEdges)) = materializeCounted(pairs
      .select(explode(array(
        struct(col("id_a").as("src"), col("id_b").as("dst")),
        struct(col("id_b").as("src"), col("id_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst")))
    if (driverSized(mirrored, nEdges)) componentsOnDriver(mirrored)
    else componentsDistributed(mirrored, maxIters)
  }

  /** [[components]] on the driver: union-find over the collected edge
    * list, each set rooted at its minimum id under Spark's ordering for
    * the id type (UTF-8 binary order for strings, as `min` uses — not
    * `String.compareTo`, which orders UTF-16 code units). Union keeps the
    * smaller root, so a root is always its set's minimum and the labels
    * do not depend on edge order. Returns a local relation.
    */
  private def componentsOnDriver(edges: DataFrame): DataFrame = {
    val idField = edges.schema("src")
    val idType = idField.dataType
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(idType)
    val toScala = CatalystTypeConverters.createToScalaConverter(idType)
    val ord = TypeUtils.getInterpretedOrdering(idType)
    // keyed by Catalyst values (UTF8String compares and hashes by bytes)
    val parent = scala.collection.mutable.LinkedHashMap.empty[Any, Any]
    def find(x: Any): Any = {
      var node = x
      var up = parent(node)
      while (up != node) { // path halving
        val grand = parent(up)
        parent(node) = grand
        node = grand
        up = parent(node)
      }
      node
    }
    def register(v: Any): Any = {
      require(v != null, "components: null id in the pair graph")
      val id = toCatalyst(v)
      if (!parent.contains(id)) parent(id) = id
      id
    }
    edges.collect().foreach { r =>
      val (a, b) = (find(register(r.get(0))), find(register(r.get(1))))
      if (a != b) { if (ord.lt(a, b)) parent(b) = a else parent(a) = b }
    }
    val rows = parent.keys.toSeq.map(id => Row(toScala(id), toScala(find(id))))
    edges.sparkSession.createDataFrame(rows.asJava, StructType(Seq(
      idField.copy(name = "id"), idField.copy(name = "component"))))
  }

  /** [[components]] as round-based min-label contraction over the
    * materialized mirrored edge list.
    */
  private def componentsDistributed(mirrored: DataFrame, maxIters: Int): DataFrame = {
    var edges = mirrored
    // Cumulative node -> representative mapping; round 0's labels seed it
    // (every node of the graph is a `src` in the mirrored list).
    var mapping: DataFrame = null
    var it = 0
    var remaining = -1L
    while (remaining != 0 && it < maxIters) {
      // (1) Every current representative takes min(self, neighbours).
      // Checkpointed: several joins consume it, and without this each one
      // would re-run the aggregation over the full edge list.
      val labRaw = materialize(
        edges.groupBy("src").agg(min(col("dst")).as("mn"))
          .select(col("src").as("node"), least(col("src"), col("mn")).as("lab")))
      // Pointer-jump the labels (lab := lab∘lab): two hops collapse per
      // round, so chain-shaped merge fronts shrink geometrically. Total
      // join — every lab value is itself a node with a labRaw row.
      val lab = labRaw
        .join(labRaw.select(col("node").as("lab"), col("lab").as("lab2")), Seq("lab"))
        .select(col("node"), col("lab2").as("lab"))
      // (2) Contract: relabel endpoints, keep only cross-label edges —
      // dense near-dup clusters collapse here in the first round, so the
      // 2|pairs| edge list shrinks to almost nothing immediately.
      val (contracted, Seq(n)) = materializeCounted(edges
        .join(lab.select(col("node").as("src"), col("lab").as("slab")), "src")
        .join(lab.select(col("node").as("dst"), col("lab").as("dlab")), "dst")
        .where(col("slab") =!= col("dlab"))
        .select(col("slab").as("src"), col("dlab").as("dst"))
        .distinct())
      edges = contracted
      remaining = n
      // (3) Compose the cumulative mapping with this round's labels;
      // representatives untouched this round (no edges left) keep theirs.
      // Deliberately LAZY: each round's lab is a shallow join of
      // checkpointed labRaw frames, so after R rounds the mapping plan is
      // R small chained joins executed ONCE at the caller's action — an
      // eager barrier here would add a full job per round for frames of
      // at most |nodes| rows.
      mapping =
        if (mapping == null) lab.select(col("node").as("id"), col("lab").as("rep"))
        else mapping
          .join(lab.select(col("node").as("rep"), col("lab")), Seq("rep"), "left")
          .select(col("id"), coalesce(col("lab"), col("rep")).as("rep"))
      it += 1
    }
    if (remaining != 0)
      throw new IllegalStateException(
        s"components did not converge after $maxIters rounds " +
          s"($remaining cross-label edges remain); the labeling is " +
          "incomplete — raise maxIters only if the merge-chain depth " +
          s"genuinely exceeds 2^$maxIters")
    mapping.select(col("id"), col("rep").as("component"))
  }

  /** Keep-one-per-cluster corpus dedup: collapse the near-dup pair graph
    * to connected components ([[components]]) and keep only each
    * cluster's representative (the min id) plus every unpaired document.
    * Output: (id, cluster_size) for the SURVIVING documents — the frame a
    * training pipeline feeds downstream after near-dedup.
    *
    * Scale: `comp`/`sizes` hold one row per document that appears in any
    * near-dup pair — a small fraction of the corpus (near-dup rate), so
    * both joins against the full corpus broadcast in practice; the corpus
    * itself never shuffles on content. The expensive part is the pair
    * generation the caller already did.
    */
  def dedupByComponents(docs: DataFrame, idCol: Column,
                        pairs: DataFrame): DataFrame =
    dedupByComponentsFrom(docs, idCol, components(pairs))

  /** [[dedupByComponents]] over a PRECOMPUTED (id, component) frame —
    * the staged-components path (see DedupQueries.stagedSimhashComponents):
    * the pointer-jumping pass is the expensive stage, so consumers that
    * share one component assignment read it instead of re-deriving it.
    */
  def dedupByComponentsFrom(docs: DataFrame, idCol: Column,
                            comp: DataFrame): DataFrame = {
    val sizes = comp.groupBy("component").agg(count(lit(1)).as("cluster_size"))
    docs.select(idCol.as("id"))
      .join(comp, Seq("id"), "left")
      .join(sizes, Seq("component"), "left")
      .where(col("component").isNull || col("component") === col("id"))
      .select(col("id"), coalesce(col("cluster_size"), lit(1L)).as("cluster_size"))
  }

  /** Incremental ingest dedup: split `incoming` into the rows whose
    * normalized-content fingerprint already exists in `existing` and the
    * novel rest — the per-batch admission check an always-on ingest
    * pipeline runs instead of re-deduping the whole corpus. Returns the
    * incoming frame plus a `dup_of_existing` flag (batch-internal dups
    * are NOT collapsed here — run [[exactGroups]] on the survivors).
    *
    * Scale: the existing side reduces to its distinct fingerprint set
    * (hash-sized, bucketable/broadcastable when the corpus index is
    * pre-built); the join key is the md5, so text never shuffles. At
    * 100 TB the fingerprint index is a bucketed table maintained
    * incrementally — each batch joins against it without a corpus scan.
    */
  def incrementalDedup(existing: DataFrame, incoming: DataFrame,
                       idCol: Column, textCol: Column): DataFrame = {
    val fp = graft.text.TextAnalysis.fingerprint(textCol)
    val index = existing.select(fp.as("fp")).distinct()
    incoming.select(idCol.as("id"), fp.as("fp"))
      .join(index.withColumn("__hit", lit(true)), Seq("fp"), "left")
      .select(col("id"), col("fp"),
        coalesce(col("__hit"), lit(false)).as("dup_of_existing"))
  }

  /** Shingle novelty per document: the fraction of a document's distinct
    * n-gram shingles that appear NOWHERE else in the corpus (global
    * document frequency 1) — high novelty = fresh content, low novelty =
    * boilerplate / near-copy / memorization risk. Output:
    * (id, n_sh, n_novel, novelty), one row per document with ≥1 shingle.
    *
    * Scale: the shingle frame aggregates once for global df and once
    * (joined back on the 48-bit hash) per document — two hash shuffles
    * on the same key family, no corpus text in either.
    */
  def noveltyScores(df: DataFrame, idCol: Column, textCol: Column,
                    n: Int): DataFrame =
    noveltyScoresFrom(cached(shingleHashSet(df, idCol, textCol, n)))

  /** [[noveltyScores]] over a prebuilt distinct (id, shash) set — the
    * entry point for callers serving the set from a staged parquet base
    * ([[graft.io.Staged]]) instead of re-deriving it from text.
    */
  def noveltyScoresFrom(sh: DataFrame): DataFrame = {
    val gdf = sh.groupBy("shash").agg(count(lit(1)).as("df"))
    sh.join(gdf, "shash")
      .groupBy("id")
      .agg(count(lit(1)).as("n_sh"),
        sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty",
        round(col("n_novel") * lit(1.0) / col("n_sh"), 6))
  }

  /** Quality-aware near-dup collapse: like [[dedupByComponents]] but the
    * surviving representative of each cluster is the member with the
    * HIGHEST `scoreCol` (ties to the lowest id) instead of the lowest id
    * — a training pipeline keeps the best-quality copy, not an arbitrary
    * one. Output: (keep_id, cluster_size, rep_score) for survivors
    * (clustered reps + all unpaired documents).
    *
    * Scale: identical to [[dedupByComponents]] — the component frame is
    * near-dup-rate-sized, so the argmax window runs over a small frame
    * partitioned by component (never the corpus), and the singleton pass
    * is one anti-join against the same small frame.
    */
  def dedupByBest(docs: DataFrame, idCol: Column, scoreCol: Column,
                  pairs: DataFrame): DataFrame =
    dedupByBestFrom(docs, idCol, scoreCol, components(pairs))

  /** [[dedupByBest]] over a precomputed (id, component) frame. */
  def dedupByBestFrom(docs: DataFrame, idCol: Column, scoreCol: Column,
                      comp: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = comp.join(
      docs.select(idCol.as("id"), scoreCol.as("rep_score")), Seq("id"))
    val w = Window.partitionBy("component")
    val ranked = scored
      .withColumn("rn",
        row_number().over(w.orderBy(col("rep_score").desc, col("id"))))
      .withColumn("cluster_size", count(lit(1)).over(w))
    val reps = ranked.where(col("rn") === 1)
      .select(col("id").as("keep_id"), col("cluster_size"), col("rep_score"))
    val singles = docs.select(idCol.as("id"), scoreCol.as("rep_score"))
      .join(comp.select("id"), Seq("id"), "left_anti")
      .select(col("id").as("keep_id"), lit(1L).as("cluster_size"),
        col("rep_score"))
    reps.unionByName(singles)
  }

  /** SimHash fingerprint (2^bits-space, default 16 bits so the portable
    * hex-to-int stays in safe integer range): per token, take the first 4
    * hex chars of md5 as a 16-bit hash; per bit, sum +1/-1 over tokens;
    * fingerprint sets bit b when the sum is >= 0. Token multiplicity
    * counts (standard SimHash weighting by frequency).
    */
  def simhash(df: DataFrame, idCol: Column, textCol: Column,
              bits: Int = 16): DataFrame = {
    // Byte-aligned widths hash digest-direct into a long — safe to 48 bits
    // (fingerprint sums and band masks stay well under 2^63, and the
    // oracle's floor-division bit math stays double-exact under 2^53).
    // Non-byte-aligned widths go through conv + CAST(... AS INT), where
    // h < 2^28 keeps the cast safe under Spark 4 ANSI mode.
    require(bits % 4 == 0 && (bits <= 28 || (bits % 8 == 0 && bits <= 48)),
      s"bits must be a multiple of 4 <= 28, or of 8 <= 48; got $bits")
    val toks = spread(df).select(idCol.as("id"),
      explode(TextAnalysis.tokens(TextAnalysis.normalizeText(textCol))).as("tok"))
    // Digest-direct hash for byte-aligned widths (the common case), hex
    // conv otherwise; the oracle uses PortableSql's instr-chain/floor-
    // division forms (DuckDB has no conv()), which compute the identical
    // values — h is a non-negative int < 2^28, so
    // floor(h / 2^b) % 2 == (h >> b) & 1 digit for digit.
    val h = (if (bits % 8 == 0)
        graft.functions.Md5Long.md5PrefixLong(col("tok"), 0, bits / 8)
      else
        conv(substring(md5(col("tok").cast("binary")), 1, bits / 4), 16, 10)
          .cast("long")).as("h")
    def bit(b: Int): Column = shiftright(col("h"), b).bitwiseAND(lit(1L))
    val withH = toks.select(col("id"), h)
    val bitSums = withH.groupBy("id")
      .agg(
        sum(bit(0) * 2 - 1).as("s0"),
        (1 until bits).map(b => sum(bit(b) * 2 - 1).as(s"s$b")): _*)
    bitSums.select(col("id"),
      (0 until bits).map(b =>
        when(col(s"s$b") >= 0, lit(1L << b)).otherwise(lit(0L)))
        .reduce(_ + _).as("simhash"))
  }
}
