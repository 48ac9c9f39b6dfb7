package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.ops.Relational
import graft.functions.{ArrayMath, PortableSql}

/** Similarity search over embedding columns (north-star set).
  *
  * Two paths:
  *  - [[cosine]] / [[knnBruteForce]]: exact brute-force cosine top-k —
  *    the correctness baseline. The pair join is a broadcast of the (small)
  *    query side against the corpus, so the corpus never shuffles.
  *  - [[lshBuckets]] / [[knnLsh]]: random-hyperplane LSH — the scale path.
  *    Deterministic pseudo-random hyperplanes are derived from md5 seeds,
  *    vectors are bucketed by sign-bit signature, and candidate search is
  *    an equi-join on bucket id. At 100 TB this replaces the n×m cross
  *    product with per-bucket joins (recall traded via nBits).
  *
  * Cosine arithmetic is fixed-order double math (left-assoc fold) so
  * results are bit-identical to the DuckDB oracle built from
  * [[PortableSql.cosine]].
  */
object Similarity {

  /** Dot product via the native [[ArrayMath.DotProduct]] expression: a
    * tight codegen loop with the same left-to-right IEEE accumulation
    * order as the oracle's left-assoc `+` chain ([[PortableSql.dot]]).
    * (`zip_with`+`aggregate` evaluates interpreted with a per-row
    * intermediate array; a 64-term `element_at` chain makes a ~320-node
    * tree that gets duplicated into pushed-down join conditions — both
    * dominated the O(n²) pair queries.)
    */
  def dot(a: Column, b: Column, dim: Int): Column = ArrayMath.dot(a, b)

  /** L2 norm — compute ONCE per vector (see [[nearDupPairs]]), never per
    * pair.
    */
  def norm(a: Column, dim: Int): Column = sqrt(dot(a, a, dim))

  /** Cosine similarity (same formula shape as [[PortableSql.cosine]]).
    * For pair joins prefer `dot(a,b)/(norm_a*norm_b)` with hoisted norms.
    */
  def cosine(a: Column, b: Column, dim: Int): Column =
    dot(a, b, dim) / (norm(a, dim) * norm(b, dim))

  /** Spread CPU-heavy per-pair work across all cores: a small parquet
    * input arrives as ONE scan partition (file < maxPartitionBytes), which
    * would run an O(n²) nested-loop join single-threaded. Round-robin
    * repartition of the streamed side costs one tiny shuffle and
    * parallelizes the quadratic stage.
    *
    * Unlike [[graft.ops.Frames.spread]] it has no guard, on purpose: the
    * callers here do quadratic pair work, so even a tiny input carries a
    * lot of work per row, and the byte floor of `Frames.spread` would
    * leave q38's 193 KB `embeddings` scan in one task. (This follows from
    * reading the code; it has not been measured.)
    */
  private def spread(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)

  /** Exact top-k nearest neighbours by cosine for each query vector.
    * `queries` is expected to be small (broadcast side). Corpus norms are
    * computed once in the scan projection, not per (query, corpus) pair —
    * the per-pair work is one dot product.
    */
  def knnBruteForce(queries: DataFrame, corpus: DataFrame, k: Int,
                    dim: Int = 64): DataFrame = {
    val q = queries.select(col("vec_id").as("query_id"),
      col("embedding").as("q_emb"),
      norm(col("embedding"), dim).as("q_norm"))
    val c = spread(corpus).select(col("vec_id").as("neighbor_id"),
      col("embedding").as("c_emb"),
      norm(col("embedding"), dim).as("c_norm"))
    val scored = c.crossJoin(broadcast(q))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos_sim",
        round(dot(col("q_emb"), col("c_emb"), dim) /
          (col("q_norm") * col("c_norm")), 6))
    Relational.topKPerGroup(scored,
        partitionCols = Seq(col("query_id")),
        order = Seq(col("cos_sim").desc, col("neighbor_id").asc),
        k = k)
      .select("query_id", "neighbor_id", "cos_sim", "rank")
  }

  /** All pairs (a < b) with cosine >= threshold — embedding-space near-dup
    * detection. Brute-force O(n²) baseline; [[knnLsh]] is the scale path.
    * Norms are hoisted into the per-side scan projection so the O(n²)
    * inner loop does one dot product per pair instead of three.
    */
  def nearDupPairs(emb: DataFrame, threshold: Double, dim: Int = 64): DataFrame = {
    val a = spread(emb).select(col("vec_id").as("id_a"), col("embedding").as("emb_a"),
      norm(col("embedding"), dim).as("norm_a"))
    val b = emb.select(col("vec_id").as("id_b"), col("embedding").as("emb_b"),
      norm(col("embedding"), dim).as("norm_b"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("cos_sim",
        round(dot(col("emb_a"), col("emb_b"), dim) /
          (col("norm_a") * col("norm_b")), 6))
      .where(col("cos_sim") >= threshold)
      .select("id_a", "id_b", "cos_sim")
  }

  /** Deterministic pseudo-random hyperplane component for (plane p, dim i):
    * maps md5("p|i") to a value in [-1, 1). Computed driver-side with the
    * identical derivation the SQL form would use (first 8 hex chars of the
    * md5 as a base-16 integer, scaled) — hyperplanes are constants, they
    * have no business being plan nodes.
    */
  def planeComponent(p: Int, i: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"$p|$i".getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString.take(8)
    java.lang.Long.parseLong(hex, 16).toDouble / math.pow(16, 8) * 2 - 1
  }

  /** The deterministic hyperplane matrix (nBits × dim) — shared between
    * the Spark bucketing expression and generated oracle SQL.
    */
  def planes(nBits: Int, dim: Int): Array[Array[Double]] =
    Array.tabulate(nBits)(p => Array.tabulate(dim)(i => planeComponent(p, i + 1)))

  /** Sign-bit LSH bucket id from `nBits` random hyperplanes. Vectors whose
    * dot with plane p is >= 0 set bit p. One narrow projection of compact
    * [[ArrayMath.DotWithConst]] expressions — no shuffle, stays in
    * whole-stage codegen.
    */
  def lshBucket(embCol: Column, dim: Int, nBits: Int): Column =
    planes(nBits, dim).zipWithIndex.map { case (plane, p) =>
      when(ArrayMath.dotConst(embCol, plane) >= 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Bucketed approximate near-neighbour candidates: only pairs sharing an
    * LSH bucket are scored. Returns (id_a, id_b, cos_sim) for same-bucket
    * pairs with cosine >= threshold.
    */
  /** Cached (vec_id, embedding, bucket, nrm) projection — the shared
    * first stage of [[knnLsh]] and [[semDedup]] (cached because the
    * bucket self-join consumes it twice).
    */
  private def lshBucketed(emb: DataFrame, dim: Int, nBits: Int): DataFrame =
    graft.ops.Frames.cached(
      spread(emb).select(col("vec_id"), col("embedding"),
        lshBucket(col("embedding"), dim, nBits).as("bucket"),
        norm(col("embedding"), dim).as("nrm")))

  /** Within-bucket candidate pairs (id_a < id_b) with the rounded cosine
    * — the bucket equi-join both LSH consumers build on (hoisted norms,
    * one codegen dot per pair).
    */
  private def bucketPairs(bucketed: DataFrame, dim: Int): DataFrame = {
    val a = bucketed.select(col("bucket"), col("vec_id").as("id_a"),
      col("embedding").as("emb_a"), col("nrm").as("norm_a"))
    val b = bucketed.select(col("bucket"), col("vec_id").as("id_b"),
      col("embedding").as("emb_b"), col("nrm").as("norm_b"))
    a.join(b, Seq("bucket"))
      .where(col("id_a") < col("id_b"))
      .withColumn("cos_sim",
        round(dot(col("emb_a"), col("emb_b"), dim) /
          (col("norm_a") * col("norm_b")), 6))
  }

  def knnLsh(emb: DataFrame, dim: Int, nBits: Int, threshold: Double): DataFrame =
    bucketPairs(lshBucketed(emb, dim, nBits), dim)
      .where(col("cos_sim") >= threshold)
      .select("id_a", "id_b", "bucket", "cos_sim")

  /** Semantic dedup (the SemDedup shape, Abbas et al. 2023): drop every
    * vector that has a lower-id near-duplicate (cosine >= `threshold`)
    * in its LSH bucket; keep the rest. Output: (vec_id, bucket, kept),
    * one row per vector.
    *
    * Scale shape: identical to [[knnLsh]] — bucket equi-join, hoisted
    * norms, one codegen dot per candidate pair — plus one aggregation of
    * the dropped-id set and a left join back. Greedy keep-lowest-id (a
    * vector is dropped if ANY kept-or-dropped lower id is near it): one
    * pass, deterministic, no iteration — the standard approximation to
    * per-cluster exemplar selection (full transitive clustering is
    * [[graft.dedup.Dedup.components]] over the pair output when needed).
    */
  def semDedup(emb: DataFrame, dim: Int, nBits: Int, threshold: Double): DataFrame = {
    val bucketed = lshBucketed(emb, dim, nBits)
    val drops = bucketPairs(bucketed, dim)
      .where(col("cos_sim") >= threshold)
      .select(col("id_b").as("vec_id")).distinct()
    bucketed.select(col("vec_id"), col("bucket"))
      .join(drops.withColumn("_dropped", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("bucket"),
        coalesce(!col("_dropped"), lit(true)).as("kept"))
  }

  /** Recall@k of single-probe LSH candidate generation against the exact
    * cosine top-k — the standard eval a pipeline runs before trusting an
    * ANN index for retrieval/dedup. For each query vector (`vec_id <
    * nQueries`): exact top-k via [[knnBruteForce]], candidate set = other
    * vectors sharing the query's sign-bit bucket, recall = |topk ∩
    * candidates| / k. Output: (query_id, n_hit, recall_at_k).
    *
    * Scale shape: the exact side is the documented O(n·q) baseline
    * (broadcast query side); the candidate side is the same bucket
    * equi-join as [[knnLsh]]. The final hit-join runs on the k·q-row
    * top-k frame — model-sized, broadcastable. At 100 TB the exact side
    * runs on a held-out sample (q queries, not the corpus), which is
    * exactly this shape.
    */
  def annRecallLsh(emb: DataFrame, dim: Int, nBits: Int, k: Int,
                   nQueries: Int): DataFrame = {
    val exact = knnBruteForce(
      emb.where(col("vec_id") < nQueries).limit(nQueries), emb, k, dim)
      .select(col("query_id"), col("neighbor_id"))
    val bucketed = lshBucketed(emb, dim, nBits)
    val q = bucketed.select(col("bucket"), col("vec_id").as("query_id"))
      .where(col("query_id") < nQueries)
    val c = bucketed.select(col("bucket"), col("vec_id").as("neighbor_id"))
    val cand = q.join(c, Seq("bucket"))
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id")).distinct()
      .withColumn("hit", lit(1))
    exact.join(cand, Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(count(col("hit")).as("n_hit"))
      .withColumn("recall_at_k", round(col("n_hit") * lit(1.0) / lit(k), 6))
  }

  /** Reciprocal top-k pairs: (a, b) with a < b where b is in a's exact
    * cosine top-k AND a is in b's — the mutual-nearest-neighbour
    * criterion that cuts hub-dominated false matches in embedding-space
    * linkage. Output: (id_a, id_b, cos_sim).
    *
    * Scale: the all-pairs kNN here is the small-SF baseline (one O(n²)
    * scored join, norms hoisted, then a self-join of the k·n-row top-k
    * frame on its composite key); at corpus scale the same mutual filter
    * composes over [[knnLsh]] candidates instead of the exact kNN.
    */
  def mutualKnn(emb: DataFrame, k: Int, dim: Int = 64): DataFrame = {
    val knn = graft.ops.Frames.cached(
      knnBruteForce(emb, emb, k, dim)
        .select(col("query_id"), col("neighbor_id"), col("cos_sim")))
    val fwd = knn.select(col("query_id").as("id_a"),
      col("neighbor_id").as("id_b"), col("cos_sim"))
    val rev = knn.select(col("neighbor_id").as("id_a"),
      col("query_id").as("id_b"))
    fwd.where(col("id_a") < col("id_b"))
      .join(rev, Seq("id_a", "id_b"), "left_semi")
      .select("id_a", "id_b", "cos_sim")
  }

  /** Top principal direction of the embedding space by power iteration
    * over the raw second-moment matrix E[x_i·x_j]: ONE corpus pass builds
    * the dim×dim moment frame (upper-triangle generated-loop products,
    * rounded then decimal-summed — engine-exact), then `iters`
    * matrix-vector rounds run entirely on that model-sized frame,
    * starting from the constant vector (1/8, ..., 1/8). Output:
    * (dim, loading, eigval), loadings rounded at 6, eigval = the final
    * iterate's norm (the Rayleigh-quotient estimate of λ₁).
    *
    * Scale: the corpus cost is the single moment aggregation (partial
    * aggregation collapses the dim²/2 explode before the shuffle); each
    * iteration joins the CACHED dim²-row matrix against a broadcast
    * dim-row vector — the iterative-linear-algebra-on-model-frames
    * pattern (PageRank, Bellman-Ford) applied to PCA.
    */
  def topEigvec(emb: DataFrame, dim: Int, iters: Int = 3): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val spark = emb.sparkSession
    import spark.implicits._
    val ij = (for { i <- 1 to dim; j <- i to dim } yield (i, j))
      .zipWithIndex.map { case ((i, j), pos) => (pos, i, j) }
      .toDF("pos", "i", "j")
    val m2 = spread(emb)
      .select(posexplode(ArrayMath.upperTriProducts(col("embedding")))
        .as(Seq("pos", "praw")))
      .select(col("pos"), round(col("praw"), 9).as("p"))
      .groupBy("pos")
      .agg(sum(col("p").cast("decimal(27,9)")).cast("double").as("s2"),
        count(lit(1)).as("n"))
      .join(broadcast(ij), "pos")
      .select(col("i"), col("j"), (col("s2") / col("n")).as("m"))
    // The moment matrix is MODEL-sized (dim²·8 bytes — 32 KB at dim 64),
    // so the iteration runs driver-side on the collected cells (the
    // Ivf.train precedent: collect is bounded by model size, never data).
    // Arithmetic replicates the engine expressions bit-for-bit:
    // round-half-up at scale 9 on the double's DECIMAL string form
    // (Spark round / DuckDB round), exact decimal accumulation (the
    // DECIMAL(27,9) sum), IEEE sqrt/divide.
    val mat = Array.ofDim[Double](dim, dim)
    m2.collect().foreach { r =>
      val (i, j, m) = (r.getInt(0) - 1, r.getInt(1) - 1, r.getDouble(2))
      mat(i)(j) = m
      mat(j)(i) = m
    }
    def round9(x: Double): Double =
      java.math.BigDecimal.valueOf(x)
        .setScale(9, java.math.RoundingMode.HALF_UP).doubleValue()
    var v = Array.fill(dim)(0.125)
    var nr = 0.0
    for (_ <- 1 to iters) {
      val w = Array.tabulate(dim) { i =>
        var acc = java.math.BigDecimal.ZERO
        for (j <- 0 until dim)
          acc = acc.add(java.math.BigDecimal.valueOf(round9(mat(i)(j) * v(j))))
        acc.doubleValue()
      }
      var s = java.math.BigDecimal.ZERO
      for (i <- 0 until dim)
        s = s.add(java.math.BigDecimal.valueOf(round9(w(i) * w(i))))
      nr = math.sqrt(s.doubleValue())
      v = w.map(_ / nr)
    }
    val rows = (0 until dim).map(i => (i + 1, round9to6(v(i)), round9to6(nr)))
    rows.toDF("dim", "loading", "eigval")
  }

  private def round9to6(x: Double): Double =
    java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Distance-from-centroid outlier scoring: each vector's Euclidean
    * distance to the global mean vector — the embedding-space quality
    * filter that flags out-of-distribution rows before training.
    * Output: (id, centroid_dist), one row per vector.
    *
    * Scale shape: posexplode fans dim×, the centroid is a dim-row
    * aggregate (never driver-side), and scoring re-joins on the dimension
    * index against the BROADCAST centroid — the corpus shuffles once for
    * its own per-id aggregation and never on content.
    *
    * Determinism: per-dimension sums are decimal-routed (mirror of
    * q81's centroid derivation); squared deviations are decimal-summed
    * before one final sqrt, so the result is aggregation-order-free.
    */
  def centroidDistances(emb: DataFrame, idCol: Column, vecCol: Column): DataFrame = {
    import graft.ops.Relational.dsum
    // Referenced twice (centroid fit + scoring join).
    val pts = graft.ops.Frames.cached(spread(emb)
      .select(idCol.as("id"), posexplode(vecCol.cast("array<double>"))))
    val centroid = pts.groupBy("pos")
      .agg((dsum(col("col"), 8) / count(lit(1))).as("c"))
    pts.join(broadcast(centroid), "pos")
      .groupBy("id")
      .agg(sqrt(dsum((col("col") - col("c")) * (col("col") - col("c")), 8))
        .as("raw"))
      .select(col("id"), round(col("raw"), 6).as("centroid_dist"))
  }
}
