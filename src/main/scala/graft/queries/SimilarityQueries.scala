package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.{load => T}
import graft.functions.PortableSql
import graft.similarity.{Ivf, Pq, Similarity}

/** North-star similarity-search queries over `embeddings` (64-dim float
  * vectors): brute-force cosine top-k (correctness baseline), cosine
  * near-dup pairs, and the two scale paths — hyperplane-LSH buckets and
  * IVF cell probing — each oracled bit-for-bit by embedding the
  * deterministic plane/centroid constants as round-trip double literals
  * in generated DuckDB SQL.
  */
object SimilarityQueries {

  private val Dim = 64
  private val LshBits = 8
  private val IvfK = 8
  private val RecallBits = 4

  private def cosSql(a: String, b: String) =
    s"round(${PortableSql.cosine(a, b, Dim)}, 6)"

  def all: Seq[Q] = Seq(

    // Multi-probe LSH (Lv et al. VLDB'07): instead of growing the table
    // count to fix single-bucket recall, each query ALSO probes the 8
    // buckets at Hamming distance 1 (one sign bit flipped) — the
    // perturbation sequence for sign-bit LSH. Reports, per query: the
    // single-probe and multi-probe candidate counts and recall@3 vs the
    // exact top-3 — the recall-vs-cost curve that decides probe count
    // at 100 TB (9 bucket lookups ≈ 9× candidates for ~0 extra index
    // memory, vs 9 full tables). The probe fan-out is a 45-row
    // broadcast; candidates come from the bucket equi-join, never
    // all-pairs; the exact side is the q38 baseline on 5 queries.
    Q("q311_multiprobe_lsh", {
      val bucket = Similarity.planes(LshBits, Dim).zipWithIndex.map {
        case (plane, p) =>
          s"(CASE WHEN ${PortableSql.dotConst("embedding", plane)} >= 0" +
            s" THEN ${1L << p} ELSE 0 END)"
      }.mkString("(", " + ", ")")
      val flips = 0L +: (0 until LshBits).map(1L << _)
      Q.sql(s"""
        WITH b AS (
          SELECT vec_id, embedding, CAST($bucket AS BIGINT) AS bucket
          FROM embeddings),
        q AS (SELECT * FROM b WHERE vec_id < 5),
        probes AS (
          SELECT q.vec_id AS query_id, q.embedding AS qe,
            xor(q.bucket, CAST(f.flip AS BIGINT)) AS probe,
            f.flip = 0 AS own
          FROM q, LATERAL (
            SELECT unnest(${flips.mkString("[", ", ", "]")}) AS flip) f),
        scored AS (
          SELECT p.query_id, c.vec_id AS neighbor_id, p.own,
            ${cosSql("p.qe", "c.embedding")} AS cos_sim
          FROM probes p JOIN b c
            ON c.bucket = p.probe AND c.vec_id <> p.query_id),
        topm AS (
          SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id, row_number() OVER (
              PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
            FROM scored) x
          WHERE rank <= 3),
        exact AS (
          SELECT query_id, neighbor_id FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
              row_number() OVER (
                PARTITION BY q.vec_id
                ORDER BY ${cosSql("q.embedding", "c.embedding")} DESC, c.vec_id) AS rank
            FROM embeddings q, embeddings c
            WHERE q.vec_id < 5 AND q.vec_id <> c.vec_id) t
          WHERE rank <= 3),
        counts AS (
          SELECT query_id,
            CAST(sum(CASE WHEN own THEN 1 ELSE 0 END) AS BIGINT) AS n_cand_single,
            count(*) AS n_cand_multi
          FROM scored GROUP BY 1),
        hits AS (
          SELECT t.query_id, count(*) AS m
          FROM topm t JOIN exact e
            ON e.query_id = t.query_id AND e.neighbor_id = t.neighbor_id
          GROUP BY 1)
        SELECT c.query_id, c.n_cand_single, c.n_cand_multi,
          round(CAST(coalesce(h.m, 0) AS DOUBLE) / 3, 6) AS recall3
        FROM counts c LEFT JOIN hits h USING (query_id)
        ORDER BY query_id""")
    })(
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val emb = T(s, dir, "embeddings")
        val b = emb.withColumn("bucket",
          Similarity.lshBucket(col("embedding"), Dim, LshBits))
        val flips = 0L +: (0 until LshBits).map(1L << _)
        val probes = b.where(col("vec_id") < 5).limit(5)
          .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
            col("bucket"),
            explode(typedlit(flips.toSeq)).as("flip"))
          .select(col("query_id"), col("qe"),
            col("bucket").bitwiseXOR(col("flip")).as("probe"),
            (col("flip") === 0).as("own"))
        val scored = b
          .select(col("vec_id").as("neighbor_id"),
            col("embedding").as("ce"), col("bucket").as("cbucket"))
          .join(broadcast(probes),
            col("cbucket") === col("probe") &&
              col("neighbor_id") =!= col("query_id"))
          .select(col("query_id"), col("neighbor_id"), col("own"),
            round(Similarity.cosine(col("qe"), col("ce"), Dim), 6)
              .as("cos_sim"))
        val topm = scored
          .withColumn("rank", row_number().over(Window.partitionBy("query_id")
            .orderBy(col("cos_sim").desc, col("neighbor_id"))))
          .where(col("rank") <= 3)
          .select("query_id", "neighbor_id")
        val exact = Similarity.knnBruteForce(emb.where(col("vec_id") < 5).limit(5), emb, 3)
          .select("query_id", "neighbor_id")
        val counts = scored.groupBy("query_id")
          .agg(sum(when(col("own"), 1L).otherwise(0L)).as("n_cand_single"),
            count(lit(1)).as("n_cand_multi"))
        val hits = topm.join(exact, Seq("query_id", "neighbor_id"))
          .groupBy("query_id").agg(count(lit(1)).as("m"))
        counts.join(hits, Seq("query_id"), "left")
          .select(col("query_id"), col("n_cand_single"), col("n_cand_multi"),
            round(coalesce(col("m"), lit(0L)).cast("double") / 3, 6)
              .as("recall3"))
          .orderBy("query_id")
      }),

    // Johnson-Lindenstrauss random projection audit: project the 64-dim
    // embeddings onto 16 deterministic md5-derived hyperplanes (the q41
    // planes, kept as VALUES instead of sign bits) and measure how well
    // cosine survives — mean/max |cos16 − cos64| over a fixed 40-vector
    // sample (780 pairs, model-sized by construction). The dimension-
    // reduction decision every 100 TB vector store makes (4× less scan
    // I/O per comparison) reduced to one audited number; per-pair
    // errors round to 6dp then aggregate DECIMAL-routed, so the mean is
    // order-independent. Projection dots are left-assoc const chains —
    // bit-identical in both engines (the q41/q68 discipline).
    Q("q308_jl_projection", {
      val planes = Similarity.planes(16, Dim)
      val projList = planes.map(p => PortableSql.dotConst("embedding", p))
        .mkString("[", ", ", "]")
      Q.sql(s"""
        WITH s AS (
          SELECT vec_id, embedding, $projList AS pv
          FROM embeddings WHERE vec_id < 40),
        pairs AS (
          SELECT a.vec_id AS id_a, b.vec_id AS id_b,
            round(abs(round(${PortableSql.cosine("a.pv", "b.pv", 16)}, 6)
              - ${cosSql("a.embedding", "b.embedding")}), 6) AS err
          FROM s a JOIN s b ON a.vec_id < b.vec_id)
        SELECT count(*) AS n_pairs,
          round(CAST(sum(CAST(err AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6)
            AS mean_abs_err,
          max(err) AS max_abs_err
        FROM pairs""")
    })(
      (s, dir) => {
        val planes = Similarity.planes(16, Dim)
        val sample = T(s, dir, "embeddings").where(col("vec_id") < 40).limit(40)
          .select(col("vec_id"), col("embedding"),
            array(planes.map(p =>
              graft.functions.ArrayMath.dotConst(col("embedding"), p))
              .toIndexedSeq: _*).as("pv"))
        val a = sample.select(col("vec_id").as("id_a"),
          col("embedding").as("ea"), col("pv").as("pa"))
        val b = sample.select(col("vec_id").as("id_b"),
          col("embedding").as("eb"), col("pv").as("pb"))
        // fixed 40-row sample: the broadcast is model-sized by the
        // vec_id < 40 predicate, not an estimate
        val pairs = a.join(broadcast(b), col("id_a") < col("id_b"))
          .select(round(abs(
            round(Similarity.cosine(col("pa"), col("pb"), 16), 6)
              - round(Similarity.cosine(col("ea"), col("eb"), Dim), 6)), 6)
            .as("err"))
        pairs.agg(count(lit(1)).as("n_pairs"),
          round(sum(col("err").cast("decimal(18,6)")).cast("double")
            / count(lit(1)), 6).as("mean_abs_err"),
          max(col("err")).as("max_abs_err"))
      }),

    // Brute-force exact cosine top-3 neighbours for query vectors id < 5.
    Q("q38_knn_cosine", Q.sql(s"""
        SELECT query_id, neighbor_id, cos_sim, rank FROM (
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
            ${cosSql("q.embedding", "c.embedding")} AS cos_sim,
            row_number() OVER (
              PARTITION BY q.vec_id
              ORDER BY ${cosSql("q.embedding", "c.embedding")} DESC, c.vec_id) AS rank
          FROM embeddings q, embeddings c
          WHERE q.vec_id < 5 AND q.vec_id <> c.vec_id) t
        WHERE rank <= 3
        ORDER BY query_id, rank"""))(
      (s, dir) => {
        val emb = T(s, dir, "embeddings")
        Similarity.knnBruteForce(emb.where(col("vec_id") < 5).limit(5), emb, k = 3)
          .orderBy("query_id", "rank")
      }),

    // Embedding-space near-dup pairs: all (a < b) with cosine >= 0.4.
    Q("q39_embedding_neardup", Q.sql(s"""
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
          ${cosSql("a.embedding", "b.embedding")} AS cos_sim
        FROM embeddings a, embeddings b
        WHERE a.vec_id < b.vec_id
          AND ${cosSql("a.embedding", "b.embedding")} >= 0.4
        ORDER BY id_a, id_b"""))(
      (s, dir) =>
        Similarity.nearDupPairs(T(s, dir, "embeddings"), threshold = 0.4)
          .orderBy("id_a", "id_b")),

    // LSH-bucketed near-neighbour candidates (scale path). The hyperplanes
    // are deterministic md5-derived constants, so the oracle embeds them as
    // double literals and rebuilds the identical sign-bit bucket id —
    // bit-exact on both engines (left-assoc accumulation, round-trip
    // literals).
    Q("q41_lsh_neardup", {
      val bucket = Similarity.planes(LshBits, Dim).zipWithIndex.map {
        case (plane, p) =>
          s"(CASE WHEN ${PortableSql.dotConst("embedding", plane)} >= 0" +
            s" THEN ${1L << p} ELSE 0 END)"
      }.mkString("(", " + ", ")")
      Q.sql(s"""
        WITH b AS (
          SELECT vec_id, embedding, CAST($bucket AS BIGINT) AS bucket
          FROM embeddings)
        SELECT x.vec_id AS id_a, y.vec_id AS id_b, x.bucket,
          ${cosSql("x.embedding", "y.embedding")} AS cos_sim
        FROM b x JOIN b y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
        WHERE ${cosSql("x.embedding", "y.embedding")} >= 0.3
        ORDER BY id_a, id_b""")
    })(
      (s, dir) =>
        Similarity.knnLsh(T(s, dir, "embeddings"), dim = Dim, nBits = LshBits,
            threshold = 0.3)
          .orderBy("id_a", "id_b")),

    // IVF approximate top-k (second scale path). The SEARCH path — probe
    // ranking, cell assignment, candidate equi-join, per-query top-k — runs
    // against deterministic fixed unit centroids the oracle embeds as
    // literals; data-adaptive Lloyd training stays spec-verified (IvfSpec:
    // probe-all == brute force, partial-probe recall).
    Q("q47_ivf_knn", {
      val cents = Ivf.fixedCentroids(IvfK, Dim)
      val cellList = cents.indices.mkString("[", ", ", "]")
      val scoreList = cents.map(c => PortableSql.dotConst("embedding", c))
        .mkString("[", ", ", "]")
      Q.sql(s"""
        WITH sc AS (
          SELECT vec_id, embedding, unnest($cellList) AS cell,
            unnest($scoreList) AS score
          FROM embeddings),
        asg AS (
          SELECT vec_id, embedding, cell FROM (
            SELECT vec_id, embedding, cell, row_number() OVER (
              PARTITION BY vec_id ORDER BY score DESC, cell DESC) AS rn
            FROM sc) t
          WHERE rn = 1),
        probe AS (
          SELECT vec_id, embedding, cell FROM (
            SELECT vec_id, embedding, cell, row_number() OVER (
              PARTITION BY vec_id ORDER BY score DESC, cell DESC) AS rn
            FROM sc WHERE vec_id < 5) t
          WHERE rn <= 3),
        cand AS (
          SELECT p.vec_id AS query_id, a.vec_id AS neighbor_id,
            ${cosSql("p.embedding", "a.embedding")} AS cos_sim
          FROM probe p JOIN asg a USING (cell)
          WHERE p.vec_id <> a.vec_id)
        SELECT query_id, neighbor_id, cos_sim, rank FROM (
          SELECT query_id, neighbor_id, cos_sim, row_number() OVER (
            PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
          FROM cand) t
        WHERE rank <= 3
        ORDER BY query_id, rank""")
    })(
      (s, dir) => {
        val emb = T(s, dir, "embeddings")
        Ivf.knn(emb.where(col("vec_id") < 5).limit(5), emb,
            Ivf.fixedCentroids(IvfK, Dim), nProbe = 3, k = 3)
          .orderBy("query_id", "rank")
      }),

    // IVF + int8 (the two scale paths COMPOSED, FAISS IVF-SQ shape):
    // cell probing on full-precision embeddings, in-cell scoring on the
    // quantized codes — quarter-width I/O on the hot candidate scan.
    // Integer dots keep the quantized scores bit-exact vs the oracle.
    Q("q73_ivf_quantized", {
      val cents = Ivf.fixedCentroids(IvfK, Dim)
      val cellList = cents.indices.mkString("[", ", ", "]")
      val scoreList = cents.map(c => PortableSql.dotConst("embedding", c))
        .mkString("[", ", ", "]")
      Q.sql(s"""
        WITH e AS (
          SELECT vec_id, pos - 1 AS pos, CAST(embedding[pos] AS DOUBLE) AS v
          FROM embeddings,
            LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS pos) t),
        mm AS (
          SELECT vec_id, max(abs(v)) / 127.0 AS scale FROM e GROUP BY 1),
        qf AS (
          SELECT e.vec_id AS vec_id, e.pos AS pos,
            CASE WHEN mm.scale = 0 THEN 0
                 ELSE CAST(floor(e.v / mm.scale + 0.5) AS BIGINT) END AS q
          FROM e JOIN mm ON e.vec_id = mm.vec_id),
        v AS (SELECT vec_id, list(q ORDER BY pos) AS qv FROM qf GROUP BY 1),
        sc AS (
          SELECT vec_id, unnest($cellList) AS cell,
            unnest($scoreList) AS score
          FROM embeddings),
        asg AS (
          SELECT vec_id, cell FROM (
            SELECT vec_id, cell, row_number() OVER (
              PARTITION BY vec_id ORDER BY score DESC, cell DESC) AS rn
            FROM sc) t
          WHERE rn = 1),
        probe AS (
          SELECT vec_id, cell FROM (
            SELECT vec_id, cell, row_number() OVER (
              PARTITION BY vec_id ORDER BY score DESC, cell DESC) AS rn
            FROM sc WHERE vec_id < 5) t
          WHERE rn <= 3),
        cand AS (
          SELECT p.vec_id AS query_id, a.vec_id AS neighbor_id,
            ${cosSql("vp.qv", "va.qv")} AS cos_sim
          FROM probe p JOIN asg a USING (cell)
          JOIN v vp ON vp.vec_id = p.vec_id
          JOIN v va ON va.vec_id = a.vec_id
          WHERE p.vec_id <> a.vec_id)
        SELECT query_id, neighbor_id, cos_sim, rank FROM (
          SELECT query_id, neighbor_id, cos_sim, row_number() OVER (
            PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
          FROM cand) t
        WHERE rank <= 3
        ORDER BY query_id, rank""")
    })(
      (s, dir) => {
        import graft.ops.Frames.cached
        import graft.similarity.Quantize
        val emb = T(s, dir, "embeddings")
        val packed = Quantize.toArrays(
            Quantize.int8(emb, col("vec_id"), col("embedding")))
          .select(col("vec_id"),
            transform(col("qvec"), x => x.cast("float")).as("qemb"))
        val joined = cached(emb.join(packed, Seq("vec_id")))
        Ivf.knn(joined.where(col("vec_id") < 5).limit(5), joined,
            Ivf.fixedCentroids(IvfK, Dim), nProbe = 3, k = 3,
            scoreCol = "qemb")
          .orderBy("query_id", "rank")
      }),

    // Embedding outlier scoring: Euclidean distance from the global
    // centroid per vector — the out-of-distribution filter a training
    // pipeline applies to embedded data before sampling. Centroid is a
    // dim-row distributed aggregate (q81's derivation, unlabeled);
    // deviations decimal-sum before one final sqrt.
    Q("q92_embed_outliers", Q.sql("""
        WITH pts AS (
          SELECT vec_id AS id, pos - 1 AS pos, CAST(embedding[pos] AS DOUBLE) AS x
          FROM embeddings,
            LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS pos) t),
        cent AS (
          SELECT pos, CAST(sum(CAST(x AS DECIMAL(27,8))) AS DOUBLE) / count(*) AS c
          FROM pts GROUP BY 1)
        SELECT id,
          round(sqrt(CAST(sum(CAST((x - c) * (x - c) AS DECIMAL(27,8))) AS DOUBLE)), 6)
            AS centroid_dist
        FROM pts JOIN cent USING (pos)
        GROUP BY id
        ORDER BY id"""))(
      (s, dir) =>
        Similarity.centroidDistances(T(s, dir, "embeddings"),
            col("vec_id"), col("embedding"))
          .orderBy("id"))
  ) ++ pqQueries ++ evalQueries

  /** ANN quality evals over the same deterministic index constants. */
  private def evalQueries: Seq[Q] = Seq(

    // Recall@5 of single-probe LSH candidates vs the exact cosine top-5,
    // per query vector — the index-quality eval run before trusting an
    // ANN path for retrieval/dedup. 4 hyperplanes (16 buckets) so the
    // candidate lists are non-trivial at fixture scale; the planes are
    // the same md5-derived constants as q41, embedded as literals.
    Q("q245_ann_recall", {
      val bucket = Similarity.planes(RecallBits, Dim).zipWithIndex.map {
        case (plane, p) =>
          s"(CASE WHEN ${PortableSql.dotConst("embedding", plane)} >= 0" +
            s" THEN ${1L << p} ELSE 0 END)"
      }.mkString("(", " + ", ")")
      Q.sql(s"""
        WITH r AS (
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
            row_number() OVER (
              PARTITION BY q.vec_id
              ORDER BY ${cosSql("q.embedding", "c.embedding")} DESC, c.vec_id) AS rn
          FROM embeddings q, embeddings c
          WHERE q.vec_id < 20 AND q.vec_id <> c.vec_id),
        topk AS (SELECT query_id, neighbor_id FROM r WHERE rn <= 5),
        b AS (SELECT vec_id, CAST($bucket AS BIGINT) AS bucket FROM embeddings),
        cand AS (
          SELECT x.vec_id AS query_id, y.vec_id AS neighbor_id
          FROM b x JOIN b y ON x.bucket = y.bucket
          WHERE x.vec_id < 20 AND x.vec_id <> y.vec_id)
        SELECT t.query_id, count(c.query_id) AS n_hit,
          round(count(c.query_id) * 1.0 / 5, 6) AS recall_at_k
        FROM topk t LEFT JOIN cand c
          ON c.query_id = t.query_id AND c.neighbor_id = t.neighbor_id
        GROUP BY 1
        ORDER BY 1""")
    })(
      (s, dir) =>
        Similarity.annRecallLsh(T(s, dir, "embeddings"), dim = Dim,
            nBits = RecallBits, k = 5, nQueries = 20)
          .orderBy("query_id")),

    // Reciprocal top-3 pairs: both directions must rank each other in
    // their exact cosine top-3 — the mutual-NN criterion that suppresses
    // hub vectors in embedding-space linkage.
    Q("q246_mutual_knn", Q.sql(s"""
        WITH p AS (
          SELECT a.vec_id AS ia, b.vec_id AS ib,
            ${cosSql("a.embedding", "b.embedding")} AS cs
          FROM embeddings a, embeddings b
          WHERE a.vec_id <> b.vec_id),
        r AS (
          SELECT ia, ib, cs, row_number() OVER (
            PARTITION BY ia ORDER BY cs DESC, ib) AS rn
          FROM p),
        k AS (SELECT ia, ib, cs FROM r WHERE rn <= 3)
        SELECT x.ia AS id_a, x.ib AS id_b, x.cs AS cos_sim
        FROM k x JOIN k y ON y.ia = x.ib AND y.ib = x.ia
        WHERE x.ia < x.ib
        ORDER BY id_a, id_b"""))(
      (s, dir) =>
        Similarity.mutualKnn(T(s, dir, "embeddings"), k = 3, dim = Dim)
          .orderBy("id_a", "id_b")),

    // Label-noise screen: majority vote of each vector's exact top-3
    // neighbours' labels vs its own label, accuracy per label — low
    // agreement flags mislabeled or boundary regions before training.
    // The vote argmax is ONE hash aggregation (max(struct) with the
    // smaller-label tiebreak), no second window over the corpus.
    Q("q256_knn_label_eval", Q.sql(s"""
        WITH p AS (
          SELECT a.vec_id AS qid, a.label AS qlab, b.vec_id AS nid,
            b.label AS nlab,
            ${cosSql("a.embedding", "b.embedding")} AS cs
          FROM embeddings a, embeddings b
          WHERE a.vec_id <> b.vec_id),
        r AS (
          SELECT qid, qlab, nlab, row_number() OVER (
            PARTITION BY qid ORDER BY cs DESC, nid) AS rn
          FROM p),
        votes AS (
          SELECT qid, qlab, nlab, count(*) AS cnt
          FROM r WHERE rn <= 3 GROUP BY 1, 2, 3),
        pred AS (
          SELECT qid, qlab, nlab AS plab FROM (
            SELECT qid, qlab, nlab, row_number() OVER (
              PARTITION BY qid ORDER BY cnt DESC, nlab) AS rn
            FROM votes) t
          WHERE rn = 1)
        SELECT qlab AS label, count(*) AS n_vecs,
          CAST(sum(CASE WHEN plab = qlab THEN 1 ELSE 0 END) AS BIGINT)
            AS n_correct,
          round(sum(CASE WHEN plab = qlab THEN 1 ELSE 0 END) * 1.0
            / count(*), 6) AS accuracy
        FROM pred GROUP BY 1 ORDER BY 1"""))(
      (s, dir) => {
        val emb = T(s, dir, "embeddings")
        val lab = emb.select(col("vec_id"), col("label"))
        val knn = Similarity.knnBruteForce(emb, emb, k = 3, dim = Dim)
        val votes = knn
          .join(lab.select(col("vec_id").as("query_id"),
            col("label").as("qlab")), "query_id")
          .join(lab.select(col("vec_id").as("neighbor_id"),
            col("label").as("nlab")), "neighbor_id")
          .groupBy("query_id", "qlab", "nlab")
          .agg(count(lit(1)).as("cnt"))
        val pred = votes.groupBy("query_id", "qlab")
          .agg(graft.ops.Stats.argmax(col("cnt"), -col("nlab"),
            col("nlab")).as("plab"))
        pred.groupBy(col("qlab").as("label"))
          .agg(count(lit(1)).as("n_vecs"),
            sum(when(col("plab") === col("qlab"), 1L).otherwise(0L))
              .as("n_correct"))
          .withColumn("accuracy",
            round(col("n_correct") * lit(1.0) / col("n_vecs"), 6))
          .orderBy("label")
      })
  )

  // PQ sub-codebooks shared by q121/q122: 8 subspaces × 16 codes over
  // the 64-dim embeddings (one byte per subspace — 32× compression).
  private lazy val PqBooks = Pq.codebooks(m = 8, ks = 16, dim = Dim)

  private def pqQueries: Seq[Q] = Seq(

    // Product-quantization encode: each vector -> 8 sub-codes (nearest
    // sub-centroid by L2, deterministic tie-break). The 32x-compressed
    // representation the ADC search below scans INSTEAD of the floats.
    Q("q121_pq_encode", Q.sql(s"""
        WITH ${Pq.encodeCtes("embeddings", "vec_id", PqBooks)}
        SELECT id AS vec_id, m, code FROM codes
        ORDER BY vec_id, m"""))(
      (s, dir) =>
        Pq.encode(T(s, dir, "embeddings"), PqBooks)
          .select(col("id").as("vec_id"), col("m"), col("code"))
          .orderBy("vec_id", "m")),

    // Asymmetric-distance top-k over the PQ codes (FAISS ADC): the
    // query's (m × ks) lookup table is broadcast, candidate scoring is
    // an equi-join on (m, code) + one hash aggregation — the fact-side
    // scan reads 8 bytes per vector, never the embeddings.
    Q("q122_pq_adc_knn", Q.sql(s"""
        WITH ${Pq.encodeCtes("embeddings", "vec_id", PqBooks)},
        ${Pq.lutCtes("embeddings", "vec_id", "vec_id < 5", PqBooks)},
        sc AS (
          SELECT q.query_id, c.id AS neighbor_id,
            CAST(sum(CAST(q.d AS DECIMAL(27,6))) AS DOUBLE) AS adc_score
          FROM codes c JOIN qlut q ON c.m = q.m AND c.code = q.code
          WHERE q.query_id <> c.id
          GROUP BY 1, 2)
        SELECT query_id, neighbor_id, adc_score, rank FROM (
          SELECT query_id, neighbor_id, adc_score, row_number() OVER (
            PARTITION BY query_id ORDER BY adc_score DESC, neighbor_id) AS rank
          FROM sc) t
        WHERE rank <= 3
        ORDER BY query_id, rank"""))(
      (s, dir) => {
        val emb = T(s, dir, "embeddings")
        Pq.adcSearch(emb.where(col("vec_id") < 5).limit(5),
            Pq.encode(emb, PqBooks), PqBooks, k = 3)
          .orderBy("query_id", "rank")
      }),

    // IVF-PQ (FAISS IVFx,PQy — the two compression paths composed):
    // probe 3 of 8 cells on the full-precision query, ADC-score only the
    // probed cells' candidates over their 8-byte PQ codes. At 100 TB the
    // hot scan reads nProbe/K of the corpus at m bytes per vector.
    Q("q124_ivf_pq_knn", {
      val cents = Ivf.fixedCentroids(IvfK, Dim)
      val cellList = cents.indices.mkString("[", ", ", "]")
      val scoreList = cents.map(c => PortableSql.dotConst("embedding", c))
        .mkString("[", ", ", "]")
      Q.sql(s"""
        WITH sc AS (
          SELECT vec_id, unnest($cellList) AS cell,
            unnest($scoreList) AS score
          FROM embeddings),
        asg AS (
          SELECT vec_id, cell FROM (
            SELECT vec_id, cell, row_number() OVER (
              PARTITION BY vec_id ORDER BY score DESC, cell DESC) AS rn
            FROM sc) t
          WHERE rn = 1),
        probe AS (
          SELECT vec_id, cell FROM (
            SELECT vec_id, cell, row_number() OVER (
              PARTITION BY vec_id ORDER BY score DESC, cell DESC) AS rn
            FROM sc WHERE vec_id < 5) t
          WHERE rn <= 3),
        ${Pq.encodeCtes("embeddings", "vec_id", PqBooks)},
        ${Pq.lutCtes("embeddings", "vec_id", "vec_id < 5", PqBooks)},
        cand AS (
          SELECT p.vec_id AS query_id, a.vec_id AS cid
          FROM probe p JOIN asg a USING (cell)
          WHERE p.vec_id <> a.vec_id),
        scda AS (
          SELECT c.query_id, c.cid AS neighbor_id,
            CAST(sum(CAST(q.d AS DECIMAL(27,6))) AS DOUBLE) AS adc_score
          FROM cand c
          JOIN codes co ON co.id = c.cid
          JOIN qlut q ON q.query_id = c.query_id
            AND q.m = co.m AND q.code = co.code
          GROUP BY 1, 2)
        SELECT query_id, neighbor_id, adc_score, rank FROM (
          SELECT query_id, neighbor_id, adc_score, row_number() OVER (
            PARTITION BY query_id ORDER BY adc_score DESC, neighbor_id) AS rank
          FROM scda) t
        WHERE rank <= 3
        ORDER BY query_id, rank""")
    })(
      (s, dir) => {
        val emb = T(s, dir, "embeddings")
        Pq.ivfAdcSearch(emb.where(col("vec_id") < 5).limit(5), emb,
            Ivf.fixedCentroids(IvfK, Dim), PqBooks, nProbe = 3, k = 3)
          .orderBy("query_id", "rank")
      })
  )
}
