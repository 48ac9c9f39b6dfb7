package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.{load => T}
import graft.functions.ArrayMath
import graft.multimodal.Multimodal
import graft.ops.Relational.dsum

/** Round-5 batch 23: ML-ops depth — one-pass embedding covariance (the
  * PCA/whitening precursor), exponential time-decay scoring, and the
  * multimodal frame-sampling plan — each oracle-checked bit-for-bit vs
  * DuckDB.
  */
object MlopsQueries {

  private val Dim = 64
  private val FrameStride = 256
  private val MaxFrames = 8

  def all: Seq[Q] = Seq(

    // Covariance matrix of the embedding space in ONE pass: raw second
    // moments E[x_i·x_j] for the 2080 upper-triangle cells + per-dim
    // means, cov = m2/n − μ_i·μ_j assembled on the cell frame. The
    // explode fans dim²/2 per row but partial aggregation collapses it
    // to cells×partitions before any shuffle — mergeable across shards,
    // so the 100 TB form is the same single scan. (Beyond ~100 dims the
    // explode form yields to a vector Aggregator; the dataflow — one
    // pass, cell-bounded shuffle — is unchanged.) Products are rounded
    // then decimal-summed: bit-identical on both engines.
    Q("q232_embed_covariance", Q.sql(s"""
        WITH idx AS (SELECT CAST(unnest(range(1, ${Dim + 1})) AS INT) AS i),
        pr AS (SELECT a.i AS i, b.i AS j FROM idx a JOIN idx b ON b.i >= a.i),
        m2 AS (
          SELECT i, j,
            CAST(sum(CAST(round(CAST(embedding[i] AS DOUBLE)
              * CAST(embedding[j] AS DOUBLE), 9) AS DECIMAL(27,9))) AS DOUBLE) AS s2,
            count(*) AS n
          FROM embeddings CROSS JOIN pr GROUP BY 1, 2),
        mean AS (
          SELECT i,
            CAST(sum(CAST(round(CAST(embedding[i] AS DOUBLE), 9)
              AS DECIMAL(27,9))) AS DOUBLE) / count(*) AS mu
          FROM embeddings CROSS JOIN idx GROUP BY 1)
        SELECT m2.i, m2.j,
          CAST(round(CAST(round(s2 / n, 9) AS DECIMAL(27,9))
            - CAST(round(ma.mu * mb.mu, 9) AS DECIMAL(27,9)), 6) AS DOUBLE) AS cov
        FROM m2 JOIN mean ma ON ma.i = m2.i JOIN mean mb ON mb.i = m2.j
        ORDER BY 1, 2"""))(
      (s, dir) => {
        // spread: the embeddings file is one scan partition — without the
        // round-robin the entire dim²/2 explode runs on one core
        val emb = graft.ops.Frames.spread(T(s, dir, "embeddings"))
        // flat pos → (i, j) of the row-major upper triangle (dim-bounded,
        // broadcast); the products array comes from ONE generated loop
        // (ArrayMath.UpperTriProducts), rounded with the standard round()
        // the oracle mirrors
        val ij = {
          import s.implicits._
          (for { i <- 1 to Dim; j <- i to Dim } yield (i, j))
            .zipWithIndex.map { case ((i, j), pos) => (pos, i, j) }
            .toDF("pos", "i", "j")
        }
        val cells = emb
          .select(posexplode(ArrayMath.upperTriProducts(col("embedding")))
            .as(Seq("pos", "praw")))
          .select(col("pos"), round(col("praw"), 9).as("p"))
          .groupBy("pos")
          .agg(sum(col("p").cast("decimal(27,9)")).cast("double").as("s2"),
            count(lit(1)).as("n"))
          .join(broadcast(ij), "pos")
        val mean = emb.select(posexplode(col("embedding")).as(Seq("i0", "x")))
          .groupBy((col("i0") + 1).as("i"))
          .agg((sum(round(col("x").cast("double"), 9).cast("decimal(27,9)"))
            .cast("double") / count(lit(1))).as("mu"))
        cells
          .join(broadcast(mean.select(col("i"), col("mu").as("mu_i"))), "i")
          .join(broadcast(mean.select(col("i").as("j"), col("mu").as("mu_j"))), "j")
          .select(col("i"), col("j"),
            // no double last mile: snap each term to DECIMAL(27,9), subtract
            // exactly, round at 6 in decimal (HALF_UP ties agree across
            // engines), then cast — a 6-dp boundary can no longer straddle
            round(round(col("s2") / col("n"), 9).cast("decimal(27,9)")
              - round(col("mu_i") * col("mu_j"), 9).cast("decimal(27,9)"), 6)
              .cast("double").as("cov"))
          .orderBy("i", "j")
      }),

    // Exponential time-decay spend scoring: each order weighted by
    // exp(−days_ago/365) from the corpus's latest order date — the
    // recency-weighted feature that replaces arbitrary "last N days"
    // cutoffs. The anchor is one scalar agg broadcast into the scan;
    // decayed terms are rounded then decimal-summed per customer.
    Q("q233_time_decay_score", Q.sql("""
        WITH anchor AS (SELECT max(CAST(o_orderdate AS DATE)) AS d0 FROM orders),
        terms AS (
          SELECT o_custkey,
            round(o_totalprice * round(exp(-(d0 - CAST(o_orderdate AS DATE))
              / 365.0), 9), 4) AS term
          FROM orders CROSS JOIN anchor)
        SELECT o_custkey,
          round(CAST(sum(CAST(term AS DECIMAL(27,4))) AS DOUBLE), 4) AS decayed_spend
        FROM terms GROUP BY 1
        ORDER BY decayed_spend DESC, o_custkey LIMIT 50"""))(
      (s, dir) => {
        val anchor = T(s, dir, "orders")
          .agg(max(to_date(col("o_orderdate"))).as("d0"))
        T(s, dir, "orders").crossJoin(broadcast(anchor))
          .select(col("o_custkey"),
            round(col("o_totalprice") *
              round(exp(-datediff(col("d0"), to_date(col("o_orderdate"))) / lit(365.0)), 9),
              4).as("term"))
          .groupBy("o_custkey")
          .agg(round(sum(col("term").cast("decimal(27,4)")).cast("double"), 4)
            .as("decayed_spend"))
          .orderBy(col("decayed_spend").desc, col("o_custkey"))
          .limit(50)
      }),

    // Frame-sampling plan for (fake) video payloads: every 256th byte
    // offset up to 8 frames, via Multimodal.frameOffsets — the
    // deterministic batch plan a real frame sampler executes; the oracle
    // replays the plan arithmetic. Pure projection: no shuffle at any
    // scale.
    Q("q234_frame_plan", Q.sql(s"""
        SELECT doc_id, strlen(text) AS n_bytes,
          CAST(least($MaxFrames, (strlen(text) - 1) // $FrameStride + 1) AS INT)
            AS n_frames,
          0 AS first_off,
          CAST((least($MaxFrames, (strlen(text) - 1) // $FrameStride + 1) - 1)
            * $FrameStride AS INT) AS last_off
        FROM documents WHERE strlen(text) > 0
        ORDER BY doc_id"""))(
      (s, dir) =>
        T(s, dir, "documents")
          .where(octet_length(col("text")) > 0)
          .select(col("doc_id"), octet_length(col("text")).as("n_bytes"),
            Multimodal.frameOffsets(octet_length(col("text")),
              FrameStride, MaxFrames).as("offs"))
          .select(col("doc_id"), col("n_bytes"),
            size(col("offs")).as("n_frames"),
            element_at(col("offs"), 1).cast("int").as("first_off"),
            element_at(col("offs"), -1).cast("int").as("last_off"))
          .orderBy("doc_id")),

    // Top principal direction of the embedding space by power iteration:
    // 3 matrix-vector rounds over the one-pass raw second-moment matrix
    // (q232's derivation), starting from the unit vector (1/8,...,1/8).
    // After the single corpus scan every round runs on the 64×64 model
    // frame — the iterative-linear-algebra-on-model-frames pattern
    // (PageRank/Bellman-Ford) applied to PCA. Products are rounded then
    // decimal-summed each round, so all three iterations are bit-exact
    // on both engines.
    Q("q253_top_eigvec", {
      def it(prev: String, w: String): String =
        s"""$w AS (
          SELECT f.i AS i,
            CAST(sum(CAST(round(f.m * $prev.v, 9) AS DECIMAL(27,9)))
              AS DOUBLE) AS w
          FROM mfull f JOIN $prev ON $prev.i = f.j GROUP BY 1)"""
      def nrm(w: String, n: String): String =
        s"""$n AS (
          SELECT sqrt(CAST(sum(CAST(round(w * w, 9) AS DECIMAL(27,9)))
            AS DOUBLE)) AS nr FROM $w)"""
      Q.sql(s"""
        WITH idx AS (SELECT CAST(unnest(range(1, ${Dim + 1})) AS INT) AS i),
        pr AS (SELECT a.i AS i, b.i AS j FROM idx a JOIN idx b ON b.i >= a.i),
        m2 AS (
          SELECT i, j,
            CAST(sum(CAST(round(CAST(embedding[i] AS DOUBLE)
              * CAST(embedding[j] AS DOUBLE), 9) AS DECIMAL(27,9))) AS DOUBLE) AS s2,
            count(*) AS n
          FROM embeddings CROSS JOIN pr GROUP BY 1, 2),
        mfull AS (
          SELECT i, j, s2 / n AS m FROM m2
          UNION ALL
          SELECT j AS i, i AS j, s2 / n AS m FROM m2 WHERE i <> j),
        v0 AS (SELECT i, 0.125 AS v FROM idx),
        ${it("v0", "w1")}, ${nrm("w1", "n1")},
        v1 AS (SELECT i, w / nr AS v FROM w1, n1),
        ${it("v1", "w2")}, ${nrm("w2", "n2")},
        v2 AS (SELECT i, w / nr AS v FROM w2, n2),
        ${it("v2", "w3")}, ${nrm("w3", "n3")},
        v3 AS (SELECT i, w / nr AS v FROM w3, n3)
        SELECT v3.i AS dim, round(v3.v, 6) AS loading,
          round(n3.nr, 6) AS eigval
        FROM v3, n3 ORDER BY dim""")
    })(
      (s, dir) =>
        graft.similarity.Similarity
          .topEigvec(T(s, dir, "embeddings"), dim = Dim, iters = 3)
          .orderBy("dim"))
    ,

    // Embedding centroid drift: cosine similarity between each label's
    // half-A (even vec_id) and half-B (odd vec_id) centroids — the
    // production monitor for "did this class's embedding distribution
    // move between snapshots". Centroids are decimal-routed per-dim
    // means (q81's derivation); the cosine runs on the labels×dim model
    // frame, never the corpus. Scale: one aggregation over the data,
    // one over the model frame.
    Q("q281_centroid_drift", Q.sql("""
        WITH e AS (
          SELECT vec_id % 2 AS half, label, pos - 1 AS pos,
            CAST(embedding[pos] AS DOUBLE) AS x
          FROM embeddings,
            LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS pos) t),
        c AS (
          SELECT label, half, pos,
            CAST(sum(CAST(x AS DECIMAL(27,8))) AS DOUBLE) / count(*) AS m,
            count(*) AS nv
          FROM e GROUP BY 1, 2, 3),
        p AS (
          SELECT a.label AS label, min(a.nv) AS n_a, min(b.nv) AS n_b,
            CAST(sum(CAST(round(a.m * b.m, 9) AS DECIMAL(27,9))) AS DOUBLE)
              AS dot,
            CAST(sum(CAST(round(a.m * a.m, 9) AS DECIMAL(27,9))) AS DOUBLE)
              AS na2,
            CAST(sum(CAST(round(b.m * b.m, 9) AS DECIMAL(27,9))) AS DOUBLE)
              AS nb2
          FROM c a JOIN c b ON a.label = b.label AND a.pos = b.pos
            AND a.half = 0 AND b.half = 1
          GROUP BY 1)
        SELECT label, n_a, n_b,
          round(dot / (sqrt(na2) * sqrt(nb2)), 6) AS cos_sim
        FROM p ORDER BY label"""))(
      (s, dir) => {
        val c = T(s, dir, "embeddings")
          .select((col("vec_id") % 2).as("half"), col("label"),
            posexplode(col("embedding")))
          .groupBy("label", "half", "pos")
          .agg((dsum(col("col").cast("double"), 8) / count(lit(1))).as("m"),
            count(lit(1)).as("nv"))
        val a = c.where(col("half") === 0)
          .select(col("label"), col("pos"), col("m").as("ma"), col("nv").as("nva"))
        val b = c.where(col("half") === 1)
          .select(col("label"), col("pos"), col("m").as("mb"), col("nv").as("nvb"))
        a.join(b, Seq("label", "pos"))
          .groupBy("label")
          .agg(min(col("nva")).as("n_a"), min(col("nvb")).as("n_b"),
            sum(round(col("ma") * col("mb"), 9).cast("decimal(27,9)"))
              .cast("double").as("dot"),
            sum(round(col("ma") * col("ma"), 9).cast("decimal(27,9)"))
              .cast("double").as("na2"),
            sum(round(col("mb") * col("mb"), 9).cast("decimal(27,9)"))
              .cast("double").as("nb2"))
          .select(col("label"), col("n_a"), col("n_b"),
            round(col("dot") / (sqrt(col("na2")) * sqrt(col("nb2"))), 6)
              .as("cos_sim"))
          .orderBy("label")
      })
  )
}
