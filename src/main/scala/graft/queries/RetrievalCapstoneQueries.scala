package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.{load => T}
import graft.functions.PortableSql
import graft.ops.Frames.cached
import graft.ops.Relational.dsum
import graft.queries.Bases.wordsCte
import graft.similarity.Similarity
import graft.text.Chunking

/** Round-13 capstone: the retrieval-quality pipeline — the last major
  * LLM-pipeline composition not yet gated end-to-end (curation
  * q455/q468, lakehouse q464/q469, drift q479 all are). One lazy plan
  * composes four individually-proven mechanisms:
  *
  *   chunk (q98's overlapping token windows) →
  *   chunk-hash near-dup filter (q97's span-sharing mechanism over the
  *     chunker's windows: docs sharing a 32-token chunk hash with a
  *     lower id are dropped) →
  *   LSH-bucketed ANN retrieval over the surviving corpus's embeddings
  *     (q41/q245's sign-bit buckets; candidates = bucket equi-join) →
  *   retrieval eval: recall@5 of the candidate set vs the exact cosine
  *     top-5 (q245's mechanism) AND label-graded NDCG@5 of the
  *     cosine-ranked candidates (q150's decimal-exact DCG ladder,
  *     relevance = label agreement between query and neighbor).
  *
  * Reported as one sectioned row set: stage counts for the funnel,
  * then the two quality means.
  *
  * Scale shape: chunking is a generator explode (no shuffle); the
  * near-dup pass joins on the 48-bit chunk hash (never all-pairs, one
  * distinct first so a hub hash fans out per-doc, not per-window); the
  * ANN side is the bucket equi-join (corpus never crosses itself); the
  * exact side is the documented held-out-sample baseline — 20 query
  * vectors, statically limit-bounded, broadcast against the corpus.
  * Every cosine is the fixed-order codegen dot; every mean rides a
  * rounded decimal sum, so the whole row set hash-matches DuckDB.
  */
object RetrievalCapstoneQueries {

  private val Dim = 64
  private val Bits = 4
  private val K = 5
  private val NQ = 20
  private val ChunkW = 32
  private val ChunkS = 24

  def all: Seq[Q] = Seq(

    Q("q480_retrieval_capstone", {
      val bucket = Similarity.planes(Bits, Dim).zipWithIndex.map {
        case (plane, p) =>
          s"(CASE WHEN ${PortableSql.dotConst("embedding", plane)} >= 0" +
            s" THEN ${1L << p} ELSE 0 END)"
      }.mkString("(", " + ", ")")
      def cosSql(a: String, b: String) =
        s"round(${PortableSql.cosine(a, b, Dim)}, 6)"
      Q.sql(s"""
        $wordsCte,
        ${Chunking.oracleCte(ChunkW, ChunkS)},
        chd AS (SELECT DISTINCT id, chash FROM ch),
        cdup AS (
          SELECT DISTINCT b.id FROM chd a JOIN chd b
            ON a.chash = b.chash AND a.id < b.id),
        surv AS (SELECT id FROM w ANTI JOIN cdup USING (id)),
        corpus AS (
          SELECT e.vec_id, e.embedding, e.label
          FROM embeddings e SEMI JOIN surv s ON s.id = e.vec_id),
        b AS (
          SELECT vec_id, embedding, label,
            CAST($bucket AS BIGINT) AS bucket
          FROM corpus),
        cand AS (
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
            ${cosSql("q.embedding", "c.embedding")} AS cs,
            CASE WHEN q.label = c.label THEN 1 ELSE 0 END AS rel
          FROM b q JOIN b c
            ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
          WHERE q.vec_id < $NQ),
        exact AS (
          SELECT query_id, neighbor_id FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
              row_number() OVER (PARTITION BY q.vec_id
                ORDER BY ${cosSql("q.embedding", "c.embedding")} DESC,
                  c.vec_id) AS rn
            FROM corpus q JOIN corpus c ON q.vec_id <> c.vec_id
            WHERE q.vec_id < $NQ) t
          WHERE rn <= $K),
        rec AS (
          SELECT t.query_id, count(c.query_id) AS n_hit
          FROM exact t LEFT JOIN cand c
            ON c.query_id = t.query_id AND c.neighbor_id = t.neighbor_id
          GROUP BY 1),
        ranked AS (
          SELECT query_id, rel, row_number() OVER (PARTITION BY query_id
            ORDER BY cs DESC, neighbor_id) AS r
          FROM cand),
        ideal AS (
          SELECT query_id, rel, row_number() OVER (PARTITION BY query_id
            ORDER BY rel DESC, cs DESC, neighbor_id) AS ri
          FROM cand),
        dcg AS (
          SELECT query_id,
            CAST(sum(CAST(CASE WHEN r <= $K
              THEN round(rel / log2(r + 1), 6) ELSE 0 END
              AS DECIMAL(27,6))) AS DOUBLE) AS dcg5
          FROM ranked GROUP BY 1),
        idcg AS (
          SELECT query_id,
            CAST(sum(CAST(CASE WHEN ri <= $K
              THEN round(rel / log2(ri + 1), 6) ELSE 0 END
              AS DECIMAL(27,6))) AS DOUBLE) AS idcg5
          FROM ideal GROUP BY 1),
        nd AS (
          SELECT d.query_id, round(d.dcg5 / i.idcg5, 6) AS ndcg
          FROM dcg d JOIN idcg i ON i.query_id = d.query_id
          WHERE i.idcg5 > 0),
        sections AS (
          SELECT '0_docs' AS stage, CAST(count(*) AS BIGINT) AS n,
            CAST(NULL AS DOUBLE) AS value FROM w
          UNION ALL SELECT '1_chunks', count(*), NULL FROM ch
          UNION ALL SELECT '2_chunk_dupes', count(*), NULL FROM cdup
          UNION ALL SELECT '3_corpus', count(*), NULL FROM corpus
          UNION ALL SELECT '4_recall_at_5', count(*),
            round(CAST(sum(CAST(round(n_hit * 1.0 / $K, 6)
              AS DECIMAL(27,6))) AS DOUBLE) / count(*), 6) FROM rec
          UNION ALL SELECT '5_ndcg_at_5', count(*),
            round(CAST(sum(CAST(ndcg AS DECIMAL(27,6))) AS DOUBLE)
              / count(*), 6) FROM nd)
        SELECT stage, n, value FROM sections ORDER BY stage""")
    })(
      (s, dir) => {
        val docs = T(s, dir, "documents")
        // stage 1: overlapping token-window chunks (q98 mechanism)
        val ch = cached(Chunking.chunks(docs, col("doc_id"), col("text"),
          ChunkW, ChunkS).select(col("id"), col("chash")))
        // stage 2: chunk-hash near-dup filter — distinct (id, chash)
        // FIRST so a hub hash joins per-doc, then drop any doc sharing
        // a chunk hash with a lower id
        val chd = ch.distinct()
        val cdup = cached(chd.as("a")
          .join(chd.select(col("chash"), col("id").as("idb")), "chash")
          .where(col("id") < col("idb"))
          .select(col("idb").as("id")).distinct())
        val surv = docs.select(col("doc_id").as("vec_id"))
          .join(cdup.withColumnRenamed("id", "vec_id"), Seq("vec_id"), "anti")
        // stage 3: surviving corpus's embeddings, LSH-bucketed
        val corpus = cached(T(s, dir, "embeddings")
          .join(surv, Seq("vec_id"), "semi")
          .select(col("vec_id"), col("embedding"), col("label")))
        val b = cached(corpus.select(col("vec_id"), col("embedding"),
          col("label"),
          Similarity.lshBucket(col("embedding"), Dim, Bits).as("bucket"),
          Similarity.norm(col("embedding"), Dim).as("nrm")))
        val qs = b.where(col("vec_id") < NQ)
          .select(col("bucket"), col("vec_id").as("query_id"),
            col("embedding").as("q_emb"), col("nrm").as("q_nrm"),
            col("label").as("q_label"))
        val cand = cached(qs.join(
            b.select(col("bucket"), col("vec_id").as("neighbor_id"),
              col("embedding").as("c_emb"), col("nrm").as("c_nrm"),
              col("label").as("c_label")), Seq("bucket"))
          .where(col("query_id") =!= col("neighbor_id"))
          .select(col("query_id"), col("neighbor_id"),
            round(Similarity.dot(col("q_emb"), col("c_emb"), Dim)
              / (col("q_nrm") * col("c_nrm")), 6).as("cs"),
            when(col("q_label") === col("c_label"), 1).otherwise(0)
              .as("rel")))
        // stage 4a: recall@5 vs the exact top-5 (q245 mechanism; the
        // query side is statically limit-bounded for the broadcast)
        val exact = Similarity.knnBruteForce(
            corpus.where(col("vec_id") < NQ).limit(NQ), corpus, K, Dim)
          .select(col("query_id"), col("neighbor_id"))
        val rec = exact.join(
            cand.select(col("query_id"), col("neighbor_id"))
              .withColumn("hit", lit(1)),
            Seq("query_id", "neighbor_id"), "left")
          .groupBy("query_id").agg(count(col("hit")).as("n_hit"))
        // stage 4b: label-graded NDCG@5 of the cosine-ranked candidates
        // (q150's decimal-exact DCG ladder, per query)
        val ranked = graft.ops.Relational.topKPerGroup(cand,
          Seq(col("query_id")),
          Seq(col("cs").desc, col("neighbor_id").asc), K)
        val ideal = graft.ops.Relational.topKPerGroup(cand,
          Seq(col("query_id")),
          Seq(col("rel").desc, col("cs").desc, col("neighbor_id").asc), K)
        def dcgOf(df: DataFrame, out: String) =
          df.groupBy("query_id").agg(
            dsum(round(col("rel") / log2(col("rank") + 1), 6), 6).as(out))
        val nd = dcgOf(ranked, "dcg5")
          .join(dcgOf(ideal, "idcg5"), "query_id")
          .where(col("idcg5") > 0)
          .select(col("query_id"),
            round(col("dcg5") / col("idcg5"), 6).as("ndcg"))
        val nullD = lit(null).cast("double")
        val sections =
          docs.agg(count(lit(1)).cast("long").as("n"))
            .select(lit("0_docs").as("stage"), col("n"), nullD.as("value"))
          .unionByName(ch.agg(count(lit(1)).cast("long").as("n"))
            .select(lit("1_chunks").as("stage"), col("n"), nullD.as("value")))
          .unionByName(cdup.agg(count(lit(1)).cast("long").as("n"))
            .select(lit("2_chunk_dupes").as("stage"), col("n"),
              nullD.as("value")))
          .unionByName(corpus.agg(count(lit(1)).cast("long").as("n"))
            .select(lit("3_corpus").as("stage"), col("n"),
              nullD.as("value")))
          .unionByName(rec.agg(count(lit(1)).cast("long").as("n"),
              round(dsum(round(col("n_hit") * lit(1.0) / K, 6), 6)
                / count(lit(1)), 6).as("value"))
            .select(lit("4_recall_at_5").as("stage"), col("n"),
              col("value")))
          .unionByName(nd.agg(count(lit(1)).cast("long").as("n"),
              round(dsum(col("ndcg"), 6) / count(lit(1)), 6).as("value"))
            .select(lit("5_ndcg_at_5").as("stage"), col("n"),
              col("value")))
        sections.orderBy("stage")
      })
  )
}
