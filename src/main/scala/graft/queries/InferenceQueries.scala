package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables.{load => T}
import graft.functions.PortableSql
import graft.queries.Bases.wordsCte
import graft.text.TextAnalysis

/** Round-9 batch 3: statistical inference + preference modeling —
  * PMI collocations, the Cochran-Mantel-Haenszel stratified odds ratio,
  * medoid-silhouette cluster quality, a Bradley-Terry preference fit
  * (the pairwise-comparison model behind RLHF preference data),
  * the Friedman blocked rank test, and McNemar's paired-proportion
  * test — each oracle-checked bit-for-bit against DuckDB.
  */
object InferenceQueries {

  private val Dim = 64

  def all: Seq[Q] = Seq(

    // PMI collocations (Church & Hanks CL'90) — the association score
    // that finds multiword expressions ("new york") a frequency top-k
    // can't: PMI(a,b) = log2(N·c(ab)/(c(a)·c(b))). All counts come
    // from ONE adjacent-bigram aggregation (q312's shingle pass) +
    // vocab-bounded unigram re-aggs. Exactness: the ratio
    // c_ab·N/(c_a·c_b) is a division of exact-in-double integers
    // (every product < 2^53), so ORDER BY ratio is engine-identical;
    // log2 appears only in the displayed 6-dp-rounded column. Floor
    // c(ab) >= 5 kills the hapax-pair PMI explosion.
    Q("q342_pmi_collocations", Q.sql(s"""
        $wordsCte,
        shr AS (
          SELECT ws[pos] AS w1, ws[pos+1] AS w2
          FROM w, LATERAL (SELECT unnest(generate_series(1, greatest(len(ws) - 1, 0))) AS pos) t),
        c2 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c_ab FROM shr GROUP BY 1, 2),
        u AS (
          SELECT w1 AS w, CAST(sum(c_ab) AS BIGINT) AS c FROM c2 GROUP BY 1),
        v AS (
          SELECT w2 AS w, CAST(sum(c_ab) AS BIGINT) AS c FROM c2 GROUP BY 1),
        nn AS (SELECT CAST(sum(c_ab) AS BIGINT) AS n FROM c2),
        r AS (
          SELECT c2.w1, c2.w2, c2.c_ab, u.c AS c_a, v.c AS c_b,
            (CAST(c2.c_ab AS DOUBLE) * CAST(nn.n AS DOUBLE))
              / (CAST(u.c AS DOUBLE) * CAST(v.c AS DOUBLE)) AS ratio
          FROM c2 JOIN u ON u.w = c2.w1 JOIN v ON v.w = c2.w2, nn
          WHERE c2.c_ab >= 5)
        SELECT w1, w2, c_ab, c_a, c_b, round(log2(ratio), 6) AS pmi
        FROM r ORDER BY ratio DESC, w1, w2 LIMIT 30"""))(
      (s, dir) => {
        val toks = T(s, dir, "documents")
          .select(TextAnalysis.tokens(TextAnalysis.normalizeText(col("text")))
            .as("ws"))
        val pairs = toks
          .select(col("ws"), explode(
            when(size(col("ws")) >= 2, sequence(lit(1), size(col("ws")) - 1))
              .otherwise(array().cast("array<int>"))).as("pos"))
          .select(element_at(col("ws"), col("pos")).as("w1"),
            element_at(col("ws"), col("pos") + 1).as("w2"))
        val c2 = pairs.groupBy("w1", "w2")
          .agg(count(lit(1)).cast("long").as("c_ab"))
        val u = c2.groupBy(col("w1").as("w"))
          .agg(sum(col("c_ab")).cast("long").as("c_a"))
        val v = c2.groupBy(col("w2").as("w"))
          .agg(sum(col("c_ab")).cast("long").as("c_b"))
        val nn = c2.agg(sum(col("c_ab")).cast("long").as("n"))
        val r = c2.where(col("c_ab") >= 5)
          .join(u, col("w1") === u("w")).drop("w")
          .join(v, col("w2") === v("w")).drop("w")
          .crossJoin(broadcast(nn))
          .select(col("w1"), col("w2"), col("c_ab"), col("c_a"), col("c_b"),
            ((col("c_ab").cast("double") * col("n").cast("double"))
              / (col("c_a").cast("double") * col("c_b").cast("double")))
              .as("ratio"))
        r.select(col("w1"), col("w2"), col("c_ab"), col("c_a"), col("c_b"),
            round(log2(col("ratio")), 6).as("pmi"), col("ratio"))
          .orderBy(col("ratio").desc, col("w1"), col("w2"))
          .limit(30)
          .drop("ratio")
      }),

    // Cochran-Mantel-Haenszel common odds ratio (Mantel & Haenszel
    // JNCI'59) — association between market segment and a positive
    // balance CONTROLLING for region: per-stratum 2x2 tables
    // (a,b,c,d), OR_MH = Σ a·d/n / Σ b·c/n. Every count is an exact
    // integer off one hash agg; the per-stratum rational terms a·d/n
    // are identical IEEE divisions rounded at 9 dp and DECIMAL-summed
    // (order-independent), with ONE final double division. Emits the
    // per-stratum ORs beside the pooled one — Simpson's-paradox audit
    // in the same pass.
    Q("q343_cmh_odds", Q.sql("""
        WITH cells AS (
          SELECT n_regionkey AS rk,
            CAST(c_mktsegment = 'BUILDING' AS INT) AS x,
            CAST(c_acctbal > 0 AS INT) AS y,
            CAST(count(*) AS BIGINT) AS cnt
          FROM customer JOIN nation ON n_nationkey = c_nationkey
          GROUP BY 1, 2, 3),
        t AS (
          SELECT rk,
            CAST(sum(CASE WHEN x = 1 AND y = 1 THEN cnt ELSE 0 END) AS BIGINT) AS a,
            CAST(sum(CASE WHEN x = 1 AND y = 0 THEN cnt ELSE 0 END) AS BIGINT) AS b,
            CAST(sum(CASE WHEN x = 0 AND y = 1 THEN cnt ELSE 0 END) AS BIGINT) AS c,
            CAST(sum(CASE WHEN x = 0 AND y = 0 THEN cnt ELSE 0 END) AS BIGINT) AS d
          FROM cells GROUP BY 1),
        terms AS (
          SELECT rk, a, b, c, d, a + b + c + d AS n,
            CAST(round(CAST(a AS DOUBLE) * CAST(d AS DOUBLE)
              / CAST(a + b + c + d AS DOUBLE), 9) AS DECIMAL(28,9)) AS adn,
            CAST(round(CAST(b AS DOUBLE) * CAST(c AS DOUBLE)
              / CAST(a + b + c + d AS DOUBLE), 9) AS DECIMAL(28,9)) AS bcn
          FROM t),
        pooled AS (
          SELECT round(CAST(sum(adn) AS DOUBLE) / CAST(sum(bcn) AS DOUBLE), 6)
            AS or_mh
          FROM terms)
        SELECT rk AS stratum, a, b, c, d,
          CASE WHEN b * c > 0 THEN
            round(CAST(a AS DOUBLE) * CAST(d AS DOUBLE)
              / (CAST(b AS DOUBLE) * CAST(c AS DOUBLE)), 6)
            ELSE 0.0 END AS or_stratum,
          p.or_mh
        FROM terms, pooled p ORDER BY stratum"""))(
      (s, dir) => {
        val cells = T(s, dir, "customer")
          .join(broadcast(T(s, dir, "nation")),
            col("n_nationkey") === col("c_nationkey"))
          .groupBy(col("n_regionkey").as("rk"),
            (col("c_mktsegment") === "BUILDING").cast("int").as("x"),
            (col("c_acctbal") > 0).cast("int").as("y"))
          .agg(count(lit(1)).cast("long").as("cnt"))
        def cell(xv: Int, yv: Int): Column =
          sum(when(col("x") === xv && col("y") === yv, col("cnt"))
            .otherwise(0L)).cast("long")
        val t = cells.groupBy("rk")
          .agg(cell(1, 1).as("a"), cell(1, 0).as("b"),
            cell(0, 1).as("c"), cell(0, 0).as("d"))
        val n = (col("a") + col("b") + col("c") + col("d")).cast("double")
        val terms = t.select(col("rk"), col("a"), col("b"), col("c"),
          col("d"),
          round(col("a").cast("double") * col("d").cast("double") / n, 9)
            .cast("decimal(28,9)").as("adn"),
          round(col("b").cast("double") * col("c").cast("double") / n, 9)
            .cast("decimal(28,9)").as("bcn"))
        val pooled = terms.agg(
          round(sum(col("adn")).cast("double")
            / sum(col("bcn")).cast("double"), 6).as("or_mh"))
        terms.crossJoin(broadcast(pooled))
          .select(col("rk").as("stratum"), col("a"), col("b"), col("c"),
            col("d"),
            when(col("b") * col("c") > 0,
              round(col("a").cast("double") * col("d").cast("double")
                / (col("b").cast("double") * col("c").cast("double")), 6))
              .otherwise(0.0).as("or_stratum"),
            col("or_mh"))
          .orderBy("stratum")
      }),

    // Medoid silhouette (Kaufman & Rousseeuw '90 §2.5; simplified
    // silhouette per Van der Laan et al. '03) — cluster-quality audit
    // for the ANN index family (q67 IVF, q41 LSH): assign each
    // embedding to the nearest of 8 fixed medoids (vec_id 0..7) by
    // cosine, a(i) = distance to its medoid, b(i) = distance to the
    // best OTHER medoid, s = (b−a)/max(a,b). O(n·k) medoid fan-out
    // (8-row broadcast), NEVER the O(n²) full silhouette; per-point s
    // rounded at 9 dp and DECIMAL-summed per cluster. The cosine is
    // the left-associative portable chain, bit-identical both engines.
    Q("q344_medoid_silhouette", Q.sql(s"""
        WITH m AS (
          SELECT vec_id AS mid, embedding AS me FROM embeddings
          WHERE vec_id < 8),
        pairs AS (
          SELECT e.vec_id, m.mid,
            ${PortableSql.cosine("e.embedding", "m.me", Dim)} AS cs
          FROM embeddings e, m),
        rk AS (
          SELECT vec_id, mid, cs, row_number() OVER (
            PARTITION BY vec_id ORDER BY cs DESC, mid) AS r
          FROM pairs),
        ab AS (
          SELECT a.vec_id, a.mid AS cluster,
            1.0 - a.cs AS da, 1.0 - b.cs AS db
          FROM rk a JOIN rk b ON b.vec_id = a.vec_id AND b.r = 2
          WHERE a.r = 1),
        sil AS (
          SELECT vec_id, cluster,
            CAST(round(CASE WHEN greatest(da, db) > 0
              THEN (db - da) / greatest(da, db) ELSE 0.0 END, 9)
              AS DECIMAL(20,9)) AS s
          FROM ab)
        SELECT cluster, CAST(count(*) AS BIGINT) AS n_points,
          round(CAST(sum(s) AS DOUBLE) / count(*), 6) AS mean_silhouette
        FROM sil GROUP BY 1 ORDER BY 1"""))(
      (s, dir) => {
        val emb = T(s, dir, "embeddings")
        val m = emb.where(col("vec_id") < 8).limit(8) // ids unique: 8 rows
          .select(col("vec_id").as("mid"), col("embedding").as("me"))
        // native codegen dot (ArrayMath) accumulates in the same
        // left-associative order as the oracle's PortableSql.cosine
        // chain, so cs is bit-identical (Spark expr indexing is 0-based,
        // so the 1-based SQL text itself only runs on the DuckDB side)
        val pairs = emb.crossJoin(broadcast(m))
          .select(col("vec_id"), col("mid"),
            graft.similarity.Similarity.cosine(col("embedding"), col("me"),
              Dim).as("cs"))
        val w = Window.partitionBy("vec_id").orderBy(col("cs").desc,
          col("mid"))
        val rk = pairs.select(col("vec_id"), col("mid"), col("cs"),
          row_number().over(w).as("r"))
        val ab = rk.where(col("r") === 1)
          .select(col("vec_id"), col("mid").as("cluster"),
            (lit(1.0) - col("cs")).as("da"))
          .join(rk.where(col("r") === 2)
            .select(col("vec_id"), (lit(1.0) - col("cs")).as("db")),
            Seq("vec_id"))
        val sil = ab.select(col("cluster"),
          round(when(greatest(col("da"), col("db")) > 0,
            (col("db") - col("da")) / greatest(col("da"), col("db")))
            .otherwise(0.0), 9).cast("decimal(20,9)").as("s"))
        sil.groupBy("cluster")
          .agg(count(lit(1)).cast("long").as("n_points"),
            round(sum(col("s")).cast("double") / count(lit(1)), 6)
              .as("mean_silhouette"))
          .orderBy("cluster")
      }),

    // Bradley-Terry preference model (Bradley & Terry Biometrika'52;
    // MM fit per Hunter AOS'04) — THE pairwise-comparison model behind
    // RLHF preference data: event types "compete" per (user, day) —
    // the type with the higher max value wins the pair — and two MM
    // rounds p_i <- W_i / Σ_j N_ij/(p_i+p_j) fit the strengths. The
    // comparison generator is per-(user,day) (<= 10 pairs each, never
    // all-pairs); the 5x5 win matrix and every MM round are
    // model-sized broadcasts; per-opponent terms are rounded at 9 dp
    // and DECIMAL-summed so the fold is order-independent.
    Q("q345_bradley_terry", Q.sql("""
        WITH mx AS (
          SELECT user_id, CAST(ts AS DATE) AS day, event_type,
            max(value) AS mv
          FROM events GROUP BY 1, 2, 3),
        comp AS (
          SELECT CASE WHEN a.mv > b.mv THEN a.event_type ELSE b.event_type
              END AS wi,
            CASE WHEN a.mv > b.mv THEN b.event_type ELSE a.event_type
              END AS li
          FROM mx a JOIN mx b
            ON a.user_id = b.user_id AND a.day = b.day
            AND a.event_type < b.event_type
          WHERE a.mv <> b.mv),
        wmat AS (
          SELECT wi, li, CAST(count(*) AS BIGINT) AS w
          FROM comp GROUP BY 1, 2),
        npair AS (
          SELECT wi AS i, li AS j, w FROM wmat
          UNION ALL SELECT li, wi, 0 FROM wmat),
        nm AS (
          SELECT i, j, CAST(sum(w) AS BIGINT) AS wins FROM npair
          GROUP BY 1, 2),
        tot AS (
          SELECT a.i, a.j, a.wins, a.wins + b.wins AS nij
          FROM nm a JOIN nm b ON b.i = a.j AND b.j = a.i),
        wi AS (
          SELECT i, CAST(sum(wins) AS BIGINT) AS w_i,
            CAST(sum(nij) AS BIGINT) AS n_i
          FROM tot GROUP BY 1),
        p1 AS (
          SELECT t.i, round(CAST(w.w_i AS DOUBLE) / CAST(sum(
            CAST(round(CAST(t.nij AS DOUBLE) / 2.0, 9) AS DECIMAL(28,9)))
            AS DOUBLE), 9) AS p
          FROM tot t JOIN wi w ON w.i = t.i GROUP BY t.i, w.w_i),
        p2 AS (
          SELECT t.i, round(CAST(w.w_i AS DOUBLE) / CAST(sum(
            CAST(round(CAST(t.nij AS DOUBLE) / (pi.p + pj.p), 9)
              AS DECIMAL(28,9))) AS DOUBLE), 9) AS p
          FROM tot t
          JOIN wi w ON w.i = t.i
          JOIN p1 pi ON pi.i = t.i
          JOIN p1 pj ON pj.i = t.j
          GROUP BY t.i, w.w_i),
        z AS (
          SELECT CAST(sum(CAST(round(p, 9) AS DECIMAL(28,9))) AS DOUBLE)
            AS zs
          FROM p2)
        SELECT p2.i AS event_type, w.w_i AS wins, w.n_i AS comparisons,
          round(p2.p / z.zs, 6) AS strength
        FROM p2 JOIN wi w ON w.i = p2.i, z
        ORDER BY event_type"""))(
      (s, dir) => {
        val mx = T(s, dir, "events")
          .groupBy(col("user_id"), to_date(col("ts")).as("day"),
            col("event_type"))
          .agg(max(col("value")).as("mv"))
        val comp = mx.as("a")
          .join(mx.select(col("user_id"), col("day"),
            col("event_type").as("et2"), col("mv").as("mv2")),
            Seq("user_id", "day"))
          .where(col("event_type") < col("et2") && col("mv") =!= col("mv2"))
          .select(
            when(col("mv") > col("mv2"), col("event_type"))
              .otherwise(col("et2")).as("wi"),
            when(col("mv") > col("mv2"), col("et2"))
              .otherwise(col("event_type")).as("li"))
        // materialized (5x4-row model frame): nm references wmat twice
        // and everything downstream re-references the chain — the barrier
        // runs the events agg + per-(user,day) self-join exactly once
        val wmat = graft.ops.Frames.materialize(comp.groupBy("wi", "li")
          .agg(count(lit(1)).cast("long").as("w")).coalesce(1))
        val nm = wmat.select(col("wi").as("i"), col("li").as("j"), col("w"))
          .unionByName(wmat.select(col("li").as("i"), col("wi").as("j"),
            lit(0L).as("w")))
          .groupBy("i", "j").agg(sum(col("w")).cast("long").as("wins"))
        // materialized: tot feeds wi, p1 and p2 (three consumers)
        val tot = graft.ops.Frames.materialize(nm.as("a")
          .join(nm.select(col("i").as("j2"), col("j").as("i2"),
            col("wins").as("wins2")),
            col("i") === col("i2") && col("j") === col("j2"))
          .select(col("i"), col("j"), col("wins"),
            (col("wins") + col("wins2")).as("nij")).coalesce(1))
        val wi = tot.groupBy("i")
          .agg(sum(col("wins")).cast("long").as("w_i"),
            sum(col("nij")).cast("long").as("n_i"))
        val p1 = tot.join(broadcast(wi), Seq("i"))
          .groupBy(col("i"), col("w_i"))
          .agg(round(col("w_i").cast("double")
            / sum(round(col("nij").cast("double") / 2.0, 9)
              .cast("decimal(28,9)")).cast("double"), 9).as("p"))
          .select(col("i"), col("p"))
        val p2 = tot
          .join(broadcast(wi), Seq("i"))
          .join(broadcast(p1.select(col("i"), col("p").as("pi_"))), Seq("i"))
          .join(broadcast(p1.select(col("i").as("j"), col("p").as("pj_"))),
            Seq("j"))
          .groupBy(col("i"), col("w_i"))
          .agg(round(col("w_i").cast("double")
            / sum(round(col("nij").cast("double")
              / (col("pi_") + col("pj_")), 9)
              .cast("decimal(28,9)")).cast("double"), 9).as("p"))
          .select(col("i"), col("p"))
        val z = p2.agg(sum(round(col("p"), 9).cast("decimal(28,9)"))
          .cast("double").as("zs"))
        p2.join(broadcast(wi), Seq("i"))
          .crossJoin(broadcast(z))
          .select(col("i").as("event_type"), col("w_i").as("wins"),
            col("n_i").as("comparisons"),
            round(col("p") / col("zs"), 6).as("strength"))
          .orderBy("event_type")
      }),

    // Friedman blocked rank test (Friedman JASA'37) — the k-treatment
    // repeated-measures sibling of q338/q329: days are blocks, event
    // types are treatments, the measure is the exact 4-dp decimal
    // daily value sum. Within-block midranks come from the 5x5
    // per-day self-join (integer 2x-midranks, no window), rank sums
    // stay BIGINT, and Q = 3·ΣR2²/(n·k·(k+1)) − 3·n·(k+1) is one
    // fixed-order double expression over exact integers.
    Q("q346_friedman", Q.sql("""
        WITH d AS (
          SELECT CAST(ts AS DATE) AS day, event_type,
            CAST(sum(CAST(round(value, 4) AS DECIMAL(18,4)))
              AS DECIMAL(38,4)) AS m
          FROM events GROUP BY 1, 2),
        mr AS (
          SELECT a.day, a.event_type,
            CAST(sum(CASE WHEN b.m < a.m THEN 2
              WHEN b.m = a.m THEN 1 ELSE 0 END) + 1 AS BIGINT) AS mr2
          FROM d a JOIN d b ON b.day = a.day
          GROUP BY 1, 2),
        rs AS (
          SELECT event_type, CAST(sum(mr2) AS BIGINT) AS r2_sum,
            CAST(count(*) AS BIGINT) AS n_blocks
          FROM mr GROUP BY 1),
        q AS (
          SELECT CAST(max(n_blocks) AS BIGINT) AS n,
            CAST(count(*) AS BIGINT) AS k,
            CAST(sum(CAST(r2_sum AS DECIMAL(38,0)) * r2_sum)
              AS DECIMAL(38,0)) AS ss
          FROM rs)
        SELECT r.event_type, r.r2_sum, r.n_blocks,
          round(3.0 * CAST(q.ss AS DOUBLE)
              / (CAST(q.n AS DOUBLE) * CAST(q.k AS DOUBLE)
                * CAST(q.k + 1 AS DOUBLE))
            - 3.0 * CAST(q.n AS DOUBLE) * CAST(q.k + 1 AS DOUBLE), 6)
            AS friedman_q
        FROM rs r, q ORDER BY r.event_type"""))(
      (s, dir) => {
        val d = T(s, dir, "events")
          .groupBy(to_date(col("ts")).as("day"), col("event_type"))
          .agg(sum(round(col("value"), 4).cast("decimal(18,4)"))
            .cast("decimal(38,4)").as("m"))
        val mr = d.as("a")
          .join(d.select(col("day"), col("m").as("m2")), Seq("day"))
          .groupBy("day", "event_type")
          .agg((sum(when(col("m2") < col("m"), 2)
            .when(col("m2") === col("m"), 1).otherwise(0)) + 1)
            .cast("long").as("mr2"))
        val rs = mr.groupBy("event_type")
          .agg(sum(col("mr2")).cast("long").as("r2_sum"),
            count(lit(1)).cast("long").as("n_blocks"))
        val q = rs.agg(max(col("n_blocks")).cast("long").as("n"),
          count(lit(1)).cast("long").as("k"),
          sum(col("r2_sum").cast("decimal(38,0)") * col("r2_sum"))
            .cast("decimal(38,0)").as("ss"))
        rs.crossJoin(broadcast(q))
          .select(col("event_type"), col("r2_sum"), col("n_blocks"),
            round(lit(3.0) * col("ss").cast("double")
                / (col("n").cast("double") * col("k").cast("double")
                  * (col("k") + 1).cast("double"))
              - lit(3.0) * col("n").cast("double")
                * (col("k") + 1).cast("double"), 6).as("friedman_q"))
          .orderBy("event_type")
      }),

    // McNemar's paired test (McNemar Psychometrika'47) — did the SAME
    // users change behavior between the first and second half of the
    // window? Paired per-user binary outcomes (any event of the type
    // in each half), discordant counts b/c, chi2 = (b−c)²/(b+c) and
    // the continuity-corrected form — the paired test an independent
    // two-sample comparison would get wrong. One hash agg per user,
    // one 5-row result; the half boundary is a broadcast scalar from
    // the data's own min/max day.
    Q("q347_mcnemar", Q.sql("""
        WITH bounds AS (
          SELECT min(CAST(ts AS DATE)) AS d0, max(CAST(ts AS DATE)) AS d1
          FROM events),
        flags AS (
          SELECT e.event_type, e.user_id,
            max(CASE WHEN CAST(e.ts AS DATE) - b.d0
              <= CAST(floor((b.d1 - b.d0) / 2.0) AS BIGINT)
              THEN 1 ELSE 0 END) AS x1,
            max(CASE WHEN CAST(e.ts AS DATE) - b.d0
              > CAST(floor((b.d1 - b.d0) / 2.0) AS BIGINT)
              THEN 1 ELSE 0 END) AS x2
          FROM events e, bounds b
          GROUP BY 1, 2),
        cnt AS (
          SELECT event_type,
            CAST(sum(CASE WHEN x1 = 1 AND x2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n11,
            CAST(sum(CASE WHEN x1 = 1 AND x2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b,
            CAST(sum(CASE WHEN x1 = 0 AND x2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c,
            CAST(sum(CASE WHEN x1 = 0 AND x2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n00
          FROM flags GROUP BY 1)
        SELECT event_type, n11, b, c, n00,
          CASE WHEN b + c > 0 THEN
            round(CAST((b - c) * (b - c) AS DOUBLE) / CAST(b + c AS DOUBLE), 6)
            ELSE 0.0 END AS chi2,
          CASE WHEN b + c > 0 THEN
            round((abs(CAST(b - c AS DOUBLE)) - 1.0)
              * (abs(CAST(b - c AS DOUBLE)) - 1.0) / CAST(b + c AS DOUBLE), 6)
            ELSE 0.0 END AS chi2_cc
        FROM cnt ORDER BY event_type"""))(
      (s, dir) => {
        val ev = T(s, dir, "events")
          .select(col("event_type"), col("user_id"),
            to_date(col("ts")).as("day"))
        val bounds = ev.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
        val half = floor(datediff(col("d1"), col("d0")) / 2.0).cast("long")
        val flags = ev.crossJoin(broadcast(bounds))
          .groupBy("event_type", "user_id")
          .agg(
            max(when(datediff(col("day"), col("d0")) <= half, 1)
              .otherwise(0)).as("x1"),
            max(when(datediff(col("day"), col("d0")) > half, 1)
              .otherwise(0)).as("x2"))
        def cc(p: (Int, Int)): Column =
          sum(when(col("x1") === p._1 && col("x2") === p._2, 1)
            .otherwise(0)).cast("long")
        val cnt = flags.groupBy("event_type")
          .agg(cc((1, 1)).as("n11"), cc((1, 0)).as("b"),
            cc((0, 1)).as("c"), cc((0, 0)).as("n00"))
        val bc = (col("b") - col("c")).cast("double")
        cnt.select(col("event_type"), col("n11"), col("b"), col("c"),
            col("n00"),
            when(col("b") + col("c") > 0,
              round(bc * bc / (col("b") + col("c")).cast("double"), 6))
              .otherwise(0.0).as("chi2"),
            when(col("b") + col("c") > 0,
              round((abs(bc) - 1.0) * (abs(bc) - 1.0)
                / (col("b") + col("c")).cast("double"), 6))
              .otherwise(0.0).as("chi2_cc"))
          .orderBy("event_type")
      })
  )
}
