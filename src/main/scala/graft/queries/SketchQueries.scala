package graft.queries

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables.{load => T}
import graft.functions.PortableSql
import graft.similarity.Quantize
import graft.sketch.{Hll, Quantiles}

/** Sketch + quantization operators under the oracle gate: a
  * deterministic HyperLogLog register table ([[graft.sketch.Hll]]) and
  * symmetric int8 embedding quantization
  * ([[graft.similarity.Quantize]]).
  */
object SketchQueries {

  private val HllP = 6

  /** DDSketch gamma for q287: alpha = (γ−1)/(γ+1) ≈ 0.99% relative error. */
  private val DdGamma = 1.02

  def all: Seq[Q] = Seq(

    // HLL registers (p=6 → 64 buckets) over lineitem part keys. The
    // oracle replays the identical integer derivation: 48-bit md5 hash,
    // low-p-bit bucket, trailing-zeros+1 rho via bit_count((w & -w) - 1)
    // — no floating point anywhere.
    Q("q66_hll_registers", Q.sql(s"""
        WITH h AS (
          SELECT ${PortableSql.hexToLong("md5(CAST(l_partkey AS VARCHAR))", 12)} AS h
          FROM lineitem),
        b AS (
          SELECT h % ${1 << HllP} AS bucket,
            CAST(floor(h / ${1 << HllP}) AS BIGINT) AS w
          FROM h)
        SELECT bucket,
          max(CASE WHEN w = 0 THEN ${48 - HllP + 1}
                   ELSE CAST(bit_count((w & (-w)) - 1) AS BIGINT) + 1 END) AS max_rho
        FROM b
        GROUP BY 1
        ORDER BY bucket"""))(
      (s, dir) =>
        Hll.registers(T(s, dir, "lineitem"), col("l_partkey"), HllP)
          .orderBy("bucket")),

    // Symmetric int8 quantization of the embeddings table, flat
    // (vec_id, pos, q, scale) layout. Scale is max|v|/127 (exact
    // comparison math); codes are floor(v/scale + 0.5) in double on both
    // engines.
    Q("q67_embed_quantize", Q.sql("""
        WITH e AS (
          SELECT vec_id, pos - 1 AS pos, CAST(embedding[pos] AS DOUBLE) AS v
          FROM embeddings,
            LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS pos) t),
        m AS (
          SELECT vec_id, max(abs(v)) / 127.0 AS scale FROM e GROUP BY 1)
        SELECT e.vec_id AS vec_id, e.pos AS pos,
          CASE WHEN m.scale = 0 THEN 0
               ELSE CAST(floor(e.v / m.scale + 0.5) AS BIGINT) END AS q,
          m.scale AS scale
        FROM e JOIN m ON e.vec_id = m.vec_id
        ORDER BY e.vec_id, e.pos"""))(
      (s, dir) =>
        Quantize.int8(T(s, dir, "embeddings"), col("vec_id"), col("embedding"))
          .orderBy("vec_id", "pos")),

    // End-to-end quantized search: top-3 cosine neighbours computed ON
    // THE INT8 CODES (scales cancel in cosine). Every dot product is an
    // exact integer (|q| <= 127, 64 dims → < 2^21), so the quantized
    // scores hash-match the oracle bit-for-bit — the storage->search
    // path a 100 TB vector store actually runs, at 4x less scan I/O.
    Q("q68_quantized_knn", Q.sql(s"""
        WITH e AS (
          SELECT vec_id, pos - 1 AS pos, CAST(embedding[pos] AS DOUBLE) AS v
          FROM embeddings,
            LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS pos) t),
        m AS (
          SELECT vec_id, max(abs(v)) / 127.0 AS scale FROM e GROUP BY 1),
        qf AS (
          SELECT e.vec_id AS vec_id, e.pos AS pos,
            CASE WHEN m.scale = 0 THEN 0
                 ELSE CAST(floor(e.v / m.scale + 0.5) AS BIGINT) END AS q
          FROM e JOIN m ON e.vec_id = m.vec_id),
        v AS (SELECT vec_id, list(q ORDER BY pos) AS qv FROM qf GROUP BY 1)
        SELECT query_id, neighbor_id, cos_sim, rank FROM (
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
            round(${PortableSql.cosine("q.qv", "c.qv", 64)}, 6) AS cos_sim,
            row_number() OVER (
              PARTITION BY q.vec_id
              ORDER BY round(${PortableSql.cosine("q.qv", "c.qv", 64)}, 6) DESC,
                c.vec_id) AS rank
          FROM v q, v c
          WHERE q.vec_id < 5 AND q.vec_id <> c.vec_id) t
        WHERE rank <= 3
        ORDER BY query_id, rank"""))(
      (s, dir) => {
        val packed = graft.ops.Frames.cached(
          Quantize.toArrays(
              Quantize.int8(T(s, dir, "embeddings"), col("vec_id"), col("embedding")))
            .select(col("vec_id"),
              transform(col("qvec"), x => x.cast("float")).as("embedding")))
        graft.similarity.Similarity.knnBruteForce(
            packed.where(col("vec_id") < 5).limit(5), packed, k = 3)
          .orderBy("query_id", "rank")
      }),

    // Grouped HLL count-distinct ESTIMATES, fully in-frame (no driver
    // collect): per event type, distinct-user estimate vs exact with the
    // relative error. The register inverses 1/2^rho are dyadic, so the
    // per-group sums are IEEE-exact in any aggregation order — the whole
    // estimator (raw + linear-counting correction) is oracle-checkable
    // without decimal routing. At 100 TB the exact side is the expensive
    // one; the estimate reads 64 tiny rows per group.
    Q("q125_hll_estimate", {
      val m = (1 << HllP).toDouble
      val alpha = 0.7213 / (1.0 + 1.079 / m)
      val alphaM2 = PortableSql.doubleLit(alpha * m * m)
      val mi = 1 << HllP
      val maxRho = 48 - HllP + 1
      Q.sql(s"""
        WITH h AS (
          SELECT event_type,
            ${PortableSql.hexToLong("md5(CAST(user_id AS VARCHAR))", 12)} AS h
          FROM events),
        b AS (
          SELECT event_type, h % $mi AS bucket,
            CAST(floor(h / $mi) AS BIGINT) AS w
          FROM h),
        r AS (
          SELECT event_type, bucket,
            max(CASE WHEN w = 0 THEN $maxRho
                     ELSE CAST(bit_count((w & (-w)) - 1) AS BIGINT) + 1 END) AS max_rho
          FROM b GROUP BY 1, 2),
        s AS (
          SELECT event_type, count(*) AS n_present,
            sum(CAST(1 AS DOUBLE) / (CAST(1 AS BIGINT) << max_rho)) AS s_present
          FROM r GROUP BY 1),
        e AS (
          SELECT event_type,
            (CAST($mi AS DOUBLE) - n_present) AS zeros,
            CAST($alphaM2 AS DOUBLE) / (s_present + (CAST($mi AS DOUBLE) - n_present)) AS raw
          FROM s),
        x AS (
          SELECT event_type,
            CASE WHEN raw <= CAST(${PortableSql.doubleLit(2.5 * m)} AS DOUBLE) AND zeros > 0
                 THEN CAST($mi AS DOUBLE) * ln(CAST($mi AS DOUBLE) / zeros)
                 ELSE raw END AS est
          FROM e),
        ex AS (
          SELECT event_type, count(DISTINCT user_id) AS exact_n
          FROM events GROUP BY 1)
        SELECT x.event_type AS event_type, ex.exact_n, round(est, 6) AS hll_est,
          round(abs(est - exact_n) / exact_n, 6) AS rel_err
        FROM x JOIN ex ON ex.event_type = x.event_type
        ORDER BY event_type""")
    })(
      (s, dir) => {
        val e = T(s, dir, "events")
        val regs = Hll.registersBy(e, col("user_id"), Seq("event_type"), HllP)
        val est = Hll.estimateBy(regs, Seq("event_type"), HllP)
        val exact = e.groupBy("event_type")
          .agg(countDistinct(col("user_id")).as("exact_n"))
        est.join(exact, "event_type")
          .select(col("event_type"), col("exact_n"),
            round(col("hll_est"), 6).as("hll_est"),
            round(abs(col("hll_est") - col("exact_n")) / col("exact_n"), 6)
              .as("rel_err"))
          .orderBy("event_type")
      })
    ,

    // Bloom false-positive calibration: probe the q103 filter (m=1024,
    // k=3) with keys GUARANTEED absent from the build set — every
    // positive is a false positive — and compare the measured rate to
    // the load-based theory (set_bits/m)^k. The oracle replays the
    // whole filter in SQL (distinct bit positions from the build keys,
    // per-probe hit counting), so the bit array itself is
    // engine-portable. This is the sizing check run before trusting a
    // bloom predicate to prune a 100 TB scan.
    Q("q285_bloom_fpr", {
      val h1 = PortableSql.hexToLong("md5(CAST(key AS VARCHAR))", 12)
      val h2 = PortableSql.hexToLong(
        "substr(md5(CAST(key AS VARCHAR)), 13, 12)", 12)
      Q.sql(s"""
        WITH bk AS (
          SELECT DISTINCT o_orderkey AS key FROM orders
          WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 450000),
        ii AS (SELECT unnest([0, 1, 2]) AS i),
        pos AS (
          SELECT DISTINCT (($h1) + i * ($h2)) % 1024 AS p
          FROM bk, ii),
        nb AS (SELECT count(*) AS n_build FROM bk),
        nbits AS (SELECT count(*) AS n_bits_set FROM pos),
        pr AS (SELECT c_custkey + 10000000 AS key FROM customer),
        pp AS (
          SELECT key, (($h1) + i * ($h2)) % 1024 AS p
          FROM pr, ii),
        hits AS (
          SELECT key, count(*) AS nhit FROM pp JOIN pos USING (p)
          GROUP BY 1),
        st AS (
          SELECT count(*) AS n_probes,
            CAST(sum(CASE WHEN nhit = 3 THEN 1 ELSE 0 END) AS BIGINT)
              AS n_fp
          FROM pr LEFT JOIN hits USING (key))
        SELECT n_build, CAST(n_bits_set AS BIGINT) AS n_bits_set,
          n_probes, n_fp,
          round(n_fp * 1.0 / n_probes, 6) AS fp_rate,
          round((n_bits_set * 1.0 / 1024) * (n_bits_set * 1.0 / 1024)
            * (n_bits_set * 1.0 / 1024), 6) AS fp_theory
        FROM st, nb, nbits""")
    })(
      (s, dir) => {
        import graft.sketch.Bloom
        val build = T(s, dir, "orders")
          .where(col("o_orderpriority") === "1-URGENT" &&
            col("o_totalprice") > 450000)
        val f = Bloom.build(build, col("o_orderkey"), m = 1024, k = 3)
        val bitsSet = f.bits.map(java.lang.Long.bitCount).sum.toLong
        val probes = T(s, dir, "customer")
          .select((col("c_custkey") + 10000000L).as("pkey"))
        val st = probes.agg(count(lit(1)).as("n_probes"),
          sum(when(f.mightContain(col("pkey")), 1L).otherwise(0L))
            .as("n_fp"))
        val nb = build.select(col("o_orderkey")).distinct()
          .agg(count(lit(1)).as("n_build"))
        val t = lit(bitsSet).cast("double") / 1024
        st.crossJoin(broadcast(nb))
          .select(col("n_build"), lit(bitsSet).as("n_bits_set"),
            col("n_probes"), col("n_fp"),
            round(col("n_fp").cast("double") / col("n_probes"), 6)
              .as("fp_rate"),
            round(t * t * t, 6).as("fp_theory"))
      }),

    // Mergeable quantile sketch (DDSketch, Masson et al. VLDB'19) built
    // by the typed Aggregator — a TRUE partial+final aggregation, so
    // the shuffle carries one O(bins) sketch per (partition, group);
    // this is the cross-shard/incremental quantile path the exact
    // two-pass percentiles can't provide (the q276 mergeable-partials
    // pattern, for quantiles). Per returnflag: the q50/q90/q99
    // estimates of l_extendedprice, the exact percentile_disc value at
    // the same rank convention, and the relative error — which the
    // DDSketch bound guarantees <= alpha = (gamma-1)/(gamma+1) ≈ 0.0099.
    // The oracle replays the sketch deterministically (the q285
    // pattern): the identical 9-dp-rounded log-gamma bucket mapping,
    // cumulative walk, and 2γ^i/(γ+1) estimate, in pure SQL.
    // DDSketch GAMMA sizing sweep — the fourth sizing study (bloom
    // q285, watermark q286, HLL p q305): q50/q99 estimates and relative
    // error vs exact percentile_disc at gamma ∈ {1.01, 1.02, 1.05}
    // (α ≈ 0.5%, 1%, 2.4% guarantees), per returnflag, from ONE shared
    // value pass — the three bucket ids ride one 3-way generator
    // explode, one hash aggregation, one cumulative walk per operating
    // point; the exact side is computed once and joined to all three.
    // The accuracy-vs-bins decision (smaller gamma ≈ log-γ more
    // buckets) made from one scan instead of three.
    Q("q313_ddsketch_gamma_sweep", {
      val g1 = 1.01; val g2 = 1.02; val g3 = 1.05
      Q.sql(s"""
        WITH v AS (
          SELECT l_returnflag AS flag,
            CAST(l_extendedprice AS DOUBLE) AS v, l_extendedprice AS p
          FROM lineitem),
        bb AS (
          SELECT flag, g,
            CASE g WHEN 1 THEN ${Quantiles.bucketSql("v", g1)}
                   WHEN 2 THEN ${Quantiles.bucketSql("v", g2)}
                   ELSE ${Quantiles.bucketSql("v", g3)} END AS bucket,
            count(*) AS cnt
          FROM v, LATERAL (SELECT unnest([1, 2, 3]) AS g) t
          GROUP BY 1, 2, 3),
        n AS (SELECT flag, g, CAST(sum(cnt) AS BIGINT) AS n FROM bb GROUP BY 1, 2),
        qq AS (SELECT CAST(unnest([0.5, 0.99]) AS DOUBLE) AS q),
        r AS (
          SELECT n.flag, n.g, q, n,
            greatest(CAST(1 AS BIGINT), CAST(ceil(q * n) AS BIGINT)) AS rk
          FROM n, qq),
        c AS (
          SELECT flag, g, bucket,
            sum(cnt) OVER (PARTITION BY flag, g ORDER BY bucket) AS cum
          FROM bb),
        sel AS (
          SELECT r.flag, r.g, r.q, max(r.n) AS n, min(c.bucket) AS bi
          FROM r JOIN c ON c.flag = r.flag AND c.g = r.g AND c.cum >= r.rk
          GROUP BY 1, 2, 3),
        ec AS (SELECT flag, p, count(*) AS cnt FROM v GROUP BY 1, 2),
        ecc AS (
          SELECT flag, p,
            sum(cnt) OVER (PARTITION BY flag ORDER BY p) AS cum
          FROM ec),
        rq AS (SELECT DISTINCT flag, q, rk FROM r),
        ex AS (
          SELECT rq.flag, rq.q, min(e.p) AS exact_disc
          FROM rq JOIN ecc e ON e.flag = rq.flag AND e.cum >= rq.rk
          GROUP BY 1, 2),
        est AS (
          SELECT flag, g, q, n,
            round(CASE g WHEN 1 THEN ${Quantiles.estimateSql("bi", g1)}
                         WHEN 2 THEN ${Quantiles.estimateSql("bi", g2)}
                         ELSE ${Quantiles.estimateSql("bi", g3)} END, 6) AS dd_est
          FROM sel)
        SELECT
          CASE est.g WHEN 1 THEN CAST(1.01 AS DOUBLE)
                     WHEN 2 THEN CAST(1.02 AS DOUBLE)
                     ELSE CAST(1.05 AS DOUBLE) END AS gamma,
          est.flag AS flag, est.q AS q, est.n AS n, est.dd_est,
          ex.exact_disc AS exact_disc,
          round(abs(est.dd_est - CAST(ex.exact_disc AS DOUBLE))
            / CAST(ex.exact_disc AS DOUBLE), 6) AS rel_err
        FROM est JOIN ex ON ex.flag = est.flag AND ex.q = est.q
        ORDER BY gamma, flag, q""")
    })(
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val (g1, g2, g3) = (1.01, 1.02, 1.05)
        val li = T(s, dir, "lineitem")
          .select(col("l_returnflag").as("flag"), col("l_extendedprice").as("p"))
        val vd = col("p").cast("double")
        val bb = li
          .select(col("flag"), col("p"), explode(typedlit(Seq(1, 2, 3))).as("g"))
          .withColumn("bucket",
            when(col("g") === 1, Quantiles.bucketCol(vd, g1))
              .when(col("g") === 2, Quantiles.bucketCol(vd, g2))
              .otherwise(Quantiles.bucketCol(vd, g3)))
          .groupBy("flag", "g", "bucket").agg(count(lit(1)).as("cnt"))
        val n = bb.groupBy("flag", "g").agg(sum(col("cnt")).as("n"))
        val ranks = n
          .withColumn("q", explode(typedlit(Seq(0.5, 0.99))))
          .withColumn("rk",
            greatest(lit(1L), ceil(col("q") * col("n")).cast("long")))
        val cum = bb.withColumn("cum", sum(col("cnt")).over(
          Window.partitionBy("flag", "g").orderBy("bucket")))
        val sel = ranks.join(cum, Seq("flag", "g"))
          .where(col("cum") >= col("rk"))
          .groupBy("flag", "g", "q")
          .agg(max(col("n")).as("n"), min(col("bucket")).as("bi"))
        val est = sel.withColumn("dd_est", round(
          when(col("g") === 1, Quantiles.estimateCol(col("bi"), g1))
            .when(col("g") === 2, Quantiles.estimateCol(col("bi"), g2))
            .otherwise(Quantiles.estimateCol(col("bi"), g3)), 6))
        val ec = li.groupBy("flag", "p").agg(count(lit(1)).as("cnt"))
        val ecc = ec.withColumn("cum", sum(col("cnt")).over(
          Window.partitionBy("flag").orderBy("p")))
        val rq = ranks.select("flag", "q", "rk").distinct()
        val ex = rq.join(ecc, "flag")
          .where(col("cum") >= col("rk"))
          .groupBy("flag", "q")
          .agg(min(col("p")).as("exact_disc"))
        est.join(ex, Seq("flag", "q"))
          .select(
            when(col("g") === 1, 1.01).when(col("g") === 2, 1.02)
              .otherwise(1.05).as("gamma"),
            col("flag"), col("q"), col("n"), col("dd_est"),
            col("exact_disc"),
            round(abs(col("dd_est") - col("exact_disc").cast("double"))
              / col("exact_disc").cast("double"), 6).as("rel_err"))
          .orderBy("gamma", "flag", "q")
      }),

    // The SQL registration path itself, oracle-gated: the Spark side is
    // PURE SQL TEXT through spark.sql — `graft_dd_sketch` resolved by
    // the function registry (GraftFunctions/SparkSessionExtensions), the
    // sketch state exploded to (bucket, cnt) rows. The oracle replays
    // the bucket derivation arithmetically, so a drift in the SQL
    // binding (argument coercion, eval path, map layout) is a hash
    // mismatch — q287 gates the API build, this gates the `spark.sql`
    // surface a SQL-only user runs.
    Q("q306_ddsketch_sql", Q.sql(s"""
        SELECT l_returnflag AS flag,
          ${Quantiles.bucketSql("CAST(l_extendedprice AS DOUBLE)", DdGamma)}
            AS bucket,
          count(*) AS cnt
        FROM lineitem
        GROUP BY 1, 2
        ORDER BY flag, bucket"""))(
      (s, dir) => {
        graft.GraftFunctions.register(s)
        T(s, dir, "lineitem").createOrReplaceTempView("li_q306")
        s.sql(s"""
          SELECT flag, bucket, cnt FROM (
            SELECT l_returnflag AS flag,
              graft_dd_sketch(CAST(l_extendedprice AS DOUBLE), $DdGamma) AS dd
            FROM li_q306 GROUP BY l_returnflag
          ) LATERAL VIEW explode(dd.pos) t AS bucket, cnt
          ORDER BY flag, bucket""")
      }),

    Q("q287_ddsketch_quantiles", {
      val g = DdGamma
      Q.sql(s"""
        WITH v AS (
          SELECT l_returnflag AS flag,
            CAST(l_extendedprice AS DOUBLE) AS v, l_extendedprice AS p
          FROM lineitem),
        b AS (
          SELECT flag, ${Quantiles.bucketSql("v", g)} AS bucket,
            count(*) AS cnt
          FROM v GROUP BY 1, 2),
        n AS (SELECT flag, CAST(sum(cnt) AS BIGINT) AS n FROM b GROUP BY 1),
        qq AS (SELECT CAST(unnest([0.5, 0.9, 0.99]) AS DOUBLE) AS q),
        r AS (
          SELECT n.flag, q, n,
            greatest(CAST(1 AS BIGINT), CAST(ceil(q * n) AS BIGINT)) AS rk
          FROM n, qq),
        c AS (
          SELECT flag, bucket,
            sum(cnt) OVER (PARTITION BY flag ORDER BY bucket) AS cum
          FROM b),
        sel AS (
          SELECT r.flag, r.q, r.n, min(c.bucket) AS bi
          FROM r JOIN c ON c.flag = r.flag AND c.cum >= r.rk
          GROUP BY 1, 2, 3),
        ec AS (SELECT flag, p, count(*) AS cnt FROM v GROUP BY 1, 2),
        ecc AS (
          SELECT flag, p,
            sum(cnt) OVER (PARTITION BY flag ORDER BY p) AS cum
          FROM ec),
        ex AS (
          SELECT r.flag, r.q, min(e.p) AS exact_disc
          FROM r JOIN ecc e ON e.flag = r.flag AND e.cum >= r.rk
          GROUP BY 1, 2),
        est AS (
          SELECT flag, q, n, round(${Quantiles.estimateSql("bi", g)}, 6) AS dd_est
          FROM sel)
        SELECT est.flag AS flag, est.q AS q, est.n AS n, est.dd_est,
          ex.exact_disc AS exact_disc,
          round(abs(est.dd_est - CAST(ex.exact_disc AS DOUBLE))
            / CAST(ex.exact_disc AS DOUBLE), 6) AS rel_err
        FROM est JOIN ex ON ex.flag = est.flag AND ex.q = est.q
        ORDER BY flag, q""")
    })(
      (s, dir) => {
        val g = DdGamma
        val qs = Seq(0.5, 0.9, 0.99)
        val li = T(s, dir, "lineitem")
          .select(col("l_returnflag").as("flag"),
            col("l_extendedprice").as("p"))
        // the TypedImperativeAggregate build (object buffer, serialized
        // only at shuffle boundaries) — SketchSpec proves it identical
        // to the typed Aggregator and the codegen bucketCounts paths
        val sketched = li.groupBy("flag")
          .agg(graft.functions.DDSketchAgg
            .sketch(col("p").cast("double"), g).as("dd"))
        val counts = sketched.select(col("flag"),
          explode(col("dd.pos")).as(Seq("bucket", "cnt")))
        val est = Quantiles.quantilesFromCounts(counts, Seq("flag"), qs, g)
          .withColumnRenamed("est", "dd_est")
        // exact percentile_disc at the same rank = max(1, ceil(q*n)):
        // per-value counts, partitioned cumulative walk, min value at
        // rank — written identically in the oracle so selection is FP-free
        val ec = li.groupBy("flag", "p").agg(count(lit(1)).as("cnt"))
        val ecc = ec.withColumn("cum", sum(col("cnt")).over(
          Window.partitionBy(col("flag")).orderBy(col("p"))))
        val ranks = est.withColumn("rk",
          greatest(lit(1L), ceil(col("q") * col("n")).cast("long")))
        val exact = ranks.join(ecc, "flag")
          .where(col("cum") >= col("rk"))
          .groupBy("flag", "q")
          .agg(min(col("p")).as("exact_disc"))
        est.join(exact, Seq("flag", "q"))
          .select(col("flag"), col("q"), col("n"), col("dd_est"),
            col("exact_disc"),
            round(abs(col("dd_est") - col("exact_disc").cast("double"))
              / col("exact_disc").cast("double"), 6).as("rel_err"))
          .orderBy("flag", "q")
      }),

    // Incremental quantile refresh — the q276 mergeable-partials pattern
    // applied to DISTRIBUTIONS, which plain partial sums can't give you:
    // the first half-month's DDSketch (the standing profile) absorbs the
    // second half's delta sketch by per-bucket count addition — no
    // re-read of the base data — and the refreshed quantiles are
    // BIT-IDENTICAL to a from-scratch build, which is exactly what the
    // oracle computes (one pass over the union). At 100 TB this is a
    // nightly tail-latency/price-distribution profile maintained at
    // delta cost.
    Q("q288_sketch_refresh", {
      val g = DdGamma
      Q.sql(s"""
        WITH v AS (
          SELECT event_type, value AS v FROM events WHERE value > 0),
        b AS (
          SELECT event_type, ${Quantiles.bucketSql("v", g)} AS bucket,
            count(*) AS cnt
          FROM v GROUP BY 1, 2),
        n AS (SELECT event_type, CAST(sum(cnt) AS BIGINT) AS n FROM b GROUP BY 1),
        qq AS (SELECT CAST(unnest([0.5, 0.95, 0.99]) AS DOUBLE) AS q),
        r AS (
          SELECT n.event_type, q, n,
            greatest(CAST(1 AS BIGINT), CAST(ceil(q * n) AS BIGINT)) AS rk
          FROM n, qq),
        c AS (
          SELECT event_type, bucket,
            sum(cnt) OVER (PARTITION BY event_type ORDER BY bucket) AS cum
          FROM b),
        sel AS (
          SELECT r.event_type, r.q, r.n, min(c.bucket) AS bi
          FROM r JOIN c ON c.event_type = r.event_type AND c.cum >= r.rk
          GROUP BY 1, 2, 3)
        SELECT event_type, q, n,
          round(${Quantiles.estimateSql("bi", g)}, 6) AS est
        FROM sel ORDER BY event_type, q""")
    })(
      (s, dir) => {
        val g = DdGamma
        val e = T(s, dir, "events")
          .select(col("event_type"), col("ts"), col("value"))
        def shard(df: DataFrame): DataFrame =
          Quantiles.bucketCounts(df, Seq("event_type"), col("value"), g)
        val base = shard(e.where(col("ts") < lit("2024-01-16")))
        val delta = shard(e.where(col("ts") >= lit("2024-01-16")))
        // the refresh: per-bucket count addition — DDSketch merge as a
        // 2-row-per-bucket aggregation, no base re-read
        val merged = base.unionByName(delta)
          .groupBy("event_type", "bucket")
          .agg(sum(col("cnt")).as("cnt"))
        Quantiles.quantilesFromCounts(merged, Seq("event_type"),
            Seq(0.5, 0.95, 0.99), g)
          .orderBy("event_type", "q")
      }),

    // Bitmap-word EXACT distinct (the roaring-bitmap primitive,
    // flattened relational): per group, OR together one 64-bit word per
    // id-block — `(type, id div 63) -> bit_or(1 << id mod 63)` (63-bit words: bit 63 would overflow DuckDB's CHECKED left shift) — and
    // popcount the words. Unlike HLL (q125) this is EXACT, and unlike
    // count(DISTINCT) the per-(group, word) state MERGES by bitwise OR:
    // shards/days combine without re-reading ids (the q276/q288
    // refresh pattern for distinct counts over a bounded id domain).
    // State is domain/63 words per group, independent of row count;
    // ids must be non-negative (doc contract).
    Q("q298_bitmap_distinct", Q.sql("""
        WITH w AS (
          SELECT event_type, CAST(user_id // 63 AS BIGINT) AS word,
            bit_or(CAST(1 AS BIGINT) << CAST(user_id % 63 AS INT)) AS bits
          FROM events GROUP BY 1, 2),
        d AS (
          SELECT event_type, CAST(count(*) AS BIGINT) AS n_words,
            CAST(sum(bit_count(bits)) AS BIGINT) AS bitmap_distinct
          FROM w GROUP BY 1),
        ex AS (
          SELECT event_type, count(DISTINCT user_id) AS exact_distinct
          FROM events GROUP BY 1)
        SELECT d.event_type, n_words, bitmap_distinct, ex.exact_distinct
        FROM d JOIN ex ON ex.event_type = d.event_type
        ORDER BY 1"""))(
      (s, dir) => {
        val e = T(s, dir, "events").select(col("event_type"), col("user_id"))
        val w = e
          .groupBy(col("event_type"),
            expr("CAST(user_id DIV 63 AS BIGINT)").as("word"))
          .agg(expr(
            "bit_or(shiftleft(CAST(1 AS BIGINT), CAST(user_id % 63 AS INT)))")
            .as("bits"))
        val d = w.groupBy("event_type")
          .agg(count(lit(1)).as("n_words"),
            sum(expr("bit_count(bits)")).as("bitmap_distinct"))
        val ex = e.groupBy("event_type")
          .agg(countDistinct(col("user_id")).as("exact_distinct"))
        d.join(ex, "event_type")
          .select(col("event_type"), col("n_words"), col("bitmap_distinct"),
            col("exact_distinct"))
          .orderBy("event_type")
      }),

    // HLL precision sizing sweep — the third sizing study (q285 sizes a
    // bloom filter, q286 a watermark, this one an HLL): the per-type
    // distinct-user estimate at p ∈ {4, 6, 8} (16/64/256 registers) with
    // its relative error, from ONE shared md5 pass — the measurement
    // that picks a register budget before trusting sketch counts across
    // a 100 TB fleet. Every estimator is the q125 dyadic-exact shape,
    // replayed per precision by the oracle.
    Q("q305_hll_precision_sweep", {
      val hx = PortableSql.hexToLong("md5(CAST(user_id AS VARCHAR))", 12)
      def regs(p: Int): String = {
        val mi = 1 << p
        val maxRho = 48 - p + 1
        val w = s"CAST(floor(h / $mi) AS BIGINT)"
        s"""r$p AS (
          SELECT event_type, h % $mi AS bucket,
            max(CASE WHEN $w = 0 THEN $maxRho
                 ELSE CAST(bit_count(($w & (-($w))) - 1) AS BIGINT) + 1 END)
              AS max_rho
          FROM h GROUP BY 1, 2)"""
      }
      Q.sql(s"""
        WITH h AS (SELECT event_type, $hx AS h FROM events),
        ${regs(4)}, ${regs(6)}, ${regs(8)},
        ${Hll.oracleEstimatorCtes("e4", "r4", "event_type", 4)},
        ${Hll.oracleEstimatorCtes("e6", "r6", "event_type", 6)},
        ${Hll.oracleEstimatorCtes("e8", "r8", "event_type", 8)},
        ex AS (
          SELECT event_type, count(DISTINCT user_id) AS exact_n
          FROM events GROUP BY 1),
        un AS (
          SELECT 4 AS p, 16 AS m, event_type, est FROM e4
          UNION ALL SELECT 6, 64, event_type, est FROM e6
          UNION ALL SELECT 8, 256, event_type, est FROM e8)
        SELECT un.p, un.m, un.event_type AS event_type, ex.exact_n,
          round(est, 6) AS hll_est,
          round(abs(est - exact_n) / exact_n, 6) AS rel_err
        FROM un JOIN ex ON ex.event_type = un.event_type
        ORDER BY p, un.event_type""")
    })(
      (s, dir) => {
        val e = T(s, dir, "events")
        val exact = e.groupBy("event_type")
          .agg(countDistinct(col("user_id")).as("exact_n"))
        val sweep = Seq(4, 6, 8).map { p =>
          Hll.estimateBy(
              Hll.registersBy(e, col("user_id"), Seq("event_type"), p),
              Seq("event_type"), p)
            .select(lit(p).as("p"), lit(1 << p).as("m"),
              col("event_type"), col("hll_est"))
        }.reduce(_ unionByName _)
        sweep.join(exact, "event_type")
          .select(col("p"), col("m"), col("event_type"), col("exact_n"),
            round(col("hll_est"), 6).as("hll_est"),
            round(abs(col("hll_est") - col("exact_n")) / col("exact_n"), 6)
              .as("rel_err"))
          .orderBy("p", "event_type")
      })
  )
}
