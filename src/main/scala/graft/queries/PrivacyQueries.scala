package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.{load => T}
import graft.functions.{Md5Long, PortableSql}

/** Round-5 batch 22: privacy + featurization — k-anonymity audit of
  * quasi-identifier classes, seeded differentially-private counts
  * (deterministic Laplace via hash-uniform inverse CDF), and the
  * feature-hashing trick — each oracle-checked bit-for-bit vs DuckDB.
  */
object PrivacyQueries {

  private val HashDim = 512
  private val AnonK = 10

  /** Distinct-l threshold for the q296 l-diversity audit. */
  private val DiversityL = 3
  /** Laplace scale b = sensitivity/ε = 1/0.5. */
  private val LaplaceB = 2.0

  def all: Seq[Q] = Seq(

    // Feature hashing (the hashing trick): categorical features become
    // indices in a fixed 512-dim space via md5, with a hash-derived sign
    // so collisions cancel in expectation instead of biasing up — the
    // unbounded-vocabulary featurizer that needs no dictionary build and
    // therefore no extra pass at 100 TB. Output is the dense signed
    // bucket histogram (dimension-bounded).
    Q("q227_feature_hashing", Q.sql(s"""
        WITH feats AS (
          SELECT f FROM (
            SELECT unnest([
              'st=' || o_orderstatus,
              'pr=' || o_orderpriority,
              'm=' || CAST(month(CAST(o_orderdate AS DATE)) AS VARCHAR)]) AS f
            FROM orders) t),
        hashed AS (
          SELECT f, ${PortableSql.hexToLong("md5(f)", 12)} AS h FROM feats)
        SELECT CAST(h % $HashDim AS INT) AS bucket,
          CAST(sum(CASE WHEN (h // $HashDim) % 2 = 0 THEN 1 ELSE -1 END) AS BIGINT)
            AS signed_sum,
          CAST(count(*) AS BIGINT) AS n_feats
        FROM hashed GROUP BY 1 ORDER BY 1"""))(
      (s, dir) => {
        val feats = T(s, dir, "orders")
          .select(explode(array(
            concat(lit("st="), col("o_orderstatus")),
            concat(lit("pr="), col("o_orderpriority")),
            concat(lit("m="), month(to_date(col("o_orderdate"))).cast("string"))))
            .as("f"))
        feats
          .withColumn("h", Md5Long.md5PrefixLong(col("f"), 0, 6))
          .groupBy((col("h") % HashDim).cast("int").as("bucket"))
          .agg(sum(when((col("h") / HashDim).cast("bigint") % 2 === 0, 1)
            .otherwise(-1)).as("signed_sum"),
            count(lit(1)).as("n_feats"))
          .orderBy("bucket")
      }),

    // k-anonymity audit: equivalence-class sizes over the quasi-identifier
    // (segment, region, balance-sign); classes under k are re-identifiable
    // and flagged for suppression/generalization. One hash agg over the
    // joined dims — class space is QI-cardinality-bounded, so the audit
    // frame never scales with the data.
    Q("q228_k_anonymity", Q.sql(s"""
        SELECT c_mktsegment, r_name,
          CAST(c_acctbal > 0.0 AS INT) AS bal_pos,
          CAST(count(*) AS BIGINT) AS class_size,
          CAST(count(*) < $AnonK AS INT) AS violates_k
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"""))(
      (s, dir) =>
        T(s, dir, "customer")
          .join(broadcast(T(s, dir, "nation")),
            col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(T(s, dir, "region")),
            col("n_regionkey") === col("r_regionkey"))
          .groupBy(col("c_mktsegment"), col("r_name"),
            (col("c_acctbal") > 0.0).cast("int").as("bal_pos"))
          .agg(count(lit(1)).as("class_size"),
            (count(lit(1)) < AnonK).cast("int").as("violates_k"))
          .orderBy("c_mktsegment", "r_name", "bal_pos")),

    // Differentially-private counts with SEEDED Laplace noise: uniform u
    // from the md5 of the release key (reproducible audits, engine-
    // portable), noise b·sign·ln via the inverse CDF, rounded before the
    // add so both engines agree. The exact counts are one hash agg; the
    // noise is per-released-cell (category-bounded) — DP release cost is
    // O(cells), not O(rows).
    Q("q229_dp_counts", Q.sql(s"""
        WITH exact AS (
          SELECT c_mktsegment, count(*) AS n
          FROM orders JOIN customer ON o_custkey = c_custkey
          GROUP BY 1),
        seeded AS (
          SELECT c_mktsegment, n,
            CAST(${PortableSql.hexToLong("md5(c_mktsegment || '|dp-v1')", 12)}
              AS DOUBLE) / ${PortableSql.pow2(48)} AS u
          FROM exact),
        noised AS (
          SELECT c_mktsegment, n,
            round(-$LaplaceB * CASE WHEN u < 0.5 THEN -1.0 ELSE 1.0 END
              * ln(1.0 - 2.0 * abs(u - 0.5)), 9) AS noise
          FROM seeded)
        SELECT c_mktsegment,
          round(CAST(n AS DOUBLE) + noise, 6) AS noisy_count,
          $LaplaceB AS laplace_b
        FROM noised ORDER BY 1"""))(
      (s, dir) => {
        val exact = T(s, dir, "orders")
          .join(T(s, dir, "customer"),
            col("o_custkey") === col("c_custkey"))
          .groupBy("c_mktsegment").agg(count(lit(1)).as("n"))
        exact
          .withColumn("u",
            Md5Long.md5PrefixLong(concat(col("c_mktsegment"), lit("|dp-v1")), 0, 6)
              .cast("double") / math.pow(2, 48))
          .withColumn("noise",
            round(-lit(LaplaceB) *
              when(col("u") < 0.5, -1.0).otherwise(1.0) *
              log(lit(1.0) - lit(2.0) * abs(col("u") - 0.5)), 9))
          .select(col("c_mktsegment"),
            round(col("n").cast("double") + col("noise"), 6).as("noisy_count"),
            lit(LaplaceB).as("laplace_b"))
          .orderBy("c_mktsegment")
      }),

    // l-diversity audit (Machanavajjhala et al., ICDE'06 — the k-anonymity
    // companion q228 leaves open): a k-anonymous class is still
    // attribute-disclosing if everyone in it shares the sensitive value.
    // Per QI class (segment, region): class size, DISTINCT sensitive
    // values (nation), the modal value's share, and the violates-l flag
    // (distinct-l with l=3). Same one-hash-agg scale shape as q228 —
    // the audit frame is QI-bounded, never row-scaled.
    Q("q296_l_diversity", Q.sql(s"""
        WITH j AS (
          SELECT c_mktsegment, r_name, n_name
          FROM customer
          JOIN nation ON c_nationkey = n_nationkey
          JOIN region ON n_regionkey = r_regionkey),
        cls AS (
          SELECT c_mktsegment, r_name, n_name, count(*) AS n_v
          FROM j GROUP BY 1, 2, 3),
        agg AS (
          SELECT c_mktsegment, r_name,
            CAST(sum(n_v) AS BIGINT) AS class_size,
            CAST(count(*) AS BIGINT) AS l_distinct,
            CAST(max(n_v) AS BIGINT) AS modal_n
          FROM cls GROUP BY 1, 2)
        SELECT c_mktsegment, r_name, class_size, l_distinct,
          round(modal_n * 1.0 / class_size, 6) AS modal_share,
          CAST(l_distinct < $DiversityL AS INT) AS violates_l
        FROM agg ORDER BY 1, 2"""))(
      (s, dir) => {
        val j = T(s, dir, "customer")
          .join(broadcast(T(s, dir, "nation")),
            col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(T(s, dir, "region")),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("c_mktsegment"), col("r_name"), col("n_name"))
        val cls = j.groupBy("c_mktsegment", "r_name", "n_name")
          .agg(count(lit(1)).as("n_v"))
        cls.groupBy("c_mktsegment", "r_name")
          .agg(sum(col("n_v")).as("class_size"),
            count(lit(1)).as("l_distinct"),
            max(col("n_v")).as("modal_n"))
          .select(col("c_mktsegment"), col("r_name"), col("class_size"),
            col("l_distinct"),
            round(col("modal_n") * 1.0 / col("class_size"), 6)
              .as("modal_share"),
            (col("l_distinct") < DiversityL).cast("int").as("violates_l"))
          .orderBy("c_mktsegment", "r_name")
      })
  )
}
