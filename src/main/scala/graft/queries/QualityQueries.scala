package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables.{load => T}
import graft.functions.{Hashing, PortableSql}
import graft.ops.{Expectations, RangeJoin}
import graft.ops.Relational.dsum
import graft.similarity.Similarity

/** Round-5 batch 3: data-quality expectations, interval-overlap joins,
  * range-frame windows, corpus entropy, PII redaction, histograms,
  * semantic dedup, and basket co-occurrence — each oracle-checked
  * bit-for-bit against DuckDB.
  */
object QualityQueries {

  /** Tokenized-documents CTE keyed by source (the q111 oracle's input) —
    * the exact derivation of `TextAnalysis.normalizeText` + `tokens`.
    */
  private val sourceWordsCte = """
    WITH w AS (
      SELECT source,
        string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ') AS ws
      FROM documents)"""

  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val LongNumRe = "[0-9]{6,}"
  private val SemDim = 64
  private val SemBits = 8
  private val SemThreshold = 0.25
  private val HistWidth = 30000
  private val HistMaxBucket = 19

  def all: Seq[Q] = Seq(

    // Shapley-value channel attribution (Shapley '53; the cooperative-
    // game fix for q117's first/last-touch bias): channels view/click/
    // signup, conversion = the user has a purchase event, characteristic
    // function v(T) = empirical conversion rate of users whose touched-
    // channel set is exactly T (unseen subsets contribute 0). With 3
    // players the exact Shapley value is a CLOSED FORM over the 8
    // subset rates — φ_i = Σ_{T∌i} |T|!(2−|T|)!/3! · (v(T∪i) − v(T)),
    // weights 1/3, 1/6, 1/6, 1/3 — so the whole computation is one
    // per-user flag aggregation, one 8-row subset-rate aggregation
    // pivoted to a scalar broadcast, and three fixed IEEE expressions.
    // At 100 TB: two hash aggs over events, nothing else.
    Q("q315_shapley_attribution", Q.sql("""
        WITH u AS (
          SELECT user_id,
            max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS hv,
            max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS hc,
            max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS hs,
            max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
          FROM events GROUP BY 1),
        r AS (
          SELECT hv * 4 + hc * 2 + hs AS sid,
            CAST(sum(conv) AS DOUBLE) / count(*) AS rate
          FROM u GROUP BY 1),
        p AS (
          SELECT
            coalesce(max(CASE WHEN sid = 0 THEN rate END), CAST(0 AS DOUBLE)) AS r0,
            coalesce(max(CASE WHEN sid = 1 THEN rate END), CAST(0 AS DOUBLE)) AS r1,
            coalesce(max(CASE WHEN sid = 2 THEN rate END), CAST(0 AS DOUBLE)) AS r2,
            coalesce(max(CASE WHEN sid = 3 THEN rate END), CAST(0 AS DOUBLE)) AS r3,
            coalesce(max(CASE WHEN sid = 4 THEN rate END), CAST(0 AS DOUBLE)) AS r4,
            coalesce(max(CASE WHEN sid = 5 THEN rate END), CAST(0 AS DOUBLE)) AS r5,
            coalesce(max(CASE WHEN sid = 6 THEN rate END), CAST(0 AS DOUBLE)) AS r6,
            coalesce(max(CASE WHEN sid = 7 THEN rate END), CAST(0 AS DOUBLE)) AS r7
          FROM r),
        nt AS (
          SELECT
            CAST(sum(hv) AS BIGINT) AS nv,
            CAST(sum(hc) AS BIGINT) AS nc,
            CAST(sum(hs) AS BIGINT) AS ns
          FROM u)
        SELECT channel, n_touched, phi FROM (
          SELECT 'view' AS channel, nt.nv AS n_touched,
            round((CAST(1 AS DOUBLE) / 3) * (r4 - r0)
              + (CAST(1 AS DOUBLE) / 6) * (r6 - r2)
              + (CAST(1 AS DOUBLE) / 6) * (r5 - r1)
              + (CAST(1 AS DOUBLE) / 3) * (r7 - r3), 6) AS phi
          FROM p, nt
          UNION ALL
          SELECT 'click', nt.nc,
            round((CAST(1 AS DOUBLE) / 3) * (r2 - r0)
              + (CAST(1 AS DOUBLE) / 6) * (r6 - r4)
              + (CAST(1 AS DOUBLE) / 6) * (r3 - r1)
              + (CAST(1 AS DOUBLE) / 3) * (r7 - r5), 6)
          FROM p, nt
          UNION ALL
          SELECT 'signup', nt.ns,
            round((CAST(1 AS DOUBLE) / 3) * (r1 - r0)
              + (CAST(1 AS DOUBLE) / 6) * (r5 - r4)
              + (CAST(1 AS DOUBLE) / 6) * (r3 - r2)
              + (CAST(1 AS DOUBLE) / 3) * (r7 - r6), 6)
          FROM p, nt) t
        ORDER BY channel"""))(
      (s, dir) => {
        val u = T(s, dir, "events").groupBy("user_id").agg(
          max(when(col("event_type") === "view", 1).otherwise(0)).as("hv"),
          max(when(col("event_type") === "click", 1).otherwise(0)).as("hc"),
          max(when(col("event_type") === "signup", 1).otherwise(0)).as("hs"),
          max(when(col("event_type") === "purchase", 1).otherwise(0))
            .as("conv"))
        val r = u.groupBy((col("hv") * 4 + col("hc") * 2 + col("hs")).as("sid"))
          .agg((sum(col("conv")).cast("double") / count(lit(1))).as("rate"))
        val rCols = (0 to 7).map(i => coalesce(
          max(when(col("sid") === i, col("rate"))), lit(0.0)).as(s"r$i"))
        val p = r.agg(rCols.head, rCols.tail: _*)
        val nt = u.agg(sum(col("hv")).as("nv"), sum(col("hc")).as("nc"),
          sum(col("hs")).as("ns"))
        val third = lit(1.0 / 3)
        val sixth = lit(1.0 / 6)
        def phi(a: String, b: String, c: String, d: String,
                e: String, f: String, g: String, h: String) =
          round(third * (col(a) - col(b)) + sixth * (col(c) - col(d))
            + sixth * (col(e) - col(f)) + third * (col(g) - col(h)), 6)
        p.crossJoin(broadcast(nt))
          .withColumn("phi_v", phi("r4", "r0", "r6", "r2", "r5", "r1", "r7", "r3"))
          .withColumn("phi_c", phi("r2", "r0", "r6", "r4", "r3", "r1", "r7", "r5"))
          .withColumn("phi_s", phi("r1", "r0", "r5", "r4", "r3", "r2", "r7", "r6"))
          .select(expr("stack(3, " +
            "'view', nv, phi_v, 'click', nc, phi_c, 'signup', ns, phi_s) " +
            "AS (channel, n_touched, phi)"))
          .orderBy("channel")
      }),

    // Flesch-Kincaid readability grade per document, from three integer
    // counts a scan computes for free: words (whitespace tokens),
    // sentences (runs of [.!?] in the RAW text, floored at 1), and a
    // syllable proxy (vowel-group runs — the standard heuristic, exact
    // enough to rank). grade = 0.39·(words/sentences) +
    // 11.8·(syllables/words) − 15.59, one fixed double expression with
    // every operand cast to DOUBLE, so both engines run the identical
    // IEEE ops. A corpus-quality signal (filter grade bands for a
    // target audience) that costs one narrow projection at 100 TB —
    // regex counting, no explode, no shuffle before the final sort.
    Q("q309_readability", Q.sql("""
        WITH c AS (
          SELECT doc_id,
            len(string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' '))
              AS n_words,
            greatest(1, len(regexp_extract_all(text, '[.!?]+'))) AS n_sentences,
            len(regexp_extract_all(lower(text), '[aeiouy]+')) AS n_syllables
          FROM documents)
        SELECT doc_id, n_words, n_sentences, n_syllables,
          round(CAST(0.39 AS DOUBLE) * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
            + CAST(11.8 AS DOUBLE) * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE))
            - CAST(15.59 AS DOUBLE), 6) AS fk_grade
        FROM c ORDER BY doc_id"""))(
      (s, dir) => {
        val c = T(s, dir, "documents").select(col("doc_id"),
          size(graft.text.TextAnalysis.tokens(
            graft.text.TextAnalysis.normalizeText(col("text"))))
            .as("n_words"),
          greatest(lit(1),
            size(expr("regexp_extract_all(text, '[.!?]+', 0)")))
            .as("n_sentences"),
          size(expr("regexp_extract_all(lower(text), '[aeiouy]+', 0)"))
            .as("n_syllables"))
        c.select(col("doc_id"), col("n_words"), col("n_sentences"),
            col("n_syllables"),
            round(lit(0.39) * (col("n_words").cast("double")
                / col("n_sentences").cast("double"))
              + lit(11.8) * (col("n_syllables").cast("double")
                / col("n_words").cast("double"))
              - lit(15.59), 6).as("fk_grade"))
          .orderBy("doc_id")
      }),

    // Interval×interval overlap join: same-customer order-fulfilment
    // windows ([orderdate, orderdate + (key%14 + 1) days]) that overlap
    // in time. Spark has no native interval join (a theta join plans as
    // BNLJ); ops.RangeJoin.intervalOverlap bands BOTH sides so it runs
    // as an equi-join on (custkey, band) with first-band dedup evaluated
    // inside the join — no distinct stage, no n·m. Oracle: the plain
    // theta self-join.
    Q("q108_interval_overlap", Q.sql("""
        WITH iv AS (
          SELECT o_custkey, o_orderkey AS okey,
            epoch_us(o_orderdate) // 86400000000 AS s,
            epoch_us(o_orderdate) // 86400000000 + o_orderkey % 14 + 1 AS e
          FROM orders)
        SELECT a.o_custkey AS custkey, a.okey AS key_a, b.okey AS key_b,
          least(a.e, b.e) - greatest(a.s, b.s) + 1 AS overlap_days
        FROM iv a JOIN iv b
          ON a.o_custkey = b.o_custkey AND a.okey < b.okey
            AND a.s <= b.e AND b.s <= a.e
        ORDER BY custkey, key_a, key_b"""))(
      (s, dir) => {
        val iv = T(s, dir, "orders").select(
          col("o_custkey"),
          col("o_orderkey"),
          expr("unix_timestamp(o_orderdate) div 86400").as("s"))
          .withColumn("e", col("s") + col("o_orderkey") % 14 + 1)
        val a = iv.select(col("o_custkey"), col("o_orderkey").as("key_a"),
          col("s").as("a_s"), col("e").as("a_e"))
        val b = iv.select(col("o_custkey"), col("o_orderkey").as("key_b"),
          col("s").as("b_s"), col("e").as("b_e"))
        RangeJoin.intervalOverlap(a, b, Seq("o_custkey"),
            "a_s", "a_e", "b_s", "b_e", bandWidth = 16)
          .where(col("key_a") < col("key_b"))
          .select(col("o_custkey").as("custkey"), col("key_a"), col("key_b"),
            (least(col("a_e"), col("b_e")) - greatest(col("a_s"), col("b_s")) + 1)
              .as("overlap_days"))
          .orderBy("custkey", "key_a", "key_b")
      }),

    // Declarative data-quality expectation report (the Deequ shape):
    // four row-local checks compiled into ONE aggregation pass over
    // lineitem, key uniqueness riding one pass over orders, and
    // referential integrity as a broadcast anti join — the full batch
    // validation for the cost of two scans and one map-side probe.
    Q("q109_expectations", Q.sql("""
        WITH t AS (
          SELECT '01_lineitem_orderkey_not_null' AS check_name,
            CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS violations
          FROM lineitem
          UNION ALL
          SELECT '02_lineitem_discount_range',
            CAST(sum(CASE WHEN l_discount IS NULL OR l_discount < 0 OR l_discount > 0.1 THEN 1 ELSE 0 END) AS BIGINT)
          FROM lineitem
          UNION ALL
          SELECT '03_lineitem_returnflag_set',
            CAST(sum(CASE WHEN l_returnflag IS NULL OR l_returnflag NOT IN ('A', 'N', 'R') THEN 1 ELSE 0 END) AS BIGINT)
          FROM lineitem
          UNION ALL
          SELECT '04_lineitem_quantity_range',
            CAST(sum(CASE WHEN l_quantity IS NULL OR l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END) AS BIGINT)
          FROM lineitem
          UNION ALL
          SELECT '05_orders_key_unique',
            CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT)
          FROM orders
          UNION ALL
          SELECT '06_lineitem_orders_ri',
            CAST((SELECT count(*) FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)) AS BIGINT))
        SELECT check_name, violations, violations = 0 AS passed
        FROM t ORDER BY check_name"""))(
      (s, dir) => {
        import Expectations._
        val li = T(s, dir, "lineitem")
        val o = T(s, dir, "orders")
        val rowChecks = report(li, Seq(
          notNull("01_lineitem_orderkey_not_null", col("l_orderkey")),
          inRange("02_lineitem_discount_range", col("l_discount"), 0, 0.1),
          inSet("03_lineitem_returnflag_set", col("l_returnflag"), Seq("A", "N", "R")),
          inRange("04_lineitem_quantity_range", col("l_quantity"), 1, 50)))
        val uniq = report(o, Seq(unique("05_orders_key_unique", col("o_orderkey"))))
        // orders keys are FACT-sized: Spark broadcasts them only while
        // they fit the threshold and shuffles on the key beyond it
        val ri = refIntegrity("06_lineitem_orders_ri",
          li, col("l_orderkey"), o, col("o_orderkey"))
        rowChecks.union(uniq).union(ri)
          .withColumnRenamed("check", "check_name")
          .orderBy("check_name")
      }),

    // Time-range windowed aggregation (RANGE frame): per event, the
    // count and exact sum of the same user's events in the trailing
    // hour. The value-based frame Spark's rowsBetween cannot express —
    // rangeBetween on epoch seconds, one shuffle on user_id, frames
    // resolved by value so same-timestamp ties are deterministic on
    // both engines.
    Q("q110_range_window", Q.sql("""
        SELECT event_id, user_id, epoch_us(ts) // 1000000 AS ts_s,
          CAST(count(*) OVER w AS BIGINT) AS n_1h,
          CAST(sum(CAST(value AS DECIMAL(27,8))) OVER w AS DOUBLE) AS sum_1h
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts) // 1000000
          RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW)
        ORDER BY user_id, ts_s, event_id"""))(
      (s, dir) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts_s"))
          .rangeBetween(-3599, Window.currentRow)
        T(s, dir, "events")
          .withColumn("ts_s", col("ts").cast("long"))
          .select(col("event_id"), col("user_id"), col("ts_s"),
            count(lit(1)).over(w).as("n_1h"),
            sum(col("value").cast("decimal(27,8)")).over(w)
              .cast("double").as("sum_1h"))
          .orderBy("user_id", "ts_s", "event_id")
      }),

    // Per-source token-distribution entropy (corpus diversity metric):
    // H = ln(N) - (Σ c·ln c)/N over token counts c. Two hash
    // aggregations, no joins; per-token ln is rounded to 6 decimals then
    // decimal-summed (the UnigramLm determinism pattern), so the result
    // is aggregation-order-free and engine-exact.
    Q("q111_token_entropy", Q.sql(s"""
        $sourceWordsCte,
        tok AS (SELECT source, unnest(ws) AS tok FROM w),
        c AS (SELECT source, tok, count(*) AS c FROM tok GROUP BY 1, 2),
        agg AS (
          SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
            count(*) AS n_distinct,
            CAST(sum(CAST(c * round(ln(CAST(c AS DOUBLE)), 6) AS DECIMAL(27,6))) AS DOUBLE) AS s
          FROM c GROUP BY 1)
        SELECT source, n_tokens, n_distinct,
          round(ln(CAST(n_tokens AS DOUBLE)) - s / n_tokens, 6) AS entropy
        FROM agg ORDER BY source"""))(
      (s, dir) => {
        import graft.text.TextAnalysis
        val c = T(s, dir, "documents")
          .select(col("source"), explode(TextAnalysis.tokens(
            TextAnalysis.normalizeText(col("text")))).as("tok"))
          .groupBy("source", "tok").agg(count(lit(1)).as("c"))
        c.groupBy("source")
          .agg(sum("c").as("n_tokens"), count(lit(1)).as("n_distinct"),
            dsum(col("c") * round(log(col("c").cast("double")), 6), 6).as("s"))
          .select(col("source"), col("n_tokens"), col("n_distinct"),
            round(log(col("n_tokens").cast("double")) - col("s") / col("n_tokens"), 6)
              .as("entropy"))
          .orderBy("source")
      }),

    // PII redaction (anonymization pass): scrub email-shaped and long
    // numeric tokens, report per-document match counts and the hash of
    // the scrubbed text. Pure scalar regex in the scan stage — no
    // shuffle, no UDF; patterns kept to the regex subset Java and RE2
    // match identically (character classes + bounded repetition, no
    // alternation ambiguity).
    Q("q112_pii_redact", Q.sql(s"""
        SELECT doc_id,
          CAST(len(regexp_extract_all(text, '$EmailRe')) AS BIGINT) AS n_emails,
          CAST(len(regexp_extract_all(text, '$LongNumRe')) AS BIGINT) AS n_longnums,
          ${PortableSql.hexToLong(
            s"md5(regexp_replace(regexp_replace(text, '$EmailRe', '<EMAIL>', 'g'), " +
              s"'$LongNumRe', '<NUM>', 'g'))", 12)} AS clean_hash
        FROM documents ORDER BY doc_id"""))(
      (s, dir) =>
        T(s, dir, "documents")
          .select(col("doc_id"),
            regexp_count(col("text"), lit(EmailRe)).cast("long").as("n_emails"),
            regexp_count(col("text"), lit(LongNumRe)).cast("long").as("n_longnums"),
            Hashing.hash48(
              regexp_replace(regexp_replace(col("text"), EmailRe, "<EMAIL>"),
                LongNumRe, "<NUM>")).as("clean_hash"))
          .orderBy("doc_id")),

    // Fixed-width histogram of order totals: bucket = min(floor(v/W), 19)
    // — pure arithmetic binning (no percentile state), one hash
    // aggregation, mergeable across partitions/days. The profiling
    // primitive behind every data-distribution dashboard.
    Q("q113_price_histogram", Q.sql(s"""
        SELECT CAST(least(CAST(floor(o_totalprice / $HistWidth) AS BIGINT), $HistMaxBucket) AS BIGINT) AS bucket,
          count(*) AS n,
          CAST(sum(CAST(o_totalprice AS DECIMAL(27,4))) AS DOUBLE) AS total
        FROM orders
        GROUP BY 1 ORDER BY 1"""))(
      (s, dir) =>
        T(s, dir, "orders")
          .groupBy(least(floor(col("o_totalprice") / HistWidth).cast("long"),
            lit(HistMaxBucket.toLong)).as("bucket"))
          .agg(count(lit(1)).as("n"), dsum(col("o_totalprice"), 4).as("total"))
          .orderBy("bucket")),

    // Semantic dedup (SemDedup): drop every vector with a lower-id
    // near-duplicate (cos >= 0.25) in its hyperplane-LSH bucket; emit
    // (vec_id, bucket, kept) for the whole corpus. The embedding-space
    // twin of q84's text-side cluster dedup — bucket equi-join, hoisted
    // norms, greedy keep-lowest-id; see Similarity.semDedup.
    Q("q114_semdedup", {
      val bucket = Similarity.planes(SemBits, SemDim).zipWithIndex.map {
        case (plane, p) =>
          s"(CASE WHEN ${PortableSql.dotConst("embedding", plane)} >= 0" +
            s" THEN ${1L << p} ELSE 0 END)"
      }.mkString("(", " + ", ")")
      val cos = s"round(${PortableSql.cosine("x.embedding", "y.embedding", SemDim)}, 6)"
      Q.sql(s"""
        WITH b AS (
          SELECT vec_id, embedding, CAST($bucket AS BIGINT) AS bucket
          FROM embeddings),
        drops AS (
          SELECT DISTINCT y.vec_id
          FROM b x JOIN b y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
          WHERE $cos >= $SemThreshold)
        SELECT b.vec_id, b.bucket, d.vec_id IS NULL AS kept
        FROM b LEFT JOIN drops d ON d.vec_id = b.vec_id
        ORDER BY b.vec_id""")
    })(
      (s, dir) =>
        Similarity.semDedup(T(s, dir, "embeddings"),
            dim = SemDim, nBits = SemBits, threshold = SemThreshold)
          .orderBy("vec_id")),

    // Basket co-occurrence with lift (market-basket affinity): top-50
    // part pairs ordered together, with per-part support and lift =
    // P(a,b)/(P(a)P(b)). Pair fan-out is per-basket quadratic but
    // bounded by basket size (<= 13 parts here — cap baskets upstream
    // when unbounded); the pair join is an equi-join on the basket key,
    // supports broadcast back onto the pair counts.
    Q("q115_basket_pairs", Q.sql("""
        WITH i AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        pr AS (
          SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, count(*) AS n_co
          FROM i a JOIN i b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
          GROUP BY 1, 2),
        f AS (SELECT l_partkey, count(*) AS n_orders FROM i GROUP BY 1),
        t AS (SELECT count(DISTINCT l_orderkey) AS n_baskets FROM i)
        SELECT part_a, part_b, n_co, fa.n_orders AS n_a, fb.n_orders AS n_b,
          round(n_co * CAST(t.n_baskets AS DOUBLE) / (fa.n_orders * fb.n_orders), 6) AS lift
        FROM pr JOIN f fa ON fa.l_partkey = pr.part_a
          JOIN f fb ON fb.l_partkey = pr.part_b, t
        ORDER BY n_co DESC, part_a, part_b
        LIMIT 50"""))(
      (s, dir) => {
        import graft.ops.Frames.cached
        val i = cached(T(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_partkey")).distinct())
        val pr = i.select(col("l_orderkey"), col("l_partkey").as("part_a"))
          .join(i.select(col("l_orderkey"), col("l_partkey").as("part_b")),
            Seq("l_orderkey"))
          .where(col("part_a") < col("part_b"))
          .groupBy("part_a", "part_b").agg(count(lit(1)).as("n_co"))
        val f = i.groupBy("l_partkey").agg(count(lit(1)).as("n_orders"))
        val t = i.agg(countDistinct(col("l_orderkey")).as("n_baskets"))
        // top-50 FIRST: the sort key (n_co desc, part_a, part_b) is total
        // and reads only pr's columns, so cutting before the frequency
        // joins is result-identical — and turns two pair-set-sized join
        // probes (every co-occurrence pair vs the part-keyed counts,
        // twice) into 50-row broadcast builds against f
        val top = broadcast(pr
          .orderBy(col("n_co").desc, col("part_a"), col("part_b"))
          .limit(50))
        // per-part counts are part-keyed (data-sized at scale): the
        // 50-row side is the broadcast build, f streams map-side
        top.join(f.select(col("l_partkey").as("part_a"),
            col("n_orders").as("n_a")), "part_a")
          .join(f.select(col("l_partkey").as("part_b"),
            col("n_orders").as("n_b")), "part_b")
          .crossJoin(broadcast(t))
          .select(col("part_a"), col("part_b"), col("n_co"),
            col("n_a"), col("n_b"),
            round(col("n_co") * col("n_baskets").cast("double") /
              (col("n_a") * col("n_b")), 6).as("lift"))
          .orderBy(col("n_co").desc, col("part_a"), col("part_b"))
          .limit(50)
      }),

    // Degree distribution of the part<->supplier co-occurrence graph
    // (the structural health check run before any graph algorithm —
    // q101's PageRank companion): per side, how many nodes have each
    // degree. Two hash aggregations over the distinct edge set.
    Q("q116_degree_hist", Q.sql("""
        WITH pairs AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
        deg AS (
          SELECT 'part' AS side, l_partkey AS node, count(*) AS degree
          FROM pairs GROUP BY 2
          UNION ALL
          SELECT 'supplier', l_suppkey, count(*) FROM pairs GROUP BY 2)
        SELECT side, CAST(degree AS BIGINT) AS degree, count(*) AS n_nodes
        FROM deg GROUP BY 1, 2
        ORDER BY side, degree"""))(
      (s, dir) => {
        import graft.ops.Frames.cached
        val pairs = cached(T(s, dir, "lineitem")
          .select(col("l_partkey"), col("l_suppkey")).distinct())
        val deg = pairs.groupBy(col("l_partkey").as("node"))
          .agg(count(lit(1)).as("degree"))
          .select(lit("part").as("side"), col("degree"))
          .union(pairs.groupBy(col("l_suppkey").as("node"))
            .agg(count(lit(1)).as("degree"))
            .select(lit("supplier").as("side"), col("degree")))
        deg.groupBy("side", "degree").agg(count(lit(1)).as("n_nodes"))
          .orderBy("side", "degree")
      }),

    // Last-touch attribution: each purchase event attributed to the same
    // user's most recent click at-or-before it (ops.AsOfJoin — one
    // shuffle union + running window, never a per-purchase scan-back).
    // Clicks are pre-deduplicated per (user, ts) so the as-of choice is
    // well-defined on both engines. Oracle: DuckDB native ASOF LEFT JOIN.
    Q("q117_attribution", Q.sql("""
        WITH p AS (
          SELECT user_id, event_id AS purchase_id, epoch_us(ts) AS p_us
          FROM events WHERE event_type = 'purchase'),
        c AS (
          SELECT user_id, epoch_us(ts) AS c_us, max(event_id) AS click_id
          FROM events WHERE event_type = 'click' GROUP BY 1, 2)
        SELECT p.user_id, p.purchase_id, p.p_us, c.click_id,
          p.p_us - c.c_us AS gap_us
        FROM p ASOF LEFT JOIN c
          ON p.user_id = c.user_id AND c.c_us <= p.p_us
        ORDER BY p.user_id, p.purchase_id"""))(
      (s, dir) => {
        val e = T(s, dir, "events")
        val p = e.where(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id").as("purchase_id"),
            unix_micros(col("ts")).as("p_us"))
        val c = e.where(col("event_type") === "click")
          .groupBy(col("user_id"), unix_micros(col("ts")).as("c_us"))
          .agg(max(col("event_id")).as("click_id"))
        graft.ops.AsOfJoin.asOf(p, c, Seq("user_id"), "p_us", "c_us",
            payload = Seq("click_id", "c_us"))
          .select(col("user_id"), col("purchase_id"), col("p_us"),
            col("click_id"), (col("p_us") - col("c_us")).as("gap_us"))
          .orderBy("user_id", "purchase_id")
      }),

    // Rolling 7-day distinct active users (the WAU curve): each active
    // (user, day) covers the 7 window-end days it contributes to, so the
    // rolling distinct count becomes explode(7) -> distinct -> ONE hash
    // aggregation — no per-day window subqueries, no count(DISTINCT)
    // window frames (which Spark cannot express and which would rescan
    // the window per day anyway). Explode factor = window length.
    Q("q118_rolling_active", Q.sql("""
        WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        cov AS (
          SELECT DISTINCT user_id,
            CAST(unnest(generate_series(CAST(day AS TIMESTAMP),
              CAST(day AS TIMESTAMP) + INTERVAL 6 DAY, INTERVAL 1 DAY)) AS DATE) AS day
          FROM ud),
        mx AS (SELECT max(day) AS mx FROM ud)
        SELECT day, count(*) AS n_active_7d
        FROM cov, mx WHERE day <= mx
        GROUP BY 1 ORDER BY 1"""))(
      (s, dir) => {
        import graft.ops.Frames.cached
        val ud = cached(T(s, dir, "events")
          .select(col("user_id"), to_date(col("ts")).as("day")).distinct())
        val cov = ud.select(col("user_id"),
            explode(sequence(col("day"), date_add(col("day"), 6),
              expr("interval 1 day"))).as("day"))
          .distinct()
        val mx = ud.agg(max(col("day")).as("mx"))
        cov.crossJoin(broadcast(mx)).where(col("day") <= col("mx"))
          .groupBy("day").agg(count(lit(1)).as("n_active_7d"))
          .orderBy("day")
      }),

    // Median-absolute-deviation outliers (the robust z-score, immune to
    // the outliers it hunts): per event type, exact median and MAD via
    // ops.Percentiles (rank interpolation written identically in both
    // engines), then a broadcast re-join and pure-scalar score. Two
    // percentile passes + one map-side join — no sort of the fact table
    // beyond the per-group percentile sorts themselves.
    Q("q119_mad_outliers", Q.sql(s"""
        WITH ${graft.ops.Percentiles.oracleCtes("med", "events",
          Seq("event_type"), "value", Seq("med" -> 0.5))},
        dev AS (
          SELECT e.event_id, e.event_type, e.value, med.med,
            abs(e.value - med.med) AS d
          FROM events e JOIN med USING (event_type)),
        ${graft.ops.Percentiles.oracleCtes("mad", "dev",
          Seq("event_type"), "d", Seq("mad" -> 0.5))}
        SELECT dev.event_id, dev.event_type, dev.value,
          round(dev.d / mad.mad, 6) AS score
        FROM dev JOIN mad USING (event_type)
        WHERE round(dev.d / mad.mad, 6) > 3
        ORDER BY event_id"""))(
      (s, dir) => {
        import graft.ops.Percentiles
        val e = T(s, dir, "events")
        val med = Percentiles.exact(e, Seq("event_type"), col("value"),
          Seq("med" -> 0.5))
        val dev = e.join(broadcast(med), "event_type")
          .select(col("event_id"), col("event_type"), col("value"),
            abs(col("value") - col("med")).as("d"))
        val mad = Percentiles.exact(dev, Seq("event_type"), col("d"),
          Seq("mad" -> 0.5))
        dev.join(broadcast(mad), "event_type")
          .withColumn("score", round(col("d") / col("mad"), 6))
          .where(col("score") > 3)
          .select(col("event_id"), col("event_type"), col("value"), col("score"))
          .orderBy("event_id")
      }),

    // Multimodal frame sampling: every 64th byte offset of the payload
    // (<= 8 frames), one content hash per sampled frame window — the
    // partition/batch dataflow of a real video frame sampler with the
    // codec stubbed to a byte-window hash (see multimodal.Multimodal:
    // no media libraries in this environment; the explode/hash plumbing
    // is the real, tested part). Zero shuffles: generator + scalar hash
    // in the scan stage.
    Q("q120_frame_sample", Q.sql(s"""
        WITH f AS (
          SELECT doc_id,
            unnest(list_slice(generate_series(0, greatest(strlen(text) - 1, 0), 64), 1, 8)) AS frame_off,
            text
          FROM documents)
        SELECT doc_id, CAST(frame_off // 64 AS BIGINT) AS frame_idx,
          CAST(frame_off AS BIGINT) AS frame_off,
          ${PortableSql.hexToLong("md5(substr(text, CAST(frame_off AS INT) + 1, 64))", 12)} AS frame_hash
        FROM f ORDER BY doc_id, frame_idx"""))(
      (s, dir) =>
        T(s, dir, "documents")
          .select(col("doc_id"), col("text"),
            explode(graft.multimodal.Multimodal.frameOffsets(
              octet_length(col("text")), stride = 64, maxFrames = 8))
              .as("frame_off"))
          .select(col("doc_id"),
            (col("frame_off").cast("long") / 64).cast("long").as("frame_idx"),
            col("frame_off").cast("long").as("frame_off"),
            Hashing.hash48(col("text").substr(col("frame_off") + 1, lit(64)))
              .as("frame_hash"))
          .orderBy("doc_id", "frame_idx")),

    // Weighted sampling without replacement (Efraimidis–Spirakis A-Res):
    // key = ln(u)/w with u md5-derived per row, take the global top-20 —
    // longer documents proportionally likelier, no sequential reservoir,
    // no driver state: the sample IS a top-k, so it distributes as
    // TakeOrderedAndProject (per-partition heaps + driver merge of k).
    Q("q123_weighted_sample", Q.sql(s"""
        WITH k AS (
          SELECT doc_id, n_chars,
            ln((${PortableSql.hexToLong("md5(CAST(doc_id AS VARCHAR))", 12)} + 1)
              / CAST(${PortableSql.doubleLit(math.pow(2, 48))} AS DOUBLE)) / n_chars AS key
          FROM documents WHERE n_chars > 0)
        SELECT doc_id, n_chars, round(key, 6) AS sample_key
        FROM k ORDER BY key DESC, doc_id
        LIMIT 20"""))(
      (s, dir) =>
        T(s, dir, "documents")
          .where(col("n_chars") > 0)
          .select(col("doc_id"), col("n_chars"),
            (log((Hashing.hash48(col("doc_id").cast("string")) + 1)
                .cast("double") / lit(math.pow(2, 48))) / col("n_chars"))
              .as("key"))
          .orderBy(col("key").desc, col("doc_id"))
          .limit(20)
          .select(col("doc_id"), col("n_chars"),
            round(col("key"), 6).as("sample_key")))
  )
}
