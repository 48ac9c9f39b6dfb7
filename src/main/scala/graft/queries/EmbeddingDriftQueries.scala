package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.{load => T}
import graft.functions.{ArrayMath, PortableSql}

/** Rounds 15–16 widening: LINEAR-TIME multivariate two-sample drift
  * tests over the embedding space — MMD with random Fourier features
  * (Rahimi & Recht NIPS'07; Gretton et al. JMLR'12 for the MMD itself),
  * and sliced Wasserstein-1 (Rabin et al. SSVM'11; Bonneel et al.
  * JMIV'15) as its shape-sensitive companion. PSI (q479) and Epps-Singleton (q485) watch univariate
  * distributions; a real training pipeline ALSO monitors its embedding
  * space, where the classic quadratic-kernel MMD (O(n²) pair frames) is
  * exactly what a 100 TB engine must avoid. The RFF approximation drops
  * the pair frame entirely: for the RBF kernel k(x,y)=exp(−‖x−y‖²/2σ²),
  * z_f(x) = √(2/D)·cos(w_fᵀx + b_f) with w ~ N(0, σ⁻²I), b ~ U[0,2π)
  * gives E[z(x)ᵀz(y)] = k(x,y), so
  * MMD²(X,Y) ≈ ‖mean_X z − mean_Y z‖² — one scan, one hash-agg of D
  * feature sums per group, a constant-size ladder. O(n·D·dim) compute,
  * no shuffle beyond the group-by.
  *
  * Engine portability — the q485 pattern throughout: the w/b constants
  * are deterministic (md5-seeded Box-Muller, generated driver-side and
  * embedded as round-trip double literals in BOTH engines' expressions);
  * the per-row feature cos is rounded@9 through [[PortableSql.round]]'s
  * shared floor ladder and summed in exact DECIMAL(38,9) (the only
  * order-dependent reduction); every downstream scalar stage is ONE
  * generated string evaluated verbatim by both engines. The Spark-side
  * dot rides [[ArrayMath.dotConst]]'s codegen loop — bit-identical to
  * the oracle's left-associative [[PortableSql.dotConst]] chain.
  */
object EmbeddingDriftQueries {

  private val Dim = 64

  /** Feature count D. The MMD estimate's RFF error is O(1/√D) — 8 is a
    * probe-grade panel (a production monitor raises D, cost is linear).
    */
  private val D = 8

  /** Fixed RBF bandwidth σ² = dim: the median-heuristic alternative
    * needs a pair sample, and a DRIFT MONITOR wants a constant kernel
    * anyway — a bandwidth that re-fits per window would absorb the very
    * shift it is meant to flag.
    */
  private val Sigma = 8.0

  /** Deterministic uniform in (0,1): first 8 md5 hex chars, bias +0.5 so
    * 0 is unreachable (Box-Muller takes log(u)).
    */
  private def u01(s: String): Double = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString.take(8)
    (java.lang.Long.parseLong(hex, 16).toDouble + 0.5) / math.pow(16, 8)
  }

  /** w_f ~ N(0, σ⁻²I) via Box-Muller on the md5 stream. */
  private def w(f: Int): Array[Double] = Array.tabulate(Dim) { i =>
    val u1 = u01(s"rffw|$f|$i|1")
    val u2 = u01(s"rffw|$f|$i|2")
    math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.Pi * u2) / Sigma
  }

  /** b_f ~ U[0, 2π). */
  private def b(f: Int): Double = 2.0 * math.Pi * u01(s"rffb|$f")

  /** Unit direction u_f = w_f / ‖w_f‖ — the SAME deterministic Gaussian
    * draws as the MMD's features, normalized onto the sphere (a
    * normalized iid Gaussian vector is uniform on S^{dim−1}, the sliced
    * Wasserstein projection law). Driver-side constants, embedded as
    * round-trip literals in both engines.
    */
  private def u(f: Int): Array[Double] = {
    val raw = w(f)
    val nrm = math.sqrt(raw.foldLeft(0.0)((a, x) => a + x * x))
    raw.map(_ / nrm)
  }

  /** Histogram bins for the projections: embeddings are unit-norm and
    * directions are unit vectors, so |u·x| ≤ 1 (Cauchy–Schwarz); the
    * [−2, 2) domain leaves 2× headroom and out-of-domain values clamp
    * into the edge bins on BOTH engines. 256 bins of width 1/64 — the
    * quantization floor of the W1 estimate (error ≤ width/2 per mass
    * unit), and every bin-edge computation below is exact power-of-two
    * double arithmetic, identical across engines with no rounding
    * ladder needed.
    */
  private val Bins = 256

  /** Shared bin expression: floor((z + 2)·64) clamped to [0, 255].
    * All-exact IEEE ops over the bit-identical dot, so the two engines
    * can never disagree on a bin.
    */
  private def binCol(zExprStr: String): String =
    s"least(greatest(CAST(floor((($zExprStr) + CAST(2 AS DOUBLE)) * " +
      s"CAST(64 AS DOUBLE)) AS BIGINT), CAST(0 AS BIGINT)), " +
      s"CAST(${Bins - 1} AS BIGINT))"

  /** Shared cos-feature ladder over a dot expression: both engines see
    * the identical string except for the dot operand (named codegen
    * column on Spark, inline literal chain in the oracle — bit-identical
    * by ArrayMath's accumulation-order contract).
    */
  private def zExpr(dotExpr: String, f: Int): String =
    PortableSql.round(
      s"cos(($dotExpr) + (${PortableSql.doubleLit(b(f))}))", 9) + s" AS z$f"

  /** Exact decimal feature sums (order-independent), emitted as DOUBLE
    * (exact while |sum|·10⁹ < 2⁵³ — 9e6 rows of |z|≤1 per group, far
    * beyond any fixture; at cluster scale raise the decimal precision).
    */
  private def sAgg(f: Int): String =
    s"CAST(sum(CAST(z$f AS DECIMAL(38,9))) AS DOUBLE) AS s$f"

  private def tAgg(f: Int): String =
    s"CAST(sum(CAST(s$f AS DECIMAL(38,9))) AS DOUBLE) AS t$f"

  /** One-vs-rest final ladder: per label, d_f = mean_in z_f − mean_out
    * z_f, MMD² = (2/D)·Σ d², plus the n-scaled form (n_in·n_out/n)·MMD²
    * whose null distribution is O(1). Guarded on a non-empty complement
    * so a single-label fixture yields NULL on both engines instead of a
    * Spark-NULL/DuckDB-error divergence.
    */
  private val finCols: Seq[String] = {
    def d(f: Int) =
      s"((s$f / CAST(n AS DOUBLE)) - ((t$f - s$f) / CAST(nt - n AS DOUBLE)))"
    val ss = (1 to D).map(f => s"(${d(f)} * ${d(f)})")
      .reduce((a, c) => s"($a + $c)")
    val mmd2 = s"((CAST(2 AS DOUBLE) / CAST($D AS DOUBLE)) * $ss)"
    val scaled = s"(((CAST(n AS DOUBLE) * CAST(nt - n AS DOUBLE))" +
      s" / CAST(nt AS DOUBLE)) * $mmd2)"
    Seq("label", "n AS n_in", "(nt - n) AS n_out",
      PortableSql.round(s"(CASE WHEN nt > n THEN $mmd2 END)", 8)
        + " AS mmd2",
      PortableSql.round(s"(CASE WHEN nt > n THEN $scaled END)", 6)
        + " AS mmd2_n")
  }

  def all: Seq[Q] = Seq(

    // Which label segment's embedding DISTRIBUTION drifted from the rest?
    // One-vs-rest RFF-MMD² per label over embeddings.embedding. Scale
    // shape: one scan computing D dots per row (codegen loop), one
    // hash-agg to (label, n, D sums), a 10-row frame joined to its own
    // 1-row total (broadcast scalar attachment), constant-size ladder —
    // the same shape at 100 TB with the hash-agg going partial/final.
    Q("q487_embedding_drift_mmd", {
      val zCols = (1 to D).map(f =>
        zExpr(PortableSql.dotConst("embedding", w(f)), f))
      Q.sql(s"""
        WITH z AS (
          SELECT label, ${zCols.mkString(", ")}
          FROM embeddings),
        m AS (
          SELECT label, CAST(count(*) AS BIGINT) AS n,
            ${(1 to D).map(sAgg).mkString(", ")}
          FROM z GROUP BY 1),
        tot AS (
          SELECT CAST(sum(n) AS BIGINT) AS nt,
            ${(1 to D).map(tAgg).mkString(", ")}
          FROM m)
        SELECT ${finCols.mkString(", ")}
        FROM m, tot ORDER BY label""")
    })(
      (s, dir) => {
        val dots = T(s, dir, "embeddings").select(
          col("label") +:
            (1 to D).map(f =>
              ArrayMath.dotConst(col("embedding"), w(f)).as(s"d$f")): _*)
        val z = dots.selectExpr(
          "label" +: (1 to D).map(f => zExpr(s"d$f", f)): _*)
        // cached: `tot` re-aggregates the 10-row label frame — without
        // the cache Spark recomputes m's whole subtree under the
        // broadcast, i.e. a SECOND full scan + hash-agg of the data
        val m = graft.ops.Frames.cached(
          z.groupBy(col("label"))
            .agg(expr("CAST(count(*) AS BIGINT) AS n"),
              (1 to D).map(f => expr(sAgg(f))): _*))
        val tot = m.agg(expr("CAST(sum(n) AS BIGINT) AS nt"),
          (1 to D).map(f => expr(tAgg(f))): _*)
        m.crossJoin(broadcast(tot))
          .selectExpr(finCols: _*)
          .orderBy("label")
      }),

    // Sliced Wasserstein-1 drift, one-vs-rest per label (Rabin et al.
    // SSVM'11; Bonneel et al. JMIV'15) — the shape-sensitive companion
    // to q487: MMD with few features can miss mean-preserving shape
    // drift, while W1 integrates |F_in − F_out| over each projected
    // axis. Per direction f, z = u_f·x is histogrammed into 256
    // fixed-width bins over the clamped [−2, 2) domain (the
    // quantization floor: W1 error ≤ width/2 = 1/128 per unit mass),
    // cumulated per (label, f) — a 256-row DOMAIN-BOUNDED window, the
    // q267/q287 quantile machinery, never a data-sized sort — and
    // W1 ≈ Σ_bins |F_in − F_out|·width. sw1 = mean over the D
    // directions. Scale shape: one scan computing D codegen dots per
    // row, stack to (label, f, bin), one hash-agg (map-side combined),
    // then everything downstream is (labels × D × 256)-sized. No pair
    // frames, no global windows — same shape at 100 TB.
    Q("q488_embedding_drift_sw", {
      val binCols = (1 to D).map(f =>
        s"${binCol(PortableSql.dotConst("embedding", u(f)))} AS b$f")
      val arms = (1 to D).map(f =>
        s"SELECT label, $f AS f, b$f AS bin FROM zb")
        .mkString(" UNION ALL ")
      Q.sql(s"""
        WITH zb AS (
          SELECT label, ${binCols.mkString(", ")}
          FROM embeddings),
        fb AS ($arms),
        c AS (
          SELECT label, f, bin, CAST(count(*) AS BIGINT) AS cnt
          FROM fb GROUP BY 1, 2, 3),
        lab AS (
          SELECT label, CAST(count(*) AS BIGINT) AS n_in
          FROM embeddings GROUP BY 1),
        nt AS (SELECT CAST(count(*) AS BIGINT) AS ntot FROM embeddings),
        spine AS (
          SELECT lab.label, ff.f, bb.bin
          FROM lab,
            (SELECT unnest(generate_series(1, $D)) AS f) ff,
            (SELECT unnest(generate_series(0, ${Bins - 1})) AS bin) bb),
        tc AS (
          SELECT f, bin, CAST(sum(cnt) AS BIGINT) AS tcnt
          FROM c GROUP BY 1, 2),
        d AS (
          SELECT s.label, s.f, s.bin,
            COALESCE(c.cnt, 0) AS cnt, COALESCE(tc.tcnt, 0) AS tcnt
          FROM spine s
          LEFT JOIN c ON c.label = s.label AND c.f = s.f AND c.bin = s.bin
          LEFT JOIN tc ON tc.f = s.f AND tc.bin = s.bin),
        cum AS (
          SELECT label, f, bin,
            CAST(sum(cnt) OVER (PARTITION BY label, f ORDER BY bin)
              AS BIGINT) AS cin,
            CAST(sum(tcnt - cnt) OVER (PARTITION BY label, f ORDER BY bin)
              AS BIGINT) AS cout
          FROM d),
        t AS (
          SELECT cum.label, lab.n_in, nt.ntot,
            $swTerm AS term
          FROM cum JOIN lab ON lab.label = cum.label, nt)
        SELECT label, n_in, (ntot - n_in) AS n_out, $swFin
        FROM t GROUP BY 1, 2, 3 ORDER BY label""")
    })(
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val emb = T(s, dir, "embeddings")
        val zb = emb.select(
            col("label") +: (1 to D).map(f =>
              ArrayMath.dotConst(col("embedding"), u(f)).as(s"z$f")): _*)
          .selectExpr(
            "label" +: (1 to D).map(f => s"${binCol(s"z$f")} AS b$f"): _*)
        val fb = zb.selectExpr("label",
          s"stack($D, ${(1 to D).map(f => s"$f, b$f").mkString(", ")})" +
            " AS (f, bin)")
        val c = fb.groupBy("label", "f", "bin")
          .agg(count(lit(1)).as("cnt"))
        // cached: the label frame seeds the spine, the totals, AND the
        // final attach — tiny (|labels| rows) but its subtree is a full
        // scan + agg without the cache
        val lab = graft.ops.Frames.cached(
          emb.groupBy("label").agg(count(lit(1)).as("n_in")))
        val nt = lab.agg(sum(col("n_in")).as("ntot"))
        val spine = lab.select(col("label"))
          .withColumn("f", explode(sequence(lit(1), lit(D))))
          .withColumn("bin",
            explode(sequence(lit(0L), lit((Bins - 1).toLong))))
        val tc = c.groupBy("f", "bin").agg(sum(col("cnt")).as("tcnt"))
        val dd = spine
          .join(c, Seq("label", "f", "bin"), "left")
          .join(tc, Seq("f", "bin"), "left")
          .select(col("label"), col("f"), col("bin"),
            coalesce(col("cnt"), lit(0L)).as("cnt"),
            coalesce(col("tcnt"), lit(0L)).as("tcnt"))
        val wspec = Window.partitionBy("label", "f").orderBy("bin")
        val cum = dd.select(col("label"),
          sum(col("cnt")).over(wspec).as("cin"),
          sum(col("tcnt") - col("cnt")).over(wspec).as("cout"))
        val t = cum.join(broadcast(lab), "label")
          .crossJoin(broadcast(nt))
          .selectExpr("label", "n_in", "ntot", s"$swTerm AS term")
        t.groupBy(col("label"), col("n_in"),
            (col("ntot") - col("n_in")).as("n_out"))
          .agg(expr(swFin.stripSuffix(" AS sw1")).as("sw1"))
          .orderBy("label")
      }))

  /** Per-(label, f, bin) W1 mass term: |F_in − F_out|·width with the
    * CDFs as exact-count/total divisions, rounded@9 through the shared
    * floor ladder, guarded on a non-empty complement (single-label
    * fixture → NULL on both engines). Width 1/64 is an exact binary
    * scale.
    */
  private def swTerm: String = PortableSql.round(
    "(CASE WHEN ntot > n_in THEN abs(CAST(cin AS DOUBLE) / " +
      "CAST(n_in AS DOUBLE) - CAST(cout AS DOUBLE) / " +
      "CAST(ntot - n_in AS DOUBLE)) / CAST(64 AS DOUBLE) END)", 9)

  /** Final ladder: exact DECIMAL sum of the rounded terms (order-
    * independent), one cast, the exact /D scale, shared round@6.
    */
  private def swFin: String = PortableSql.round(
    s"(CAST(sum(CAST(term AS DECIMAL(38,9))) AS DOUBLE) / " +
      s"CAST($D AS DOUBLE))", 6) + " AS sw1"
}
