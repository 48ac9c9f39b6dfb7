package graft

/** q488 sliced-Wasserstein embedding drift: the oracle gate proves ENGINE
  * AGREEMENT of the generated ladder, but both engines evaluate the SAME
  * generated strings — a wrong cumulative, a dropped width factor, or a
  * mis-clamped bin would agree with itself. This spec recomputes the
  * one-vs-rest sliced W1 through two independent dense paths (plain
  * Scala loops, no expression strings):
  *  1. the SAME 256-bin quantization — must match the query to the
  *     rounding floor (pins the cumulative/width/mean algebra);
  *  2. the EXACT (unbinned) sorted-CDF W1 — must match within the
  *     documented quantization bound (width = 1/64 per unit mass),
  *     pinning the "error ≤ width" claim the query's Scaladoc makes.
  * Plus the statistic's defining property: identical groups ⇒ W1 = 0.
  */
class SlicedWassersteinSpec extends SparkSpec {

  private val Dim = 64
  private val D = 8
  private val Sigma = 8.0

  // deterministic direction constants re-derived from their published
  // recipe (md5-seeded Box-Muller, normalized to the unit sphere) —
  // part of the test's definition, same stance as MmdSpec
  private def u01(s: String): Double = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString.take(8)
    (java.lang.Long.parseLong(hex, 16).toDouble + 0.5) / math.pow(16, 8)
  }
  private def w(f: Int): Array[Double] = Array.tabulate(Dim) { i =>
    val u1 = u01(s"rffw|$f|$i|1")
    val u2 = u01(s"rffw|$f|$i|2")
    math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.Pi * u2) / Sigma
  }
  private def u(f: Int): Array[Double] = {
    val raw = w(f)
    val nrm = math.sqrt(raw.foldLeft(0.0)((a, x) => a + x * x))
    raw.map(_ / nrm)
  }

  // u(f) costs 2 * Dim md5 digests: derive each direction once
  private lazy val dirs: IndexedSeq[Array[Double]] = (1 to D).map(u)

  private def project(emb: Array[Float], f: Int): Double = {
    val uv = dirs(f - 1)
    var dot = 0.0
    var i = 0
    while (i < Dim) { dot += emb(i).toDouble * uv(i); i += 1 }
    dot
  }

  /** Exact two-sample 1-D W1: integrate |F_a − F_b| over the merged
    * support (the sorted-CDF formula), as one sort-merge sweep. F_a and
    * F_b are exact integer counts of samples <= v over the sample sizes,
    * and the terms are summed in ascending v from 0.0.
    */
  private def w1Exact(a: Seq[Double], b: Seq[Double]): Double = {
    val (sa, sb) = (a.toArray.sorted, b.toArray.sorted)
    var (i, j) = (0, 0)
    var acc = 0.0
    def next: Double =
      if (i == sa.length) sb(j)
      else if (j == sb.length) sa(i)
      else math.min(sa(i), sb(j))
    while (i < sa.length || j < sb.length) {
      val v = next
      while (i < sa.length && sa(i) <= v) i += 1
      while (j < sb.length && sb(j) <= v) j += 1
      if (i < sa.length || j < sb.length) {
        val fa = i.toDouble / sa.length
        val fb = j.toDouble / sb.length
        acc += math.abs(fa - fb) * (next - v)
      }
    }
    acc
  }

  /** The query's quantized form, independently: 256 bins over the
    * clamped [−2, 2) domain, cumulative counts, Σ|F_a − F_b|·(1/64).
    */
  private def w1Binned(a: Seq[Double], b: Seq[Double]): Double = {
    def hist(xs: Seq[Double]): Array[Long] = {
      val h = new Array[Long](256)
      xs.foreach { z =>
        val bi = math.min(math.max(math.floor((z + 2.0) * 64.0), 0.0),
          255.0).toInt
        h(bi) += 1
      }
      h
    }
    val (ha, hb) = (hist(a), hist(b))
    var ca = 0L
    var cb = 0L
    var acc = 0.0
    (0 until 256).foreach { i =>
      ca += ha(i); cb += hb(i)
      acc += math.abs(ca.toDouble / a.size - cb.toDouble / b.size) / 64.0
    }
    acc
  }

  private def refSw(rows: Seq[(Int, Array[Float])],
                    exact: Boolean): Map[Int, Double] = {
    val labels = rows.map(_._1).distinct
    labels.map { l =>
      val sw = (1 to D).map { f =>
        val (in, out) = rows.partition(_._1 == l)
        val za = in.map(r => project(r._2, f))
        val zb = out.map(r => project(r._2, f))
        if (exact) w1Exact(za, zb) else w1Binned(za, zb)
      }.sum / D
      l -> sw
    }.toMap
  }

  test("q488 sliced W1 matches the independent dense references at sf0.001") {
    val dir = "/root/testdata/sf0.001"
    val rows = Tables.load(spark, dir, "embeddings")
      .select("label", "embedding").collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1).toArray))
      .toSeq
    val refBinned = refSw(rows, exact = false)
    val refExact = refSw(rows, exact = true)
    val got = SparkEntry.queries("q488_embedding_drift_sw")(spark, dir)
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    got.length shouldBe refBinned.size
    val total = rows.size.toLong
    got.foreach { case (label, nIn, nOut, sw1) =>
      val expectIn = rows.count(_._1 == label).toLong
      nIn shouldBe expectIn
      nOut shouldBe (total - expectIn)
      // same quantization, independent algebra: only the @9/@6 rounding
      // separates the two (2048 terms × 5e-10 + the final 5e-7)
      math.abs(sw1 - refBinned(label)) should be < 5e-6
      // quantization bound: each sample moves < width inside its bin,
      // so |binned − exact| ≤ width = 1/64 per direction and in the mean
      math.abs(sw1 - refExact(label)) should be < (1.0 / 64)
    }
  }

  test("sliced W1 of a group against an identical copy is zero") {
    val sample = Seq.tabulate(9)(k =>
      Array.tabulate(Dim)(i => ((i * k) % 7 - 3).toFloat / 8))
    val za = sample.map(e => project(e, 1))
    w1Exact(za, za) shouldBe 0.0 +- 1e-15
    w1Binned(za, za) shouldBe 0.0 +- 1e-15
  }
}
