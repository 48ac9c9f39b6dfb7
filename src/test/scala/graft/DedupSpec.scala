package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.dedup.Dedup

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"),   // exact dup of 1
    (3L, "the quick brown fox jumps over a sleepy dog"),   // near dup
    (4L, "completely different text about spark engines here"),
    (5L, "tiny")).toDF("doc_id", "text")

  test("exactGroups collapses exact duplicates to the min id") {
    val g = Dedup.exactGroups(docs, $"doc_id", $"text")
    g.count() shouldBe 4
    val dup = g.where($"n_copies" === 2).collect()
    dup.length shouldBe 1
    dup.head.getLong(1) shouldBe 1L // keep_id = min(1, 2)
  }

  test("shingles: n-gram count and short-document guard") {
    val sh = Dedup.shingles(docs, $"doc_id", $"text", 3)
    // 9 words -> 7 trigrams, all distinct for doc 1
    sh.where($"id" === 1).count() shouldBe 7
    // "tiny" has < 3 words -> no shingles (sequence guard)
    sh.where($"id" === 5).count() shouldBe 0
  }

  test("jaccardPairsPrefix is lossless vs the unfiltered jaccardPairs") {
    // mixed overlap structure: an exact dup, a near dup, unrelated docs
    val corpus = docs.union(Seq(
      (6L, "the quick brown fox jumps over the lazy cat"),
      (7L, "completely different text about spark engines there"))
      .toDF("doc_id", "text"))
    val sh = Dedup.shingleHashSet(corpus, $"doc_id", $"text", 3)
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select("id_a", "id_b", "n_a", "n_b", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toSet
    for (t <- Seq(0.3, 0.5, 0.8)) {
      canon(Dedup.jaccardPairsPrefix(sh, t)) shouldBe
        canon(Dedup.jaccardPairs(sh, t))
    }
    // the prefix filter must actually prune: with t=0.8 each doc indexes
    // only ceil(0.2*n)+1-ish of its shingles
    Dedup.jaccardPairsPrefix(sh, 0.8).count() should be >= 1L
  }

  test("shingleHashSet equals the hash projection of distinct string shingles") {
    // The pair pipelines distinct on the 48-bit hash BEFORE any shuffle;
    // this proves that short-cut yields the same set as deduping on the
    // shingle text first (no in-document hash collisions on real tokens).
    val direct = Dedup.shingleHashSet(docs, $"doc_id", $"text", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaStrings = Dedup.shingles(docs, $"doc_id", $"text", 3)
      .select("id", "shash").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    direct shouldBe viaStrings
    direct should not be empty
  }

  test("jaccardPairs scores exact and near duplicates correctly") {
    val sh = Dedup.shingles(docs, $"doc_id", $"text", 3)
    val pairs = Dedup.jaccardPairs(sh, threshold = 0.1)
      .select("id_a", "id_b", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    pairs((1L, 2L)) shouldBe 1.0  // identical docs
    pairs((1L, 3L)) should (be > 0.2 and be < 1.0)
    pairs.keySet should not contain ((1L, 4L))
  }

  test("minhash LSH candidates include all exact duplicates and verify to the same jaccard") {
    val out = Dedup.minhashNearDups(docs, $"doc_id", $"text",
      n = 3, k = 8, rowsPerBand = 2, threshold = 0.9)
      .select("id_a", "id_b", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // identical docs share every band -> always candidates, jaccard 1.0
    out((1L, 2L)) shouldBe 1.0
    // nothing unrelated sneaks past the exact verification
    out.keySet should not contain ((1L, 4L))
  }

  test("candidate-restricted verify equals full-Jaccard-intersect-candidates") {
    // minhashNearDups computes intersections FROM the candidate pairs
    // (cost ∝ candidates); this proves it returns exactly what the naive
    // formulation — all Jaccard pairs intersected with the candidates —
    // would, pair for pair and score for score.
    val sh = Dedup.shingles(docs, $"doc_id", $"text", 3)
    val cands = Dedup.minhashCandidates(
      Dedup.minhashSignatures(sh, 8), 8, rowsPerBand = 2)
    val naive = Dedup.jaccardPairs(sh, threshold = 0.1)
      .join(cands, Seq("id_a", "id_b"))
      .select("id_a", "id_b", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val restricted = Dedup.minhashNearDups(docs, $"doc_id", $"text",
      n = 3, k = 8, rowsPerBand = 2, threshold = 0.1)
      .select("id_a", "id_b", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    restricted shouldBe naive
    restricted should not be empty
  }

  test("jaccardPairs maxDf drops boilerplate shingles from pairs and denominators") {
    // With a cap of 1 every shared shingle (df >= 2) is dropped, so no
    // pair can form; with a generous cap results equal the uncapped run.
    val sh = Dedup.shingles(docs, $"doc_id", $"text", 3)
    Dedup.jaccardPairs(sh, threshold = 0.1, maxDf = Some(1)).count() shouldBe 0
    val capped = Dedup.jaccardPairs(sh, threshold = 0.1, maxDf = Some(1000))
      .select("id_a", "id_b", "jaccard").collect().toSet
    val full = Dedup.jaccardPairs(sh, threshold = 0.1)
      .select("id_a", "id_b", "jaccard").collect().toSet
    capped shouldBe full
  }

  test("simhashNearDups: identical docs at hamming 0; pairs are exact-verified") {
    val out = Dedup.simhashNearDups(docs, $"doc_id", $"text", maxDist = 3, bits = 24)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    out((1L, 2L)) shouldBe 0 // identical docs
    out.values.foreach(h => h should be <= 3)
  }

  test("simhash: identical docs get identical fingerprints, disjoint docs differ") {
    val fp = Dedup.simhash(docs, $"doc_id", $"text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    fp(1L) shouldBe fp(2L)
    fp(1L) should not be fp(4L)
  }

  test("simhashNearDups equals brute-force hamming pairs, each pair exactly once") {
    // Pigeonhole banding is exhaustive (any pair within maxDist agrees on
    // a whole band), and the first-matching-band filter must emit each
    // pair exactly once — so the output equals the n² reference set with
    // no duplicate rows.
    val fp = Dedup.simhash(docs, $"doc_id", $"text", bits = 24)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val brute = for {
      a <- fp.keys.toSeq; b <- fp.keys.toSeq
      if a < b && java.lang.Long.bitCount(fp(a) ^ fp(b)) <= 3
    } yield (a, b)
    val out = Dedup.simhashNearDups(docs, $"doc_id", $"text", maxDist = 3, bits = 24)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    out.length shouldBe out.toSet.size
    out.toSet shouldBe brute.toSet
  }

  test("minhashCandidates emits each any-band-colliding pair exactly once") {
    val sh = Dedup.shingles(docs, $"doc_id", $"text", 3)
    val sig = Dedup.minhashSignatures(sh, 8)
    val sigMap = sig.collect()
      .map(r => r.getLong(0) -> (1 to 8).map(r.getLong).toVector).toMap
    val bandsOf = sigMap.view.mapValues(
      _.grouped(2).map(_.mkString("|")).toVector).toMap
    val naive = for {
      a <- sigMap.keys.toSeq; b <- sigMap.keys.toSeq
      if a < b && (0 until 4).exists(i => bandsOf(a)(i) == bandsOf(b)(i))
    } yield (a, b)
    val out = Dedup.minhashCandidates(sig, 8, rowsPerBand = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    out.length shouldBe out.toSet.size
    out.toSet shouldBe naive.toSet
  }

  test("minhashEstimates: identical docs estimate 1.0, scores stay in [0,1]") {
    val est = Dedup.minhashEstimates(docs, $"doc_id", $"text",
      n = 3, k = 8, rowsPerBand = 2, minEstimate = 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    est((1L, 2L)) shouldBe 1.0
    est.values.foreach(e => e should (be >= 0.0 and be <= 1.0))
  }

  private def longComponents(comp: DataFrame): Map[Long, Long] =
    comp.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("components: min-label propagation finds connected clusters") {
    // Chain 1-2-3 plus island 5-6: transitive closure must label 3 with 1
    // even though (1,3) is not an edge; 4 appears in no pair -> no row.
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    for (path <- paths) withClue(path) {
      longComponents(onPath(path)(Dedup.components(pairs))) shouldBe
        Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L)
    }
  }

  test("components: long chain converges past one propagation round") {
    val pairs = (1L until 12L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    for (path <- paths) withClue(path) {
      val comp = longComponents(onPath(path)(Dedup.components(pairs)))
      comp.values.toSet shouldBe Set(1L)
      comp.keySet shouldBe (1L to 12L).toSet
    }
  }

  test("components: both paths return the same schema and rows") {
    // random edges over 60 nodes: several components, endpoints in either
    // order, repeated and mirrored pairs
    val rnd = new scala.util.Random(7)
    val pairs = Seq.fill(40)((rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      .filter { case (a, b) => a != b }.toDF("id_a", "id_b")
    val Seq(driver, distributed) = paths.map(p => onPath(p)(Dedup.components(pairs)))
    driver.schema shouldBe distributed.schema
    driver.collect().map(_.toString).sorted shouldBe
      distributed.collect().map(_.toString).sorted
  }

  test("components: string ids take the UTF-8 minimum, as Spark's min does") {
    // U+FF61 is EF BD A1 in UTF-8 and FF61 in UTF-16; U+1F600 is F0 9F 98 80
    // in UTF-8 and D83D DE00 in UTF-16: the two orders disagree
    "｡".compareTo("😀") should be > 0
    val pairs = Seq(("😀", "｡")).toDF("id_a", "id_b")
    pairs.select(least($"id_a", $"id_b")).head().getString(0) shouldBe "｡"
    for (path <- paths) withClue(path) {
      val comp = onPath(path)(Dedup.components(pairs))
      comp.schema shouldBe pairs.select($"id_a".as("id"), $"id_a".as("component")).schema
      comp.collect().map(r => r.getString(0) -> r.getString(1)).toMap shouldBe
        Map("😀" -> "｡", "｡" -> "｡")
    }
  }

  test("components: a broadcast-sized graph runs on the driver in at most 2 jobs") {
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val jobs = paths.map(p => p -> jobsDuring {
      val _ = onPath(p)(Dedup.components(pairs)).collect()
    }.size).toMap
    jobs("driver") should be <= 2
    // negative control: the round barriers of the distributed path
    jobs("distributed") should be > jobs("driver")
  }

  test("components: a pair-free input returns no rows and no exception") {
    val schema = "id_a BIGINT, id_b BIGINT"
    val noRows = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    val noPartitions = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType.fromDDL(schema))
    for (pairs <- Seq(noRows, noPartitions); path <- paths) withClue(path) {
      onPath(path)(Dedup.components(pairs)).collect() shouldBe empty
    }
  }

  test("components: an unconverged run reports the cross-label edges left") {
    // only the distributed path runs in rounds
    val pairs = (1L until 12L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val e = intercept[IllegalStateException](
      onPath("distributed")(Dedup.components(pairs, maxIters = 1)))
    val left = """\((\d+) cross-label edges remain\)""".r
      .findFirstMatchIn(e.getMessage).map(_.group(1).toLong)
    left.exists(_ > 0) shouldBe true
  }

  test("noveltyScores: exact copies score 0, unique text scores 1") {
    val nov = Dedup.noveltyScores(docs, $"doc_id", $"text", n = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    // docs 1 and 2 are identical -> every shingle has df >= 2 -> 0.0
    nov(1L) shouldBe 0.0
    nov(2L) shouldBe 0.0
    // doc 4 shares no 3-gram with anything -> 1.0
    nov(4L) shouldBe 1.0
    // doc 3 shares a prefix with 1/2 but has its own tail -> strictly between
    nov(3L) should (be > 0.0 and be < 1.0)
    // doc 5 ("tiny") has no 3-gram -> no row
    nov.contains(5L) shouldBe false
  }

  test("incrementalDedup flags exactly the batch rows whose content exists") {
    val existing = docs.where($"doc_id" <= 2) // holds doc 1/2's shared text
    val incoming = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"), // dup of existing
      (11L, "entirely new content for this batch"))
      .toDF("doc_id", "text")
    val out = Dedup.incrementalDedup(existing, incoming, $"doc_id", $"text")
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    out shouldBe Map(10L -> true, 11L -> false)
  }

  test("dedupByBest keeps the max-score member per cluster, singletons pass") {
    val scored = Seq(
      (1L, "a", 10L), (2L, "a", 30L), (3L, "a", 30L), // cluster {1,2,3}
      (4L, "b", 7L))                                  // singleton
      .toDF("doc_id", "grp", "score")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val out = Dedup.dedupByBest(scored, $"doc_id", $"score", pairs)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    // max score 30 is tied between 2 and 3 -> lowest id (2) wins
    out shouldBe Map(2L -> ((3L, 30L)), 4L -> ((1L, 7L)))
    // survivor count matches the min-id policy's count
    Dedup.dedupByBest(scored, $"doc_id", $"score", pairs).count() shouldBe
      Dedup.dedupByComponents(scored, $"doc_id", pairs).count()
  }

  test("signaturesOf over hashedShingleFrame equals minhashSignatures (shared-pass refactor)") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox leaps over the lazy dog"),
      (3L, "completely different content here entirely now"))
      .toDF("doc_id", "text")
    val k = 6
    val direct = Dedup.minhashSignatures(
        Dedup.shinglesRaw(docs, $"doc_id", $"text", 3), k)
      .collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    val hashed = Dedup.hashedShingleFrame(docs, $"doc_id", $"text", 3, k)
    val shared = Dedup.signaturesOf(hashed, k)
      .collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    shared shouldBe direct
    // and the verify projection from the SAME pass equals shingleHashSet
    val viaShared = hashed.select("id", "shash").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaDirect = Dedup.shingleHashSet(docs, $"doc_id", $"text", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    viaShared shouldBe viaDirect
  }
}
