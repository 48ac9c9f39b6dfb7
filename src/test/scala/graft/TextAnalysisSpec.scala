package graft

import graft.text.TextAnalysis

class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  private def one(text: String, c: org.apache.spark.sql.Column => org.apache.spark.sql.Column) =
    Seq(text).toDF("t").select(c($"t").as("out"))

  test("normalizeText collapses whitespace, trims spaces, lowercases") {
    one("  Hello \t  WORLD  ", TextAnalysis.normalizeText)
      .as[String].head() shouldBe "hello world"
    // trim strips SPACES only (both engines) — other edge whitespace
    // collapses to a single space; identical on Spark and DuckDB, which
    // is what the oracle parity requires
    one("Hello\n", TextAnalysis.normalizeText)
      .as[String].head() shouldBe "hello "
  }

  test("tokenCount and bpeishCount") {
    one("one two  three", TextAnalysis.tokenCount).as[Int].head() shouldBe 3
    // "abc123!x" -> [abc][123][!][x] = 4 bpe-ish tokens
    one("abc123!x", TextAnalysis.bpeishCount).as[Int].head() shouldBe 4
  }

  test("fingerprint is whitespace/case-insensitive but content-sensitive") {
    val fp = (s: String) => one(s, TextAnalysis.fingerprint).as[String].head()
    fp("Hello  World") shouldBe fp("hello world")
    fp("hello world") should not be fp("hello worlds")
  }

  test("langId picks the dominant marker language, und when none") {
    val lid = (s: String) => one(s, TextAnalysis.langId).as[String].head()
    lid("the cat sat on the mat with a hat of wool") shouldBe "en"
    lid("el perro y la casa que vimos ayer") shouldBe "es"
    lid("der Hund und die Katze und der Vogel") shouldBe "de"
    lid("le chat et les chiens et le merle") shouldBe "fr"
    lid("xyzzy plugh") shouldBe "und"
  }

  test("qualityScore in [0,1]; clean prose scores above symbol soup") {
    val qs = (s: String) => one(s, TextAnalysis.qualityScore).as[Double].head()
    val clean = qs("a perfectly ordinary english sentence about data pipelines")
    val soup = qs("$$@! ## %% ^^ && ** (( )) {{ }} [[ ]]")
    clean should (be >= 0.0 and be <= 1.0)
    soup should (be >= 0.0 and be <= 1.0)
    clean should be > soup
  }

  test("rollingHash: known value, empty string, null propagation") {
    import graft.functions.RollingHash
    one("abc", RollingHash.rollingHash).as[Long].head() shouldBe 96354L
    one("", RollingHash.rollingHash).as[Long].head() shouldBe 0L
    Seq(Option.empty[String]).toDF("t")
      .select(RollingHash.rollingHash($"t")).head().isNullAt(0) shouldBe true
  }

  test("countOccurrences counts non-overlapping literal matches") {
    one("aXbXcX", c => TextAnalysis.countOccurrences(c, "X"))
      .as[Int].head() shouldBe 3
    one("a.b.c", c => TextAnalysis.countOccurrences(c, "."))
      .as[Int].head() shouldBe 2 // regex metachar quoted -> literal
  }

  test("VocabStats.chao1 applies the bias-corrected singleton estimate") {
    import graft.text.VocabStats
    // g1 tokens a a b c: V=3, f1=2 (b,c), f2=1 (a)
    //   -> chao1 = 3 + 2*1/(2*2) = 3.5
    // g2 all-unique: f2=0 stays defined via the +1 denominator
    val toks = Seq(("g1", "a"), ("g1", "a"), ("g1", "b"), ("g1", "c"),
      ("g2", "x"), ("g2", "y")).toDF("g", "tok")
    val out = VocabStats.chao1(toks, Seq("g")).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getDouble(5)))
      .toMap
    out("g1") shouldBe ((3L, 4L, 2L, 1L, 3.5))
    out("g2") shouldBe ((2L, 2L, 2L, 0L, 2.0 + 2.0 * 1 / 2))
  }

  test("Tables.load and the stream readers pin JDK case mapping") {
    val icu = "spark.sql.icu.caseMappings.enabled"
    val dir = tmpDir("pins")
    Seq((1L, "a")).toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    try {
      spark.conf.set(icu, "true")
      Tables.load(spark, dir, "documents")
      spark.conf.get(icu) shouldBe "false"
      spark.conf.set(icu, "true")
      graft.streaming.StreamRun.tableStream(spark, dir, "documents")
      spark.conf.get(icu) shouldBe "false"
    } finally Tables.pinSemantics(spark)
  }

  test("normalizeText maps case the same through the JDK and ICU up to Unicode 13") {
    val icu = "spark.sql.icu.caseMappings.enabled"
    // Latin-1 accent, sharp s (no single-char uppercase), Greek with a
    // final sigma, dotted capital I (lowercases to i + U+0307), the
    // titlecase digraph, Cherokee and a ligature
    val sample = Seq("Café  ÉTÉ", "Straße", "ΟΔΟΣ ΟΔΟΣ", "İstanbul", "ǅemal",
      "ᏣᎳᎩ", "ﬁne", "plain ascii")
    // U+10570 (Vithkuqi capital A, Unicode 14) is past the JDK 17 tables:
    // ICU lowercases it to U+10597, the JDK leaves it as is
    val vithkuqi = new String(Character.toChars(0x10570))
    def run(icuOn: Boolean, texts: Seq[String]): Seq[String] = {
      spark.conf.set(icu, icuOn.toString)
      texts.toDF("t").select(TextAnalysis.normalizeText($"t")).as[String].collect().toSeq
    }
    try {
      run(icuOn = false, sample) shouldBe run(icuOn = true, sample)
      run(icuOn = false, Seq(vithkuqi)) shouldBe Seq(vithkuqi)
      run(icuOn = true, Seq(vithkuqi)) shouldBe Seq(new String(Character.toChars(0x10597)))
    } finally Tables.pinSemantics(spark)
  }

  /** The per-position formulation of [[graft.text.Chunking.contentDefined]]
    * it replaced: one row per 8-char window, chunks numbered by a running
    * count of the boundaries before each position, then aggregated.
    */
  private def cdcReference(df: org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{length => chars, _}
    val g = df.select($"id",
        posexplode(transform(
          when(chars($"t") >= 8, sequence(lit(1), chars($"t") - 7))
            .otherwise(array().cast("array<int>")),
          i => $"t".substr(i, lit(8)))).as(Seq("pos0", "gram")))
      .select($"id", ($"pos0" + 1).as("pos"),
        graft.functions.Hashing.hash48($"gram").as("h"))
    val w = Window.partitionBy("id").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, -1)
    g.withColumn("chunk", lit(1) + coalesce(
        sum(when($"h" % 64 === 0, 1).otherwise(0)).over(w), lit(0)))
      .groupBy("id", "chunk")
      .agg(count(lit(1)).as("clen"),
        (sum($"h").cast("decimal(38,0)") % lit(1L << 48)).cast("long").as("sig"))
  }

  test("Chunking.contentDefined equals the per-position windowed reference") {
    import org.apache.spark.sql.functions.col
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val h = (g: String) => graft.functions.Md5Long.hashUtf8(
      org.apache.spark.unsafe.types.UTF8String.fromString(g), 0, 6)
    val cut = (g: String) => h(g) % 64 == 0
    val rnd = new scala.util.Random(307)
    def word(n: Int) = Seq.fill(n)(("abcdefgh ")(rnd.nextInt(9))).mkString
    // 8-char windows that end a chunk, and a 9-char text whose two windows
    // both do (consecutive boundaries)
    val cutGram = Iterator.continually(word(8)).find(cut).get
    val twoCuts = Iterator.continually(word(9))
      .find(w => cut(w.take(8)) && cut(w.drop(1))).get
    val repeated = (0x21 to 0x24f).map(c => c.toChar.toString * 8)
    val cutRun = repeated.find(cut).get * 3          // every window cuts
    val flatRun = repeated.find(g => !cut(g)).get * 3 // no window cuts
    val random = (0 until 40).map(i => Gen.listOfN(i * 13, Gen.oneOf("ab cd efgh".toSeq))
      .map(_.mkString).pureApply(Gen.Parameters.default, Seed(i.toLong)))
    val texts: Seq[Option[String]] = Seq(None, Some(""), Some("short"),
      Some("seven c"), Some("exactly8"), Some(cutGram), Some(twoCuts),
      Some(word(100) + cutGram), Some(word(50) + twoCuts + word(50)),
      Some(cutRun), Some(flatRun)) ++ random.map(Some(_))
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "t")
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.select(col("id"), col("chunk").cast("long"), col("clen").cast("long"), col("sig"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val got = rows(graft.text.Chunking.contentDefined(df, col("id"), col("t")))
    got shouldBe rows(cdcReference(df))
    // the hand-built cases are exercised: a cut at the last window closes
    // one chunk, not two; consecutive cuts make a one-window chunk; null,
    // empty and sub-8-char texts emit nothing
    got.filter(_._1 == 5L) shouldBe Set((5L, 1L, 1L, h(cutGram)))
    got.filter(_._1 == 6L).map(_._3) shouldBe Set(1L)
    got.filter(_._1 == 9L).size shouldBe 17
    got.filter(_._1 == 10L).size shouldBe 1
    got.map(_._1) should contain noneOf (0L, 1L, 2L, 3L)
  }
}
