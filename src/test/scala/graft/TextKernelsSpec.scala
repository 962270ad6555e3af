package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.llm.TextAnalysis

/** Parity pins for the native text-battery kernels (TextKernels.scala)
  * against the retained HOF baselines — plus unit pins for each
  * Catalyst/Java-regex semantic trap the kernels replicate. The
  * oracles for text_gopher_rules / text_c4_filters / text_line_rules /
  * text_repetition did NOT move in round 10; these tests are the
  * evidence the native rewrite is bit-identical. */
class TextKernelsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Adversarial corpus: every edge the kernels special-case. */
  private def edgeDocs: DataFrame = Seq[(Long, String)](
    (1L, "the quick brown fox. jumps over the lazy dog!"),
    (2L, ""),
    (3L, " \t\n\f\r "),                    // all Java-\s
    (4L, "one"),
    (5L, "line one.\r\nline two!\r\nline three\r\n"), // CRLF: '$' trap
    (6L, "ends with ellipsis...\nand unicode…\nplain line"),
    (7L, "- bullet one\n  - indented bullet\n* star\n• dot"),
    (8L, "dup line\ndup line\nunique line\ndup line"),
    (9L, "emoji 😀😀 astral 🌉 text"),
    (10L, "中文文本 的 是 了"),
    (11L, "İstanbul THE The tHe KELVINK sign"),
    (12L, "trailing terminator\u2028"),          // LS: '$' non-\s trap
    (13L, "ellipsis then spaces...   \nellipsis LS...\u2028"),
    (14L, "a b a b a b a b c c c"),
    (15L, "# ## #hash ... ...... more#text"),
    (16L, "tabs\tandvt\fand\rcr separated words the of and"),
    (17L, null.asInstanceOf[String]),
    (18L, "\"quoted end\"\nbang!\nquery?\nnope"),
    (19L, "repeat repeat repeat repeat repeat"),
    (20L, "x.\ry!\rz"),                          // bare-CR inside line
    (21L, (1 to 80).map(i => s"w$i the of and to be").mkString(" ")),
    (22L, "Lorem ipsum dolor {curly} javascript...")
  ).toDF("doc_id", "text")

  private def assertParity(nu: DataFrame, hof: DataFrame): Unit = {
    assert(nu.schema.map(f => (f.name, f.dataType)) ==
      hof.schema.map(f => (f.name, f.dataType)))
    val a = nu.orderBy("doc_id").collect().toSeq
    val b = hof.orderBy("doc_id").collect().toSeq
    assert(a == b)
  }

  test("gopherRules: native == HOF on the adversarial corpus") {
    assertParity(
      TextAnalysis.gopherRules(edgeDocs, "doc_id", "text"),
      TextAnalysis.gopherRulesHof(edgeDocs, "doc_id", "text"))
  }

  test("c4Signals: native == HOF on the adversarial corpus") {
    assertParity(
      TextAnalysis.c4Signals(edgeDocs, "doc_id", "text"),
      TextAnalysis.c4SignalsHof(edgeDocs, "doc_id", "text"))
  }

  test("gopherLineRules: native == HOF on the adversarial corpus") {
    assertParity(
      TextAnalysis.gopherLineRules(edgeDocs, "doc_id", "text"),
      TextAnalysis.gopherLineRulesHof(edgeDocs, "doc_id", "text"))
  }

  test("repetitionSignals: native == HOF on the adversarial corpus") {
    assertParity(
      TextAnalysis.repetitionSignals(edgeDocs, "doc_id", "text"),
      TextAnalysis.repetitionSignalsHof(edgeDocs, "doc_id", "text"))
  }

  test("parity holds on the real documents table (sf0.001)") {
    val path = "/root/testdata/sf0.001/documents.parquet"
    assume(new java.io.File(path).exists())
    val docs = spark.read.parquet(path).select("doc_id", "text")
    assertParity(
      TextAnalysis.gopherRules(docs, "doc_id", "text"),
      TextAnalysis.gopherRulesHof(docs, "doc_id", "text"))
    assertParity(
      TextAnalysis.c4Signals(docs, "doc_id", "text"),
      TextAnalysis.c4SignalsHof(docs, "doc_id", "text"))
    assertParity(
      TextAnalysis.gopherLineRules(docs, "doc_id", "text"),
      TextAnalysis.gopherLineRulesHof(docs, "doc_id", "text"))
    assertParity(
      TextAnalysis.repetitionSignals(docs, "doc_id", "text"),
      TextAnalysis.repetitionSignalsHof(docs, "doc_id", "text"))
  }

  test("wordShingles / wordBigramsStaged: native == HOF (n = 1..5)") {
    (1 to 5).foreach { n =>
      val nu = edgeDocs.select(col("doc_id"),
        TextAnalysis.wordShingles(col("text"), n).as("sh"))
        .orderBy("doc_id").collect().toSeq
      val hof = edgeDocs.select(col("doc_id"),
        TextAnalysis.wordShinglesHof(col("text"), n).as("sh"))
        .orderBy("doc_id").collect().toSeq
      assert(nu == hof, s"shingle parity broke at n=$n")
    }
    val toks = edgeDocs.select(col("doc_id"),
      split(TextAnalysis.normalizeText(col("text")), " ").as("t"))
    val nb = toks.select(col("doc_id"),
      TextAnalysis.wordBigramsStaged(col("t")).as("b"))
      .orderBy("doc_id").collect().toSeq
    val hb = toks.select(col("doc_id"),
      TextAnalysis.wordBigramsStagedHof(col("t")).as("b"))
      .orderBy("doc_id").collect().toSeq
    assert(nb == hb)
  }

  test("stopwordCount / langIdStaged / linearScoreRaw: native == HOF") {
    val en = TextAnalysis.langStopwords.toMap.apply("en")
    val staged = edgeDocs.select(col("doc_id"), col("text"),
      split(TextAnalysis.normalizeText(col("text")), " ").as("t"))
    val nu = staged.select(col("doc_id"),
        TextAnalysis.stopwordCount(col("text"), en).as("sw"),
        TextAnalysis.langIdStaged(col("t"), col("text")).as("lang"),
        TextAnalysis.linearScoreRaw(col("t")).as("ls"))
      .orderBy("doc_id").collect().toSeq
    val hof = staged.select(col("doc_id"),
        TextAnalysis.stopwordCountHof(col("text"), en).as("sw"),
        TextAnalysis.langIdStagedHof(col("t"), col("text")).as("lang"),
        TextAnalysis.linearScoreRawHof(col("t")).as("ls"))
      .orderBy("doc_id").collect().toSeq
    assert(nu == hof)
    // the null-token propagation contract of the fold
    val withNullTok = Seq(1L).toDF("doc_id")
      .select(col("doc_id"),
        array(lit("a"), lit(null).cast("string"), lit("b")).as("t"))
    val both = withNullTok.select(
      TextAnalysis.linearScoreRaw(col("t")),
      TextAnalysis.linearScoreRawHof(col("t"))).head()
    assert(both.isNullAt(0) && both.isNullAt(1))
  }

  test("shingle/langid/linear parity holds on the real documents " +
       "table (sf0.001)") {
    val path = "/root/testdata/sf0.001/documents.parquet"
    assume(new java.io.File(path).exists())
    val docs = spark.read.parquet(path)
      .select(col("doc_id"), col("text"),
        split(TextAnalysis.normalizeText(col("text")), " ").as("t"))
    val nu = docs.select(col("doc_id"),
        TextAnalysis.wordShingles(col("text")).as("sh"),
        TextAnalysis.langIdStaged(col("t"), col("text")).as("lang"),
        TextAnalysis.linearScoreRaw(col("t")).as("ls"))
      .orderBy("doc_id").collect().toSeq
    val hof = docs.select(col("doc_id"),
        TextAnalysis.wordShinglesHof(col("text")).as("sh"),
        TextAnalysis.langIdStagedHof(col("t"), col("text")).as("lang"),
        TextAnalysis.linearScoreRawHof(col("t")).as("ls"))
      .orderBy("doc_id").collect().toSeq
    assert(nu == hof)
  }

  test("HashedShingles == [array_distinct∘]transform(xxhash64) " +
       "composition bit for bit") {
    import org.apache.spark.sql.GraftBridge
    def native(outer: Boolean) = GraftBridge.column(
      graft.functions.HashedShingles(
        GraftBridge.expression(coalesce(col("text"), lit(""))),
        3, outerDistinct = outer))
    val inner = transform(
      array_distinct(TextAnalysis.wordShinglesHof(
        coalesce(col("text"), lit("")))), g => xxhash64(g))
    val nu = edgeDocs.select(col("doc_id"), native(false).as("a"),
        array_distinct(native(true)).as("b"))
      .orderBy("doc_id").collect().toSeq
    val hof = edgeDocs.select(col("doc_id"), inner.as("a"),
        array_distinct(inner).as("b"))
      .orderBy("doc_id").collect().toSeq
    assert(nu == hof)
  }

  test("TokenWindows == sequence+slice window compositions") {
    val toks = edgeDocs.select(col("doc_id"),
      split(TextAnalysis.normalizeText(coalesce(col("text"), lit(""))),
        " ").as("toks"))
    import org.apache.spark.sql.GraftBridge
    // substring form: stride 1, k consecutive tokens, no distinct
    Seq(2, 5).foreach { k =>
      val eligible = toks.filter(size(col("toks")) >= k)
      val nu = eligible.select(col("doc_id"), GraftBridge.column(
          graft.functions.TokenWindows(
            GraftBridge.expression(col("toks")), k, 1,
            distinct = false)).as("w"))
        .orderBy("doc_id").collect().toSeq
      val hof = eligible.select(col("doc_id"), transform(
          sequence(lit(1), size(col("toks")) - (k - 1)),
          i => concat_ws(" ", slice(col("toks"), i, lit(k)))).as("w"))
        .orderBy("doc_id").collect().toSeq
      assert(nu == hof, s"window parity broke at k=$k")
    }
    // passage form: stride 4, window 8, distinct, short docs empty
    val win = 8; val stride = 4
    val nw = when(size(col("toks")) >= win,
      floor((size(col("toks")) - win).cast("double") / stride)
        .cast("int") + 1).otherwise(lit(0))
    val nu = toks.select(col("doc_id"), GraftBridge.column(
        graft.functions.TokenWindows(
          GraftBridge.expression(col("toks")), win, stride,
          distinct = true)).as("w"))
      .orderBy("doc_id").collect().toSeq
    val hof = toks.select(col("doc_id"),
        when(nw > 0, array_distinct(transform(sequence(lit(0), nw - 1),
          i => array_join(
            slice(col("toks"), i * stride + 1, lit(win)), " "))))
          .otherwise(array().cast("array<string>")).as("w"))
      .orderBy("doc_id").collect().toSeq
    assert(nu == hof)
  }

  private def sentenceQuadNative(df: DataFrame): DataFrame =
    df.select(col("doc_id"),
      TextAnalysis.sentences(col("text")).as("sent"),
      TextAnalysis.normSentences(coalesce(col("text"), lit("")))
        .as("nsent"),
      TextAnalysis.normTokens(col("text")).as("ntoks"),
      TextAnalysis.rollingFingerprint(col("text")).as("rfp"))

  private def sentenceQuadHof(df: DataFrame): DataFrame =
    df.select(col("doc_id"),
      TextAnalysis.sentencesHof(col("text")).as("sent"),
      TextAnalysis.normSentencesHof(coalesce(col("text"), lit("")))
        .as("nsent"),
      TextAnalysis.normTokensHof(col("text")).as("ntoks"),
      TextAnalysis.rollingFingerprintHof(col("text")).as("rfp"))

  test("sentences / normSentences / normTokens / rollingFingerprint: " +
       "native == HOF on the adversarial corpus") {
    // extra terminal-punctuation edges on top of the shared corpus:
    // leading/trailing/only terminators, mixed runs, whitespace-only
    // sentences (normalize to "" — kept), astral between terminators
    val extra = Seq[(Long, String)](
      (100L, "..."), (101L, ".x."), (102L, "!?.!"),
      (103L, "a.   .b"), (104L, "  .  "), (105L, ". \n ."),
      (106L, "no terminators at all"), (107L, "🌉.😀!中文?"),
      (108L, "tab\there.and !bang! q?q"), (109L, "\r\n.\r\n")
    ).toDF("doc_id", "text")
    assertParity(sentenceQuadNative(edgeDocs.union(extra)),
      sentenceQuadHof(edgeDocs.union(extra)))
  }

  test("sentence/token/fingerprint parity holds on the real documents " +
       "table (sf0.001)") {
    val path = "/root/testdata/sf0.001/documents.parquet"
    assume(new java.io.File(path).exists())
    val docs = spark.read.parquet(path).select("doc_id", "text")
    assertParity(sentenceQuadNative(docs), sentenceQuadHof(docs))
  }

  test("parity holds on a 300-doc seeded unicode fuzz corpus") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // weighted toward the characters the kernels special-case:
    // Java-\s, line terminators, case-mapping oddities (İ, KELVIN,
    // Dž, ß), CJK, astral, bullets/ellipses/terminal punctuation
    val pieceGen: Gen[String] = Gen.frequency(
      8 -> Gen.choose(32, 126).map(_.toChar.toString),
      3 -> Gen.oneOf(" ", "\t", "\n", "\r", "\f", "\u000B", "\r\n"),
      2 -> Gen.oneOf(".", "!", "?", "\"", "-", "*", "•",
        "…", "...", "#"),
      2 -> Gen.choose(0x80, 0x24f).map(_.toChar.toString),
      1 -> Gen.oneOf("K", "İ", "ǅ", "ß"),
      1 -> Gen.choose(0x4e00, 0x9fff).map(_.toChar.toString),
      1 -> Gen.oneOf("\u2028", "\u2029", "\u0085"),
      1 -> Gen.choose(0x1f300, 0x1f64f)
        .map(cp => new String(Character.toChars(cp))),
      2 -> Gen.oneOf("the", "of", "and", "la", "der", "的"))
    val docGen = Gen.listOfN(60, pieceGen).map(_.mkString)
    val docs = (0 until 300).map { i =>
      (i.toLong, docGen.apply(Gen.Parameters.default,
        Seed(i.toLong)).getOrElse(""))
    }.toDF("doc_id", "text")
    assertParity(
      TextAnalysis.gopherRules(docs, "doc_id", "text"),
      TextAnalysis.gopherRulesHof(docs, "doc_id", "text"))
    assertParity(
      TextAnalysis.c4Signals(docs, "doc_id", "text"),
      TextAnalysis.c4SignalsHof(docs, "doc_id", "text"))
    assertParity(
      TextAnalysis.gopherLineRules(docs, "doc_id", "text"),
      TextAnalysis.gopherLineRulesHof(docs, "doc_id", "text"))
    assertParity(
      TextAnalysis.repetitionSignals(docs, "doc_id", "text"),
      TextAnalysis.repetitionSignalsHof(docs, "doc_id", "text"))
    assertParity(sentenceQuadNative(docs), sentenceQuadHof(docs))
    val staged = docs.select(col("doc_id"), col("text"),
      split(TextAnalysis.normalizeText(col("text")), " ").as("t"))
    val en = TextAnalysis.langStopwords.toMap.apply("en")
    val nu = staged.select(col("doc_id"),
        TextAnalysis.wordShingles(col("text")).as("sh"),
        TextAnalysis.langIdStaged(col("t"), col("text")).as("lang"),
        TextAnalysis.stopwordCount(col("text"), en).as("sw"),
        TextAnalysis.linearScoreRaw(col("t")).as("ls"))
      .orderBy("doc_id").collect().toSeq
    val hof = staged.select(col("doc_id"),
        TextAnalysis.wordShinglesHof(col("text")).as("sh"),
        TextAnalysis.langIdStagedHof(col("t"), col("text")).as("lang"),
        TextAnalysis.stopwordCountHof(col("text"), en).as("sw"),
        TextAnalysis.linearScoreRawHof(col("t")).as("ls"))
      .orderBy("doc_id").collect().toSeq
    assert(nu == hof)
  }

  test("SortedLineJoin == array_join(transform(array_sort(...))) on " +
       "adversarial (idx, line) arrays") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("ls", ArrayType(StructType(Seq(
        StructField("idx", IntegerType, nullable = true),
        StructField("line", StringType, nullable = true))),
        containsNull = true), nullable = true)))
    def e(idx: java.lang.Integer, line: String) = Row(idx, line)
    val rows = Seq(
      Row(1L, Seq(e(2, "b"), e(0, "a"), e(1, "m"))),
      Row(2L, Seq(e(1, null), e(0, "x"), e(2, "y"))),   // null line skipped
      Row(3L, Seq(e(0, ""), e(1, ""), e(2, "end"))),    // empty lines kept
      Row(4L, Seq[Row]()),                              // empty array
      Row(5L, null),                                    // null array
      Row(6L, Seq(e(null, "nullidx"), e(0, "z"))),      // null idx FIRST
      Row(7L, Seq(e(3, "dup"), e(3, "aup"), e(3, "dup"))), // idx ties
      Row(8L, Seq(null, e(0, "solo"))),                 // null struct LAST
      Row(9L, Seq(e(1, "中文"), e(0, "😀 astral"), e(2, " ls"))),
      Row(10L, Seq(e(0, "crlf\r"), e(1, "tab\tkeep"))))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), schema)
    val nu = df.select(col("k"),
        org.apache.spark.sql.GraftBridge.column(
          graft.functions.SortedLineJoin(
            org.apache.spark.sql.GraftBridge.expression(col("ls")),
            "\n")).as("t"))
      .orderBy("k").collect().toSeq
    val hof = df.select(col("k"),
        array_join(transform(array_sort(col("ls")),
          _.getField("line")), "\n").as("t"))
      .orderBy("k").collect().toSeq
    assert(nu == hof, s"\n$nu\n$hof")
  }

  test("interpreted eval path matches codegen (factoryMode toggle)") {
    // the kernels ship BOTH nullSafeEval and doGenCode; normal runs
    // exercise only the generated path, so pin the interpreted one too
    val key = "spark.sql.codegen.factoryMode"
    def run(): Seq[Seq[org.apache.spark.sql.Row]] = Seq(
      TextAnalysis.gopherRules(edgeDocs, "doc_id", "text"),
      TextAnalysis.c4Signals(edgeDocs, "doc_id", "text"),
      TextAnalysis.gopherLineRules(edgeDocs, "doc_id", "text"),
      TextAnalysis.repetitionSignals(edgeDocs, "doc_id", "text"),
      edgeDocs.select(col("doc_id"),
        TextAnalysis.wordShingles(col("text")).as("sh")),
      sentenceQuadNative(edgeDocs))
      .map(_.orderBy("doc_id").collect().toSeq)
    val gen = TestSpark.withConf(key -> "CODEGEN_ONLY")(run())
    val interp = TestSpark.withConf(key -> "NO_CODEGEN")(run())
    assert(gen == interp)
  }

  // ---- semantic-trap pins: if Spark/Java behavior ever shifts, these
  // fail before the parity tests go red for a confusing reason ----

  test("Spark trim() strips only 0x20 (SPARK-17299 pin)") {
    val out = Seq("\rx \t").toDF("s")
      .select(trim(col("s"))).as[String].head()
    assert(out == "\rx \t".stripSuffix(" ") || out == "\rx \t")
    // precise: leading \r kept, trailing \t kept, inner space kept
    val out2 = Seq(" \ra b\t ").toDF("s")
      .select(trim(col("s"))).as[String].head()
    assert(out2 == "\ra b\t")
  }

  test("Java-regex '$' matches before one final line terminator (pin)") {
    val rows = Seq("foo.\r", "foo.\u2028", "foo.\rbar", "foo.")
      .toDF("s").select(col("s").rlike("[.!?\"]$")).as[Boolean]
      .collect().toSeq
    assert(rows == Seq(true, true, false, true))
  }

  test("Spark length() counts code points, not UTF-16 units (pin)") {
    val n = Seq("a😀b").toDF("s")
      .select(length(col("s"))).as[Int].head()
    assert(n == 3)
  }

  test("ellipsis-with-\\s*$ does not skip a non-\\s terminator (pin)") {
    // "...\u2028 " : \s* cannot cross the LS from the right, and '$'
    // before-final-terminator only helps when LS is FINAL
    val rows = Seq("x...\u2028 ", "x...\u2028", "x...  ")
      .toDF("s").select(col("s").rlike("(\\.\\.\\.|…)\\s*$"))
      .as[Boolean].collect().toSeq
    assert(rows == Seq(false, true, true))
  }
}
