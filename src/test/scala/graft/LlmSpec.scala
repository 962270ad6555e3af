package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.llm.{Dedup, Multimodal, Robots, Similarity, TextAnalysis}

class LlmSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  import TestSpark.{stagedOnly, withConf}

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river"),
    (2L, "the quick brown fox jumps over the lazy dog near the river"),
    (3L, "the quick brown fox jumps over the lazy cat near the river"),
    (4L, "completely different content about spark query engines today"),
    (5L, "an unrelated short text"))
    .toDF("doc_id", "text")

  test("exactDedup groups identical normalized content") {
    val out = Dedup.exactDedup(docs, "text", "doc_id")
      .filter($"dup_count" > 1)
      .select($"canonical_id", $"dup_count").as[(Long, Long)].collect()
    assert(out.toSeq == Seq((1L, 2L)))
  }

  test("null-text rows are singletons, never duplicates of each other " +
       "(exactDedup, dedupGroups), and never band together (LSH)") {
    val withNulls = docs.unionByName(Seq(
      (10L, null.asInstanceOf[String]),
      (11L, null.asInstanceOf[String])).toDF("doc_id", "text"))
    // exactDedup: each null doc is its own singleton row with fp null
    val ex = Dedup.exactDedup(withNulls, "text", "doc_id")
      .filter($"fp".isNull)
      .select($"canonical_id", $"dup_count").as[(Long, Long)]
      .collect().toSet
    assert(ex == Set((10L, 1L), (11L, 1L)))
    // dedupGroups: null docs keep their own group ids
    val grp = Dedup.dedupGroups(withNulls, "text", "doc_id")
      .as[(Long, Long)].collect().toMap
    assert(grp(10L) == 10L && grp(11L) == 11L)
    // LSH banding: null signatures produce no candidate pairs (the
    // degenerate xxhash64('') shared bucket would have been m² pairs)
    val pairs = Dedup.minHashDedupPairs(withNulls, "text", "doc_id",
        threshold = 0.5, numHashes = 32, bands = 16)
      .select($"id1", $"id2").as[(Long, Long)].collect().toSet
    assert(!pairs.exists(p => p._1 >= 10L || p._2 >= 10L))
  }

  test("(null text, null id) rows stay distinct singletons — the " +
       "null-sentinel key must not collapse them into one group") {
    val nullId = Seq[(java.lang.Long, String)](
      (null, null), (null, null), (null, null))
      .toDF("doc_id", "text")
    val withNulls = docs
      .withColumn("doc_id", $"doc_id".cast("long")).unionByName(nullId)
    val ex = Dedup.exactDedup(withNulls, "text", "doc_id")
    // three separate singleton rows, not one phantom dup_count=3 group
    val nullRows = ex.filter($"fp".isNull)
      .select($"dup_count").as[Long].collect()
    assert(nullRows.length == 3 && nullRows.forall(_ == 1L),
      s"expected 3 singletons, got ${nullRows.toSeq}")
    // dedupGroups: the three (null,null) rows each surface (id null,
    // group_id null) but remain three ROWS — none swallowed
    val grp = Dedup.dedupGroups(withNulls, "text", "doc_id")
    assert(grp.count() == withNulls.count())
  }

  test("dedupGroups and connectedComponents accept STRING ids " +
       "(no silent long cast nulling them out)") {
    val sdocs = docs.withColumn("doc_id",
      format_string("doc-%03d", $"doc_id"))
    val grp = Dedup.dedupGroups(sdocs, "text", "doc_id")
      .as[(String, String)].collect().toMap
    assert(grp.size == 5 && grp.values.forall(_ != null))
    assert(grp("doc-002") == grp("doc-001"),   // exact dup pair
      s"exact dups must share a group: $grp")
    val comp = Dedup.connectedComponents(
      Seq(("a", "b"), ("b", "c"), ("x", "y")).toDF("id1", "id2"))
      .as[(String, String)].collect().toMap
    assert(comp == Map("a" -> "a", "b" -> "a", "c" -> "a",
      "x" -> "x", "y" -> "x"))
  }

  test("minHashDedupPairs finds near-dups via banded LSH, not all-pairs") {
    val pairs = Dedup.minHashDedupPairs(docs, "text", "doc_id",
        threshold = 0.5, numHashes = 32, bands = 16)
      .select($"id1", $"id2").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))  // exact dup: certain recall
    assert(pairs.contains((1L, 3L)))  // 1-word edit: high jaccard
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("dedupAgainstIndex equals the cross-pairs of a full re-run") {
    val corpus = docs
    val batch = Seq(
      (101L, "the quick brown fox jumps over the lazy dog near the river"),
      (102L, "the quick brown fox jumps over the lazy cat near the river"),
      (103L, "brand new never seen before content entirely"))
      .toDF("doc_id", "text")
    val index = Dedup.minHashBandTable(corpus, "text", "doc_id",
      numHashes = 32, bands = 16)
    val shingles = Dedup.hashedShingleTable(corpus, "text", "doc_id")
    val inc = Dedup.dedupAgainstIndex(batch, "text", "doc_id",
        index, shingles, threshold = 0.5, numHashes = 32, bands = 16)
      .select($"new_id", $"corpus_id", $"jaccard")
      .as[(Long, Long, Double)].collect().toSet
    // reference: full minhash over corpus ∪ batch, restricted to
    // (corpus, batch) cross pairs
    val full = Dedup.minHashDedupPairs(corpus.unionByName(batch),
        "text", "doc_id", threshold = 0.5, numHashes = 32, bands = 16)
      .filter($"id2" >= 101L && $"id1" < 101L)
      .select($"id2", $"id1", $"jaccard")
      .as[(Long, Long, Double)].collect().toSet
    assert(inc == full)
    assert(inc.exists(p => p._1 == 101L && p._2 == 1L && p._3 == 1.0))
    assert(!inc.exists(_._1 == 103L)) // novel content matches nothing
  }

  test("connectedComponents collapses chained pairs to the min label") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L),
                    (20L, 21L), (21L, 22L), (22L, 23L))
      .toDF("id1", "id2")
    val comps = Dedup.connectedComponents(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(comps == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L, 23L -> 20L))
  }

  test("connectedComponents converges on a long chain in log rounds " +
       "(pointer jumping)") {
    // diameter 400 — plain neighbor-min propagation would need ~400
    // rounds and blow the 40-round budget; pointer jumping needs ~9.
    // Descending ids so labels must travel the full chain length.
    // maxRows = 0 forces the DISTRIBUTED loop (the r17 default
    // routes graphs this small through the driver-side union-find).
    val pairs = (1L to 400L).map(i => (1000L - i, 1001L - i))
      .toDF("id1", "id2")
    val comps = withConf(stagedOnly) {
      Dedup.connectedComponents(pairs)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
    }
    assert(comps.length == 401)
    assert(comps.forall(_._2 == 600L))
    // the r17 driver-side union-find (default cutoff) must agree
    // bit-for-bit with the loop on the same chain
    val fast = Dedup.connectedComponents(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(fast.toMap == comps.toMap, "fast path diverged")
    // string ids compare in Spark's own (UTF8 unsigned-byte) order on
    // both paths; a null id falls back to the loop's join semantics
    val spairs = Seq(("b", "a"), ("a", "c"), ("Z", "c"), ("x", "y"))
      .toDF("id1", "id2")
    val sFast = Dedup.connectedComponents(spairs)
      .as[(String, String)].collect().toMap
    val sDist = withConf(stagedOnly) {
      Dedup.connectedComponents(spairs)
        .as[(String, String)].collect().toMap
    }
    assert(sFast == sDist, s"string fast path diverged: $sFast vs $sDist")
    assert(sFast("a") == "Z" && sFast("x") == "x")
  }

  test("connectedComponents non-convergence names how many labels " +
       "were still changing") {
    // path 0-1-…-49: the fused init labels u with u−1, and one
    // propagation+jump round moves every u ≥ 2 to u−2 — 48 changes
    val pairs = (0L until 49L).map(i => (i, i + 1)).toDF("id1", "id2")
    val e = intercept[IllegalStateException] {
      withConf(stagedOnly)(Dedup.connectedComponents(pairs, maxIters = 1))
    }
    assert(e.getMessage.contains("48 labels still changing"),
      e.getMessage)
  }

  test("imageAHash + hamming64Pairs: resize is Hamming-0, one-cell " +
       "perturbation stays in the ball, unrelated patterns stay out") {
    val ids = Seq(3L, 11L, 29L).toDF("id")
    val hashed = Multimodal.imageAHash(Multimodal.asPatternPngTable(ids))
    val hashes = hashed.collect().map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    assert(hashes.size == 9)
    // 2× pixel-doubled resize decodes to identical cell means
    Seq(3L, 11L, 29L).foreach { id =>
      assert(hashes(id) == hashes(id + 5000000L),
        s"resize of $id must hash identically")
    }
    val pairs = Dedup.hamming64Pairs(hashed, "media_id", "ahash", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    // every planted variant pairs with its original...
    Seq(3L, 11L, 29L).foreach { id =>
      assert(pairs.exists(p => p._1 == id && p._2 == id + 5000000L &&
        p._3 == 0))
      assert(pairs.exists(p => p._1 == id && p._2 == id + 6000000L))
    }
    // ...and distinct gradient patterns never cross-match
    def baseOf(x: Long): Long =
      if (x >= 6000000L) x - 6000000L
      else if (x >= 5000000L) x - 5000000L else x
    assert(pairs.forall(p => baseOf(p._1) == baseOf(p._2)))
  }

  test("audioEnvelopeHash + hamming64Pairs: resample is Hamming-0, " +
       "one-cell perturbation stays in the ball") {
    val ids = Seq(4L, 17L, 33L).toDF("id")
    val hashed = Multimodal.audioEnvelopeHash(
      Multimodal.asPatternWavTable(ids))
    val hashes = hashed.collect().map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    assert(hashes.size == 9)
    Seq(4L, 17L, 33L).foreach { id =>
      assert(hashes(id) == hashes(id + 5000000L),
        s"resample of $id must hash identically")
    }
    val pairs = Dedup.hamming64Pairs(hashed, "media_id", "ahash", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    Seq(4L, 17L, 33L).foreach { id =>
      assert(pairs.exists(p => p._1 == id && p._2 == id + 5000000L &&
        p._3 == 0))
      assert(pairs.exists(p => p._1 == id && p._2 == id + 6000000L))
    }
  }

  test("videoSignatureDedup: re-encode and brightness shift collapse " +
       "onto the original; distinct ramps stay apart") {
    val ids = Seq(2L, 9L, 21L).toDF("id")
    val pairs = Multimodal.videoSignatureDedup(
        Multimodal.asPatternY4mTable(ids))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // each id's 3 variants pair 3-choose-2
    Seq(2L, 9L, 21L).foreach { id =>
      assert(pairs.contains((id, id + 5000000L)))
      assert(pairs.contains((id, id + 6000000L)))
      assert(pairs.contains((id + 5000000L, id + 6000000L)))
    }
    assert(pairs.size == 9)
  }

  test("native MinHashSig matches the composed xxhash64 slot-min form " +
       "bit for bit") {
    import org.apache.spark.sql.GraftBridge
    val staged = docs.select($"doc_id",
      transform(array_distinct(TextAnalysis.wordShingles($"text")),
        s => xxhash64(s)).as("hs"))
    val composed = staged.select($"doc_id",
      array((0 until 16).map { i =>
        array_min(transform($"hs", h => xxhash64(lit(i), h)))
      }: _*).as("sig"))
    val native = staged.select($"doc_id",
      GraftBridge.column(graft.functions.MinHashSig(
        GraftBridge.expression($"hs"), 16)).as("sig"))
    val diffs = composed.as("a").join(native.as("b"), "doc_id")
      .filter($"a.sig" =!= $"b.sig").count()
    assert(diffs == 0)
  }

  test("simHash near-identical texts within small hamming distance") {
    val pairs = Dedup.simHashDedupPairs(docs, "text", "doc_id",
        maxHamming = 8)
      .select($"id1", $"id2").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
  }

  test("ngramJaccard: identical=1, disjoint=0") {
    val out = docs.alias("a").join(docs.alias("b"),
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id"),
        Dedup.ngramJaccard(col("a.text"), col("b.text")).as("j"))
      .as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(out((1L, 2L)) == 1.0)
    assert(out((1L, 4L)) == 0.0)
    assert(out((1L, 3L)) > 0.5 && out((1L, 3L)) < 1.0)
  }

  test("cosine and bruteForceTopK rank by similarity") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(-1.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val out = Similarity.bruteForceTopK(vecs,
        vecs.filter($"vec_id" === 0), "embedding", "vec_id", 2)
      .select($"corpus_id", $"rank").as[(Long, Int)].collect().toMap
    assert(out == Map(1L -> 1, 2L -> 2))
  }

  test("a zero corpus vector never ranks: cosine is null, not NaN") {
    // ratio-form cosine gives 0/0 = NaN for a zero vector, and both
    // Spark and DuckDB order NaN ABOVE every number — one all-zero
    // embedding would take rank 1 in every query's top-k. The guarded
    // kernel yields null (sorts last under desc) instead.
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f, 0.0f)),
      (2L, Array(0.0f, 0.0f, 0.0f)),   // zero vector
      (3L, Array(0.5f, 0.5f, 0.0f))).toDF("vec_id", "embedding")
    val out = Similarity.bruteForceTopK(vecs,
        vecs.filter($"vec_id" === 0), "embedding", "vec_id", 2)
      .select($"corpus_id", $"rank").as[(Long, Int)].collect().toMap
    assert(out == Map(1L -> 1, 3L -> 2),
      "the zero vector must not displace genuine neighbors")
  }

  test("embeddingDedupPairs finds exact-copy vectors through LSH") {
    val vecs = Seq(
      (0L, Array.tabulate(8)(i => i.toFloat + 1)),
      (1L, Array.tabulate(8)(i => i.toFloat + 1)),   // copy of 0
      (2L, Array.tabulate(8)(i => -(i.toFloat) - 1)))
      .toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingDedupPairs(vecs, "embedding", "vec_id",
        threshold = 0.99, planes = 8)
      .select($"id1", $"id2").as[(Long, Long)].collect().toSet
    assert(pairs == Set((0L, 1L)))
  }

  test("collocations: hand-computed PMI, min-count filter, tie order") {
    // 6×"x y" + 6×"p q" + 1×"rare pair": N_u = 26, N_b = 13;
    // PMI(x y) = PMI(p q) = ln(6·26·26 / (13·6·6)); "rare pair" (c=1)
    // falls below minCount
    val corpus = ((1 to 6).map(i => (i.toLong, "x y")) ++
      (7 to 12).map(i => (i.toLong, "p q")) ++
      Seq((13L, "rare pair"))).toDF("doc_id", "text")
    val out = graft.llm.TextAnalysis.collocations(corpus, "doc_id", "text",
        minCount = 5L, topK = 10)
      .as[(String, Long, Double)].collect()
    assert(out.map(_._1).toSeq == Seq("p q", "x y")) // rare filtered, bg tie order
    assert(out.forall(_._2 == 6L))
    val exp = math.rint(math.log(6.0 * 26 * 26 / (13 * 6 * 6)) * 1e6) / 1e6
    assert(out.forall(r => math.abs(r._3 - exp) < 1e-9))
  }

  test("c4Signals: hand-computed line/token shapes and content flags") {
    val fixture = Seq(
      (1L, "One two three.\n- bullet\nDone!"),
      (2L, "code { x }"),
      (3L, ""),
      (4L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val out = graft.llm.TextAnalysis.c4Signals(fixture, "doc_id", "text")
      .orderBy("doc_id").collect()
    val r1 = out(0)
    assert(r1.getAs[Int]("n_words") == 6)
    // lines: "One two three." "." terminal, "- bullet" not, "Done!" "!"
    assert(r1.getAs[Double]("term_line_ratio") == math.rint(2.0/3*1e6)/1e6
      || math.abs(r1.getAs[Double]("term_line_ratio") - 0.666667) < 1e-6)
    assert(r1.getAs[Double]("bullet_line_ratio") > 0.33 &&
           r1.getAs[Double]("bullet_line_ratio") < 0.34)
    assert(r1.getAs[Int]("sent_marks") == 2)
    assert(!r1.getAs[Boolean]("has_curly"))
    assert(!r1.getAs[Boolean]("keep")) // n_words < 50
    val r2 = out(1)
    assert(r2.getAs[Boolean]("has_curly") && !r2.getAs[Boolean]("keep"))
    // empty + null rows: all-zero signals, kept=false, no NaNs
    Seq(out(2), out(3)).foreach { r =>
      assert(r.getAs[Int]("n_words") == 0)
      assert(r.getAs[Double]("mean_word_len") == 0.0)
      assert(!r.getAs[Boolean]("keep"))
    }
  }

  test("duplicatePassages finds cross-doc windows, skips short docs") {
    // docs fixture: 1≡2 identical, 3 differs at token 8 ("cat"); with
    // window=6/stride=2 the first window is shared by all three
    val out = Dedup.duplicatePassages(docs, "text", "doc_id",
        window = 6, stride = 2)
      .select($"passage", $"n_docs", $"first_doc")
      .as[(String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out("the quick brown fox jumps over") == ((3L, 1L)))
    // windows touching token 8 split 2 (dog) vs 1 (cat)
    assert(out("brown fox jumps over the lazy") == ((3L, 1L)))
    assert(out.keys.forall(_.split(" ").length == 6))
    // doc 5 (4 tokens < window) contributes nothing: no passage of its
    // text appears
    assert(!out.keys.exists(_.contains("unrelated")))
  }

  test("duplicatePassages equals a naive reference on a random corpus") {
    val rnd = new scala.util.Random(42)
    val vocab = Vector("aa", "bb", "cc", "dd")
    val corpus = (0 until 40).map { i =>
      val n = rnd.nextInt(15)
      (i.toLong, Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val (window, stride) = (3, 2)
    val naive = corpus.flatMap { case (id, text) =>
      val toks = text.split(" ").filter(_.nonEmpty)
      val nw = if (toks.length >= window)
        (toks.length - window) / stride + 1 else 0
      (0 until nw)
        .map(i => toks.slice(i * stride, i * stride + window).mkString(" "))
        .distinct.map(p => (p, id))
    }.groupBy(_._1).view
      .mapValues(v => (v.size.toLong, v.map(_._2).min))
      .filter(_._2._1 >= 2)
      .toMap.map { case (p, (n, f)) => (p, n, f) }.toSet
    val got = Dedup.duplicatePassages(corpus.toDF("doc_id", "text"),
        "text", "doc_id", window, stride)
      .as[(String, Long, Long)].collect().toSet
    assert(got == naive && naive.nonEmpty)
  }

  test("duplicatedSpans merges windows into per-doc islands with offsets") {
    // doc 1 repeats "a b c d e" around a 3-token separator: marked
    // positions {0,1} and {8,9} must merge into TWO spans (gap 8 >
    // 1+k); doc 3 shares the same 5-gram once → one span; doc 2 is
    // all-unique → no rows. Doubled whitespace in doc 3 exercises the
    // normalize step (positions are offsets into the NORMALIZED
    // tokenization).
    val docs = Seq(
      (1L, "a b c d e x y z a b c d e"),
      (2L, "p q r s t u v w"),
      (3L, "m  a b c\nd e n")).toDF("doc_id", "text")
    val got = Dedup.duplicatedSpans(docs, "text", "doc_id", k = 4)
      .as[(Long, Int, Int, Long)].collect().toSet
    assert(got == Set((1L, 0, 4, 2L), (1L, 8, 12, 2L), (3L, 1, 5, 2L)))
    // 64-bit-fingerprint keying is plan-width optimization, not a
    // semantics change
    val fp = Dedup.duplicatedSpans(docs, "text", "doc_id", k = 4,
        byFingerprint = true)
      .as[(Long, Int, Int, Long)].collect().toSet
    assert(fp == got)
  }

  test("duplicatedSpans equals a naive reference on a random corpus") {
    val rnd = new scala.util.Random(7)
    val vocab = Vector("aa", "bb", "cc")
    val corpus = (0 until 30).map { i =>
      val n = rnd.nextInt(12)
      (i.toLong, Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val k = 3
    val wins = corpus.flatMap { case (id, text) =>
      val toks = text.split(" ").filter(_.nonEmpty)
      (0 to toks.length - k).map(p => (toks.slice(p, p + k).mkString(" "), id, p))
    }
    val occ = wins.groupBy(_._1).view.mapValues(_.size).toMap
    val naive = wins.filter(w => occ(w._1) > 1)
      .groupBy(_._2).flatMap { case (id, ws) =>
        val ps = ws.map(_._3).sorted
        // gaps-and-islands: split where the next position exceeds prev+k
        val islands = ps.foldLeft(List.empty[List[Int]]) {
          case (Nil, p)                            => List(List(p))
          case (cur :: done, p) if p <= cur.head + k => (p :: cur) :: done
          case (acc, p)                            => List(p) :: acc
        }
        islands.map(is => (id, is.min, is.max + k - 1, is.size.toLong))
      }.toSet
    val got = Dedup.duplicatedSpans(corpus.toDF("doc_id", "text"),
        "text", "doc_id", k)
      .as[(Long, Int, Int, Long)].collect().toSet
    assert(got == naive && naive.nonEmpty)
  }

  test("cutDuplicatedSpans keeps the first occurrence, cuts the rest, " +
       "passes short docs through") {
    val run = (1 to 8).map(i => s"t$i").mkString(" ")
    val wrun = (1 to 8).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, s"$run u1 u2"),   // global keeper of the t-run
      (2L, s"$run v1 v2"),   // non-keeper: prefix cut, tail survives
      (3L, s"$wrun $wrun"),  // within-doc repeat: 2nd occurrence cut
      (4L, "short doc")      // < k tokens: untouched
    ).toDF("doc_id", "text")
    val got = Dedup.cutDuplicatedSpans(docs, "text", "doc_id", k = 8)
      .as[(Long, String, Int, Long)].collect().toSet
    assert(got == Set(
      (1L, s"$run u1 u2", 10, 0L),
      (2L, "v1 v2", 10, 8L),
      (3L, wrun, 16, 8L),
      (4L, "short doc", 2, 0L)))
    val fp = Dedup.cutDuplicatedSpans(docs, "text", "doc_id", k = 8,
        byFingerprint = true)
      .as[(Long, String, Int, Long)].collect().toSet
    assert(fp == got)
  }

  test("cutDuplicatedSpans and dedupLinesAcrossDocs accept STRING doc " +
       "ids (struct-election fallback, round-4 contract)") {
    val run = (1 to 8).map(i => s"t$i").mkString(" ")
    val docs = Seq(
      ("d1", s"$run u1 u2"),  // keeper of the t-run ("d1" < "d2")
      ("d2", s"$run v1 v2"),  // non-keeper: prefix cut
      ("d4", "short doc")     // < k tokens: untouched
    ).toDF("doc_id", "text")
    val cut = Dedup.cutDuplicatedSpans(docs, "text", "doc_id", k = 8)
      .as[(String, String, Int, Long)].collect().toSet
    assert(cut == Set(
      ("d1", s"$run u1 u2", 10, 0L),
      ("d2", "v1 v2", 10, 8L),
      ("d4", "short doc", 2, 0L)))
    val lined = Seq(
      ("a", "x\ny\nz"),
      ("b", "y\nq")  // "y" already kept by doc "a" (earlier id)
    ).toDF("doc_id", "text")
    val out = Dedup.dedupLinesAcrossDocs(lined, "text", "doc_id")
      .as[(String, String, Long)].collect().toSet
    assert(out == Set(("a", "x\ny\nz", 0L), ("b", "q", 1L)))
  }

  test("cutDuplicatedSpans equals a naive reference on a random corpus") {
    val rnd = new scala.util.Random(11)
    val vocab = Vector("aa", "bb", "cc")
    val corpus = (0 until 30).map { i =>
      val n = rnd.nextInt(12)
      (i.toLong, Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val k = 3
    // split(normalized, " ") keeps one empty token for an empty doc —
    // the naive tokenization mirrors that
    def toks(text: String): Array[String] =
      if (text.isEmpty) Array("") else text.split(" ")
    val wins = corpus.flatMap { case (id, text) =>
      val ts = toks(text)
      if (ts.length < k) Nil
      else (0 to ts.length - k)
        .map(p => (ts.slice(p, p + k).mkString(" "), id, p))
    }
    val occ = wins.groupBy(_._1).view.mapValues(_.size).toMap
    val dups = wins.filter(w => occ(w._1) > 1)
    val keeper = dups.groupBy(_._1).view
      .mapValues(ws => ws.map(w => (w._2, w._3)).min).toMap
    def cover(ws: Seq[(String, Long, Int)]): Set[(Long, Int)] =
      ws.flatMap { case (_, id, p) => (p until p + k).map((id, _)) }.toSet
    val cutSet =
      cover(dups.filter(w => keeper(w._1) != ((w._2, w._3)))) --
      cover(dups.filter(w => keeper(w._1) == ((w._2, w._3))))
    val naive = corpus.map { case (id, text) =>
      val ts = toks(text)
      val keptToks = ts.zipWithIndex
        .filterNot { case (_, i) => cutSet((id, i)) }.map(_._1)
      (id, keptToks.mkString(" "), ts.length,
        (ts.length - keptToks.length).toLong)
    }.toSet
    val got = Dedup.cutDuplicatedSpans(corpus.toDF("doc_id", "text"),
        "text", "doc_id", k)
      .as[(Long, String, Int, Long)].collect().toSet
    assert(got == naive && naive.exists(_._4 > 0))
  }

  test("semanticDedup drops the within-cell near-copy, keeps originals") {
    // 1↦copy of 0 (same cell, cos=1) → removed_by 0; 2 is the antipode
    // (different cell, cos=-1 anyway); 3 orthogonal-ish → kept
    val vecs = Seq(
      (0L, Array.tabulate(8)(i => i.toDouble + 1)),
      (1L, Array.tabulate(8)(i => (i.toDouble + 1) * 2)), // scaled copy
      (2L, Array.tabulate(8)(i => -(i.toDouble) - 1)),
      (3L, Array.tabulate(8)(i => if (i == 0) 1.0 else -1.0)))
      .toDF("vec_id", "embedding")
    val out = Dedup.semanticDedup(vecs, "embedding", "vec_id",
        Similarity.rademacherPlanes(4, 8), threshold = 0.95)
      .select($"id", $"keep", $"removed_by")
      .as[(Long, Boolean, Option[Long])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(0L) == ((true, None)))
    assert(out(1L) == ((false, Some(0L))))
    assert(out(2L) == ((true, None)))
    assert(out(3L) == ((true, None)))
  }

  test("langId picks the language with most stopword hits") {
    val df = Seq(
      "the cat and the dog is in the house",
      "der Hund und die Katze ist nicht ein Tier",
      "el perro y la casa de un gato en la calle",
      "qzx wvu ploki").toDF("text")
    val out = df.select(TextAnalysis.langId($"text")).as[String]
      .collect().toSeq
    assert(out == Seq("en", "de", "es", "und"))
  }

  test("token counts and quality score are deterministic") {
    val df = Seq("The quick fox! It runs.").toDF("text")
    val r = df.select(
      TextAnalysis.tokenCountWs($"text"),
      TextAnalysis.tokenCountBpe($"text"),
      TextAnalysis.punctCount($"text"),
      TextAnalysis.qualityScore($"text"))
      .as[(Int, Int, Int, Double)].head()
    assert(r._1 == 5)       // 5 whitespace tokens
    assert(r._2 == 7)       // 5 words + '!' + '.'
    assert(r._3 == 2)
    assert(r._4 > 0 && r._4 <= 1.0)
  }

  test("fingerprints: md5 stable, rolling fp survives small append") {
    val df = Seq(
      ("a", "one two three four five six seven eight nine ten"),
      ("b", "one two three four five six seven eight nine ten extra"))
      .toDF("id", "text")
    val fps = df.select($"id", TextAnalysis.fingerprint($"text"),
        TextAnalysis.rollingFingerprint($"text"))
      .as[(String, String, String)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(fps("a")._1 != fps("b")._1)   // md5 differs
    // min-shingle sketch usually unchanged by a 1-word append
    assert(fps("a")._2 == fps("b")._2)
  }

  test("multimodal: real PNG payloads decode to the predicted geometry " +
       "and band mean") {
    val media = Multimodal.asPngTable(
      Seq((23L, "x")).toDF("doc_id", "text"), "doc_id")
    val r = Multimodal.extractFeatures(media)
      .as[(Long, Int, Int, Int, Double, Boolean)].head()
    assert(r._1 == 23L && r._6, "ImageIO path must run for PNG payloads")
    assert(r._3 == Multimodal.pngWidth(23L))
    assert(r._4 == Multimodal.pngHeight(23L))
    assert(r._5 ==
      (Multimodal.pngBand1(23L) + Multimodal.pngBand2(23L)) / 2.0)
  }

  test("multimodal: non-image payloads fall back to the deterministic " +
       "stub") {
    val media = Multimodal.asMediaTable(
      Seq((7L, "hello world")).toDF("doc_id", "text"), "doc_id", "text")
    val r = Multimodal.extractFeatures(media, batchSize = 2)
      .as[(Long, Int, Int, Int, Double, Boolean)].head()
    assert(r._1 == 7L && r._2 == 11 && !r._6)
    assert(r._3 == 64 + ('h'.toInt % 64) * 16)
    assert(r._4 == 64 + ('d'.toInt % 64) * 16)
  }

  test("hardNegatives excludes same-label vectors and ranks the rest") {
    val vecs = Seq(
      (0L, 0, Array(1.0, 0.0)),
      (1L, 0, Array(0.99, 0.14)),  // same label: never a negative
      (2L, 1, Array(0.9, 0.43)),   // different label, most similar
      (3L, 1, Array(0.0, 1.0)))    // different label, orthogonal
      .toDF("vec_id", "label", "embedding")
    val out = Similarity.hardNegatives(vecs, vecs.filter($"vec_id" === 0),
        "embedding", "vec_id", "label", 2)
      .select($"corpus_id", $"rank").as[(Long, Int)].collect().toSeq
    assert(out == Seq((2L, 1), (3L, 2)))
  }

  test("annAgainstIndex through a parquet round-trip equals the " +
       "direct IVF path") {
    val vecs = (0L until 40L).map(i =>
      (i, Array.tabulate(8)(d => math.sin(i * 8 + d + 1))))
      .toDF("vec_id", "embedding")
    val cents = Similarity.rademacherPlanes(4, 8)
    val dir = TestSpark.tmpPath("ivfidx").toString
    Similarity.ivfIndexTable(vecs, "embedding", "vec_id", cents)
      .write.mode("overwrite").parquet(dir)
    val qs = vecs.filter($"vec_id" < 3)
    val viaIndex = Similarity.annAgainstIndex(spark.read.parquet(dir),
        qs, "embedding", "vec_id", 5, cents, nProbe = 2)
      .orderBy("query_id", "rank").collect().toSeq
    val direct = Similarity.ivfTopKWith(vecs, qs, "embedding", "vec_id",
        5, cents, nProbe = 2)
      .orderBy("query_id", "rank").collect().toSeq
    assert(viaIndex === direct && viaIndex.nonEmpty)
  }

  test("ivfTopK searches only the query's cell (approximate)") {
    val vecs = (0L until 50L).map(i =>
      (i, Array.tabulate(8)(d => math.sin(i * 7 + d).toFloat)))
      .toDF("vec_id", "embedding")
    val out = Similarity.ivfTopK(vecs, vecs.filter($"vec_id" < 2),
        "embedding", "vec_id", 3)
    assert(out.count() > 0)
  }

  test("resolveNCells: positive pins, 0 auto-sizes ceil(sqrt N) over " +
       "non-null vectors") {
    val vecs = ((0L until 30L).map(i =>
        (i, Array.tabulate(4)(d => math.sin(i + d)))) :+
        (99L, null.asInstanceOf[Array[Double]]))
      .toDF("vec_id", "embedding")
    assert(Similarity.resolveNCells(vecs, "embedding", 8) == 8)
    // 30 non-null rows (the null-vector row must not count) → ceil(√30)=6
    assert(Similarity.resolveNCells(vecs, "embedding", 0) == 6)
    assert(Similarity.resolveNCells(
      vecs.filter(lit(false)), "embedding", 0) == 1)
    intercept[IllegalArgumentException] {
      Similarity.resolveNCells(vecs, "embedding", -1)
    }
  }

  test("dedupGroups: exact members attach through their canonical's " +
       "near-dup component") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),   // exact dup of 1
      (7L, "ALPHA  beta gamma delta epsilon zeta"),  // normalizes to 1
      (3L, "alpha beta gamma delta epsilon theta"),  // near-dup of 1
      (4L, "completely different text goes right here"))
      .toDF("doc_id", "text")
    val got = Dedup.dedupGroups(docs, "text", "doc_id", threshold = 0.5,
        numHashes = 32, bands = 16)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(1L) === 1L && got(2L) === 1L && got(7L) === 1L)
    assert(got(3L) === 1L) // linked via LSH at j≈0.56
    assert(got(4L) === 4L) // singleton keeps its own id
  }

  test("ngramContainment flags a bench doc contained in a train doc") {
    val train = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "totally unrelated words nothing shared here at all"))
      .toDF("doc_id", "text")
    val bench = Seq(
      (100L, "beta gamma delta epsilon"), // all 2 shingles ⊂ doc 1
      (200L, "completely disjoint benchmark content"))
      .toDF("doc_id", "text")
    val got = Dedup.ngramContainment(train, bench, "text", "doc_id", 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    assert(got.toSeq === Seq((1L, 100L, 1.0)))
  }

  test("redactPii masks emails, IPv4s and phones, leaves prose alone") {
    val got = Seq(
      "mail a.b+c@sub.example.org now",
      "host 192.168.0.1 port",
      "call 555-123-4567 today",
      "version 1.2 of file.txt stays"
    ).toDF("t").select(TextAnalysis.redactPii($"t").as("r"))
      .collect().map(_.getString(0))
    assert(got(0) === "mail <EMAIL> now")
    assert(got(1) === "host <IP> port")
    assert(got(2) === "call <PHONE> today")
    assert(got(3) === "version 1.2 of file.txt stays")
  }

  test("hashSplit: deterministic, key-stable, near the target fraction") {
    import graft.ops.Relational
    val ids = (0L until 2000L).toDF("id")
    val a = Relational.hashSplit(ids, $"id", 0.8).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val b = Relational.hashSplit(ids.repartition(7), $"id", 0.8).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(a === b) // repartition-invariant
    val frac = a.values.count(_ == "train").toDouble / a.size
    assert(frac > 0.75 && frac < 0.85)
    // growth-invariant: subset keys keep their assignment
    val sub = Relational.hashSplit((0L until 100L).toDF("id"), $"id", 0.8)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(sub.forall { case (k, v) => a(k) == v })
    // boundary fractions
    val all = Relational.hashSplit(ids, $"id", 1.0).collect()
    assert(all.forall(_.getString(1) == "train"))
    val none = Relational.hashSplit(ids, $"id", 0.0).collect()
    assert(none.forall(_.getString(1) == "test"))
    // null keys route deterministically to "test" (md5 of null is null)
    val withNull = Relational.hashSplit(
      Seq(Some(1L), None).toDF("id"), $"id", 0.8).collect()
      .map(r => (if (r.isNullAt(0)) -1L else r.getLong(0)) ->
        r.getString(1)).toMap
    assert(withNull(-1L) === "test")
  }

  test("repetitionSignals: hand-computed ratios, short-doc edge") {
    val docs = Seq(
      (1L, "a a a a"),            // 4 tokens, 1 distinct; bigrams: "a a"×3
      (2L, "w x y z"),            // all distinct; 3 distinct bigrams
      (3L, "p q p q"),            // dup tokens; bigrams p q, q p, p q
      (4L, "solo")                // 1 token, no bigrams
    ).toDF("doc_id", "text")
    val got = TextAnalysis.repetitionSignals(docs, "doc_id", "text")
      .orderBy("doc_id")
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4)))
    assert(got(0) === ((1L, 4, 0.75, 0.666667, 1.0)))
    assert(got(1) === ((2L, 4, 0.0, 0.0, 0.333333)))
    assert(got(2) === ((3L, 4, 0.5, 0.333333, 0.666667)))
    assert(got(3) === ((4L, 1, 0.0, 0.0, 0.0)))
  }

  test("bigramLogprob: hand-computed MLE with history counts; " +
      "short/null docs absent") {
    val docs = Seq(
      (1L, "a b"),      // bigram "a b"
      (2L, "a c"),      // bigram "a c"
      (5L, "a b a b"),  // bigrams "a b","b a","a b"
      (3L, "solo"),     // no bigrams → absent
      (4L, null)        // null → absent
    ).toDF("doc_id", "text")
    // corpus: c("a b")=3, c("a c")=1, c("b a")=1; histories a:4, b:1
    val got = TextAnalysis.bigramLogprob(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq === Seq(
      (1L, 1L, 0.2877),   // -ln(3/4)
      (2L, 1L, 1.3863),   // -ln(1/4)
      (5L, 3L, 0.1918))) // (2·ln(4/3) + ln(1/1)) / 3
  }

  test("dupNgramRate: cross-doc duplicate shingle fraction; short docs " +
      "fall back to the whole-text shingle") {
    val docs = Seq(
      (1L, "x y z w"),  // shingles "x y z","y z w"
      (2L, "x y z q"),  // shingles "x y z","y z q"
      (3L, "hi"),       // <3 tokens → single shingle "hi"
      (4L, "hi")
    ).toDF("doc_id", "text")
    val got = Dedup.dupNgramRate(docs, "text", "doc_id")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
    assert(got.toSeq === Seq(
      (1L, 2L, 1L, 0.5), (2L, 2L, 1L, 0.5),
      (3L, 1L, 1L, 1.0), (4L, 1L, 1L, 1.0)))
  }

  test("charEntropyProfile: hand-computed nats at code-point grain " +
      "(astral chars count once); empty/null docs absent") {
    val docs = Seq(
      (1L, "aabb"),           // H = ln 2
      (2L, "abab"),           // same distribution, same H
      (3L, "aaaa"),           // single symbol → 0
      (4L, "😀😀"), // U+1F600 ×2: 2 code points, H=0
      (5L, ""), (6L, null)
    ).toDF("doc_id", "text")
    val got = TextAnalysis.charEntropyProfile(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
    assert(got.toSeq === Seq(
      (1L, 4L, 2L, 0.6931), (2L, 4L, 2L, 0.6931),
      (3L, 4L, 1L, 0.0), (4L, 2L, 1L, 0.0)))
  }

  test("text-profile invariants hold over a seeded random corpus: " +
      "entropy ≤ ln(n_unique), dup_rate ∈ [0,1], bigram nll ≥ 0 with " +
      "n_big = n_tok − 1") {
    // fixed-seed corpus: bounded vocab forces real cross-doc overlap
    val rnd = new scala.util.Random(42)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta")
    val docs = (1L to 100L).map { i =>
      val n = 2 + rnd.nextInt(20)
      (i, Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }.toDF("doc_id", "text")

    val ent = TextAnalysis.charEntropyProfile(docs, "doc_id", "text")
      .collect()
    assert(ent.length == 100)
    ent.foreach { r =>
      val (n, u, h) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(h >= 0.0 && h <= math.log(u.toDouble) + 1e-9,
        s"doc ${r.getLong(0)}: H=$h outside [0, ln($u)]")
      assert(u <= n)
    }

    val dup = Dedup.dupNgramRate(docs, "text", "doc_id").collect()
    assert(dup.length == 100)
    dup.foreach { r =>
      val (g, d, rate) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(d <= g && rate >= 0.0 && rate <= 1.0)
    }

    val toksByDoc = docs.select(col("doc_id"),
        size(split(col("text"), " ")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val big = TextAnalysis.bigramLogprob(docs, "doc_id", "text")
      .collect()
    assert(big.length == 100) // every doc has ≥ 2 tokens
    big.foreach { r =>
      assert(r.getLong(1) == toksByDoc(r.getLong(0)) - 1L,
        s"doc ${r.getLong(0)}: n_big")
      // MLE probability ≤ 1 ⇒ −ln ≥ 0 (round(4) can't push below −5e-5)
      assert(r.getDouble(2) >= -5e-5, s"doc ${r.getLong(0)}: nll")
    }
  }

  test("dedupLinesAcrossDocs keeps first occurrences, blank lines, " +
      "original order; fully-stripped docs come back empty") {
    val d = Seq(
      (1L, "alpha\n\nshared line\nunique one"),
      (2L, "shared line\n  \nbeta\nshared line"),
      (3L, "shared line"))
      .toDF("doc_id", "text")
    val out = Dedup.dedupLinesAcrossDocs(d, "text", "doc_id")
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    // doc 1 owns "shared line" (first occurrence) and keeps everything
    assert(out(0) == ((1L, "alpha\n\nshared line\nunique one", 0L)))
    // doc 2: both copies removed (trimmed dup of doc 1's), blanks stay
    assert(out(1) == ((2L, "  \nbeta", 2L)))
    // doc 3: single duplicated line -> empty doc, not a missing row
    assert(out(2) == ((3L, "", 1L)))
  }

  test("dedupLinesAcrossDocs reassembles a pathologically long doc " +
      "correctly in ONE bounded task (max-doc-size contract)") {
    // one 50k-line doc among small docs: reassembly state is that
    // doc's surviving lines in a single group — the documented bound.
    // Lines are all distinct so every one survives; the doc must come
    // back byte-identical, in order, in one pass.
    val big = (0 until 50000).map(i => s"line $i payload").mkString("\n")
    val d = Seq((1L, big), (2L, "line 42 payload\nsmall doc"),
        (3L, "another small doc")).toDF("doc_id", "text")
    val out = Dedup.dedupLinesAcrossDocs(d, "text", "doc_id")
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(out(0) == ((1L, big, 0L)), "big doc must reassemble intact")
    assert(out(1) == ((2L, "small doc", 1L)),
      "doc 2 loses its copy of the big doc's line 42")
    assert(out(2) == ((3L, "another small doc", 0L)))
  }

  test("bloom-prefiltered decontamination equals the exact path " +
      "row-for-row (no false negatives; fpp killed by the verify join)") {
    import org.apache.spark.sql.Row
    val bench = docs.filter($"doc_id" <= 2)
      .select(($"doc_id" + 100).as("doc_id"), $"text")
    def rows(df: org.apache.spark.sql.DataFrame): Set[Row] =
      df.orderBy("train_id", "bench_id").collect().toSet
    val exact = rows(Dedup.ngramContainment(docs, bench, "text",
      "doc_id", threshold = 0.3))
    val bloom = rows(Dedup.ngramContainmentBloom(docs, bench, "text",
      "doc_id", threshold = 0.3))
    assert(exact.nonEmpty)
    assert(bloom == exact)
  }

  test("linearScoreRaw folds exactly the per-token weights (long " +
      "space); logistic maps raw into (0,1) monotonically") {
    val d = Seq((1L, "alpha beta gamma"), (2L, ""), (3L, "alpha"))
      .toDF("doc_id", "text")
    val toks = filter(
      split(TextAnalysis.normalizeText($"text"), " "),
      t => length(t) > 0)
    val got = d.select($"doc_id",
        TextAnalysis.linearScoreRaw(toks).as("raw"),
        TextAnalysis.logistic(TextAnalysis.linearScoreRaw(toks), 1000.0)
          .as("score"))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // independent computation: explode + groupBy sum of tokenWeight
    val ref = d.select($"doc_id", explode(toks).as("t"))
      .select($"doc_id", TextAnalysis.tokenWeight($"t").as("w"))
      .groupBy("doc_id").agg(sum("w").as("raw"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(0)._2 == ref(1L) && got(2)._2 == ref(3L))
    assert(got(1)._2 == 0L && got(1)._3 == 0.5) // empty doc: neutral
    assert(got.forall(g => g._3 > 0.0 && g._3 < 1.0))
    val w = got(2)._2
    assert(got(2)._3 == 1.0 / (1.0 + math.exp(-w / 1000.0)))
  }

  test("randomProject emits outDims components per vector, each the " +
      "scaled signed dot of the deterministic planes") {
    val d = Seq((0L, Array.tabulate(16)(i => (i + 1).toDouble)),
                (1L, Array.fill(16)(0.0)))
      .toDF("vec_id", "embedding")
    val out = Similarity.randomProject(d, "embedding", "vec_id", 4)
      .orderBy("id", "dim").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
    assert(out.length == 8)
    val planes = Similarity.rademacherPlanes(4, 16)
    val v = Array.tabulate(16)(i => (i + 1).toDouble)
    for (j <- 0 until 4) {
      val want = math.round(
        planes(j).zip(v).map { case (r, x) => r * x }.sum / 2.0 * 1e4
      ) / 1e4
      assert(out(j) == ((0L, j, want)))
    }
    assert(out.drop(4).forall(_._3 == 0.0)) // zero vector projects to 0
  }

  test("randomProject on an empty input returns an empty frame with " +
      "the (id, dim, value) schema instead of throwing on the probe") {
    val d = Seq((0L, Array.tabulate(4)(_.toDouble)))
      .toDF("vec_id", "embedding").filter(lit(false))
    val out = Similarity.randomProject(d, "embedding", "vec_id", 4)
    assert(out.columns.toSeq == Seq("id", "dim", "value"))
    assert(out.count() == 0)
  }

  test("ivfTopK and embeddingDedupPairs return empty frames with the " +
      "right schema on empty input (shared probeDims guard)") {
    val empty = Seq((0L, Array.tabulate(4)(_.toDouble)))
      .toDF("vec_id", "embedding").filter(lit(false))
    val ann = Similarity.ivfTopK(empty, empty, "embedding", "vec_id",
      k = 3)
    assert(ann.count() == 0)
    val pairs = Dedup.embeddingDedupPairs(empty, "embedding", "vec_id")
    assert(pairs.columns.toSeq == Seq("id1", "id2", "cos"))
    assert(pairs.count() == 0)
  }

  test("Y4M video decode recovers geometry/frames/mean-luma; non-video " +
      "payloads fall to the labeled stub") {
    val ids = Seq(0L, 7L, 123L).toDF("doc_id")
    val got = Multimodal.videoFeatures(Multimodal.asY4mTable(ids, "doc_id"))
      .orderBy("media_id").collect()
      .map(r => (r.getLong(0), r.getInt(2), r.getInt(3), r.getInt(4),
        r.getDouble(5), r.getDouble(6), r.getBoolean(7)))
    val want = Seq(0L, 7L, 123L).map { id =>
      val n = Multimodal.y4mFrames(id)
      val meanY = (0 until n).map(Multimodal.y4mLuma(id, _)).sum.toDouble / n
      (id, Multimodal.y4mWidth(id), Multimodal.y4mHeight(id), n,
        n * 40.0, math.round(meanY * 1e6) / 1e6, true)
    }
    assert(got.toSeq == want)
    // a non-Y4M payload (UTF-8 text bytes) lands on the stub path
    val stub = Multimodal.videoFeatures(
      Multimodal.asMediaTable(Seq((1L, "not a video")).toDF("id", "t"),
        "id", "t")).head()
    assert(!stub.getBoolean(7) && stub.getInt(4) == 0)
  }

  test("Y4M parser sizes C444/C422/Cmono layouts correctly; a " +
      "truncated payload falls to the stub, never wrong data") {
    import org.apache.spark.sql.Row
    def clip(cs: String, w: Int, h: Int, lumas: Seq[Int]): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      out.write(s"YUV4MPEG2 W$w H$h F30:1 Ip A1:1 $cs\n"
        .getBytes("US-ASCII"))
      val chroma = cs match {
        case "C444"  => 2 * w * h
        case "C422"  => 2 * ((w / 2) * h)
        case "Cmono" => 0
        case _       => 2 * ((w / 2) * (h / 2))
      }
      lumas.foreach { c =>
        out.write("FRAME\n".getBytes("US-ASCII"))
        out.write(Array.fill(w * h)(c.toByte))
        out.write(Array.fill(chroma)(128.toByte))
      }
      out.toByteArray
    }
    val payloads = Seq("C444", "C422", "Cmono")
      .map(cs => clip(cs, 4, 2, Seq(10, 20))) :+
      clip("C420jpeg", 4, 2, Seq(30)).dropRight(1) // truncated frame
    val media = spark.createDataFrame(
      spark.sparkContext.parallelize(payloads.zipWithIndex.map {
        case (p, i) => Row(i.toLong, p, Row("video", 0, 0))
      }), Multimodal.mediaSchema)
    val got = Multimodal.videoFeatures(media).orderBy("media_id")
      .collect()
    for (i <- 0 until 3)
      assert((got(i).getInt(2), got(i).getInt(3), got(i).getInt(4),
        got(i).getDouble(6), got(i).getBoolean(7))
        == ((4, 2, 2, 15.0, true)),
        s"variant ${Seq("C444", "C422", "Cmono")(i)} mis-sized")
    assert(!got(3).getBoolean(7),
      "a truncated payload must land on the stub path")
  }

  test("sampleFrames drives frame_idx from the PARSED Y4M frame count, " +
      "not the size stub") {
    val ids = Seq(5L).toDF("doc_id") // y4mFrames(5) = 3 + 5%6 = 8
    val got = Multimodal.sampleFrames(
        Multimodal.asY4mTable(ids, "doc_id"), stride = 3)
      .orderBy("frame_idx").collect()
      .map(r => (r.getInt(1), r.getInt(2)))
    assert(got.toSeq == Seq((0, 8), (3, 8), (6, 8)),
      "8 parsed frames, stride 3 -> indices 0/3/6; the size stub would " +
        "report hundreds of frames")
  }

  test("WAV audio decode recovers rate/samples/amplitude; non-audio " +
      "payloads fall to the labeled stub") {
    val ids = Seq(0L, 7L, 123L).toDF("doc_id")
    val got = Multimodal.audioFeatures(Multimodal.asWavTable(ids, "doc_id"))
      .orderBy("media_id").collect()
      .map(r => (r.getLong(0), r.getInt(2), r.getLong(3), r.getDouble(5),
        r.getBoolean(6)))
    val want = Seq(0L, 7L, 123L).map { id =>
      (id, Multimodal.wavRate(id), Multimodal.wavSamples(id).toLong,
        (Multimodal.wavAmp1(id) + Multimodal.wavAmp2(id)) / 2.0, true)
    }
    assert(got.toSeq == want)
    val notAudio = Multimodal.audioFeatures(
      Multimodal.asMediaTable(docs, "doc_id", "text")
        .limit(1)).collect()
    assert(notAudio.forall(!_.getBoolean(6)),
      "text payloads must take the stub path, flagged decoded=false")
  }

  test("semanticDedup pre-salts hot cells: salted output equals the " +
      "unsalted form on a one-cell-dominated corpus") {
    import graft.llm.{Dedup, Similarity}
    // ~2k vectors clustered around one direction (one dominant cell),
    // the last 500 exact scaled copies of earlier rows (certain
    // removals at any threshold)
    val base = Array.tabulate(8)(d => math.sin(d + 1.0))
    val vecs = (0 until 2000).map { i =>
      val v =
        if (i >= 1500)
          Array.tabulate(8)(d => 2.0 * (base(d) +
            0.3 * math.sin((i - 1500) * 17.0 + d)))
        else
          Array.tabulate(8)(d => base(d) + 0.3 * math.sin(i * 17.0 + d))
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
    val cents = Similarity.rademacherPlanes(4, 8)
    def run(maxCellRows: Int) =
      Dedup.semanticDedup(vecs, "embedding", "vec_id", cents, 0.995,
          maxCellRows = maxCellRows)
        .orderBy("id").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2),
          if (r.isNullAt(3)) -1L else r.getLong(3)))
    val salted = run(256) // dominant cell splits into ~8 sub-buckets
    val plain = run(Int.MaxValue) // degenerate single-block path
    assert(salted === plain)
    assert(salted.count(!_._3) >= 500, "planted copies must be removed")
    assert(salted.exists(_._3), "distinct rows must survive")
  }

  test("staging dirs are reaped by stagedScope and clearStaged " +
      "(no unbounded tmp growth across batches)") {
    import graft.core.Tables
    def stageDirs: Set[String] =
      Option(new java.io.File(Tables.tmpDir).listFiles()).toSeq.flatten
        .filter(_.getName.startsWith("stage_")).map(_.getName).toSet
    Tables.clearStaged()
    val before = stageDirs
    Tables.stagedScope {
      Dedup.minHashDedupPairs(docs, "text", "doc_id",
        threshold = 0.5, numHashes = 32, bands = 16).collect()
      assert(stageDirs.size > before.size, "scope must see its dirs")
    }
    assert(stageDirs == before, "stagedScope must delete on exit")
    Dedup.minHashDedupPairs(docs, "text", "doc_id",
      threshold = 0.5, numHashes = 32, bands = 16).collect()
    assert(stageDirs.size > before.size)
    Tables.clearStaged()
    assert(stageDirs == before, "clearStaged must reap unscoped dirs")
  }

  test("dedup operators own their cache lifetime: no persisted RDDs " +
      "survive a call (round-3 advisory)") {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    Dedup.minHashDedupPairs(docs, "text", "doc_id",
      threshold = 0.5, numHashes = 32, bands = 16).collect()
    Dedup.dedupGroups(docs, "text", "doc_id",
      threshold = 0.5, numHashes = 32, bands = 16).collect()
    val index = Dedup.minHashBandTable(docs, "text", "doc_id",
      numHashes = 32, bands = 16)
    val sh = Dedup.hashedShingleTable(docs, "text", "doc_id")
    Dedup.dedupAgainstIndex(
      docs.select(($"doc_id" + 100).as("doc_id"), $"text"),
      "text", "doc_id", index, sh,
      threshold = 0.5, numHashes = 32, bands = 16).collect()
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      "an operator left a persisted RDD behind — cache lifetime must " +
        "be owned by the operator, not the caller")
  }

  test("pqEncode: centroid-valued vectors reconstruct exactly; codes " +
      "bounded by k; recall floor holds on the embeddings fixture") {
    import graft.llm.Similarity
    // corpus drawn from {a,b} × {c,d} subvector combos: with k=2 per
    // subspace, Lloyd converges onto the two distinct subvectors
    // (means of identical points), so reconstruction is EXACT
    val a = Seq(1.0f, 0.0f); val b = Seq(0.0f, 1.0f)
    val cc = Seq(2.0f, 2.0f); val d = Seq(-1.0f, 3.0f)
    val vecs = (for {
      (s1, i) <- Seq(a, b).zipWithIndex
      (s2, j) <- Seq(cc, d).zipWithIndex
      r <- 0 until 3
    } yield ((i * 2 + j) * 3L + r, s1 ++ s2)).toDF("vec_id", "embedding")
    val cb = Similarity.pqCodebooks(vecs, "embedding", "vec_id",
      m = 2, k = 2, sampleN = 100, iters = 10)
    assert(cb.length == 2 && cb.forall(_.length == 2) &&
      cb.forall(_.forall(_.length == 2)))
    val enc = Similarity.pqEncode(vecs, "embedding", "vec_id", cb)
      .orderBy("vec_id")
      .as[(Long, Seq[Int], Seq[Double])].collect()
    val orig = vecs.orderBy("vec_id")
      .as[(Long, Seq[Float])].collect().map(r => r._1 -> r._2).toMap
    enc.foreach { case (id, codes, recon) =>
      assert(codes.length == 2 && codes.forall(c => c >= 0 && c < 2))
      val o = orig(id).map(_.toDouble)
      assert(recon.zip(o).forall { case (x, y) =>
        math.abs(x - y) < 1e-9 }, s"vec $id recon $recon != $o")
    }
  }

  test("marginMine: the ratio margin suppresses the hub that raw " +
      "cosine top-1 picks") {
    import graft.llm.Similarity
    // B side: y_hub sits closer to the query x1 (cos 0.9 vs 0.85) BUT
    // is also near-identical to every A-side filler — its backward
    // neighborhood mean is ~0.97, so its margin denominator blows up;
    // y_true's backward neighborhood is cool. Raw cosine picks the
    // hub; the margin criterion must pick the true pair.
    val aSide = Seq(
      (0L, Seq(1.0, 0.0, 0.0)),             // x1 (the query)
      (2L, Seq(0.90, 0.44, 0.01)),          // fillers hugging the hub
      (4L, Seq(0.89, 0.45, 0.0)),
      (6L, Seq(0.91, 0.43, -0.01))).toDF("vec_id", "embedding")
    val bSide = Seq(
      (1L, Seq(0.85, 0.0, 0.5268)),         // y_true
      (3L, Seq(0.9, math.sqrt(0.19), 0.0))) // y_hub
      .toDF("vec_id", "embedding")
    val out = Similarity.marginMine(aSide, bSide,
        aSide.filter(col("vec_id") === 0L), "embedding", "vec_id", 4)
      .as[(Long, Long, Double, Double)].collect()
      .map(r => r._2 -> ((r._3, r._4))).toMap
    assert(out.keySet == Set(1L, 3L))
    val (cosTrue, mTrue) = out(1L)
    val (cosHub, mHub) = out(3L)
    assert(cosHub > cosTrue, s"fixture: hub must win raw cosine " +
      s"($cosHub vs $cosTrue)")
    assert(mTrue > mHub, s"margin must flip to the true pair " +
      s"($mTrue vs $mHub)")
    assert(mTrue > 1.0 && mHub < 1.0, s"margins: $mTrue / $mHub")
  }

  test("sqIndexTable/annAgainstSqIndex: codes-domain shortlist equals " +
      "raw ranking when quantization is exact; corrupt rows never " +
      "index") {
    import graft.llm.Similarity
    // max |x| = 127 ⇒ scale = 1 exactly ⇒ codes = x for integer
    // components, so the code-domain scan must reproduce the raw
    // ranking bit-for-bit (the scale-cancellation property with zero
    // quantization noise)
    val vecs = Seq(
      (0L, Seq(127.0, 0.0, 5.0)),
      (1L, Seq(126.0, 3.0, 127.0)),
      (2L, Seq(-127.0, 30.0, 1.0)),
      (3L, Seq(100.0, 100.0, 127.0)),
      (4L, Seq(0.0, 127.0, 64.0))).toDF("vec_id", "embedding")
    val idx = Similarity.sqIndexTable(vecs, "embedding", "vec_id")
    idx.select("scale").as[Double].collect()
      .foreach(s => assert(s == 1.0))
    val q = vecs.filter(col("vec_id") < 2)
    val sq = Similarity.annAgainstSqIndex(idx, vecs, q,
        "embedding", "vec_id", 3)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Int, Double)].collect().toSeq
    val brute = Similarity.bruteForceTopK(vecs, q,
        "embedding", "vec_id", 3)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Int, Double)].collect().toSeq
    assert(sq == brute, s"sq8 $sq != brute $brute")
    // a null vector has no code representation — excluded, not nulled
    val withNull = vecs.unionByName(
      Seq((9L, Option.empty[Seq[Double]])).toDF("vec_id", "embedding"))
    assert(Similarity.sqIndexTable(withNull, "embedding", "vec_id")
      .filter(col("corpus_id") === 9L).count() == 0)
  }

  test("pqCodebooks: fewer distinct subvectors than k pads explicitly " +
      "instead of silently re-picking index 0, and encode stays exact") {
    import graft.llm.Similarity
    // only TWO distinct subvectors per subspace but k=4: farthest-first
    // exhausts the distinct points after 2 picks (all remaining bestD
    // are 0) — the guard must stop there and pad, and the pads must be
    // inert (ties resolve to the lowest code, Lloyd leaves count-0
    // slots untouched)
    val a = Seq(1.0f, 0.0f); val b = Seq(0.0f, 1.0f)
    val vecs = (0 until 12).map(i =>
      (i.toLong, (if (i % 2 == 0) a else b) ++ (if (i % 3 == 0) a else b)))
      .toDF("vec_id", "embedding")
    val cb = Similarity.pqCodebooks(vecs, "embedding", "vec_id",
      m = 2, k = 4, sampleN = 100, iters = 5)
    assert(cb.length == 2 && cb.forall(_.length == 4))
    cb.foreach { book =>
      // the two data subvectors are both present…
      assert(book.toSet.intersect(
        Set(Seq(1.0, 0.0), Seq(0.0, 1.0))).size == 2,
        s"codebook lost a distinct subvector: $book")
      // …and every entry is one of them (pads are copies, not garbage)
      assert(book.toSet.subsetOf(Set(Seq(1.0, 0.0), Seq(0.0, 1.0))))
    }
    val enc = Similarity.pqEncode(vecs, "embedding", "vec_id", cb)
      .orderBy("vec_id").as[(Long, Seq[Int], Seq[Double])].collect()
    val orig = vecs.orderBy("vec_id").as[(Long, Seq[Float])]
      .collect().map(r => r._1 -> r._2.map(_.toDouble)).toMap
    enc.foreach { case (id, codes, recon) =>
      assert(recon == orig(id), s"vec $id: degenerate corpus must " +
        s"reconstruct exactly, got $recon")
      assert(codes.forall(c => c >= 0 && c < 4))
    }
  }

  test("PqEncodeCodes matches a Scala reference argmin on every vector " +
      "and recon is exactly the concatenated codebook entries") {
    import graft.llm.Similarity
    // deterministic pseudo-random 8-dim vectors (no Random: fixture
    // must be replayable)
    val vecs = (0 until 60).map(i => (i.toLong,
      (0 until 8).map(j => (((i * 31 + j * 17) % 13) - 6).toFloat / 3f)))
      .toDF("vec_id", "embedding")
    val cb = Similarity.pqCodebooks(vecs, "embedding", "vec_id",
      m = 2, k = 4, sampleN = 100, iters = 6)
    val out = Similarity.pqEncode(vecs, "embedding", "vec_id", cb)
      .orderBy("vec_id")
      .as[(Long, Seq[Int], Seq[Double])].collect()
    val orig = vecs.orderBy("vec_id").as[(Long, Seq[Float])]
      .collect().map(r => r._1 -> r._2.map(_.toDouble)).toMap
    def refCode(sub: Seq[Double], mi: Int): Int =
      cb(mi).zipWithIndex.minBy { case (c, ci) =>
        (c.zip(sub).map { case (x, y) => (x - y) * (x - y) }.sum, ci)
      }._2
    out.foreach { case (id, codes, recon) =>
      val v = orig(id)
      (0 until 2).foreach { mi =>
        val sub = v.slice(mi * 4, mi * 4 + 4)
        assert(codes(mi) == refCode(sub, mi),
          s"vec $id subspace $mi: native ${codes(mi)} != reference")
        assert(recon.slice(mi * 4, mi * 4 + 4) == cb(mi)(codes(mi)),
          s"vec $id subspace $mi: recon is not the chosen centroid")
      }
    }
  }

  test("pqEncode fused recon == zip_with baseline, including the " +
      "ragged-vector NULL contract") {
    import graft.llm.Similarity
    val vecs = ((0 until 40).map(i => (i.toLong,
        (0 until 8).map(j => (((i * 7 + j * 5) % 11) - 5).toFloat / 2f)))
      :+ (99L, Seq(1.0f, 2.0f)))               // ragged: length != m·subDim
      .toDF("vec_id", "embedding")
    val cb = Similarity.pqCodebooks(
      vecs.filter($"vec_id" < 99), "embedding", "vec_id",
      m = 2, k = 4, sampleN = 100, iters = 4)
    val nu = Similarity.pqEncode(vecs, "embedding", "vec_id", cb)
      .orderBy("vec_id").collect().toSeq
    val hof = Similarity.pqEncodeHof(vecs, "embedding", "vec_id", cb)
      .orderBy("vec_id").collect().toSeq
    assert(nu == hof)
    assert(nu.last.isNullAt(1) && nu.last.isNullAt(2),
      "ragged vector must yield null codes AND null recon")
  }

  test("gopherLineRules: dup-line/char fractions count every copy; " +
      "bullet and ellipsis fractions gate; empty doc passes vacuously") {
    import graft.llm.TextAnalysis
    val docs = Seq(
      // 4 lines, 'dup' twice → dup_line_frac 0.5 (both copies), chars:
      // dup 2*3=6 of 3+3+10+8=24 → 0.25
      (1L, "dup\ndup\nunique one\nsolo row"),
      // 3 lines: 2 bullets (0.667 ≤ 0.9 ok), 1 ellipsis end (0.333 > 0.3)
      (2L, "- a point\n* another\nit trails ..."),
      (3L, ""),
      (4L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val out = TextAnalysis.gopherLineRules(docs, "doc_id", "text")
      .orderBy("doc_id")
      .select($"doc_id", $"n_lines", $"dup_line_frac", $"dup_char_frac",
        $"bullet_frac", $"ellipsis_frac", $"pass")
      .as[(Long, Long, Double, Double, Double, Double, Boolean)]
      .collect().map(r => r._1 -> r).toMap
    assert(out(1L)._2 == 4L && out(1L)._3 == 0.5 && out(1L)._4 == 0.25
      && !out(1L)._7, s"doc1: ${out(1L)}")
    assert(out(2L)._2 == 3L && out(2L)._5 == 0.666667 &&
      out(2L)._6 == 0.333333 && !out(2L)._7, s"doc2: ${out(2L)}")
    assert(out(3L)._2 == 0L && out(3L)._7, "empty passes vacuously")
    assert(out(4L)._2 == 0L && out(4L)._7, "null passes vacuously")
  }

  test("gopherRules: each rule gates on its documented threshold; " +
      "empty/null text fails closed with zeroed signals") {
    import graft.llm.TextAnalysis
    // 50 words incl. >=2 stop words, mean len in [3,10], alphabetic
    val good = (Seq("the", "with") ++
      (1 to 48).map(i => s"word$i")).mkString(" ")
    val docs = Seq(
      (1L, good),                        // passes all five
      (2L, "too short to pass"),         // fails word count
      (3L, good + " " + Seq.fill(10)("# ### ...").mkString(" ")),
      (4L, ""),                          // fails closed, zero signals
      (5L, null.asInstanceOf[String]))   // null behaves like empty
      .toDF("doc_id", "text")
    val out = TextAnalysis.gopherRules(docs, "doc_id", "text")
      .orderBy("doc_id")
      .select($"doc_id", $"n_words", $"symbol_ratio", $"r_word_count",
        $"r_symbol_ratio", $"r_stop_words", $"pass")
      .as[(Long, Long, Double, Boolean, Boolean, Boolean, Boolean)]
      .collect().toSeq
    val byId = out.map(r => r._1 -> r).toMap
    assert(byId(1L)._4 && byId(1L)._6 && byId(1L)._7, "good doc passes")
    assert(!byId(2L)._4 && !byId(2L)._7, "short doc fails word count")
    // doc 3: 10 reps of "# ### ..." add 30 words, 40 '#' chars and 10
    // '...'-triples → 50 symbol hits over 80 words = 0.625 > 0.1
    assert(byId(3L)._2 == 80L && byId(3L)._3 == 0.625 && !byId(3L)._5 &&
      !byId(3L)._7, s"symbol-heavy doc fails: ${byId(3L)}")
    assert(byId(4L)._2 == 0L && !byId(4L)._7, "empty fails closed")
    assert(byId(5L)._2 == 0L && !byId(5L)._7, "null fails closed")
  }
  test("robotsFilter: longest prefix wins, equal length ties to Allow, " +
       "unmatched and unlisted URLs default to allowed") {
    import spark.implicits._
    val urls = Seq(
      (1L, "a.com", "/a/deep/page"),   // /a allow vs /a/deep disallow
      (2L, "a.com", "/a/top"),         // /a allow vs /a disallow: tie
      (3L, "a.com", "/elsewhere"),     // no rule matches → allowed
      (4L, "b.org", "/a/deep/page"))   // host unlisted → allowed
      .toDF("id", "host", "path")
    val rules = Seq(
      ("a.com", true, "/a"),
      ("a.com", false, "/a"),          // equal-length tie → Allow
      ("a.com", false, "/a/deep"))     // longer disallow wins on deep
      .toDF("host", "allow", "prefix")
    val out = Robots.robotsFilter(urls, "id", rules)
      .select($"id", $"allowed")
      .as[(Long, Boolean)].collect().toMap
    assert(out == Map(1L -> false, 2L -> true, 3L -> true, 4L -> true))
  }

  test("ngramNovelty: verbatim re-crawl scores 0, unseen doc scores 1, " +
       "extension scores strictly between") {
    import spark.implicits._
    val old = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six seven"))
      .toDF("doc_id", "text")
    val nw = Seq(
      (11L, "alpha beta gamma delta epsilon zeta"),       // verbatim
      (12L, "totally unseen shingle stream here now"),    // all new
      (13L, "one two three four five six seven plus new tail words"))
      .toDF("doc_id", "text")
    val out = Dedup.ngramNovelty(old, nw, "text", "doc_id")
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(out(11L)._4 == 0.0, s"verbatim re-crawl: ${out(11L)}")
    assert(out(12L)._4 == 1.0, s"fully novel doc: ${out(12L)}")
    // doc 13: 9 trigrams over 11 tokens, the 5 old ones seen → 4 novel
    assert(out(13L)._2 == 9L && out(13L)._3 == 4L,
      s"extended doc counts: ${out(13L)}")
  }

  test("dropReasons: failed rules only, passing docs emit nothing, " +
       "empty doc fails everything but symbol_ratio") {
    import spark.implicits._
    val good = ("pass " * 30 +
      "the be to of and that have with more words here ") * 2
    val docs = Seq((1L, good), (2L, ""), (3L, "#### ### ## " * 20))
      .toDF("doc_id", "text")
    val out = TextAnalysis.dropReasons(docs, "doc_id", "text")
      .as[(Long, String)].collect().toSeq.sorted
    assert(!out.exists(_._1 == 1L), s"clean doc got reasons: $out")
    // empty: 0 words fails count/mean/alpha/stop; symbol_ratio 0 passes
    assert(out.filter(_._1 == 2L).map(_._2) == Seq("r_alpha_words",
      "r_mean_word_len", "r_stop_words", "r_word_count"))
    // symbol soup: every '#' word fails symbol ratio + alpha + stops
    val r3 = out.filter(_._1 == 3L).map(_._2)
    assert(r3.contains("r_symbol_ratio") && r3.contains("r_alpha_words"))
  }

  test("keepBestPerGroup: max score wins, ties elect min id, all-null " +
       "score groups survive") {
    import spark.implicits._
    val docs = Seq(
      (1L, Some(5)),  // group 1: id 2 has the higher score
      (2L, Some(9)),
      (3L, Some(7)),  // group 3: tie on score -> min id 3
      (4L, Some(7)),
      (5L, None: Option[Int]),  // group 5: all scores null -> min id
      (6L, None: Option[Int]),
      (7L, Some(4)))            // singleton
      .toDF("id", "score")
    val groups = Seq((1L, 1L), (2L, 1L), (3L, 3L), (4L, 3L),
      (5L, 5L), (6L, 5L), (7L, 7L)).toDF("id", "group_id")
    val out = Dedup.keepBestPerGroup(docs, "id", col("score"), groups)
      .orderBy("group_id")
      .as[(Long, Long, Option[Int], Long)].collect().toSeq
    assert(out == Seq(
      (1L, 2L, Some(9), 2L),
      (3L, 3L, Some(7), 2L),
      (5L, 5L, None, 2L),
      (7L, 7L, Some(4), 1L)))
  }

  test("exactNgramContamination flags docs sharing an exact n-gram, " +
       "counts distinct gram hits, and matches short docs whole-text") {
    val train = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "zeta eta theta iota kappa"),
      (3L, "tiny doc")).toDF("doc_id", "text")
    val bench = Seq(
      (10L, "x alpha beta gamma y"),
      (11L, "tiny doc")).toDF("doc_id", "text")
    val out = Dedup.exactNgramContamination(train, bench, "text",
        "doc_id", n = 3)
      .orderBy("train_id")
      .as[(Long, Long, Long, Double)].collect().toSeq
    // doc 1: grams {alpha beta gamma, beta gamma delta, gamma delta
    // epsilon}, one matches → 1/3; doc 2 clean (absent); doc 3 under
    // n words: whole normalized text matches bench 11's → 1/1
    assert(out == Seq((1L, 1L, 3L, 0.333333), (3L, 1L, 1L, 1.0)))
    // zero-token docs drop from BOTH gram sides: an empty/whitespace/
    // null benchmark doc must not turn every empty train doc into a
    // 100%-contaminated hit via the empty-string gram (r14 ADVICE #3)
    val trainE = train.unionByName(
      Seq((4L, ""), (5L, "   "), (6L, null.asInstanceOf[String]))
        .toDF("doc_id", "text"))
    val benchE = bench.unionByName(
      Seq((12L, "")).toDF("doc_id", "text"))
    val outE = Dedup.exactNgramContamination(trainE, benchE, "text",
        "doc_id", n = 3)
      .orderBy("train_id")
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(outE == Seq((1L, 1L, 3L, 0.333333), (3L, 1L, 1L, 1.0)),
      s"empty docs must not contaminate: $outE")
  }

  test("bm25TopK maxDfFrac drops a stopword term: guarded run equals " +
       "the run that never asked for it") {
    // "the" appears in docs 1-3 of 5 → df/N = 0.6 > the 0.5 default,
    // so the guard must drop it; "spark" (df 1) must survive. Dropping
    // by guard must be EXACTLY equivalent to never including the term
    // — same candidates, same scores, same ranks.
    val qt = Seq((0L, "the"), (0L, "spark")).toDF("query_id", "term")
    val qtNoStop = Seq((0L, "spark")).toDF("query_id", "term")
    val guarded = TextAnalysis.bm25TopK(docs, "doc_id", "text", qt, 5)
      .orderBy("rank").collect().toSeq
    val reference = TextAnalysis.bm25TopK(docs, "doc_id", "text",
        qtNoStop, 5, maxDfFrac = 1.0)
      .orderBy("rank").collect().toSeq
    assert(guarded == reference && guarded.nonEmpty)
    // with the guard disabled the stopword's posting list floods the
    // candidate set: every "the"-bearing doc becomes a candidate
    // (docs 1-3) on top of the one genuine "spark" match
    val unguarded = TextAnalysis.bm25TopK(docs, "doc_id", "text", qt, 5,
      maxDfFrac = 1.0)
    assert(unguarded.count() == 4 && guarded.size == 1)
    intercept[IllegalArgumentException] {
      TextAnalysis.bm25TopK(docs, "doc_id", "text", qt, 5,
        maxDfFrac = 0.0)
    }
    // the few-queries contract is CODE, not convention (r13 watch):
    // two distinct query ids against maxQueries = 1 fail loudly
    intercept[IllegalArgumentException] {
      TextAnalysis.bm25TopK(docs, "doc_id", "text",
        Seq((0L, "spark"), (1L, "the")).toDF("query_id", "term"), 5,
        maxQueries = 1L)
    }
    // and marginMine's query side carries the same guard
    val vs = Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0)),
      (2L, Seq(0.5, 0.5))).toDF("vec_id", "embedding")
    intercept[IllegalArgumentException] {
      graft.llm.Similarity.marginMine(vs, vs,
        vs.filter(col("vec_id") < 2), "embedding", "vec_id", 1,
        maxQueries = 1L)
    }
  }
}
