package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamOps

class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("windowedCounts over AvailableNow micro-batch matches batch agg") {
    val dir = TestSpark.tmpPath("stream_in").toString
    val batch = Seq(
      ("2024-01-01 00:10:00", "click", 1.0),
      ("2024-01-01 00:20:00", "click", 2.0),
      ("2024-01-01 01:05:00", "view", 3.0))
      .toDF("ts_s", "event_type", "value")
      .select(to_timestamp($"ts_s").as("ts"), $"event_type", $"value")
    batch.write.mode("overwrite").parquet(dir)

    val stream = StreamOps.readTableStream(spark, dir, batch.schema)
    val agg = StreamOps.windowedCounts(stream, "ts", "event_type",
      "1 hour", "2 hours")
    StreamOps.runAvailableNowToMemory(agg, "wc_test")

    val rows = spark.sql(
      "SELECT event_type, cnt FROM wc_test ORDER BY event_type")
      .as[(String, Long)].collect().toSeq
    assert(rows == Seq(("click", 2L), ("view", 1L)))
  }

  test("availableNowWithRng: _rng commit log records each batch's range") {
    val base = TestSpark.tmpPath("stream_rng")
    val in = base.resolve("in").toString
    val sink = base.resolve("sink").toString
    val rng = base.resolve("rng").toString
    val batch = Seq(("2024-01-01", 1.0), ("2024-01-03", 2.0),
        ("2024-01-02", 3.0))
      .toDF("dt", "v")
    batch.write.mode("overwrite").parquet(in)

    val stream = StreamOps.readTableStream(spark, in, batch.schema)
    StreamOps.availableNowWithRng(stream, "dt", rng) { b =>
      b.write.mode("append").parquet(sink)
    }
    assert(spark.read.parquet(sink).count() === 3)
    val r = spark.read.parquet(rng)
      .agg(min($"dw_bgn_dt"), max($"dw_end_dt"), sum($"dw_ld_cnt"))
      .first()
    assert(r.getString(0) === "2024-01-01")
    assert(r.getString(1) === "2024-01-03")
    assert(r.getLong(2) === 3L)
  }

  test("availableNowWithRng with a checkpoint: a restart resumes after " +
       "the committed batch instead of replaying all input") {
    val base = TestSpark.tmpPath("stream_rng_ckpt")
    val in = base.resolve("in").toString
    val sink = base.resolve("sink").toString
    val rng = base.resolve("rng").toString
    val ckpt = base.resolve("ckpt").toString
    val batch = Seq(("2024-02-01", 1.0)).toDF("dt", "v")
    batch.write.mode("overwrite").parquet(in)
    def run(): Unit = StreamOps.availableNowWithRng(
        StreamOps.readTableStream(spark, in, batch.schema), "dt", rng,
        checkpoint = Some(ckpt)) { b =>
      b.write.mode("append").parquet(sink)
    }
    run()
    run() // same checkpoint: no new input → nothing re-appended
    assert(spark.read.parquet(sink).count() === 1,
      "a checkpointed restart must not replay the committed batch")
    assert(spark.read.parquet(rng).count() === 1)
    // new input after the restart IS picked up
    Seq(("2024-02-02", 2.0)).toDF("dt", "v")
      .write.mode("append").parquet(in)
    run()
    assert(spark.read.parquet(sink).count() === 2)
  }

  test("sessionizedAgg: streaming session windows match the batch form") {
    val dir = TestSpark.tmpPath("stream_sess").toString
    val batch = Seq(
      ("2024-01-01 00:00:00", 1L, 1.0),
      ("2024-01-01 00:10:00", 1L, 2.0), // 10 m gap → same session
      ("2024-01-01 02:00:00", 1L, 3.0), // > 30 m gap → new session
      ("2024-01-01 00:05:00", 2L, 4.0))
      .toDF("ts_s", "user_id", "value")
      .select(to_timestamp($"ts_s").as("ts"), $"user_id", $"value")
    batch.write.mode("overwrite").parquet(dir)

    val stream = StreamOps.readTableStream(spark, dir, batch.schema)
    val agg = StreamOps.sessionizedAgg(stream, "ts", "user_id",
      "30 minutes", Some("1 hour"))
    StreamOps.runAvailableNowToMemory(agg, "sess_test")
    val streamed = spark.sql(
      "SELECT user_id, session_start, cnt, CAST(sum_val AS STRING) " +
      "FROM sess_test ORDER BY user_id, session_start").collect().toSeq

    val batched = StreamOps.sessionizedAgg(batch, "ts", "user_id",
        "30 minutes")
      .select($"user_id", $"session_start", $"cnt",
        $"sum_val".cast("string"))
      .orderBy("user_id", "session_start").collect().toSeq
    assert(streamed === batched)
    assert(batched.map(r => (r.getLong(0), r.getLong(2))) ===
      Seq((1L, 2L), (1L, 1L), (2L, 1L)))
  }

  test("c4Signals cleaning runs unchanged on a document stream") {
    val dir = TestSpark.tmpPath("stream_c4").toString
    val keeper = (1 to 60).map(i => s"word$i").mkString(" ")
    val batch = Seq((1L, keeper), (2L, "too short"),
      (3L, "lorem ipsum " + keeper)).toDF("doc_id", "text")
    batch.write.mode("overwrite").parquet(dir)
    val stream = StreamOps.readTableStream(spark, dir, batch.schema)
    val cleaned = graft.llm.TextAnalysis
      .c4Signals(stream, "doc_id", "text").filter($"keep")
    StreamOps.runAvailableNowToMemory(cleaned.select($"doc_id"), "c4_test",
      mode = "append")
    val streamed = spark.sql("SELECT doc_id FROM c4_test ORDER BY doc_id")
      .as[Long].collect().toSeq
    val batched = graft.llm.TextAnalysis.c4Signals(batch, "doc_id", "text")
      .filter($"keep").select($"doc_id").orderBy("doc_id")
      .as[Long].collect().toSeq
    assert(streamed === batched)
    assert(batched === Seq(1L)) // 2: <50 words; 3: lorem flag
  }

  test("streamingDedup suppresses duplicate fingerprints with " +
       "watermark-bounded state") {
    val dir = TestSpark.tmpPath("stream_dd").toString
    val batch = Seq(
      ("2024-01-01 00:10:00", "the same document text"),
      ("2024-01-01 00:20:00", "THE  SAME document   text"), // normalizes equal
      ("2024-01-01 00:30:00", "a different document"))
      .toDF("ts_s", "text")
      .select(to_timestamp($"ts_s").as("ts"), $"text")
    batch.write.mode("overwrite").parquet(dir)

    val stream = StreamOps.readTableStream(spark, dir, batch.schema)
    val dd = StreamOps.streamingDedup(stream, "ts", "text", "1 hour")
    StreamOps.runAvailableNowToMemory(dd, "dd_test", mode = "append")

    val n = spark.sql("SELECT count(DISTINCT fp) c, count(*) n FROM dd_test")
      .as[(Long, Long)].head()
    assert(n == ((2L, 2L)), "3 inputs, 2 distinct contents -> 2 rows")
  }

  test("continuousDedupIngest: batches dedup against the growing " +
       "table-backed index") {
    val base = TestSpark.tmpPath("cdi").toString
    val corpus = s"$base/corpus"; val idx = s"$base/index"
    val sh = s"$base/shingles"; val in = s"$base/in"
    // seed: batch 1 lands alone (no index yet)
    Seq((1L, "the quick brown fox jumps over the lazy dog tonight"),
        (2L, "completely unrelated seed content about spark engines"))
      .toDF("doc_id", "text").write.parquet(in)
    val schema = spark.read.parquet(in).schema
    StreamOps.continuousDedupIngest(
      StreamOps.readTableStream(spark, in, schema),
      "text", "doc_id", corpus, idx, sh)
    assert(spark.read.parquet(corpus).count() == 2)
    // batch 2: an exact dup of doc 1, an internal dup pair, a novel doc
    Seq((10L, "the quick brown fox jumps over the lazy dog tonight"),
        (11L, "twin content issued twice inside one batch today"),
        (12L, "twin content issued twice inside one batch today"),
        (13L, "genuinely new material never before seen anywhere"))
      .toDF("doc_id", "text").write.mode("append").parquet(in)
    StreamOps.continuousDedupIngest(
      StreamOps.readTableStream(spark, in, schema),
      "text", "doc_id", corpus, idx, sh)
    // NB: without a checkpoint the second run replays docs 1-2 too —
    // they self-suppress against the index, proving replay safety
    val ids = spark.read.parquet(corpus)
      .select("doc_id").as[Long].collect().toSet
    assert(ids == Set(1L, 2L, 11L, 13L),
      s"10 (corpus dup) and 12 (intra-batch dup) must be suppressed: $ids")
    // the index grew with the survivors
    assert(spark.read.parquet(idx).select("id").distinct().count() == 4)
  }

  test("continuousDecontamIngest: verdicts match the batch screen, " +
       "replay adds nothing, the gram table heals if missing") {
    import graft.llm.Dedup
    val base = TestSpark.tmpPath("cdci").toString
    val gp = s"$base/grams"; val rp = s"$base/verdicts"
    val in = s"$base/in"
    val bench = Seq(
      (100L, "alpha beta gamma"),
      (101L, "tiny doc")).toDF("doc_id", "text")
    // batch 1: doc 1 quotes a bench gram (1/3), doc 2 clean, doc 3
    // matches a short bench doc whole-text
    Seq((1L, "alpha beta gamma delta epsilon"),
        (2L, "zeta eta theta iota kappa"),
        (3L, "tiny doc")).toDF("doc_id", "text").write.parquet(in)
    val schema = spark.read.parquet(in).schema
    def drive(): Unit = StreamOps.continuousDecontamIngest(
      StreamOps.readTableStream(spark, in, schema),
      "text", "doc_id", bench, gp, rp, n = 3)
    drive()
    def verdicts() = spark.read.parquet(rp)
      .select("train_id", "n_hits", "n_grams", "frac")
      .as[(Long, Long, Long, Double)].collect().toSeq.sorted
    val batchRef = Dedup.exactNgramContamination(
        spark.read.parquet(in), bench, "text", "doc_id", n = 3)
      .as[(Long, Long, Long, Double)].collect().toSeq.sorted
    assert(verdicts() == batchRef && batchRef.map(_._1) == Seq(1L, 3L),
      s"ingest ${verdicts()} != batch $batchRef")
    // batch 2: redeliver everything (no checkpoint → full replay) plus
    // one new contaminated doc — replay adds nothing, the new doc's
    // verdict is the same pure function of (doc, benchmark)
    Seq((4L, "x alpha beta gamma y z")).toDF("doc_id", "text")
      .write.mode("append").parquet(in)
    // crash simulation: the gram table vanished between runs — the
    // existence check must rebuild it (deterministic function of bench)
    StreamOps.deletePath(spark, gp)
    drive()
    val after = verdicts()
    val batchAll = Dedup.exactNgramContamination(
        spark.read.parquet(in), bench, "text", "doc_id", n = 3)
      .as[(Long, Long, Long, Double)].collect().toSeq.sorted
    assert(after == batchAll && after.map(_._1) == Seq(1L, 3L, 4L),
      s"replay must be idempotent and converge to batch: $after")
    // benchmark REFRESH at the SAME gramPath (VERDICT r15 what's-wrong
    // #2): the persisted table's content stamp mismatches the new
    // benchmark's fingerprint, so the table must rebuild — with the
    // r15 bare-existence gate the stale grams would have screened
    // forever and doc 5 (which quotes only the NEW benchmark) would
    // pass silently
    val bench2 = Seq((200L, "zeta eta theta")).toDF("doc_id", "text")
    Seq((5L, "prefix zeta eta theta suffix tail"))
      .toDF("doc_id", "text").write.mode("append").parquet(in)
    val rp2 = s"$base/verdicts2"
    StreamOps.continuousDecontamIngest(
      StreamOps.readTableStream(spark, in, schema),
      "text", "doc_id", bench2, gp, rp2, n = 3)
    val refreshed = spark.read.parquet(rp2)
      .select("train_id", "n_hits", "n_grams", "frac")
      .as[(Long, Long, Long, Double)].collect().toSeq.sorted
    val batch2 = Dedup.exactNgramContamination(
        spark.read.parquet(in), bench2, "text", "doc_id", n = 3)
      .as[(Long, Long, Long, Double)].collect().toSeq.sorted
    assert(refreshed == batch2 && refreshed.map(_._1) == Seq(2L, 5L),
      s"verdicts must reflect the REFRESHED benchmark: $refreshed " +
        s"vs $batch2")
  }

  test("continuousSccIngest: full census at v1, incremental carry at " +
       "v2 (poisoned untouched rows survive), pure redelivery writes " +
       "nothing, a deleted census table heals") {
    val base = TestSpark.tmpPath("csci").toString
    val in = s"$base/in"; val ep = s"$base/edges"; val cp = s"$base/census"
    // wave 1: two disjoint 2-cycles — version 4, full census
    Seq(("a", "b"), ("b", "a"), ("x", "y"), ("y", "x"))
      .toDF("src", "dst").write.parquet(in)
    val schema = spark.read.parquet(in).schema
    def drive(): Unit = StreamOps.continuousSccIngest(
      StreamOps.readTableStream(spark, in, schema),
      "src", "dst", ep, cp)
    drive()
    def latest() = {
      val c = spark.read.parquet(cp)
      val v = c.agg(max($"graph_version")).head().getLong(0)
      (v, c.filter($"graph_version" === v)
        .select("node", "wcc_id", "scc_id")
        .as[(String, String, String)].collect().toSet)
    }
    val (v1, c1) = latest()
    assert(v1 == 4L && c1 == Set(("a", "a", "a"), ("b", "a", "a"),
      ("x", "x", "x"), ("y", "x", "x")))
    // poison the untouched component's v1 rows IN THE TABLE, then
    // wave 2: full redelivery (suppressed) + a new tail b->c — the
    // incremental pass must recompute only {a,b,c}'s component and
    // carry the poisoned x/y rows verbatim into version 5
    val doctored = spark.read.parquet(cp)
      .withColumn("wcc_id", when($"node".isin("x", "y"), "POISON")
        .otherwise($"wcc_id"))
      .withColumn("scc_id", when($"node".isin("x", "y"), "BAD")
        .otherwise($"scc_id"))
      .collect()
    spark.createDataFrame(
        spark.sparkContext.parallelize(doctored.toSeq),
        spark.read.parquet(cp).schema)
      .write.mode("overwrite").parquet(cp)
    Seq(("b", "c")).toDF("src", "dst").write.mode("append").parquet(in)
    drive()
    val (v2, c2) = latest()
    assert(v2 == 5L && c2 == Set(
      ("a", "a", "a"), ("b", "a", "a"), ("c", "a", "c"),
      ("x", "POISON", "BAD"), ("y", "POISON", "BAD")),
      s"v2 must recompute only the touched component: $c2")
    // wave 3: pure redelivery — version unchanged, nothing written
    drive()
    assert(latest()._1 == 5L)
    assert(spark.read.parquet(cp)
      .select("graph_version").distinct().count() == 2)
    // crash heal: the census table vanishes — the next drive rebuilds
    // a FULL (correct) census at the standing version
    StreamOps.deletePath(spark, cp)
    drive()
    val (v4, c4) = latest()
    assert(v4 == 5L && c4 == Set(
      ("a", "a", "a"), ("b", "a", "a"), ("c", "a", "c"),
      ("x", "x", "x"), ("y", "x", "x")), s"heal must be full: $c4")
  }

  test("continuousPageRankIngest: version-guarded re-rank — growth " +
       "warm-starts, pure redelivery neither re-ranks nor duplicates") {
    val base = TestSpark.tmpPath("cpri").toString
    val in = s"$base/in"; val ep = s"$base/edges"; val rp = s"$base/ranks"
    // wave 1: a 3-node cycle — fresh ranks at version 3
    Seq(("a", "b"), ("b", "c"), ("c", "a")).toDF("src", "dst")
      .write.parquet(in)
    val schema = spark.read.parquet(in).schema
    def drive(): Unit = StreamOps.continuousPageRankIngest(
      StreamOps.readTableStream(spark, in, schema),
      "src", "dst", ep, rp, freshIters = 2, resumeIters = 1)
    drive()
    val v1 = spark.read.parquet(rp)
    assert(v1.agg(max("graph_version")).head().getLong(0) == 3L)
    assert(v1.count() == 3)
    // wave 2: redeliver wave 1 (no checkpoint → full replay) plus one
    // new edge into a NEW node — version 4, warm-started, d seeded
    // uniform; the warm-started result must equal resuming by hand
    Seq(("a", "d")).toDF("src", "dst").write.mode("append").parquet(in)
    drive()
    val r = spark.read.parquet(rp)
    assert(r.agg(max("graph_version")).head().getLong(0) == 4L)
    val latest = r.filter($"graph_version" === 4L)
      .select("node", "rank_s").as[(String, Long)].collect().toMap
    val byHand = graft.ops.Graph.pageRankScaledResume(
      Seq(("a", "b"), ("b", "c"), ("c", "a"), ("a", "d"))
        .toDF("src", "dst"), "src", "dst",
      v1.select("node", "rank_s"), 1)
      .as[(String, Long)].collect().toMap
    assert(latest == byHand)
    // wave 3: pure redelivery, no growth — version stays 4, the rank
    // table is NOT extended (no re-rank from own output: idempotent)
    val before = spark.read.parquet(rp).count()
    drive()
    assert(spark.read.parquet(rp).count() == before)
    assert(spark.read.parquet(ep).count() == 4)
  }

  test("continuousDedupIngest replay heals auxiliary tables from corpus " +
       "membership (crash between index and shingle appends)") {
    import graft.llm.Dedup
    val base = TestSpark.tmpPath("cdiheal").toString
    val corpus = s"$base/corpus"; val idx = s"$base/index"
    val sh = s"$base/shingles"; val in = s"$base/in"
    // B is a NEAR dup of A (one extra token, shingle jaccard 8/9): the
    // within-batch exact collapse keeps both, so with the old
    // novel-keyed appends a replay lets A's standing index entry
    // suppress B and B's shingle rows never land
    val tA = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val tB = tA + " lambda"
    val batch = Seq((1L, tA), (2L, tB)).toDF("doc_id", "text")
    batch.write.parquet(in)
    val schema = spark.read.parquet(in).schema
    // simulate the crashed first attempt: corpus + band index hold both
    // docs, the shingle table holds only A (died mid-append)
    batch.write.parquet(corpus)
    Dedup.minHashBandTable(batch, "text", "doc_id").write.parquet(idx)
    Dedup.hashedShingleTable(batch.filter($"doc_id" === 1L), "text",
      "doc_id").write.parquet(sh)
    // replay the batch (threshold 0.5 < 8/9 so B IS near-suppressible)
    StreamOps.continuousDedupIngest(
      StreamOps.readTableStream(spark, in, schema),
      "text", "doc_id", corpus, idx, sh, threshold = 0.5)
    // survivor set unchanged — no duplicate corpus rows
    assert(spark.read.parquet(corpus).select("doc_id")
      .as[Long].collect().toSet == Set(1L, 2L))
    assert(spark.read.parquet(corpus).count() == 2)
    // the heal wrote B's missing shingle rows from corpus membership
    assert(spark.read.parquet(sh).select("id")
      .as[Long].collect().toSet == Set(1L, 2L),
      "replay must heal B's shingle rows even though B is suppressed " +
        "from the re-derived novel set")
    // and a future exact copy of B is suppressed BY THE HEALED SHINGLE
    // ROWS specifically: it arrives ALONE (own input dir, so the
    // within-batch exact collapse cannot save the assertion) at
    // threshold 0.95, above jaccard(tB, tA) = 8/9 — A's pre-existing
    // shingles cannot suppress it, only B's healed ones (jaccard 1.0)
    val in2 = s"$base/in2"
    Seq((10L, tB)).toDF("doc_id", "text").write.parquet(in2)
    StreamOps.continuousDedupIngest(
      StreamOps.readTableStream(spark, in2, schema),
      "text", "doc_id", corpus, idx, sh, threshold = 0.95)
    assert(spark.read.parquet(corpus).select("doc_id")
      .as[Long].collect().toSet == Set(1L, 2L),
      "an exact copy of the healed doc must be suppressed via the " +
        "healed shingle verify, not the exact collapse")
  }

  test("continuousDedupIngest replay survives a first-batch crash that " +
       "left an index but no shingle table") {
    import graft.llm.Dedup
    val base = TestSpark.tmpPath("cdinosh").toString
    val corpus = s"$base/corpus"; val idx = s"$base/index"
    val sh = s"$base/shingles"; val in = s"$base/in"
    val batch = Seq(
        (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (2L, "totally different seed content about engines and planes"))
      .toDF("doc_id", "text")
    batch.write.parquet(in)
    val schema = spark.read.parquet(in).schema
    // crashed first attempt: corpus + index written, shingle table never
    // created — replay must verify against an empty shingle set, not
    // throw on the missing path
    batch.write.parquet(corpus)
    Dedup.minHashBandTable(batch, "text", "doc_id").write.parquet(idx)
    StreamOps.continuousDedupIngest(
      StreamOps.readTableStream(spark, in, schema),
      "text", "doc_id", corpus, idx, sh, threshold = 0.5)
    assert(spark.read.parquet(corpus).count() == 2)
    assert(spark.read.parquet(sh).select("id")
      .as[Long].collect().toSet == Set(1L, 2L))
  }

  test("continuousSemanticIngest suppresses near-copy vectors against " +
       "the growing IVF index") {
    import graft.llm.Similarity
    val base = TestSpark.tmpPath("csi").toString
    val corpus = s"$base/corpus"; val idx = s"$base/index"
    val in = s"$base/in"
    val cents = Similarity.rademacherPlanes(4, 8)
    def vec(seed: Int): Array[Double] =
      Array.tabulate(8)(d => math.sin(seed * 8 + d + 1))
    // batch 1: three distinct vectors + an in-batch scaled copy of v0
    Seq((0L, vec(0)), (1L, vec(1)), (2L, vec(2)),
        (3L, vec(0).map(_ * 2.0)))
      .toDF("vec_id", "embedding").write.parquet(in)
    val schema = spark.read.parquet(in).schema
    StreamOps.continuousSemanticIngest(
      StreamOps.readTableStream(spark, in, schema),
      "embedding", "vec_id", corpus, idx, cents)
    assert(spark.read.parquet(corpus).select("vec_id")
      .as[Long].collect().toSet == Set(0L, 1L, 2L))
    // batch 2: a scaled copy of v1 (suppressed vs standing index) + new
    Seq((10L, vec(1).map(_ * 0.5)), (11L, vec(7)))
      .toDF("vec_id", "embedding").write.mode("append").parquet(in)
    StreamOps.continuousSemanticIngest(
      StreamOps.readTableStream(spark, in, schema),
      "embedding", "vec_id", corpus, idx, cents)
    // replay of batch 1 self-suppresses against its own index entries
    val ids = spark.read.parquet(corpus)
      .select("vec_id").as[Long].collect().toSet
    assert(ids == Set(0L, 1L, 2L, 11L),
      s"3 (in-batch copy) and 10 (standing near-copy) suppressed: $ids")
    assert(spark.read.parquet(idx).select("corpus_id").distinct()
      .count() == 4)
  }

  test("continuousIvfPqIngest accumulates the batch path's codes index " +
       "under redelivery") {
    import graft.llm.Similarity
    import org.apache.spark.sql.functions.col
    val base = TestSpark.tmpPath("civfpq").toString
    val corpus = s"$base/corpus"; val idx = s"$base/index"
    def vec(seed: Int): Array[Double] =
      Array.tabulate(8)(d => math.sin(seed * 8 + d + 1))
    val all = Seq.tabulate(6)(i => (i.toLong, vec(i)))
    val allDf = all.toDF("vec_id", "embedding")
    val cents = Similarity.kmeansCentroids(allDf, "embedding", "vec_id", 2)
    val cb = {
      val asg = allDf.select(col("vec_id").as("id"),
          col("embedding").cast("array<double>").as("v"))
        .withColumn("cell",
          Similarity.cellsFor(col("v"), cents, 1).getItem(0))
        .withColumn("rv",
          Similarity.cellCombine(col("v"), col("cell"), cents, -1.0))
      Similarity.pqCodebooks(
        asg.select(col("id"), col("rv").as("v")), "v", "id", 2, 2)
    }
    def ingest(in: String): Unit = {
      val schema = spark.read.parquet(in).schema
      StreamOps.continuousIvfPqIngest(
        StreamOps.readTableStream(spark, in, schema),
        "embedding", "vec_id", corpus, idx, cents, cb)
      ()
    }
    // wave 1: the even ids only
    all.filter(_._1 % 2 == 0).toDF("vec_id", "embedding")
      .write.parquet(s"$base/in1")
    ingest(s"$base/in1")
    assert(spark.read.parquet(corpus).select("vec_id")
      .as[Long].collect().toSet == Set(0L, 2L, 4L))
    // wave 2: the FULL table — an at-least-once redelivery of every
    // even id plus the novel odds; guards must absorb the replays
    allDf.write.parquet(s"$base/in2")
    ingest(s"$base/in2")
    // wave 3: pure redelivery — must append nothing anywhere
    ingest(s"$base/in2")
    assert(spark.read.parquet(corpus).count() == 6)
    val idxRows = spark.read.parquet(idx)
      .select(col("cell"), col("corpus_id"), col("codes"))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Int](2).toList))
      .toSet
    assert(idxRows.size == 6 &&
      spark.read.parquet(idx).count() == 6, "one index row per id")
    // the accumulated streaming index IS the batch index of the union
    val batchIdx = Similarity
      .ivfPqIndexTable(allDf, "embedding", "vec_id", cents, cb)
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Int](2).toList))
      .toSet
    assert(idxRows == batchIdx,
      "streaming accumulation must converge to the batch codes index")
  }

  test("stream-stream interval join equals the batch join " +
       "(watermark-bounded state on both sides)") {
    val base = TestSpark.tmpPath("ssj")
    val lDir = base.resolve("l").toString
    val rDir = base.resolve("r").toString
    val lRows = Seq(
      ("u1", "2024-01-01 00:10:00", 1.0),
      ("u1", "2024-01-01 01:00:00", 2.0),
      ("u2", "2024-01-01 00:30:00", 3.0))
      .toDF("user_id", "ts_s", "value")
      .select($"user_id", to_timestamp($"ts_s").as("lts"), $"value")
    val rRows = Seq(
      ("u1", "2024-01-01 00:05:00", "a"),
      ("u1", "2024-01-01 00:40:00", "b"),
      ("u2", "2024-01-01 02:00:00", "c"))
      .toDF("user_id", "ts_s", "tag")
      .select($"user_id", to_timestamp($"ts_s").as("rts"), $"tag")
    lRows.write.parquet(lDir); rRows.write.parquet(rDir)
    def joinOf(l: org.apache.spark.sql.DataFrame,
               r: org.apache.spark.sql.DataFrame) =
      StreamOps.intervalJoinStreams(l, r, "user_id", "lts", "rts",
          lookback = "30 minutes", lookahead = "10 minutes",
          watermark = "1 hour")
        .select(col("l.user_id"), col("lts"), col("value"),
          col("rts"), col("tag"))
    StreamOps.runAvailableNowToMemory(
      joinOf(StreamOps.readTableStream(spark, lDir, lRows.schema),
             StreamOps.readTableStream(spark, rDir, rRows.schema)),
      "ssj_test", mode = "append")
    val streamed = spark.sql("SELECT * FROM ssj_test").collect().toSet
    val batched = joinOf(lRows, rRows).collect().toSet
    assert(streamed == batched)
    assert(batched.map(r => (r.getString(0), r.getDouble(2),
      r.getString(4))) ==
      Set(("u1", 1.0, "a"), ("u1", 2.0, "b")),
      "lookback/lookahead must gate exactly these pairs")
  }

  test("etl bookkeeping: reportNextDt resumes from max date") {
    val df = Seq("2016-01-01", "2016-01-05").toDF("dw_dt")
    val (start, end) = graft.etl.TableOps.reportNextDt(df, "dw_dt",
      "2000-01-01", "2016-02-01")
    assert((start, end) == ("2016-01-06", "2016-02-01"))
    val empty = Seq.empty[String].toDF("dw_dt")
    assert(graft.etl.TableOps.reportNextDt(empty, "dw_dt",
      "2000-01-01", "x")._1 == "2000-01-01")
    // DATE-typed dt columns work (ISO cast); timestamps fail loudly
    // instead of a bare ClassCastException in Row.getString
    val dated = Seq("2016-01-05").toDF("s")
      .select(org.apache.spark.sql.functions.to_date($"s").as("dw_dt"))
    assert(graft.etl.TableOps.reportNextDt(dated, "dw_dt",
      "2000-01-01", "x")._1 == "2016-01-06")
    val ts = Seq("2016-01-05 10:00:00").toDF("s")
      .select($"s".cast("timestamp").as("dw_dt"))
    val e = intercept[IllegalArgumentException] {
      graft.etl.TableOps.reportNextDt(ts, "dw_dt", "2000-01-01", "x")
    }
    assert(e.getMessage.contains("STRING or DATE"))
  }

  test("statefulRunningCounts carries state via mapGroupsWithState") {
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    val dir = TestSpark.tmpPath("state_in").toString
    val batch = Seq(("a", 1.0), ("a", 2.0), ("b", 5.0))
      .toDF("k", "value")
    batch.write.mode("overwrite").parquet(dir)
    val stream = StreamOps.readTableStream(spark, dir, batch.schema)
    val counts = StreamOps.statefulRunningCounts(stream, "k", "value")
    val q = counts.writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName("state_test")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val rows = spark.sql("SELECT k, cnt, sum_val FROM state_test")
      .as[(String, Long, Double)].collect().toSet
    assert(rows == Set(("a", 2L, 3.0), ("b", 1L, 5.0)))
  }

  test("saltedJoin equals plain join; partitioned write prunes") {
    import graft.ops.Relational
    val fact = Seq((1, "x"), (1, "y"), (2, "z")).toDF("k", "v")
    val dim = Seq((1, "d1"), (2, "d2"), (3, "d3")).toDF("k", "d")
    val salted = Relational.saltedJoin(fact, dim, Seq("k"), 4)
      .orderBy("k", "v").collect().toSeq
    val plain = fact.join(dim, Seq("k")).orderBy("k", "v")
      .collect().toSeq
    assert(salted == plain)
    // right/full joins would expose the ×nSalt dim replication —
    // refused loudly instead of silently diverging from plain join
    intercept[IllegalArgumentException] {
      Relational.saltedJoin(fact, dim, Seq("k"), 4, "full_outer")
    }

    val pdir = s"${graft.core.Tables.tmpDir}/part_write"
    Seq(("2016-01-01", 1), ("2016-02-01", 2)).toDF("dw_dt", "v")
      .write.mode("overwrite").partitionBy("dw_dt").parquet(pdir)
    val pruned = spark.read.parquet(pdir).filter($"dw_dt" === "2016-01-01")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"))
    assert(pruned.count() == 1)
  }

  test("deleteRange rewrites without the dated rows") {
    val p = s"${graft.core.Tables.tmpDir}/del_range"
    Seq(("2016-01-01", 1), ("2016-01-15", 2), ("2016-02-01", 3))
      .toDF("dw_dt", "v").write.mode("overwrite").parquet(p)
    graft.etl.TableOps.deleteRange(spark, p, "dw_dt",
      "2016-01-01", "2016-01-31")
    val left = spark.read.parquet(p).as[(String, Int)].collect().toSeq
    assert(left == Seq(("2016-02-01", 3)))
  }

  test("deleteRange keeps null-dt rows (SQL DELETE ... BETWEEN never " +
       "matches NULL; the JDBC twin inherits that)") {
    val p = s"${graft.core.Tables.tmpDir}/del_range_null"
    Seq((Option("2016-01-15"), 1), (None: Option[String], 2),
        (Option("2016-02-01"), 3))
      .toDF("dw_dt", "v").write.mode("overwrite").parquet(p)
    graft.etl.TableOps.deleteRange(spark, p, "dw_dt",
      "2016-01-01", "2016-01-31")
    val left = spark.read.parquet(p).select("v")
      .as[Int].collect().toSeq.sorted
    assert(left == Seq(2, 3), "the null-dt row must survive the delete")
  }

  test("compact merges append-accumulated small files, data unchanged") {
    val p = s"${graft.core.Tables.tmpDir}/compact_t"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p))
    // simulate 6 micro-increment appends → ≥6 part files
    (0 until 6).foreach { i =>
      Seq((i.toLong, s"batch$i")).toDF("id", "s")
        .coalesce(1).write.mode("append").parquet(p)
    }
    val beforeRows = spark.read.parquet(p).orderBy("id").collect().toSeq
    val (nBefore, nAfter) =
      graft.etl.TableOps.compact(spark, p, targetBytes = 1L << 30)
    assert(nBefore >= 6 && nAfter === 1, s"$nBefore -> $nAfter")
    assert(spark.read.parquet(p).orderBy("id").collect().toSeq
      === beforeRows)
  }

  test("compact refuses a Hive-partitioned layout instead of " +
       "flattening it") {
    val p = s"${graft.core.Tables.tmpDir}/compact_part"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p))
    Seq((1L, "a"), (2L, "b")).toDF("id", "k")
      .write.partitionBy("k").parquet(p)
    val e = intercept[IllegalArgumentException] {
      graft.etl.TableOps.compact(spark, p)
    }
    assert(e.getMessage.contains("partition"))
  }

  test("etl table lifecycle: create-if / truncate / switch") {
    val base = s"${graft.core.Tables.tmpDir}/spec_lifecycle"
    val live = base + "/live"; val shadow = base + "/shadow"
    val s = spark
    import graft.etl.TableOps
    Seq((1, "a")).toDF("k", "v").write.mode("overwrite").parquet(live)
    Seq((2, "b")).toDF("k", "v").write.mode("overwrite").parquet(shadow)
    TableOps.switchTab(live, shadow)
    assert(s.read.parquet(live).as[(Int, String)].head() == ((2, "b")))
    assert(s.read.parquet(shadow).as[(Int, String)].head() == ((1, "a")))
    TableOps.truncateTab(s, live)
    assert(s.read.parquet(live).count() == 0)
  }

  test("replaceInto crash recovery: no crash point loses the table, " +
       "and readers restore an interrupted publish") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import graft.etl.TableOps
    val s = spark
    val base = TestSpark.tmpPath("replace_crash").toString
    val tgt = base + "/tbl"
    Seq((1, "old")).toDF("k", "v").write.mode("overwrite").parquet(tgt)
    // simulate a publish that crashed between move-aside and move-in:
    // target gone, previous build at __replaced
    Files.move(Paths.get(tgt), Paths.get(tgt + "__replaced"),
      StandardCopyOption.ATOMIC_MOVE)
    TableOps.restoreInterrupted(tgt)
    assert(s.read.parquet(tgt).as[(Int, String)].head() == ((1, "old")),
      "the last published build must be restored, not recreated empty")
    // a normal publish then reaps completed-publish residue
    val staged = base + "/staged"
    Seq((2, "new")).toDF("k", "v").write.mode("overwrite").parquet(staged)
    TableOps.replaceInto(staged, tgt)
    assert(s.read.parquet(tgt).as[(Int, String)].head() == ((2, "new")))
    assert(!Files.exists(Paths.get(tgt + "__replaced")),
      "publish residue must be reaped")
  }

  test("nio table ops reject scheme'd URIs loudly instead of " +
       "silently misrouting them") {
    import graft.etl.TableOps
    intercept[IllegalArgumentException] {
      TableOps.createTableIf(spark, "hdfs://nn/warehouse/t",
        new org.apache.spark.sql.types.StructType())
    }
    intercept[IllegalArgumentException] {
      TableOps.replaceInto("file:/tmp/a", "file:/tmp/b")
    }
  }

  test("switchTab refuses a leftover swap-tmp from an interrupted swap") {
    import java.nio.file.{Files, Paths}
    import graft.etl.TableOps
    val base = TestSpark.tmpPath("swap_leftover").toString
    val live = base + "/live"; val shadow = base + "/shadow"
    Seq((1, "a")).toDF("k", "v").write.mode("overwrite").parquet(live)
    Seq((2, "b")).toDF("k", "v").write.mode("overwrite").parquet(shadow)
    Files.createDirectories(Paths.get(live + "__swap_tmp"))
    intercept[IllegalArgumentException] {
      TableOps.switchTab(live, shadow)
    }
  }

  test("continuousDriftMonitor: replay of the same tag overwrites its " +
      "partition (no duplicate drift rows); PSI rows match the batch " +
      "counts") {
    import graft.streaming.StreamOps
    import graft.llm.Corpus
    val base = TestSpark.tmpPath("drift_mon").toString
    val dims = Seq("src" -> col("src"))
    val ref = Seq((0L, "a"), (1L, "a"), (2L, "b"), (3L, "b"))
      .toDF("id", "src")
    val profile = Corpus.dimProfile(ref, dims)
    // batch: all-'a' skew vs the balanced reference
    val batch = Seq((10L, "a"), (11L, "a"), (12L, "a"))
      .toDF("id", "src")
    batch.coalesce(1).write.parquet(s"$base/in")
    val schema = spark.read.parquet(s"$base/in").schema
    def run(): Unit = StreamOps.continuousDriftMonitor(
      StreamOps.readTableStream(spark, s"$base/in", schema),
      dims, profile, s"$base/drift", "t1")
    run()
    val first = spark.read.parquet(s"$base/drift")
      .orderBy("key")
      .as[(String, String, Long, Long, Double, Double, Double, String)]
      .collect().toSeq
    // replay: a fresh query over the same files re-delivers them as
    // batch 0 under the same tag → the partition is OVERWRITTEN, not
    // appended to
    run()
    val second = spark.read.parquet(s"$base/drift")
      .orderBy("key")
      .as[(String, String, Long, Long, Double, Double, Double, String)]
      .collect().toSeq
    assert(second == first, "replay must rewrite, not duplicate")
    val byKey = first.map(r => r._2 -> r).toMap
    // 'a': batch 3/3 vs ref 2/4; 'b': batch 0 vs ref 2 — smoothed
    // (+1 over k=2 keys): p_batch(a)=(3+1)/(3+2)=0.8,
    // p_ref(a)=(2+1)/(4+2)=0.5 → term (0.3)·ln(1.6)
    assert(byKey("a")._3 == 3L && byKey("a")._4 == 2L)
    assert(byKey("a")._5 == 0.8 && byKey("a")._6 == 0.5)
    assert(byKey("a")._7 ==
      math.rint(0.3 * math.log(0.8 / 0.5) * 1e6) / 1e6)
    assert(byKey("b")._3 == 0L && byKey("b")._7 > 0)
  }
}
