package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-quality regression tests (see PLANS.md): assert the physical
  * properties that make these operators scale — pushdown, pruning,
  * broadcast joins, partial aggregation. A change that silently
  * reintroduces a fact-table shuffle or a full-width scan fails here,
  * not in a 100 TB production run. */
class PlanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, dir)
      .queryExecution.executedPlan.toString

  /** AQE-aware plan flattener, shared via [[TestSpark.planNodes]]. */
  private def nodes(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] =
    TestSpark.planNodes(p)

  private def allNodes(q: String) =
    nodes(SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan)

  test("source_parquet_scan pushes the filter into the parquet scan") {
    val p = plan("source_parquet_scan")
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity), " +
      "GreaterThan(l_quantity,45.0)]"), p.take(800))
  }

  test("source_parquet_scan prunes to the 4 referenced columns") {
    val p = plan("source_parquet_scan")
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint," +
      "l_linenumber:int,l_quantity:double,l_shipdate:timestamp_ntz>"))
  }

  test("join_inner_star broadcasts every dimension (no fact shuffle " +
       "before aggregation)") {
    val p = plan("join_inner_star")
    assert("BroadcastHashJoin".r.findAllIn(p).size == 4, p.take(800))
    assert(!p.contains("SortMergeJoin"))
  }

  test("sliding_scores: custom aggregators plan as ObjectHashAggregate " +
       "with map-side partials") {
    val p = plan("sliding_scores")
    assert("ObjectHashAggregate".r.findAllIn(p).size >= 2)
    // axis explode sits above the aggregation, not below it
    val gen = p.indexOf("Generate explode")
    val agg = p.indexOf("ObjectHashAggregate")
    assert(gen >= 0 && agg > gen,
      "explode must consume the aggregated maps, not the fact")
  }

  test("dedup_minhash bucket join carries only narrow band keys") {
    val p = plan("dedup_minhash")
    // the band-bucket equi-join must not carry the shingle-hash arrays
    val joins = p.linesIterator.filter(_.contains("SortMergeJoin"))
      .mkString ++ p.linesIterator.filter(_.contains("ShuffledHashJoin"))
      .mkString
    assert(!joins.contains("hs#") && !joins.contains("shingles"), joins)
  }

  test("broadcast_config_join stays map-side (no join operator at all)") {
    val p = plan("broadcast_config_join")
    assert(!p.contains("Join"), p.take(500))
  }

  test("approx_stats never falls back to SortAggregate (the mixed " +
       "distinct+imperative degenerate plan)") {
    val p = plan("approx_stats")
    assert(!p.contains("SortAggregate"), p.take(1500))
    assert(p.contains("ObjectHashAggregate"), p.take(1500))
  }

  test("integral-id keeper elections (cut-pass, line dedup) stay in " +
       "HashAggregate — the struct fallback must not leak onto the " +
       "hot path") {
    // electionKey branches on the id type: testdata doc_id is LongType,
    // so both queries must plan the packed-decimal min in codegen
    // HashAggregate; min(struct) would plan SortAggregate — a full
    // per-partition sort of the window/line table on BOTH aggregation
    // sides (the round-5 measured regression this shape was moved off)
    for (q <- Seq("substring_dedup_rewrite", "text_dedup_lines")) {
      val p = plan(q)
      assert(!p.contains("SortAggregate"),
        s"$q keeper election fell back to SortAggregate:\n${p.take(1500)}")
    }
  }

  test("corpus_filter is single-pass: one fp shuffle + ordering sort, " +
       "one scan") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val ns = allNodes("corpus_filter")
    val exchanges = ns.collect { case e: ShuffleExchangeExec => e }
    assert(exchanges.size == 2, ns.head.toString.take(1500))
    val scans = ns.filter(_.nodeName.contains("Scan"))
    assert(scans.size == 1, s"expected 1 scan, got ${scans.size}")
  }

  test("corpus_split is a pure projection (no shuffle beyond the " +
       "ordering sort)") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val nonRange = allNodes("corpus_split").collect {
      case e: ShuffleExchangeExec
          if !e.outputPartitioning.toString.contains("range") => e
    }
    assert(nonRange.isEmpty)
  }

  test("text_repetition shuffles carry counts, never document text") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val withText = allNodes("text_repetition").collect {
      case e: ShuffleExchangeExec
          if e.child.output.exists(_.name == "text") => e
    }
    assert(withText.isEmpty, "a shuffle carries the raw text column")
  }

  test("semantic_dedup pairs through a cell equi-join, never a " +
       "cartesian/nested-loop product") {
    val ns = allNodes("semantic_dedup")
    val prod = ns.filter(n => n.nodeName.contains("CartesianProduct") ||
      n.nodeName.contains("BroadcastNestedLoopJoin"))
    assert(prod.isEmpty, prod.mkString("\n"))
  }

  test("passage_dedup: ONE fp shuffle (count + first-doc + native " +
       "representative in a single ObjectHashAggregate), no join, no " +
       "SortAggregate") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val ns = allNodes("passage_dedup")
    val exchanges = ns.collect { case e: ShuffleExchangeExec => e }
    // one (fp, id, u) aggregation shuffle — map-side partials collapse
    // duplicate units before the wire — plus the orderBy range
    // exchange; the historical second groupBy + rep⋈agg join is gone
    // (native str_min rides the same ObjectHashAggregate)
    val nonRange = exchanges
      .filter(!_.outputPartitioning.toString.contains("range"))
    assert(nonRange.size == 1, exchanges.mkString("\n"))
    assert(!ns.exists(_.nodeName.contains("Join")),
      "the single-aggregate shape needs no join")
    assert(!ns.exists(_.nodeName.contains("SortAggregate")),
      "min(string)/min(struct) must not force SortAggregate")
  }

  test("corpus_mix joins rates by broadcast: the corpus never shuffles") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val ns = allNodes("corpus_mix")
    assert(ns.exists(_.nodeName.contains("BroadcastHashJoin")),
      ns.head.toString.take(1000))
    // every shuffle in the plan belongs to the tiny totals/rates branch
    // (output has no doc_id) or the final orderBy (range partitioning)
    val corpusShuffles = ns.collect {
      case e: ShuffleExchangeExec
          if e.child.output.exists(_.name == "doc_id") &&
             !e.outputPartitioning.toString.contains("range") => e
    }
    assert(corpusShuffles.isEmpty, corpusShuffles.mkString("\n"))
  }

  test("no registered query plans a single-partition window") {
    import org.apache.spark.sql.execution.window.WindowExec
    for ((name, q) <- SparkEntry.queries) {
      val bad = nodes(q(spark, dir).queryExecution.executedPlan).collect {
        case w: WindowExec
            if w.partitionSpec.isEmpty || w.partitionSpec.forall(_.foldable) =>
          w
      }
      assert(bad.isEmpty,
        s"$name funnels through a single-partition window:\n" +
          bad.mkString("\n"))
    }
  }

  test("ccnet's hidden upstream keeps the vocab broadcast (PLANFP " +
       "cannot see above the two-phase RDD boundary)") {
    // groupedRowNumber goes through .rdd + createDataFrame, so the
    // registered ccnet_perplexity_buckets fingerprint collapsed to
    // {scan, exchange_range, sort} — the real scans/joins/aggs live
    // ABOVE the ExistingRDD and a regression there (the broadcast
    // vocab join decaying to a corpus shuffle join) would be invisible
    // to the PLANFP gate. Pin the upstream plan directly instead.
    val docs = graft.core.Tables.table(spark, dir, "documents")
    val nll = graft.llm.TextAnalysis
      .unigramNll(docs, "text", Seq("doc_id", "lang"))
    val ns = nodes(nll.queryExecution.executedPlan).map(_.nodeName)
    assert(ns.exists(_.contains("BroadcastHashJoin")),
      s"vocab join is no longer broadcast: ${ns.mkString(",")}")
    assert(!ns.exists(n => n.contains("SortMergeJoin") ||
      n.contains("ShuffledHashJoin")),
      s"corpus-sized shuffle join appeared: ${ns.mkString(",")}")
    assert(!ns.exists(_.contains("Window")),
      s"window reappeared upstream: ${ns.mkString(",")}")
  }

  test("dsir importance upstream keeps the vocab broadcast and no " +
       "window (dsir_select's fingerprint is RDD-boundary-blind)") {
    // same blindness as the ccnet pin above: dsir_select goes through
    // globalRowNumber's RDD boundary, so its PLANFP entry is just
    // {scan, exchange_range, sort}; the importance/gumbel upstream
    // (broadcast vocab join feeding the per-doc aggregation) must be
    // pinned directly (r9 ADVICE)
    val docs = graft.core.Tables.table(spark, dir, "documents")
    val imp = graft.llm.TextAnalysis.dsirImportance(docs, "doc_id",
      "text", org.apache.spark.sql.functions.col("lang") === "en")
    val ns = nodes(imp.queryExecution.executedPlan).map(_.nodeName)
    assert(ns.exists(_.contains("BroadcastHashJoin")),
      s"vocab join is no longer broadcast: ${ns.mkString(",")}")
    assert(!ns.exists(n => n.contains("SortMergeJoin") ||
      n.contains("ShuffledHashJoin")),
      s"corpus-sized shuffle join appeared: ${ns.mkString(",")}")
    assert(!ns.exists(_.contains("Window")),
      s"window appeared upstream: ${ns.mkString(",")}")
  }

  test("events_asof_join plans zero join operators (union + window)") {
    val p = plan("events_asof_join")
    assert(!p.contains("Join"), p.take(800))
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 2,
      "asof should shuffle once for the window (plus the right-side " +
        "pre-aggregation), not per side:\n" + p.take(800))
  }

  test("events_range_join is an equi join on bucket keys, not a " +
       "nested-loop theta join") {
    val p = plan("events_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p.take(800))
  }

  test("doc_chunking is a pure projection: no exchange below the " +
       "output sort") {
    val p = plan("doc_chunking")
    assert("Exchange".r.findAllIn(p).size == 1, // the orderBy range part
      p.take(800))
  }

  test("text_tfidf broadcasts the document-frequency side") {
    val p = plan("text_tfidf")
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(!p.contains("SortMergeJoin"), p.take(800))
  }

  test("bucketed tables co-locate the merge join: zero exchanges") {
    import spark.implicits._
    // disable auto-broadcast so the join must co-locate or shuffle
    TestSpark.withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val stg = (1 to 1000).map(i => (i.toLong, s"s$i"))
        .toDF("k", "v_stg")
      val ods = (500 to 1500).map(i => (i.toLong, s"o$i"))
        .toDF("k", "v_ods")
      graft.core.Tables.writeBucketed(stg, "bkt_stg", "k", 4)
      graft.core.Tables.writeBucketed(ods, "bkt_ods", "k", 4)
      val joined = spark.table("bkt_stg")
        .join(spark.table("bkt_ods"), Seq("k"))
      val p = joined.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange"), p.take(800))
      assert(joined.count() == 501)
    }
  }
}
