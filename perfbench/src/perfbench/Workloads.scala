package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.ops.{Graph, Relational}

/** What one closed-loop operation produced: a digest per checked
  * output, the latency of each batch the client waited on (empty when
  * the whole operation is the batch) and workload-specific counters. */
final case class IterResult(outputs: Seq[(String, Digest.Out)],
                            batchesS: Seq[Double] = Nil,
                            counters: Map[String, Double] = Map.empty)

/** A workload reads only the generated files under `data` and keeps its
  * own intermediates under `work`. `run` is one operation of the closed
  * loop; `probe` runs once after each traced operation, outside its
  * timing, for layers that only execute as lazy plans inside `run`. */
abstract class Workload(val data: String, val work: String) {
  /** DuckDB oracle SQL, by output name, the checker replays — built
    * from the library's `SparkEntry.oracleSql` registry. */
  def oracles: Map[String, String]
  def run(spark: SparkSession, iter: Int): IterResult
  def probe(spark: SparkSession): Map[String, Double] = Map.empty
  /** Remove whatever the last operation left under `work`. */
  def close(): Unit = ()

  protected def scratch(name: String): String = s"$work/$name"
}

object Workload {
  def apply(name: String, data: String, work: String): Workload =
    name match {
      case "report_window" => new ReportWindow(data, work)
      case "corpus_build" => new CorpusBuild(data, work)
      case other => throw new IllegalArgumentException(
        s"unknown workload $other")
    }

  def rmTree(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.delete(f))
      finally walk.close()
    }
  }
}

/** One nightly window, as the reference runs it: the bolome ODS load
  * (each staging batch merged into a growing parquet ODS — rng
  * bookkeeping, full-outer merge, surrogate ids, staged write, atomic
  * publish), the mlvar order trees and shift-cut features over the
  * loaded orders, then `ms.report` family members over the star the
  * load published (shared staged star, one sink append, next-dt
  * bookkeeping) and the sink read back. The client waits on each merge
  * batch; the sink's oracle is the union of the members' own oracles.
  */
final class ReportWindow(data: String, work: String)
    extends Workload(data, work) {
  // the sku-tap and score-tap sliding members of the registry's
  // report_family_run set (the full 31-member family costs ~30 s per
  // warm window on 4 cores, more than a benchmark run can spend)
  private val members = Seq("report_sku6_bg", "report_score_kpi")
  val oracles = Map(
    "report_family" -> members.map(graft.SparkEntry.oracleSql)
      .mkString("SELECT * FROM ((", ") UNION ALL (", ")) AS u"),
    "trgx_shift_cut" -> graft.SparkEntry.oracleSql("trgx_shift_cut"))
  private val batches = new java.io.File(data).listFiles()
    .map(_.getPath).filter(_.matches(".*/stg_\\d+\\.parquet")).sorted.toSeq
  private val stgBytes = batches.map(b => Files.size(Paths.get(b))).sum
  private val valueCols = Seq("o_custkey", "o_orderstatus", "o_totalprice",
    "o_orderdate", "o_orderpriority")
  // the star the family reads: the generated dimensions plus the ODS
  // the load publishes as its orders table. It stays until the next
  // operation starts, so the traced probe can read the same window.
  private val window = scratch("window")

  def run(spark: SparkSession, iter: Int): IterResult = {
    close()
    Files.createDirectories(Paths.get(window))
    for (t <- Seq("region", "nation", "customer"))
      Files.createSymbolicLink(Paths.get(window, s"$t.parquet"),
        Paths.get(data, s"$t.parquet").toAbsolutePath)
    val ods = s"$window/orders.parquet"
    val w0 = ProcIo.writtenBytes()
    val latencies = Seq.newBuilder[Double]
    val counts = batches.zipWithIndex.map { case (b, i) =>
      val t0 = System.nanoTime()
      val n = Trace.span("etl.ods_merge") {
        graft.etl.Pipelines.odsMerge(spark, spark.read.parquet(b), ods,
          Seq("o_orderkey"), valueCols, "ods_id", "o_orderkey", "dw_dt",
          scratch("rng"))
      }
      latencies += (System.nanoTime() - t0) / 1e9
      Seq[Any](i.toLong, n)
    }
    val writeAmp = (ProcIo.writtenBytes() - w0).toDouble / stgBytes
    val loaded = spark.read.parquet(ods)
    val odsOut = Trace.span("etl.read_back")(Digest.of(loaded))
    val features = shiftCut(spark, loaded)
    val sink = scratch("sink")
    val family = try {
      val (_, out) = Trace.span("rpt.family") {
        graft.RptQueries.runReportFamily(spark, window, sink, members)
      }
      Trace.span("rpt.read_back")(Digest.of(out))
    } finally Workload.rmTree(sink)
    IterResult(
      Seq("ods" -> odsOut,
        "batch_rows" -> Digest.of(counts.iterator, counts.size),
        "trgx_shift_cut" -> features, "report_family" -> family),
      latencies.result(),
      Map("write_amp" -> writeAmp,
        "ods_files" -> new java.io.File(ods).listFiles()
          .count(_.getName.endsWith(".parquet")).toDouble))
  }

  /** The registered trgx_shift_cut composition over the loaded ODS,
    * with the trees materialized so each stage is timed on its own. */
  private def shiftCut(spark: SparkSession, loaded: DataFrame)
      : Digest.Out = {
    val trees = scratch("trees")
    try {
      val asOf = loaded
        .agg(max(date_format(col("o_orderdate"), "yyyy-MM-dd")))
        .first().getString(0)
      Trace.span("trgx.tree_build") {
        graft.etl.Pipelines.mlvarUserOrderTrees(
          loaded.select(col("o_custkey").as("custkey"),
            date_format(col("o_orderdate"), "yyyy-MM-dd").as("dt"),
            col("o_orderkey").as("okey"),
            col("o_totalprice").cast("decimal(18,2)").cast("string")
              .as("price")),
          "custkey", Seq("dt", "okey"), Seq("price")).write.parquet(trees)
      }
      Trace.span("trgx.shift_cut") {
        Digest.of(graft.etl.Pipelines.shiftCutFeatures(
            spark.read.parquet(trees), "custkey", asOf, 365, 3, "price")
          .select(col("custkey"), col("w"),
            col("price_sum").cast("decimal(38,2)").cast("string")
              .as("price_sum")))
      }
    } finally Workload.rmTree(trees)
  }

  override def close(): Unit = {
    Workload.rmTree(window)
    Workload.rmTree(scratch("rng"))
  }

  /** The family's sliding and shaping operators run as lazy plans
    * inside member staging writes, so they are timed here by calling
    * them directly on this window's monthly fact (the flagship
    * score_overall shape). */
  override def probe(spark: SparkSession): Map[String, Double] = {
    val fact = scratch("probe_fact")
    val slid = scratch("probe_sliding")
    try {
      Tables.table(spark, window, "orders")
        .join(Tables.table(spark, window, "customer"),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment").as("seg"),
          date_format(last_day(col("o_orderdate")), "yyyy-MM-dd").as("dt"))
        .agg(sum(col("o_totalprice").cast("decimal(18,2)"))
          .cast("decimal(38,2)").cast("string").as("val"))
        .write.parquet(fact)
      val m = spark.read.parquet(fact)
      val rng = m.agg(min("dt"), max("dt")).first()
      Trace.span("ops.sliding") {
        Relational.slidingScores(m, Seq("seg"), "dt", "val",
          rng.getString(0), rng.getString(1)).write.parquet(slid)
      }
      Trace.span("agg.report_shape") {
        Relational.reportShape(
          spark.read.parquet(slid).withColumn("n", lit(1L)),
          Seq("seg"), Seq("dt"),
          Seq("score" -> col("value"), "n" -> col("n"))).collect()
      }
      Map.empty
    } finally { Workload.rmTree(fact); Workload.rmTree(slid) }
  }
}

/** LLM corpus preparation: C4 cleaning → exact dedup → near-dup groups
  * (MinHash LSH + connected components) → PageRank on the small domain
  * graph (driver replica) and the large page graph (staged loop) →
  * mixture sampling → reproducible shards. The clean/dedup/mix/shard
  * spine is the registered `corpus_pipeline` composition, so its DuckDB
  * oracle checks the shards. */
final class CorpusBuild(data: String, work: String)
    extends Workload(data, work) {
  val oracles = Map("corpus_pipeline" ->
    graft.SparkEntry.oracleSql("corpus_pipeline"))
  // CorpusQueries' pipeline mixture (the oracle embeds the same values)
  private val pipeWeights = Map("src0" -> 0.4, "src1" -> 0.3,
    "src2" -> 0.2, "src3" -> 0.1)
  private val rankIters = 2
  // the last operation's intermediates stay until the next one starts,
  // so the traced probe can reuse its deduplicated corpus
  private var prev: Option[String] = None

  def run(spark: SparkSession, iter: Int): IterResult = {
    import graft.llm.{Corpus, Dedup, TextAnalysis}
    close()
    val base = scratch(s"corpus_$iter")
    prev = Some(base)
    val keptPath = s"$base/kept"
    val dedPath = s"$base/deduped"
    locally {
      val docs = spark.read.parquet(s"$data/documents.parquet")
      Trace.span("llm.c4") {
        TextAnalysis.c4Signals(docs, "doc_id", "text",
            carry = Seq("text", "source"))
          .filter(col("keep")).select("doc_id", "text", "source")
          .write.parquet(keptPath)
      }
      val kept = spark.read.parquet(keptPath)
      Trace.span("llm.exact_dedup") {
        val canon = Dedup.exactDedup(kept, "text", "doc_id")
          .select(col("canonical_id").as("doc_id"))
        kept.join(canon, Seq("doc_id")).write.parquet(dedPath)
      }
      val deduped = spark.read.parquet(dedPath)
      val groups = Trace.span("llm.dedup_groups") {
        Digest.of(Dedup.dedupGroups(kept, "text", "doc_id",
          threshold = 0.9))
      }
      val small = rank(spark, "ops.pagerank_small", "domain_edges",
        driverPath = true)
      val large = rank(spark, "ops.pagerank_large", "page_edges",
        driverPath = false)
      val shards = Trace.span("llm.mix_shard") {
        val withTok = deduped.select(col("doc_id"), col("source"),
          TextAnalysis.tokenCountWs(col("text")).as("tok"))
        val mixed = Corpus.mixtureSample(withTok, col("doc_id"),
          col("source"), col("tok"), pipeWeights)
        Digest.of(Corpus.shuffleShard(Tables.staged(mixed, "bench_mixed"),
          col("doc_id"), nShards = 4))
      }
      IterResult(Seq("dedup_groups" -> groups, "pagerank_small" -> small,
        "pagerank_large" -> large, "corpus_pipeline" -> shards))
    }
  }

  override def close(): Unit = prev.foreach(Workload.rmTree)

  /** PageRank on one generated graph, refusing a run whose execution
    * path is not the one this graph exists to measure: the staged loop
    * writes one staged rank table per iteration, the driver replica
    * none. */
  private def rank(spark: SparkSession, span: String, graph: String,
                   driverPath: Boolean): Digest.Out = {
    val s0 = Tables.stagedWriteCount
    val out = Trace.span(span) {
      Digest.of(Graph.pageRankScaled(
        spark.read.parquet(s"$data/$graph.parquet"), "src", "dst",
        rankIters))
    }
    val staged = Tables.stagedWriteCount - s0
    val tookDriver = staged < rankIters
    require(tookDriver == driverPath,
      s"$graph: expected the ${if (driverPath) "driver" else "staged"} " +
        s"PageRank path, saw $staged staged writes")
    out
  }

  /** LSH usefulness: verified near-duplicate pairs over the candidate
    * pairs the banding proposes, on the deduplicated corpus. */
  override def probe(spark: SparkSession): Map[String, Double] =
    Tables.stagedScope {
      import graft.llm.Dedup
      val deduped = spark.read.parquet(s"${prev.get}/deduped")
      val bands = Dedup.minHashBandTable(deduped, "text", "doc_id")
      val (a, b) = (bands.alias("a"), bands.alias("b"))
      val candidates = a.join(b, col("a.band") === col("b.band") &&
          col("a.bh") === col("b.bh") && col("a.id") < col("b.id"))
        .select(col("a.id"), col("b.id")).distinct().count()
      val verified = Dedup.minHashDedupPairs(deduped, "text", "doc_id",
        threshold = 0.9).count()
      Map("lsh_useful_ratio" ->
        (if (candidates == 0) 0.0 else verified.toDouble / candidates))
    }
}

/** Bytes this process has passed to write(2), from /proc/self/io. */
object ProcIo {
  def writtenBytes(): Long = {
    val lines = Files.readAllLines(Paths.get("/proc/self/io"))
    lines.toArray.map(_.toString).find(_.startsWith("wchar:"))
      .map(_.stripPrefix("wchar:").trim.toLong).getOrElse(0L)
  }
}
