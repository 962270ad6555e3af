package graft

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.core.{Json, Tables}

/** The Spark-side measurement harness. Every registered query (or the
  * comma-separated `SPARK_GRAFT_ONLY` subset) on `SPARK_GRAFT_SF_DIR`
  * runs one cold pass, then `SPARK_GRAFT_WARM_PASSES` (default 3) warm
  * passes. The artifact keeps every pass, the warm median, the
  * in-window GC, codegen-compile and staged-write deltas, and where the
  * median warm pass spent its time: Spark jobs, tasks, summed job time,
  * the driver gap (wall time with no job running), shuffle and input
  * megabytes.
  *
  * Raw times move with the host's load, so two revisions are compared
  * only through an interleaved same-host A/B:
  * `scripts/perfbench_ab.py --base REV --bench Q1,Q2 --seeds 1 2 3 4 5 6`.
  *
  * With `GRAFT_EXPLAIN_DIR` set, each query's median warm pass also
  * leaves `<dir>/<query>/`: one `<seq>_<funcName>.txt` FormattedMode
  * plan per executed action (loop rounds, staged writes, sink appends)
  * in execution order, `final.txt` for the returned frame and
  * `jobs.tsv` with one row per Spark job.
  *
  * The full artifact goes to stdout and to `GRAFT_BENCH_OUT` (default
  * BENCH_LOCAL.json, BENCH_PARTIAL.json for a `SPARK_GRAFT_ONLY` run);
  * a short summary line is printed last. */
object Bench {
  private val log = org.slf4j.LoggerFactory.getLogger("graft.Bench")

  /** One Spark job of a timed pass; `start` and `end` are epoch ms. */
  final case class Job(id: Int, start: Long, end: Long, tasks: Int,
      shuffleRead: Long, shuffleWrite: Long, input: Long, desc: String)

  /** Total length of the union of the intervals `[start, end)`: the
    * time during which at least one of them was open. */
  def unionLength(intervals: Seq[(Long, Long)]): Long =
    intervals.sortBy(_._1).foldLeft((0L, Long.MinValue)) {
      case ((total, reach), (s, e)) =>
        (total + math.max(0L, e - math.max(s, reach)), math.max(reach, e))
    }._1

  /** What one timed pass measured; `plans` (file name → plan text) is
    * filled only under `GRAFT_EXPLAIN_DIR`. */
  private final case class Pass(secs: Double, gcMs: Long, compiles: Long,
      staged: Long, jobs: Seq[Job], gapS: Double,
      plans: Seq[(String, String)])

  /** The Spark jobs that end between two `take`s, each with the tasks
    * and bytes of its completed stages. */
  private final class JobRecorder extends SparkListener {
    private val open = mutable.Map[Int, Job]()
    private val stageJob = mutable.Map[Int, Int]()
    private val ended = mutable.ArrayBuffer[Job]()
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      def prop(k: String) =
        Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      open(e.jobId) = Job(e.jobId, e.time, e.time, 0, 0L, 0L, 0L,
        prop("spark.job.description")
          .orElse(e.stageInfos.maxByOption(_.stageId).map(_.name))
          .getOrElse(""))
      e.stageIds.foreach(stageJob(_) = e.jobId)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        val si = e.stageInfo
        for (jid <- stageJob.get(si.stageId); j <- open.get(jid);
             m <- Option(si.taskMetrics))
          open(jid) = j.copy(tasks = j.tasks + si.numTasks,
            shuffleRead = j.shuffleRead + m.shuffleReadMetrics.totalBytesRead,
            shuffleWrite = j.shuffleWrite + m.shuffleWriteMetrics.bytesWritten,
            input = j.input + m.inputMetrics.bytesRead)
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      open.remove(e.jobId).foreach(j => ended += j.copy(end = e.time))
    }
    def take(): Seq[Job] = synchronized {
      val jobs = ended.toSeq.sortBy(_.id)
      ended.clear(); open.clear(); stageJob.clear()
      jobs
    }
  }

  /** The plan of every action that succeeds between two `take`s, as
    * `<seq>_<funcName>.txt` → FormattedMode text, in execution order. */
  private final class PlanRecorder extends QueryExecutionListener {
    private val plans = mutable.ArrayBuffer[(Long, String, String)]()
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = synchronized {
      plans += ((qe.id, funcName, qe.explainString(FormattedMode)))
    }
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
    def take(): Seq[(String, String)] = synchronized {
      val named = plans.toSeq.sortBy(_._1).zipWithIndex.map {
        case ((_, func, text), i) => f"$i%03d_$func.txt" -> text }
      plans.clear()
      named
    }
  }

  private def medianOf(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  /** The pass whose time is the (lower) median of `passes`. */
  private def medianPass(passes: Seq[Pass]): Pass =
    passes.sortBy(_.secs).apply((passes.size - 1) / 2)

  /** `<dir>/<query>/`: the pass's plans and a `jobs.tsv` of its jobs
    * (start offset from the first job). */
  private def dump(dir: String, query: String, pass: Pass): Unit = {
    val qdir = java.nio.file.Paths.get(dir, query)
    java.nio.file.Files.createDirectories(qdir)
    Option(qdir.toFile.listFiles).foreach(_.foreach(_.delete()))
    val t0 = pass.jobs.map(_.start).minOption.getOrElse(0L)
    val tsv = ("job\tstart_ms\tms\ttasks\tshuffle_read_kb\t" +
      "shuffle_write_kb\tinput_kb\tdescription") +: pass.jobs.map(j =>
        Seq(j.id, j.start - t0, j.end - j.start, j.tasks,
          j.shuffleRead / 1024, j.shuffleWrite / 1024, j.input / 1024,
          j.desc.replaceAll("\\s+", " ")).mkString("\t"))
    (pass.plans :+ ("jobs.tsv" -> tsv.mkString("", "\n", "\n"))).foreach {
      case (name, text) =>
        java.nio.file.Files.writeString(qdir.resolve(name), text)
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // validated before the cold pass: a bad count found after it would
    // discard every cold timing
    val warmPasses = sys.env.getOrElse("SPARK_GRAFT_WARM_PASSES", "3").toInt
    require(warmPasses >= 1,
      s"SPARK_GRAFT_WARM_PASSES must be >= 1, got $warmPasses")
    val explainDir = sys.env.get("GRAFT_EXPLAIN_DIR")
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val spark = SparkEntry.localSession()
    val jobs = new JobRecorder
    spark.sparkContext.addSparkListener(jobs)
    val plans = explainDir.map { _ =>
      val r = new PlanRecorder
      spark.listenerManager.register(r)
      r
    }
    // A failing query lands here and in no timing map (round 6 benched
    // twelve analysis-time failures as ~0.05 s rows inside the totals)
    val failed = mutable.LinkedHashMap[String, String]()
    def gcMsNow(): Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(b => math.max(b.getCollectionTime, 0L)).sum
    }
    def compilesNow(): Long = org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME.getCount

    /** Materialize every row and column of the query's physical plan
      * (count() would let Catalyst prune projection work) inside one
      * timing window. */
    def timed(name: String, fn: (SparkSession, String) => DataFrame)
        : Option[Pass] = {
      val s0 = Tables.stagedWriteCount
      val p0 = graft.ops.Relational.twoPhaseRunCount
      val c0 = compilesNow()
      val g0 = gcMsNow()
      val w0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val df =
        try {
          val df = fn(spark, sfDir)
          df.queryExecution.toRdd.foreach(_ => ())
          Some(df)
        } catch { case e: Throwable =>
          failed.getOrElseUpdate(name,
            s"${e.getClass.getName}: ${e.getMessage}".take(400))
          log.warn(s"$name FAILED: ${e.getMessage}")
          None
        }
      val secs = (System.nanoTime() - t0) / 1e9
      val w1 = System.currentTimeMillis()
      val gcMs = gcMsNow() - g0
      // extra disk-bound jobs beyond the final materialize: one per
      // Tables.staged write, two per two-phase prefix kernel run
      val staged = (Tables.stagedWriteCount - s0) +
        2L * (graft.ops.Relational.twoPhaseRunCount - p0)
      val compiles = compilesNow() - c0
      // job and plan events reach the listeners asynchronously: drain
      // the bus here, after the window closed
      GraftBridge.waitListenerBusEmpty(spark.sparkContext)
      val passJobs = jobs.take()
      val passPlans = plans.map(_.take() ++ df.map(d =>
        "final.txt" -> d.queryExecution.explainString(FormattedMode)))
        .getOrElse(Nil)
      val busy = unionLength(passJobs.map(j =>
        (math.max(j.start, w0), math.min(j.end, w1))))
      // drop what the query cached and reap its staging dirs so passes
      // stay independent, then collect here, between windows: broadcast
      // and shuffle state is reclaimed only when a GC feeds the
      // ContextCleaner, and a natural GC mid-query charged its bulk file
      // deletes to whichever window was open (r6, r7: 25 s vs 2.4 s)
      spark.catalog.clearCache()
      Tables.clearStaged()
      System.gc()
      df.map(_ => Pass(secs, gcMs, compiles, staged, passJobs,
        math.max(0.0, secs - busy / 1000.0), passPlans))
    }

    val queries = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    val cold = queries.flatMap { case (name, fn) =>
      timed(name, fn).map { p =>
        System.err.println(f"[bench] cold $name%-28s ${p.secs}%8.2f s")
        name -> p
      }
    }
    // the median of several back-to-back passes survives one outlier
    // pass (GC, a recompile); every pass lands in the artifact
    val warm = queries.filterNot { case (n, _) => failed.contains(n) }
      .flatMap { case (name, fn) =>
        val passes = (1 to warmPasses).flatMap { i =>
          timed(name, fn).map { p =>
            System.err.println(f"[bench] warm#$i $name%-26s ${p.secs}%8.2f s")
            p
          }
        }
        // a query that failed mid-warm is already recorded in `failed`
        if (passes.size < warmPasses) None
        else {
          explainDir.foreach(dump(_, name, medianPass(passes)))
          Some(name -> passes.map(_.copy(plans = Nil)))
        }
      }
    // a query that failed during a warm pass after its cold row was
    // recorded leaves the cold map too: `failed` stays disjoint from
    // every timing map and the totals
    val coldOk = cold.filterNot { case (n, _) => failed.contains(n) }
    val warmMed = warm.map { case (n, ps) => n -> medianOf(ps.map(_.secs)) }
    val coldByName = coldOk.toMap
    warmMed.foreach { case (n, w) =>
      coldByName.get(n).map(_.secs).filter(w > 1.2 * _).foreach { c =>
        log.warn(f"warm median > 1.2x cold: $n ($c%.2f cold, $w%.2f warm)")
      }
    }
    if (failed.nonEmpty)
      log.warn(s"${failed.size} queries FAILED (excluded from timings): " +
        failed.keys.mkString(", "))

    def obj[V](kvs: Seq[(String, V)])(f: V => Any): String =
      kvs.map { case (k, v) => s"${Json.quote(k)}:${f(v)}" }
        .mkString("{", ",", "}")
    def perWarm(f: Pass => Any): String = obj(warm)(ps => f(medianPass(ps)))
    def medianLong(xs: Seq[Long]): Long = math.round(medianOf(xs.map(_.toDouble)))
    def mb(bytes: Long): Double = math.rint(bytes / 1048.576) / 1000
    def r3(x: Double): Double = math.rint(x * 1000) / 1000
    val totalWarm = warmMed.map(_._2).sum
    val out = sys.env.getOrElse("GRAFT_BENCH_OUT",
      if (only.isDefined) "BENCH_PARTIAL.json" else "BENCH_LOCAL.json")
    val line = obj(Seq[(String, Any)](
      "metric" -> Json.quote("total"),
      "value" -> coldOk.map(_._2.secs).sum,
      "unit" -> Json.quote("sec"),
      "queries" -> obj(coldOk)(_.secs),
      "queries_warm" -> obj(warmMed)(identity),
      "queries_warm_min" -> obj(warm)(_.map(_.secs).min),
      "warm_passes" -> obj(warm)(_.map(_.secs).mkString("[", ",", "]")),
      "warm_pass_count" -> warmPasses,
      "warm_spread" -> obj(warm) { ps =>
        val s = ps.map(_.secs)
        if (s.min > 0) s.max / s.min else 1.0
      },
      "failed" -> obj(failed.toSeq)(Json.quote),
      "total_warm" -> totalWarm,
      "queries_warm_gc_ms" -> obj(warm)(ps => medianLong(ps.map(_.gcMs))),
      "queries_cold_gc_ms" -> obj(coldOk)(_.gcMs),
      "queries_warm_compiles" -> obj(warm)(ps =>
        medianLong(ps.map(_.compiles))),
      "queries_cold_compiles" -> obj(coldOk)(_.compiles),
      "queries_warm_staged" -> perWarm(_.staged),
      "queries_warm_jobs" -> perWarm(_.jobs.size),
      "queries_warm_tasks" -> perWarm(_.jobs.map(_.tasks.toLong).sum),
      "queries_warm_job_s" -> perWarm(p =>
        r3(p.jobs.map(j => j.end - j.start).sum / 1000.0)),
      "queries_warm_driver_gap_s" -> perWarm(p => r3(p.gapS)),
      "queries_warm_shuffle_mb" -> perWarm(p => mb(p.jobs.map(_.shuffleWrite).sum)),
      "queries_warm_input_mb" -> perWarm(p => mb(p.jobs.map(_.input).sum)),
      "sf" -> Json.quote(sfDir)))(identity)
    println(line)
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(out),
      line + "\n")
    catch { case e: Throwable =>
      log.warn(s"artifact write to $out failed: ${e.getMessage}")
    }
    // A reader that keeps only the last ~2000 bytes of stdout needs one
    // complete JSON object inside them: a short line, printed last, with
    // the slowest warm queries. The weather factors of earlier artifacts
    // stay as null keys so every parser of this line still finds them.
    val slowest = warmMed.sortBy(-_._2).take(12)
    println(obj(Seq[(String, Any)](
      "metric" -> Json.quote("total_warm"),
      "value" -> r3(totalWarm),
      "unit" -> Json.quote("sec"),
      "host_factor" -> "null",
      "io_factor" -> "null",
      "total_warm_normalized" -> "null",
      "queries" -> obj(slowest)(r3),
      "queries_n" -> warm.size,
      "queries_truncated_to" -> slowest.size,
      "failed_n" -> failed.size,
      "full" -> Json.quote(out),
      "sf" -> Json.quote(sfDir)))(identity))
    spark.stop()
  }
}
