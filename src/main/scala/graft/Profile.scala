package graft
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Optimization-round measurement harness (guide §1): run named queries
  * with a SparkListener attached and attribute wall time to individual
  * Spark jobs (the UI's Jobs view, reduced to what a headless bench
  * box can capture), plus dump `explain("formatted")` for plan-claims
  * evidence under plans/.
  *
  * Usage:
  *   Profile jobs <sfDir> <name>[,<name>...]   per-job timing breakdown
  *   Profile explain <sfDir> <outDir> <name>[,...]  write <name>.txt plans
  *
  * Methodology matches Bench: same session confs, same materialize
  * action (toRdd.foreach), cache + staged dirs cleared between queries.
  * This main is measurement-only — the driver never runs it.
  */
object Profile {
  private final case class JobRow(id: Int, desc: String, ms: Long,
    tasks: Int, shufRead: Long, shufWrite: Long, input: Long)

  def main(args: Array[String]): Unit = {
    val mode = args(0)
    val sfDir = args(1)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.extensions", "graft.sql.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    mode match {
      case "explain" =>
        val outDir = args(2)
        val names = args(3).split(",").map(_.trim)
        new java.io.File(outDir).mkdirs()
        names.foreach { n =>
          val fn = SparkEntry.queries(n)
          val df = fn(spark, sfDir)
          val txt = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(s"$outDir/$n.txt"), txt)
          System.err.println(s"[profile] wrote $outDir/$n.txt")
          spark.catalog.clearCache()
          graft.core.Tables.clearStaged()
        }

      case "jobs" =>
        val names = args(2).split(",").map(_.trim)
        val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRow]()
        val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
        val stageAgg = new java.util.concurrent.ConcurrentHashMap[Int, (Int, Long, Long, Long)]()
        val stageToJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
        val listener = new SparkListener {
          override def onJobStart(e: SparkListenerJobStart): Unit = {
            val desc = Option(e.properties)
              .flatMap(p => Option(p.getProperty("spark.job.description")))
              .orElse(Option(e.properties)
                .flatMap(p => Option(p.getProperty("callSite.short"))))
              .getOrElse("")
            starts.put(e.jobId, (e.time, desc))
            e.stageIds.foreach(sid => stageToJob.put(sid, e.jobId))
          }
          override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
            val si = e.stageInfo
            val jid = stageToJob.getOrDefault(si.stageId, -1)
            if (jid >= 0) {
              val m = si.taskMetrics
              val prev = stageAgg.getOrDefault(jid, (0, 0L, 0L, 0L))
              stageAgg.put(jid, (prev._1 + si.numTasks,
                prev._2 + m.shuffleReadMetrics.totalBytesRead,
                prev._3 + m.shuffleWriteMetrics.bytesWritten,
                prev._4 + m.inputMetrics.bytesRead))
            }
          }
          override def onJobEnd(e: SparkListenerJobEnd): Unit = {
            val (t0, desc) = starts.getOrDefault(e.jobId, (e.time, "?"))
            val (tasks, sr, sw, in) =
              stageAgg.getOrDefault(e.jobId, (0, 0L, 0L, 0L))
            jobs.put(e.jobId,
              JobRow(e.jobId, desc, e.time - t0, tasks, sr, sw, in))
          }
        }
        spark.sparkContext.addSparkListener(listener)
        names.foreach { n =>
          val fn = SparkEntry.queries(n)
          jobs.clear(); starts.clear(); stageAgg.clear(); stageToJob.clear()
          // one untimed warm-up pass (JIT / page cache), mirroring the
          // bench's warm-median discipline, then the profiled pass
          fn(spark, sfDir).queryExecution.toRdd.foreach(_ => ())
          spark.catalog.clearCache(); graft.core.Tables.clearStaged()
          System.gc()
          jobs.clear(); starts.clear(); stageAgg.clear(); stageToJob.clear()
          val t0 = System.nanoTime()
          fn(spark, sfDir).queryExecution.toRdd.foreach(_ => ())
          val wall = (System.nanoTime() - t0) / 1e9
          // listener bus is async; give it a moment to drain
          Thread.sleep(500)
          import scala.jdk.CollectionConverters._
          val rows = jobs.values.asScala.toSeq.sortBy(_.id)
          val sumMs = rows.map(_.ms).sum
          println(f"== $n: wall $wall%.2f s, ${rows.size} jobs, " +
            f"sum(job ms) ${sumMs / 1000.0}%.2f s, " +
            f"gap ${wall - sumMs / 1000.0}%.2f s")
          rows.foreach { r =>
            println(f"  job ${r.id}%4d ${r.ms}%6d ms ${r.tasks}%5d tasks " +
              f"sr ${r.shufRead / 1024}%8d KB sw ${r.shufWrite / 1024}%8d KB " +
              f"in ${r.input / 1024 / 1024}%6d MB  ${r.desc.take(100)}")
          }
          spark.catalog.clearCache()
          graft.core.Tables.clearStaged()
          System.gc()
        }
    }
    spark.stop()
  }
}
