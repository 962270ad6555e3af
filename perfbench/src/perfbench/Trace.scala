package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One closed interval of benchmark work. `parent` is -1 for a root.
  * Times are epoch milliseconds so spans and Spark job intervals share
  * one clock. */
final case class Span(id: Int, parent: Int, name: String, start: Long,
                      var end: Long = -1L)

/** A Spark job as the listener saw it: the span that was open when it
  * was submitted, the layer its call stack names, and its resources. */
final case class JobRec(id: Int, span: Int, layer: String, file: String,
                        start: Long, var end: Long = -1L,
                        var stages: Int = 0, var taskMs: Long = 0L,
                        var shuffleWrite: Long = 0L,
                        var shuffleRead: Long = 0L, var spill: Long = 0L,
                        var gcMs: Long = 0L, var maxSkew: Double = 0.0)

/** In-memory spans around every call the benchmark makes into a
  * library layer, plus a SparkListener that charges each job, stage,
  * task, shuffle byte, spill byte and GC millisecond to the span open
  * when the job was submitted. Everything stays in memory until
  * [[write]]; with tracing off [[span]] is a plain call.
  *
  * The open span travels to Spark as a local property, so jobs the
  * library submits from its own driver threads (the report family's
  * member pool inherits the caller's properties) are charged to the
  * right span even though listener events arrive asynchronously. */
object Trace {
  private val SpanProp = "perfbench.span"
  @volatile var on = false
  private var sc: SparkContext = _
  private val spans = mutable.ArrayBuffer[Span]()
  private var open: List[Span] = Nil
  private val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val stageJob = mutable.HashMap[Int, Int]()
  private val execStack = mutable.HashMap[Long, String]()
  private val taskMs = mutable.HashMap[Int, mutable.ArrayBuffer[Long]]()

  /** Layer named by a job's call stack (Spark's call-site long form,
    * innermost frame first): the first rule whose frame appears wins.
    * Member builds run on the family's pool threads, whose stacks hold
    * only the member; the sink append runs on the caller's thread,
    * inside the shared-star scope, so it is matched before the star. */
  private val layerRules: Seq[(String, String)] = Seq(
    "etl.rng" -> "TableOps$.saveAndLoadRng",
    "ops.surrogate" -> "Relational$.surrogateKeys",
    "llm.cc" -> "Dedup$.connectedComponents",
    "llm.minhash" -> "Dedup$.minHashDedupPairs",
    "rpt.member_build" -> "Tables$.$anonfun$scopedFuture",
    "rpt.sink_append" -> "Reports$.runFamily(",
    "rpt.star_stage" -> "RptQueries$.withSharedStar")

  def install(context: SparkContext): Unit = {
    sc = context
    // deep enough to reach the library frame that started the job
    System.setProperty("spark.callstack.depth", "200")
    context.addSparkListener(Listener)
  }

  def span[T](name: String)(f: => T): T =
    if (!on) f
    else {
      val s = synchronized {
        val p = open.headOption.map(_.id).getOrElse(-1)
        val s = Span(spans.size, p, name, System.currentTimeMillis())
        spans += s
        open = s :: open
        s
      }
      sc.setLocalProperty(SpanProp, s.id.toString)
      try f
      finally synchronized {
        s.end = System.currentTimeMillis()
        open = open.tail
        sc.setLocalProperty(SpanProp,
          open.headOption.map(_.id.toString).orNull)
      }
    }

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = org.apache.spark.BenchBridge.drain(sc)

  def allSpans: Seq[Span] = synchronized(spans.toList)

  private def classify(stack: String): (String, String) = {
    val layer = layerRules.collectFirst {
      case (name, frame) if stack.contains(frame) => name
    }.getOrElse("")
    // the first graft frame is the library source file that launched
    // the job (frames look like `graft.core.Tables$.staged(Tables.scala:140)`)
    val file = stack.linesIterator.map(_.trim)
      .find(l => l.startsWith("graft.") || l.startsWith("at graft."))
      .flatMap(l => "\\(([^:()]+)".r.findFirstMatchIn(l).map(_.group(1)))
      .getOrElse("")
    (layer, file)
  }

  private object Listener extends SparkListener {
    import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd,
      SparkListenerSQLExecutionStart}

    // a Dataset action's call stack is captured on the calling thread
    // when its SQL execution starts; the jobs it runs may be submitted
    // from Spark's own threads, so their stage call sites can miss it
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart =>
        Trace.synchronized(execStack(x.executionId) = x.details)
      case x: SparkListenerSQLExecutionEnd =>
        Trace.synchronized(execStack.remove(x.executionId))
      case _ => ()
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.synchronized {
      def prop(k: String) = Option(e.properties).flatMap(p =>
        Option(p.getProperty(k)))
      val span = prop(SpanProp).map(_.toInt).getOrElse(-1)
      val stack = prop("spark.sql.execution.id")
        .flatMap(id => execStack.get(id.toLong))
        .getOrElse(e.stageInfos.sortBy(-_.stageId).headOption
          .map(_.details).getOrElse(""))
      val (layer, file) = classify(stack)
      jobs(e.jobId) = JobRec(e.jobId, span, layer, file, e.time)
      e.stageIds.foreach(stageJob(_) = e.jobId)
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time)
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.synchronized {
      if (e.taskInfo != null)
        taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer())
          .append(e.taskInfo.duration)
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Trace.synchronized {
        val si = e.stageInfo
        val durations = taskMs.remove(si.stageId).getOrElse(Nil).sorted
        for (jid <- stageJob.get(si.stageId); j <- jobs.get(jid)) {
          j.stages += 1
          val m = si.taskMetrics
          if (m != null) {
            j.taskMs += m.executorRunTime
            j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
            j.gcMs += m.jvmGCTime
          }
          // skew: slowest task over the median task of a stage that
          // has at least one task per core
          if (durations.size >= sc.defaultParallelism) {
            val med = math.max(durations(durations.size / 2), 1L)
            j.maxSkew = math.max(j.maxSkew, durations.last.toDouble / med)
          }
        }
      }
  }

  /** The span file: every span and every job, one JSON object per line. */
  def write(path: String): Unit = {
    val out = new java.io.PrintWriter(path, "UTF-8")
    try {
      allSpans.foreach { s =>
        out.println(Json.obj("kind" -> "span", "id" -> s.id,
          "parent" -> s.parent, "name" -> s.name, "start_ms" -> s.start,
          "end_ms" -> s.end))
      }
      synchronized(jobs.values.toList).foreach { j =>
        out.println(Json.obj("kind" -> "job", "id" -> j.id,
          "span" -> j.span, "layer" -> j.layer, "file" -> j.file,
          "start_ms" -> j.start, "end_ms" -> j.end, "stages" -> j.stages,
          "task_ms" -> j.taskMs, "shuffle_write" -> j.shuffleWrite,
          "shuffle_read" -> j.shuffleRead, "spill" -> j.spill,
          "gc_ms" -> j.gcMs, "max_skew" -> j.maxSkew))
      }
    } finally out.close()
  }
}
