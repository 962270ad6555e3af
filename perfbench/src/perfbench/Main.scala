package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark harness: one client, closed loop. Starts the session
  * several times (set-up time), then runs the workload's operation back
  * to back: once cold, then warm until `--seconds` have passed (at
  * least once), and
  * writes per-operation records for `run.py` to turn into metrics.
  *
  * With `--trace 1` odd operations run traced (spans + listener) and
  * even ones untraced, so the same JVM, seed and warmth give both the
  * per-layer numbers and the tracing overhead.
  *
  * Usage: Main --workload W --data DIR --work DIR --seconds S
  *             --trace 0|1 --cores N --out FILE --spans FILE
  */
object Main {
  private val Setups = 9

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val cores = a("cores").toInt
    val work = a("work")
    val trace = a("trace") == "1"
    val seconds = a("seconds").toDouble
    val workload = Workload(a("workload"), a("data"), work)

    val setupS = mutable.ArrayBuffer[Double]()
    var spark: SparkSession = null
    for (i <- 1 to Setups) {
      val t0 = System.nanoTime()
      spark = session(cores, work)
      setupS += (System.nanoTime() - t0) / 1e9
      if (i < Setups) spark.stop()
    }

    val sqlDir = Files.createDirectories(Paths.get(work, "oracles"))
    workload.oracles.foreach { case (n, sql) =>
      Files.writeString(sqlDir.resolve(s"$n.sql"), sql)
    }
    if (trace) Trace.install(spark.sparkContext)
    Heap.start()

    val graftTmp = sys.env("GRAFT_TMP_DIR")
    val records = mutable.ArrayBuffer[String]()
    // the window opens after the first operation: warm operations
    // fill `--seconds`
    var deadline = Long.MaxValue
    val minOps = if (trace) 3 else 2
    var i = 0
    var probe = Map.empty[String, Double]
    while (i < minOps || System.nanoTime() < deadline) {
      val traced = trace && i % 2 == 1
      Trace.on = traced
      Heap.reset()
      val cpu0 = cpuNanos(); val gc0 = gcMillis(); val w0 = ProcIo.writtenBytes()
      val st0 = graft.core.Tables.stagedWriteCount
      val tp0 = graft.ops.Relational.twoPhaseRunCount
      val t0 = System.nanoTime()
      var root = -1
      val r = graft.core.Tables.stagedScope {
        Trace.span("operation") {
          if (traced) root = Trace.allSpans.last.id
          workload.run(spark, i)
        }
      }
      val wall = (System.nanoTime() - t0) / 1e9
      val rec = mutable.LinkedHashMap[String, Any](
        "op" -> i, "traced" -> traced, "span" -> root, "wall_s" -> wall,
        "cpu_s" -> (cpuNanos() - cpu0) / 1e9,
        "written_bytes" -> (ProcIo.writtenBytes() - w0),
        "gc_s" -> (gcMillis() - gc0) / 1e3,
        "peak_heap_bytes" -> Heap.peak(),
        "staged_writes" -> (graft.core.Tables.stagedWriteCount - st0),
        "two_phase_runs" -> (graft.ops.Relational.twoPhaseRunCount - tp0),
        "leaked_dirs" -> reap(graftTmp),
        "batches_s" -> r.batchesS,
        "counters" -> r.counters,
        "outputs" -> r.outputs.map { case (n, o) =>
          n -> Seq(o.rows, o.digest) }.toMap)
      if (traced) {
        Trace.drain()
        probe = workload.probe(spark)
        Trace.drain()
      }
      Trace.on = false
      records += Json.value(rec)
      if (i == 0) deadline = System.nanoTime() + (seconds * 1e9).toLong
      i += 1
    }
    workload.close()
    if (trace) Trace.write(a("spans"))
    Files.writeString(Paths.get(a("out")), Json.obj(
      "setup_s" -> setupS, "probe" -> probe,
      "operations" -> records.map(RawJson(_))))
    spark.stop()
  }

  /** The session every workload runs in: local[N] with N shuffle
    * partitions, the graft SQL extension, UTC, and all Spark scratch
    * inside the benchmark's work directory. The trivial query forces
    * session state (and with it the extension) to initialize. */
  private def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.sql.GraftExtensions")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s.sql("SELECT 1").collect()
    s
  }

  /** Count, then delete, what the library left in its scratch dir. */
  private def reap(dir: String): Int = {
    val left = Option(new java.io.File(dir).listFiles()).getOrElse(Array())
    left.foreach(f => Workload.rmTree(f.getPath))
    left.length
  }

  private def cpuNanos(): Long =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      .getProcessCpuTime

  private def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(b.getCollectionTime, 0L)).sum
}

/** Pre-rendered JSON passed through [[Json.value]] untouched. */
final case class RawJson(text: String) {
  override def toString: String = text
}

/** Largest heap occupancy right after a garbage collection since the
  * last [[reset]], from the collectors' completion notifications. */
object Heap {
  import com.sun.management.GarbageCollectionNotificationInfo
  import javax.management.openmbean.CompositeData
  import javax.management.{Notification, NotificationEmitter, NotificationListener}

  @volatile private var max = 0L

  def start(): Unit =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter =>
        e.addNotificationListener(new NotificationListener {
          def handleNotification(n: Notification, hb: Any): Unit =
            if (n.getType ==
                GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
              val info = GarbageCollectionNotificationInfo
                .from(n.getUserData.asInstanceOf[CompositeData])
              val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
                .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
              synchronized { if (used > max) max = used }
            }
        }, null, null)
      case _ => ()
    }

  private lazy val heapPools: Set[String] =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getName).toSet

  def reset(): Unit = synchronized { max = 0L }
  def peak(): Long = max
}
