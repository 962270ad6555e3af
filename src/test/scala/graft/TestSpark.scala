package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test JVM. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.extensions", "graft.sql.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        s"${graft.core.Tables.tmpDir}/spark-warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Run `body` with the given session conf keys set on [[spark]], then
    * put each key back: its previous value, or unset when it had none. */
  def withConf[T](kv: (String, String)*)(body: => T): T = {
    val prev = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** [[withConf]] setting that turns every driver-side replica off, so
    * the size-gated graph/apportion operators take their staged loops. */
  val stagedOnly: (String, String) = "spark.graft.driverPath.maxRows" -> "0"

  /** Run `body` and count the Spark jobs it launched on this thread
    * (tagged with a fresh job group, so concurrent work is not
    * counted; the listener bus is drained before reading). */
  def jobsRun[T](body: => T): (T, Int) = {
    val group = "jobs-" + java.util.UUID.randomUUID()
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(
              _.getProperty("spark.jobGroup.id") == group))
          n.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group)
    try {
      val out = body
      org.apache.spark.sql.GraftBridge.waitListenerBusEmpty(sc)
      (out, n.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  /** Scratch dir for a test, under the relocatable [[graft.core.Tables.tmpDir]]
    * (never a hardcoded checkout path — honors the GRAFT_TMP_DIR
    * override the production code documents). */
  def tmpPath(prefix: String): java.nio.file.Path = {
    val base = java.nio.file.Paths.get(graft.core.Tables.tmpDir)
    java.nio.file.Files.createDirectories(base)
    java.nio.file.Files.createTempDirectory(base, prefix)
  }

  /** Flatten a physical plan INCLUDING the interior of AQE wrappers —
    * AdaptiveSparkPlanExec is a leaf node, so a plain `collect` sees
    * nothing beneath it and node-level assertions become vacuous.
    * Shared by PlanSpec and PlanFingerprintSpec so the traversal
    * cannot drift between them. */
  def planNodes(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    p +: (p match {
      case a: AdaptiveSparkPlanExec => planNodes(a.initialPlan)
      case _ => p.children.flatMap(planNodes)
    })
  }
}
