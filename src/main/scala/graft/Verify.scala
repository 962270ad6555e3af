package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  private val log = org.slf4j.LoggerFactory.getLogger("graft.Verify")

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = SparkEntry.localSession()
    new java.io.File(outDir).mkdirs()
    // iteration aid (mirrors Bench): SPARK_GRAFT_ONLY=a,b,c dumps just
    // those queries; the driver never sets it, so the gate is unaffected
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val selected = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
    // Failures must be LOUD in the artifact, not just stderr: in round 6
    // twelve queries threw at analysis time and the only artifact signal
    // was their ABSENCE from CORRECTNESS (the driver records no row for a
    // query with no parquet dump). verify_errors.json makes a failing
    // query impossible to miss next to oracle_sql.json.
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    // zero-row tripwire (ADVICE r14 #1): a query whose Spark AND oracle
    // results are both empty "matches" vacuously — the r14 text_bm25
    // regression (a default df-guard change emptied both sides) was
    // invisible to the hash compare. Row counts come free from the
    // just-written parquet footers (no extra job); zero-row queries are
    // flagged loudly in the log and recorded in verify_rowcounts.json.
    val rowCounts = scala.collection.mutable.LinkedHashMap[String, Long]()
    val hconf = spark.sessionState.newHadoopConf()
    selected.foreach { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        rowCounts(name) =
          graft.core.Tables.parquetRowCount(s"$outDir/$name", hconf)
      } catch { case e: Throwable =>
        // first line(s) only — a full Spark stack trace per failure would
        // bloat the artifact without adding diagnostic value
        val msg = s"${e.getClass.getName}: ${e.getMessage}".take(400)
        errors(name) = msg
        log.warn(s"$name FAILED: $msg")
      }
      // reap per-query staging dirs so a full-gate run stays bounded
      graft.core.Tables.clearStaged()
    }
    val zeroRows = rowCounts.collect { case (n, 0L) => n }.toSeq
    if (zeroRows.nonEmpty)
      log.warn("ZERO-ROW results (vacuous oracle match?): " +
        zeroRows.mkString(", "))
    def q(s: String): String = graft.core.Json.quote(s)
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = errors
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/verify_errors.json"), errJson)
    val rcJson = rowCounts
      .map { case (k, v) => s"${q(k)}: $v" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/verify_rowcounts.json"), rcJson)
    // rc stays 0 so the driver still records the queries that DID pass
    // (a nonzero rc could void the whole run)
    if (errors.nonEmpty)
      log.warn(s"${errors.size}/${selected.size} queries FAILED: " +
        errors.keys.mkString(", "))
    spark.stop()
  }
}
