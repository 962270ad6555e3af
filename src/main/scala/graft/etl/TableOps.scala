package graft.etl

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.Comparator

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.core.Tables

/** Driver-side orchestration operators (SURVEY §2.1 "JDBC driver-side
  * SQL" + §2.10 incremental bookkeeping). The reference runs these as
  * DDL/DML on Postgres around Cascalog flows (reference
  * src/common/trgx.clj:110-193, src/bolome/mlin/d_bolome_user_order
  * .clj:52-62,181-184); here the warehouse is parquet directories, so
  * they become explicit, non-exception-swallowing filesystem + DataFrame
  * steps.
  */
object TableOps {
  private val log = org.slf4j.LoggerFactory.getLogger("graft.etl.TableOps")

  /** This module's warehouse abstraction is a LOCAL parquet directory
    * tree (the sandbox posture of the reference's Postgres warehouse):
    * its mutators rename/delete through `java.nio`, which silently
    * treats a scheme'd URI (`hdfs://…`, `s3a://…`, `file:/…`) as a
    * nonexistent relative path — on such a path `createTableIf` would
    * CLOBBER an existing remote table with an empty one instead of
    * noticing it. Reject scheme'd paths loudly; a distributed
    * deployment routes these operations through a transactional table
    * format, not filesystem renames. */
  private def requireLocalPath(op: String, path: String): Unit =
    require(!path.contains("://") && !path.startsWith("file:"),
      s"$op operates on local paths only (java.nio rename/delete " +
        s"semantics); got scheme'd URI: $path")

  private def rm(p: Path): Unit =
    if (Files.exists(p)) {
      // Files.walk streams hold open directory handles — close them
      // even when a delete throws mid-traversal (these run per publish
      // in long-lived loops; leaked FDs accumulate toward EMFILE)
      val walk = Files.walk(p)
      try walk.sorted(Comparator.reverseOrder[Path]())
        .forEach(f => Files.delete(f))
      finally walk.close()
    }

  /** `create-table-if` (trgx.clj:121-127): materialize an empty table
    * with the given schema if absent. */
  def createTableIf(spark: SparkSession, path: String, schema: StructType): Unit = {
    requireLocalPath("createTableIf", path)
    if (!Files.exists(Paths.get(path)))
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
                            schema)
        .write.mode("overwrite").parquet(path)
  }

  /** `truncate-tab` (mlin/d_bolome_user_order.clj:52-53). Published
    * through [[replaceInto]]'s move-aside machinery, NOT rm-then-create:
    * a crash between a raw delete and the re-create would leave the
    * table absent with no `__replaced` backup — the exact no-window
    * posture every other mutator in this file maintains. */
  def truncateTab(spark: SparkSession, path: String): Unit = {
    requireLocalPath("truncateTab", path)
    restoreInterrupted(path)
    val schema = spark.read.parquet(path).schema
    val stagedPath = path + "__truncate_staged"
    spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      .write.mode("overwrite").parquet(stagedPath)
    replaceInto(stagedPath, path)
  }

  /** `switch-tab` (mlin/d_bolome_user_order.clj:59-62): 3-way rename
    * swap, live ↔ shadow via a tmp name. Each rename is atomic but the
    * TRIPLE is not: a crash between moves leaves the live path empty
    * with the data intact at `<live>__swap_tmp` — that leftover is
    * detected here and refused loudly (recover by moving it back)
    * rather than silently swapping a half-published state. Concurrent
    * readers during the swap window can observe a missing live path;
    * single-writer, reader-quiesced publishing is the contract
    * (matching the reference's serial job scheduler). */
  def switchTab(live: String, shadow: String): Unit = {
    requireLocalPath("switchTab", live)
    requireLocalPath("switchTab", shadow)
    // heal a crashed replaceInto first, like every sibling mutator — a
    // live path sitting at <live>__replaced would otherwise throw
    // NoSuchFileException here, and a naive createTableIf+retry
    // recovery would swap an EMPTY table in over the recoverable build
    restoreInterrupted(live)
    restoreInterrupted(shadow)
    val l = Paths.get(live); val s = Paths.get(shadow)
    val tmp = Paths.get(live + "__swap_tmp")
    require(!Files.exists(tmp),
      s"switchTab: leftover $tmp from an interrupted swap — move it " +
        s"back to $live (or remove it if $live was re-published) first")
    Files.move(l, tmp, StandardCopyOption.ATOMIC_MOVE)
    Files.move(s, l, StandardCopyOption.ATOMIC_MOVE)
    Files.move(tmp, s, StandardCopyOption.ATOMIC_MOVE)
  }

  /** Recover a table whose last [[replaceInto]] crashed between the
    * move-aside and the move-in (target path missing, previous build
    * sitting at `<path>__replaced`): restore the previous build so
    * readers see the last published state instead of an absent table —
    * which `createTableIf` would silently re-create EMPTY, losing all
    * history. Callers that read a replaceInto-published table before
    * rebuilding it run this first; no-op when the table is intact. */
  def restoreInterrupted(path: String): Unit = {
    requireLocalPath("restoreInterrupted", path)
    val t = Paths.get(path)
    val old = Paths.get(path + "__replaced")
    if (!Files.exists(t) && Files.exists(old))
      Files.move(old, t, StandardCopyOption.ATOMIC_MOVE)
  }

  /** `replace-into-ods` (trgx.clj:188-193): publish a staged build over
    * the target (DROP + RENAME equivalent).
    *
    * Move-aside ordering, NOT delete-then-move: the previous table is
    * renamed to `<target>__replaced` before the staged build moves in,
    * so no crash point leaves the data deleted with nothing published —
    * every intermediate state has the old table (at `target` or
    * `__replaced`), the new one (at `staged` or `target`), or both on
    * disk. Entry first heals a crashed predecessor
    * ([[restoreInterrupted]]), then reaps completed-publish residue
    * (`__replaced` alongside an intact target — the delete is the last
    * step). */
  def replaceInto(staged: String, target: String): Unit = {
    requireLocalPath("replaceInto", staged)
    requireLocalPath("replaceInto", target)
    restoreInterrupted(target)
    val t = Paths.get(target)
    val old = Paths.get(target + "__replaced")
    rm(old)
    val hadTarget = Files.exists(t)
    if (hadTarget) Files.move(t, old, StandardCopyOption.ATOMIC_MOVE)
    Files.move(Paths.get(staged), t, StandardCopyOption.ATOMIC_MOVE)
    if (hadTarget) rm(old)
  }

  /** Small-file compaction — the 100 TB operational companion to the
    * incremental append patterns above (every `_rng` micro-increment
    * appends a few files; after thousands of loads the scan cost is
    * dominated by file-open overhead). Rewrites the table into
    * ceil(bytes / targetBytes) files via a shadow dir + atomic swap.
    * Returns (files before, files after). */
  def compact(spark: SparkSession, path: String,
              targetBytes: Long = 128L << 20): (Int, Int) = {
    requireLocalPath("compact", path)
    restoreInterrupted(path)
    def parts(p: String): Seq[java.io.File] =
      Option(new java.io.File(p).listFiles()).getOrElse(Array.empty)
        .filter(f => f.getName.startsWith("part-")).toSeq
    require(new java.io.File(path).isDirectory,
      s"compact: no table directory at $path")
    // a Hive-partitioned layout (col=value subdirs) would be FLATTENED
    // by the plain read→repartition→write below — the partition dirs
    // become ordinary columns in unpartitioned output files, and the
    // top-level size probe sees 0 bytes so everything collapses into
    // one file. Refuse loudly; partitioned tables compact per-partition
    // (run compact on each leaf dir) or through a table format.
    val partDirs = Option(new java.io.File(path).listFiles())
      .getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.contains("="))
    require(partDirs.isEmpty,
      s"compact: $path is Hive-partitioned (${partDirs.head.getName}, " +
        s"…) — a flat rewrite would drop the partition layout; " +
        s"compact each partition directory instead")
    val before = parts(path)
    val n = math.max(1,
      math.ceil(before.map(_.length).sum.toDouble / targetBytes).toInt)
    val staged = path + "__compact"
    spark.read.parquet(path).repartition(n)
      .write.mode("overwrite").parquet(staged)
    replaceInto(staged, path)
    (before.size, parts(path).size)
  }

  /** `detele-report!` ranged delete (trgx.clj:118-119): rewrite the table
    * without rows in [startDt, endDt] — parquet has no in-place DELETE,
    * so this is a filtered rewrite through a staged dir. Null-dt rows
    * SURVIVE: `DELETE WHERE dt BETWEEN a AND b` never matches NULL, and
    * the JDBC twin ([[graft.sources.Jdbc.deleteRange]]) inherits that
    * from SQL — a bare `!between` here would instead drop them (NOT
    * NULL = NULL filters the row), silently diverging between the two
    * warehouse backends. */
  def deleteRange(spark: SparkSession, path: String, dtCol: String,
                  startDt: String, endDt: String): Unit = {
    requireLocalPath("deleteRange", path)
    restoreInterrupted(path)
    val staged = path + "__staged"
    spark.read.parquet(path)
      .filter(col(dtCol).isNull || !col(dtCol).between(startDt, endDt))
      .write.mode("overwrite").parquet(staged)
    replaceInto(staged, path)
  }

  /** dt column as an ISO yyyy-MM-dd string: STRING passes through
    * (the reference's CHAR(10) convention), DATE casts to its ISO form,
    * anything else fails loudly at plan time — Row.getString on a
    * DateType aggregate used to throw a bare ClassCastException deep in
    * the resume-range computation. Timestamps must be truncated to a
    * date upstream (which day a timestamp belongs to is a timezone
    * decision this bookkeeping must not make silently). */
  private def dtAsIsoString(df: DataFrame, dtCol: String): Column = {
    import org.apache.spark.sql.types.{DateType, StringType}
    df.schema(dtCol).dataType match {
      case StringType => col(dtCol)
      case DateType => col(dtCol).cast("string")
      case t => throw new IllegalArgumentException(
        s"dt column $dtCol must be STRING or DATE, got $t — cast " +
          "timestamps to a date (choosing the timezone) upstream")
    }
  }

  /** `report->next-dt` (trgx.clj:110-116): resume range = MAX(dw_dt)+1
    * day → tomorrow; `defaultStart` when the table is empty. */
  def reportNextDt(df: DataFrame, dtCol: String, defaultStart: String,
                   endDt: String): (String, String) = {
    val maxDt = df.agg(max(dtAsIsoString(df, dtCol))).first().getString(0)
    val start =
      if (maxDt == null) defaultStart
      else java.time.LocalDate.parse(maxDt).plusDays(1).toString
    (start, endDt)
  }

  /** `save-and-load-rng-dt!` (trgx.clj:130-164): record the load's
    * [min, max] range + row count into the `<stg>_rng` bookkeeping
    * table; returns the recorded range.
    *
    * When `stg` is a bare scan of non-partitioned parquet files with a
    * STRING dt, the range comes from those files' footers
    * ([[graft.core.Tables.parquetFilesStringRange]]) with no Spark
    * job; every other input (a filter, a projection, a cached frame, a
    * DATE dt, footers without usable stats, an all-null dt) runs the
    * min/max/count agg job, and one log line says why. */
  def saveAndLoadRng(spark: SparkSession, stg: DataFrame, dtCol: String,
                     rngPath: String): (String, String, Long) = {
    val dt = dtAsIsoString(stg, dtCol)
    val (mn, mx, cnt) = footerRange(stg, dtCol) match {
      case Right(range) => range
      case Left(why) =>
        log.info(s"saveAndLoadRng: $why; computing the load range of " +
          s"'$dtCol' with an agg job")
        val r = stg.agg(min(dt).as("mn"), max(dt).as("mx"),
                        count(lit(1)).as("cnt")).first()
        (r.getString(0), r.getString(1), r.getLong(2))
    }
    import spark.implicits._
    Seq((mn, mx, cnt)).toDF("dw_bgn_dt", "dw_end_dt", "dw_ld_cnt")
      .write.mode("append").parquet(rngPath)
    (mn, mx, cnt)
  }

  /** The load range of `stg` from parquet footers, or why not: only a
    * plan that is exactly one non-partitioned parquet relation reads
    * its own input files, so the footers see every row it returns. */
  private def footerRange(stg: DataFrame, dtCol: String):
      Either[String, (String, String, Long)] = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
      LogicalRelation}
    import org.apache.spark.sql.execution.datasources.parquet
      .ParquetFileFormat
    import org.apache.spark.sql.types.StringType
    stg.queryExecution.optimizedPlan match {
      case l: LogicalRelation => l.relation match {
        case h: HadoopFsRelation if h.fileFormat.isInstanceOf[ParquetFileFormat]
            && h.partitionSchema.isEmpty =>
          if (stg.schema(dtCol).dataType != StringType)
            Left(s"dt is ${stg.schema(dtCol).dataType.simpleString}, and " +
              "only string footer statistics are read")
          else Tables.parquetFilesStringRange(h.location.inputFiles.toSeq,
              stg.sparkSession.sessionState.newHadoopConf(), dtCol)
            .toRight("the stg footers carry no usable statistics for it")
        case _ => Left("stg is not a non-partitioned parquet scan")
      }
      case _ => Left("stg is not a bare file scan")
    }
  }

  /** Delta/shadow/switch incremental pattern
    * (model/d_bolome_order_show_debut.clj:61-99,150-183): apply a delta
    * to the current snapshot via a caller-supplied merge, build the next
    * snapshot in a shadow dir, then swap. */
  def deltaShadowSwitch(spark: SparkSession, livePath: String,
                        delta: DataFrame,
                        mergeFn: (DataFrame, DataFrame) => DataFrame): Unit = {
    requireLocalPath("deltaShadowSwitch", livePath)
    restoreInterrupted(livePath)
    val current = spark.read.parquet(livePath)
    val shadow = livePath + "__shadow"
    mergeFn(delta, current).write.mode("overwrite").parquet(shadow)
    replaceInto(shadow, livePath)
  }
}
