package graft.core

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}

/** Parquet table catalog over the driver's TESTDATA layout.
  *
  * Mirrors the reference's `pg-tap` source (reference
  * src/common/trgx.clj:96-108): a named-table handle that yields a tuple
  * stream. Here the storage is parquet-per-table; column pruning and
  * filter pushdown reach the scan via Catalyst, which `pg-tap` (all
  * columns as String over JDBC) never had.
  */
object Tables {
  /** Inferred-schema memo for catalog tables, keyed by path and
    * checked against the table directory's modification time: one
    * footer inference (a Spark job) per table VERSION instead of one
    * per call. A table rewritten at the same path — an ODS republished
    * by each load — gets a new directory and is re-inferred, so a read
    * never applies a previous version's schema. Data is NEVER cached —
    * only the StructType. */
  private val tableSchemas = new java.util.concurrent
    .ConcurrentHashMap[String, (Long, org.apache.spark.sql.types.StructType)]()

  private def readMemoSchema(spark: SparkSession, path: String):
      DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    val mtime = scala.util.Try(p.getFileSystem(
      spark.sparkContext.hadoopConfiguration).getFileStatus(p)
      .getModificationTime).getOrElse(-1L)
    Option(tableSchemas.get(path)).filter(_._1 == mtime) match {
      case Some((_, sc)) => spark.read.schema(sc).parquet(path)
      case None =>
        val sc = parquetSchema(spark, path)
        tableSchemas.put(path, (mtime, sc))
        spark.read.schema(sc).parquet(path)
    }
  }

  /** The schema `spark.read.parquet(path).schema` infers, read on the
    * driver: every footer of a flat parquet file or directory goes
    * through Spark's own footer converter under the session conf
    * ([[GraftBridge.parquetFooterSchema]]), made nullable like a file
    * relation's schema. Spark's inference is a job that reads one
    * footer and trusts it for the rest, so this helper requires every
    * footer to agree; on any disagreement, and for layouts Spark would
    * read differently (partition or other subdirectories, summary
    * `_metadata` files, no data file at all), it runs Spark's
    * inference instead. */
  def parquetSchema(spark: SparkSession, path: String):
      org.apache.spark.sql.types.StructType = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    val top =
      if (!fs.exists(p)) Nil
      else {
        val root = fs.getFileStatus(p)
        if (root.isDirectory) fs.listStatus(p).toSeq else Seq(root)
      }
    val summaries = top.exists(f =>
      Set("_metadata", "_common_metadata")(f.getPath.getName))
    val data = top.filter(f => visibleName(f.getPath.getName))
    val schemas =
      if (summaries || data.exists(_.isDirectory)) Nil
      else data.map(f => GraftBridge.parquetFooterSchema(spark,
        new org.apache.parquet.hadoop.Footer(f.getPath, footer(f, conf))))
    if (schemas.nonEmpty && schemas.forall(_ == schemas.head))
      GraftBridge.asNullable(schemas.head)
    else spark.read.parquet(path).schema
  }

  /** Read one named table from a scale-factor directory. */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    if (name == "events") events(spark, sfDir)
    else readMemoSchema(spark, s"$sfDir/$name.parquet")

  /** events.parquet's `ts` physical encoding has varied across testdata
    * generations — TIMESTAMP(NANOS) (which Spark's vectorized reader
    * rejects outright) and plain timestamp[us] have both been observed —
    * so adapt to whatever the footer says instead of assuming one:
    *   - LongType: the legacy nanosAsLong escape hatch fired, so the file
    *     was nanos; convert epoch-nanos → microsecond timestamps
    *     (day/second-grain queries are unaffected by the truncation).
    *   - TimestampType: already the session type; pass through.
    *   - TimestampNTZType (timestamp[us], isAdjustedToUTC=false): cast to
    *     the session TimestampType. All harness sessions run with
    *     spark.sql.session.timeZone=UTC, so the cast is a value identity
    *     and stays hash-compatible with the DuckDB oracle's naive read. */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val nanosKey = "spark.sql.legacy.parquet.nanosAsLong"
    if (!spark.conf.getOption(nanosKey).contains("true"))
      spark.conf.set(nanosKey, "true")
    val raw = readMemoSchema(spark, s"$sfDir/events.parquet")
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampType => raw
      case TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case other => throw new IllegalStateException(
        s"events.parquet ts has unsupported type $other " +
          "(expected int64-nanos, timestamp, or timestamp_ntz)")
    }
  }

  /** Scratch directory for queries that materialize intermediate
    * tables (staged parquet, embedded Derby): `GRAFT_TMP_DIR`, else
    * `target/graft_tmp` under the working directory, made absolute so
    * every consumer (Spark, java.nio, Derby) sees the same directory. */
  def tmpDir: String = sys.env.getOrElse("GRAFT_TMP_DIR",
    java.nio.file.Paths.get("target", "graft_tmp").toAbsolutePath.toString)

  // ---------- owned staging boundaries ----------

  /** A registered staging dir: the path plus the Hadoop conf it was
    * written with — deletion must resolve the SAME filesystem
    * (credentials, defaultFS live in spark.hadoop.*; a bare
    * Configuration would silently no-op on any non-default FS). */
  private final case class Staged(path: String,
      conf: org.apache.hadoop.conf.Configuration) {
    def delete(): Unit =
      try {
        val p = new org.apache.hadoop.fs.Path(path)
        p.getFileSystem(conf).delete(p, true)
      } catch { case scala.util.control.NonFatal(_) => () }
  }

  private val stagedWrites =
    new java.util.concurrent.atomic.AtomicLong(0)

  /** Monotone count of [[staged]] materializations since JVM start.
    * Bench reads the delta across a query's cold pass to classify the
    * staged-machinery class (≥2 staged intermediate writes ⇒ disk-bound
    * many-small-jobs shape ⇒ 5-pass warm median) BY CONSTRUCTION — the
    * r13 name list at Bench.noisy() was reactive: queries joined it one
    * round AFTER their disk-weather spread burned a comparison. */
  def stagedWriteCount: Long = stagedWrites.get

  private val stagedPaths =
    new java.util.concurrent.ConcurrentLinkedQueue[Staged]()
  // a scope FRAME is a concurrent queue, not an ArrayList: with
  // [[scopedFuture]] several worker threads may register dirs into the
  // SAME caller frame concurrently
  private type Frame = java.util.concurrent.ConcurrentLinkedQueue[Staged]
  private val scopePaths =
    new ThreadLocal[java.util.ArrayDeque[Frame]] {
      override def initialValue() = new java.util.ArrayDeque()
    }
  @volatile private var hookInstalled = false

  /** Deterministic staging boundary for multiply-scanned intermediates:
    * materialize `df` to a parquet table under [[tmpDir]] and read it
    * back. Unlike `persist()` no executor-cache entry can outlive the
    * call; unlike an anonymous temp write the DIRECTORY lifetime is
    * owned too — every staged path is registered (BEFORE the write, so
    * a mid-write failure still gets reaped) and removed by the
    * innermost enclosing [[stagedScope]], by [[clearStaged]], or by a
    * JVM shutdown hook, whichever comes first. Long-running loops that
    * stage per batch (the streaming ingests) wrap each batch in
    * `stagedScope` so disk use is bounded by one batch, not the run. */
  def staged(df: org.apache.spark.sql.DataFrame, tag: String):
      org.apache.spark.sql.DataFrame =
    stageWith(df, tag)((_, _) => ())._1

  /** The one staged write behind every `staged*` entry point: reserve a
    * registered path, write `df` there, and return the read-back plus
    * `footers` applied to the just-written directory. */
  private def stageWith[A](df: org.apache.spark.sql.DataFrame, tag: String)(
      footers: (String, org.apache.hadoop.conf.Configuration) => A):
      (org.apache.spark.sql.DataFrame, A) = {
    val conf = df.sparkSession.sessionState.newHadoopConf()
    // full 122-bit UUID, not a truncated prefix: tmpDir is shared by
    // every session/JVM on the box, and a suffix collision would mean
    // one session's mode("overwrite") silently replacing another's
    // LIVE staged intermediate (wrong results, then a
    // FileNotFoundException when the first scope exits and deletes it)
    val path = s"$tmpDir/stage_${tag}_" +
      java.util.UUID.randomUUID().toString
    stagedWrites.incrementAndGet()
    registerStagedDir(path, conf)
    df.write.mode("overwrite").parquet(path)
    (readStagedBack(df, path), footers(path, conf))
  }

  /** Read back a parquet dir this call just wrote from `df`, passing
    * the writer's own schema instead of re-inferring it from footers.
    * The schema a parquet read INFERS for a Spark-written table is
    * exactly the written schema with every level forced nullable and
    * metadata dropped (file relations apply `asNullable`), so handing
    * that to the reader is a value-identity that skips the per-call
    * footer open — a driver-side fixed cost every [[staged]] round
    * trip paid, dominating iterative callers that stage per round. */
  private def readStagedBack(df: org.apache.spark.sql.DataFrame,
      path: String): org.apache.spark.sql.DataFrame =
    df.sparkSession.read.schema(nullableSchema(df.schema)).parquet(path)

  private def nullableSchema(s: org.apache.spark.sql.types.StructType):
      org.apache.spark.sql.types.StructType =
    deepNullable(s).asInstanceOf[org.apache.spark.sql.types.StructType]

  private def deepNullable(dt: org.apache.spark.sql.types.DataType):
      org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    dt match {
      case s: StructType => StructType(s.fields.map(f =>
        StructField(f.name, deepNullable(f.dataType), nullable = true)))
      case a: ArrayType =>
        ArrayType(deepNullable(a.elementType), containsNull = true)
      case m: MapType => MapType(deepNullable(m.keyType),
        deepNullable(m.valueType), valueContainsNull = true)
      case other => other
    }
  }

  /** [[staged]] plus the EXACT row count of what was just written,
    * read from the parquet footers ([[parquetRowCount]] — zero extra
    * Spark jobs): the loop-control primitive for staged iteration.
    * Every fixpoint/frontier loop here needs "how many rows did that
    * round produce?" immediately after the staged write — a separate
    * `count()` (or `limit(1).count()`) re-launches a job per round
    * just to learn what the write already knew. */
  def stagedCounted(df: org.apache.spark.sql.DataFrame, tag: String):
      (org.apache.spark.sql.DataFrame, Long) =
    stageWith(df, tag)(parquetRowCount)

  /** Footer-statistics (min, max, row count) of a top-level string
    * column over exactly the parquet files `files` (paths or URIs, e.g.
    * a file relation's `inputFiles`) — the load-range bookkeeping's
    * zero-job answer. Footer min/max for BINARY columns is the unsigned
    * byte-lexicographic order, which is exactly UTF8String's (Spark's
    * string min/max), so untruncated statistics equal
    * `agg(min(col), max(col))` bit-for-bit over the non-null rows.
    * None when any footer lacks usable statistics, when a bound may
    * have been truncated, or when no row holds a non-null value (the
    * caller falls back to the agg job — correctness never rides on
    * stats being present). */
  def parquetFilesStringRange(files: Seq[String],
      conf: org.apache.hadoop.conf.Configuration,
      colName: String): Option[(String, String, Long)] = {
    val blocks = files.flatMap { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      footer(p.getFileSystem(conf).getFileStatus(p), conf).getBlocks
        .asScala.toSeq
    }
    stringMinMax(blocks, conf, colName)
      .map { case (mn, mx) => (mn, mx, blocks.map(_.getRowCount).sum) }
  }

  private def stringMinMax(
      blocks: Seq[org.apache.parquet.hadoop.metadata.BlockMetaData],
      conf: org.apache.hadoop.conf.Configuration,
      colName: String): Option[(String, String)] = {
    // with `parquet.statistics.truncate.length` set, a bound longer
    // than the limit is stored cut to a code-point boundary at most 3
    // bytes short of it (min: a prefix, max: an incremented prefix) —
    // a bound, not a value, so no bound that long is trusted
    val maybeCut = conf.getInt(org.apache.parquet.hadoop.ParquetOutputFormat
      .STATISTICS_TRUNCATE_LENGTH, Int.MaxValue) - 3
    columnStats(blocks, colName).flatMap { stats =>
      val bounds = stats.collect {
        case bs: org.apache.parquet.column.statistics.BinaryStatistics =>
          (bs.genericGetMin.getBytes, bs.genericGetMax.getBytes)
      }
      if (bounds.isEmpty || bounds.size < stats.size ||
          bounds.exists { case (mn, mx) =>
            mn.length >= maybeCut || mx.length >= maybeCut })
        None
      else {
        // raw UTF-8 bytes in UNSIGNED lexicographic order — UTF8String's
        // order, which differs from Java String's UTF-16 order on
        // supplementary-vs-BMP mixes
        val order: Ordering[Array[Byte]] =
          (a, b) => java.util.Arrays.compareUnsigned(a, b)
        def str(b: Array[Byte]) =
          new String(b, java.nio.charset.StandardCharsets.UTF_8)
        Some((str(bounds.map(_._1).min(order)),
          str(bounds.map(_._2).max(order))))
      }
    }
  }

  /** [[staged]] plus the exact footer MAX of one top-level int/long
    * column of what was just written — zero extra Spark jobs. The
    * loop-control primitive for staged fixpoint iterations whose stop
    * test is "did ANY row change": carry a 0/1 changed flag and read
    * its max from the footers instead of launching a max() job per
    * round. None when stats are unusable or every value is null
    * (caller falls back to the agg job). */
  def stagedWithLongMax(df: org.apache.spark.sql.DataFrame,
      tag: String, colName: String):
      (org.apache.spark.sql.DataFrame, Option[Long]) =
    stageWith(df, tag)(parquetLongMax(_, _, colName))

  /** Footer-statistics max of a top-level int32/int64 column across
    * every visible parquet file under `path` — numeric stats are exact
    * (no truncation applies), so this equals `max(col)` bit-for-bit
    * over the non-null rows. None when a block lacks usable stats or
    * no non-null value exists. */
  def parquetLongMax(path: String,
      conf: org.apache.hadoop.conf.Configuration,
      colName: String): Option[Long] =
    columnStats(footerBlocks(path, conf), colName).flatMap { stats =>
      val maxes = stats.collect {
        case ls: org.apache.parquet.column.statistics.LongStatistics =>
          ls.getMax
        case is: org.apache.parquet.column.statistics.IntStatistics =>
          is.getMax.toLong
      }
      if (maxes.size < stats.size) None else maxes.maxOption
    }

  /** Statistics of top-level column `colName` in every row group under
    * `path` that holds a non-null value. None when any row group lacks
    * the column or usable stats — one such group makes the whole figure
    * unknown; an all-null group just contributes nothing (SQL min/max
    * ignore nulls). */
  private def columnStats(
      blocks: Seq[org.apache.parquet.hadoop.metadata.BlockMetaData],
      colName: String):
      Option[Seq[org.apache.parquet.column.statistics.Statistics[_]]] = {
    val stats = blocks.map(_.getColumns.asScala
      .find(_.getPath.toDotString == colName).map(_.getStatistics).orNull)
    if (stats.exists(st => st == null || st.isEmpty)) None
    else Some(stats.filter(_.hasNonNullValue))
  }

  /** Read back a parquet dir the CALLER wrote from a plan with schema
    * `schemaOf`, skipping footer schema inference (the [[staged]]
    * read-back contract for self-managed writes — graph-loop round
    * dirs and partitioned reach directories). For a partitioned dir,
    * include the partition column in `schemaOf`. */
  def readAsWritten(spark: SparkSession, path: String,
      schemaOf: org.apache.spark.sql.types.StructType):
      org.apache.spark.sql.DataFrame =
    spark.read.schema(nullableSchema(schemaOf)).parquet(path)

  /** Exact row count of a parquet directory from file-footer metadata
    * alone — a driver-side listing + footer reads, no Spark job. Sums
    * each part file's block row counts (parquet footers carry exact
    * counts; this equals `spark.read.parquet(path).count()`
    * bit-for-bit). Missing paths count 0. At cluster scale this is a
    * namenode listing + one footer read per file — cheap relative to
    * the job launch it replaces, and the files were just written by
    * this driver so the metadata is hot. */
  def parquetRowCount(path: String,
      conf: org.apache.hadoop.conf.Configuration): Long =
    footerBlocks(path, conf).map(_.getRowCount).sum

  /** The one footer walk: the row groups of every visible file under
    * `path`, none for a missing path. Like Spark's reader, a visible
    * file is data whatever its name (Hive-style `000000_0` part files
    * carry no `.parquet` suffix) — skipping one would under-count rows
    * and under-state maxes. Hidden path components (_temporary from a
    * crashed append, .staging, _SUCCESS-style markers) are skipped
    * exactly like Spark's reader — otherwise a crash mid-append would
    * leak uncommitted task files the read side never sees into every
    * footer-derived figure.
    *
    * The walk uses `listStatus`, not `listFiles`: each `LocatedFileStatus`
    * the latter builds loads its file's permission, which the local FS
    * without native Hadoop gets by forking `ls -ld` per file (~750 ms
    * against ~6 ms over 250 files). */
  private def footerBlocks(path: String,
      conf: org.apache.hadoop.conf.Configuration):
      Seq[org.apache.parquet.hadoop.metadata.BlockMetaData] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) return Nil
    // a hidden directory hides everything below it, so it is not entered
    def walk(dir: org.apache.hadoop.fs.Path)
        : Seq[org.apache.hadoop.fs.FileStatus] =
      fs.listStatus(dir).toSeq.filter(f => visibleName(f.getPath.getName))
        .flatMap(f => if (f.isDirectory) walk(f.getPath) else Seq(f))
    val root = fs.getFileStatus(p)
    (if (root.isDirectory) walk(p) else Seq(root))
      .flatMap(f => footer(f, conf).getBlocks.asScala.toSeq)
  }

  private def visibleName(name: String): Boolean =
    !name.startsWith("_") && !name.startsWith(".")

  private def footer(f: org.apache.hadoop.fs.FileStatus,
      conf: org.apache.hadoop.conf.Configuration):
      org.apache.parquet.hadoop.metadata.ParquetMetadata = {
    val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(f, conf))
    try rd.getFooter
    finally rd.close()
  }

  /** Register an arbitrary directory with the staged-path reaper —
    * same lifetime contract as [[staged]] (innermost scope /
    * clearStaged / shutdown hook) for non-parquet fixture dirs, e.g.
    * the binaryFile source probe's media files. Returns the path. */
  def registerStagedDir(path: String,
      conf: org.apache.hadoop.conf.Configuration): String = {
    val entry = Staged(path, conf)
    val scope = scopePaths.get().peek()
    if (scope != null) scope.add(entry) else stagedPaths.add(entry)
    ensureHook()
    path
  }

  private def ensureHook(): Unit =
    if (!hookInstalled) synchronized {
      if (!hookInstalled) {
        Runtime.getRuntime.addShutdownHook(new Thread(() => clearStaged()))
        hookInstalled = true
      }
    }

  /** Fresh reaper-registered scratch path (no write happens here) —
    * for sinks the caller writes itself (e.g. a family-run report
    * sink) but wants cleaned on the same lifetime contract as
    * [[staged]]. NOTE: inherits the innermost-scope rule too — call it
    * OUTSIDE a [[stagedScope]] if the sink must outlive the scope. */
  def scratchDir(spark: SparkSession, tag: String): String =
    registerStagedDir(
      s"$tmpDir/${tag}_" + java.util.UUID.randomUUID().toString,
      spark.sessionState.newHadoopConf())

  /** Run `f`, then delete every staging dir [[staged]] created inside
    * it on this thread — the bounded-disk form for per-batch loops.
    * The staged data must be fully consumed within the scope.
    * Concurrent driver threads spawned INSIDE the scope must go
    * through [[scopedFuture]] — the frame is a ThreadLocal, so a bare
    * Future's registrations would bypass the scope and land in the
    * global reaper queue (unreaped until clearStaged/shutdown). */
  def stagedScope[T](f: => T): T = {
    val frame = new Frame()
    scopePaths.get().push(frame)
    try f
    finally {
      scopePaths.get().pop()
      frame.forEach(_.delete())
    }
  }

  /** `Future(body)` with the calling thread's innermost [[stagedScope]]
    * frame propagated onto the worker thread — staging dirs the future
    * registers are reaped by the CALLER's enclosing scope, exactly as
    * if the work had run inline (ADVICE r15 #2: the concurrent graph
    * walks inside a foreachBatch's per-batch scope were leaking their
    * scratch dirs into the global queue). The caller must Await the
    * future before its enclosing scope exits — the frame is deleted at
    * scope exit, so a still-running future would stage into deleted
    * dirs (every caller here is a fork/join wave, which satisfies
    * this by construction). With no enclosing scope this is a plain
    * Future (registrations go to the global queue as before). */
  def scopedFuture[T](body: => T)(
      implicit ec: scala.concurrent.ExecutionContext):
      scala.concurrent.Future[T] = {
    val frame = scopePaths.get().peek()
    scala.concurrent.Future {
      if (frame == null) body
      else {
        scopePaths.get().push(frame)
        try body finally scopePaths.get().pop()
      }
    }
  }

  /** Delete every non-scoped staging dir registered so far (session
    * cleanup; also the shutdown-hook action). */
  def clearStaged(): Unit = {
    var p = stagedPaths.poll()
    while (p != null) { p.delete(); p = stagedPaths.poll() }
  }

  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Register every table as a temp view (for spark.sql use). */
  def registerViews(spark: SparkSession, sfDir: String): Unit =
    all.foreach(n => table(spark, sfDir, n).createOrReplaceTempView(n))

  /** Bucketed catalog write: co-locates both sides of a recurring
    * equi-join (the stg⊕ods merge key, the fact⋈fact self-join) so the
    * join plans with zero Exchanges — at 100 TB the shuffle this avoids
    * is the dominant cost of every incremental merge. Requires a
    * catalog table (bucket metadata lives in the metastore). */
  def writeBucketed(df: org.apache.spark.sql.DataFrame, table: String,
                    bucketCol: String, nBuckets: Int): Unit = {
    val spark = df.sparkSession
    // the name is interpolated into SQL and mapped to a warehouse
    // directory below — require a PLAIN unqualified identifier (a
    // qualified db.tbl name lives at <warehouse>/<db>.db/tbl, which the
    // single-segment location mapping would get wrong)
    require(table.matches("[A-Za-z_][A-Za-z0-9_]*"),
      s"writeBucketed: table must be a plain unqualified identifier, " +
        s"got: $table")
    spark.sql(s"DROP TABLE IF EXISTS $table")
    // with an in-memory catalog a previous JVM's table dir can survive
    // without metadata; clear it so CREATE doesn't trip on the
    // location. LOCAL warehouses only — on a remote scheme the NIO
    // probe would silently no-op and miss the stale dir anyway; there
    // the catalog is a real metastore and this failure class is gone
    val warehouse = spark.conf.get("spark.sql.warehouse.dir")
      .stripPrefix("file:")
    if (!warehouse.contains("://")) {
      val loc = java.nio.file.Paths.get(warehouse, table.toLowerCase)
      if (java.nio.file.Files.exists(loc)) {
        val walk = java.nio.file.Files.walk(loc)
        try walk.sorted(java.util.Comparator.reverseOrder())
          .forEach(f => java.nio.file.Files.delete(f))
        finally walk.close()
      }
    }
    df.write.mode("overwrite").format("parquet")
      .bucketBy(nBuckets, bucketCol).sortBy(bucketCol)
      .saveAsTable(table)
  }
}
