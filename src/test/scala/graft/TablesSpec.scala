package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit, max, min}
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Tables

/** The staging and footer-statistics contracts of [[graft.core.Tables]]:
  * every footer-derived figure equals the Spark aggregate it replaces,
  * or is None when the footers cannot vouch for it. */
class TablesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def hconf = spark.sessionState.newHadoopConf()

  private def dirOf(df: DataFrame): java.nio.file.Path =
    Paths.get(new java.net.URI(df.inputFiles.head)).getParent

  // mixes ASCII, Latin-1, CJK and an astral code point: U+1F600 sorts
  // ABOVE U+E000 in UTF-8 byte order but BELOW it in UTF-16 order
  private val strings = Seq("b", "a\u00E9", "\u4E2D\u6587", "\uE000",
    "\uD83D\uDE00", "", null, "zz")

  private def stringsDf: DataFrame = {
    import spark.implicits._
    strings.toDF("s").repartition(3)
  }

  test("stagedCounted equals count(), including an empty input") {
    Tables.stagedScope {
      val df = spark.range(0, 1234).repartition(3).toDF("id")
      val (st, n) = Tables.stagedCounted(df, "ts_counted")
      assert(n == 1234L)
      assert(n == st.count())
      val (st0, n0) = Tables.stagedCounted(df.filter(col("id") < 0),
        "ts_counted_empty")
      assert(n0 == 0L && st0.count() == 0L)
    }
  }

  /** Write `df` to a fresh dir and read column `s`'s footer range over
    * the written part files, as the ODS load range does. */
  private def writtenRange(df: DataFrame, tag: String):
      Option[(String, String, Long)] = {
    val dir = TestSpark.tmpPath(tag)
    try {
      val out = dir.resolve("t").toString
      df.write.parquet(out)
      Tables.parquetFilesStringRange(
        spark.read.parquet(out).inputFiles.toSeq, hconf, "s")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("parquetFilesStringRange equals agg(min, max) in unsigned UTF-8 " +
       "order") {
    val r = stringsDf.agg(min("s"), max("s")).first()
    val range = writtenRange(stringsDf, "ts_srange")
    assert(range.map(x => (x._1, x._2)) ==
      Some((r.getString(0), r.getString(1))))
    assert(range == Some(("", "\uD83D\uDE00", strings.size.toLong)))
  }

  test("parquetFilesStringRange is None for an all-null column") {
    val df = spark.range(0, 10).select(lit(null).cast("string").as("s"))
    assert(writtenRange(df, "ts_srange_null").isEmpty)
  }

  test("parquetFilesStringRange does not trust truncated footer stats") {
    TestSpark.withConf("parquet.statistics.truncate.length" -> "4") {
      import spark.implicits._
      val df = Seq("abcdefgh", "zyxwvuts", "mmmmmmmmmm").toDF("s")
      assert(writtenRange(df, "ts_srange_trunc").isEmpty)
      // 3-byte code points: the cut lands on a boundary below the limit
      val cjk = Seq("\u4E2D\u6587\u4E2D\u6587").toDF("s")
      assert(writtenRange(cjk, "ts_srange_trunc").isEmpty)
    }
  }

  test("stagedWithLongMax equals agg(max) on int and long columns") {
    Tables.stagedScope {
      val df = spark.range(-50, 977).repartition(3)
        .select(col("id").as("l"), (col("id") % 7).cast("int").as("i"),
          lit(null).cast("long").as("n"))
      for (c <- Seq("l", "i")) {
        val want = df.agg(max(c)).first().get(0).asInstanceOf[Number]
          .longValue
        assert(Tables.stagedWithLongMax(df, s"ts_lmax_$c", c)._2 ==
          Some(want), c)
      }
      assert(Tables.stagedWithLongMax(df, "ts_lmax_n", "n")._2.isEmpty)
    }
  }

  test("parquetRowCount skips hidden part files; a missing path is 0") {
    val dir = TestSpark.tmpPath("ts_rowcount")
    try {
      val out = dir.resolve("t").toString
      spark.range(0, 300).repartition(2).write.parquet(out)
      val part = Files.list(Paths.get(out)).filter(p =>
        p.getFileName.toString.endsWith(".parquet")).findFirst().get
      val hidden = Paths.get(out, "_temporary", "0")
      Files.createDirectories(hidden)
      Files.copy(part, hidden.resolve(part.getFileName))
      assert(Tables.parquetRowCount(out, hconf) == 300L)
      assert(spark.read.parquet(out).count() == 300L)
      assert(Tables.parquetRowCount(dir.resolve("absent").toString,
        hconf) == 0L)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("footer figures read a visible part file without the .parquet " +
       "suffix, as Spark's reader does") {
    val dir = TestSpark.tmpPath("ts_nosuffix")
    try {
      val out = dir.resolve("t").toString
      spark.range(0, 300).repartitionByRange(2, col("id")).write.parquet(out)
      val top = Files.list(Paths.get(out)).filter(p =>
        p.getFileName.toString.endsWith(".parquet")).toArray
        .map(_.asInstanceOf[java.nio.file.Path]).maxBy(_.getFileName.toString)
      Files.move(top, top.resolveSibling("000001_0"))
      assert(spark.read.parquet(out).count() == 300L)
      assert(Tables.parquetRowCount(out, hconf) == 300L)
      assert(Tables.parquetLongMax(out, hconf, "id") == Some(299L))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("stagedWriteCount rises by exactly one per staged write") {
    Tables.stagedScope {
      val df = spark.range(0, 20).select(col("id"),
        col("id").cast("string").as("s"))
      val calls: Seq[() => Any] = Seq(
        () => Tables.staged(df, "ts_wc"),
        () => Tables.stagedCounted(df, "ts_wc"),
        () => Tables.stagedWithLongMax(df, "ts_wc", "id"))
      for (f <- calls) {
        val before = Tables.stagedWriteCount
        f()
        assert(Tables.stagedWriteCount - before == 1L)
      }
    }
  }

  test("stagedScope deletes the dirs staged inside it") {
    val dirs = Tables.stagedScope {
      val a = Tables.staged(spark.range(0, 5).toDF("id"), "ts_scope")
      val (b, _) = Tables.stagedCounted(spark.range(0, 5).toDF("id"),
        "ts_scope")
      val ds = Seq(dirOf(a), dirOf(b))
      assert(ds.forall(Files.isDirectory(_)))
      ds
    }
    assert(dirs.forall(d => !Files.exists(d)))
  }

  test("Tables.table sees a table rewritten at the same path") {
    val dir = TestSpark.tmpPath("ts_schema")
    try {
      val p = dir.resolve("tbl.parquet").toString
      spark.range(0, 3).select(col("id").as("a")).write.parquet(p)
      assert(Tables.table(spark, dir.toString, "tbl").columns.toSeq ==
        Seq("a"))
      spark.range(0, 3).select(col("id").cast("string").as("b"),
        col("id").as("c")).write.mode("overwrite").parquet(p)
      val again = Tables.table(spark, dir.toString, "tbl")
      assert(again.columns.toSeq == Seq("b", "c"))
      assert(again.filter(col("b").isNotNull).count() == 3L)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("parquetSchema equals Spark's inference on a published ODS and " +
       "falls back to it when footers disagree") {
    val dir = TestSpark.tmpPath("ts_driver_schema")
    try {
      val ods = dir.resolve("ods").toString
      graft.etl.Pipelines.odsMerge(spark,
        spark.range(0, 40).select(col("id").as("k"),
          col("id").cast("string").as("v"), lit("2016-01-01").as("dt")),
        ods, Seq("k"), Seq("v", "dt"), "dw_id", "k", "dt",
        dir.resolve("rng").toString)
      val (sc, jobs) = TestSpark.jobsRun(Tables.parquetSchema(spark, ods))
      assert(sc == spark.read.parquet(ods).schema)
      assert(jobs == 0)
      // two part files whose footers disagree on a column's type
      val mixed = dir.resolve("mixed").toString
      spark.range(0, 3).select(col("id").as("a"))
        .write.parquet(mixed + "/x")
      spark.range(0, 3).select(col("id").cast("string").as("a"))
        .write.parquet(mixed + "/y")
      Files.createDirectories(Paths.get(mixed, "t"))
      for (sub <- Seq("x", "y"); f <- Paths.get(mixed, sub).toFile.listFiles
           if f.getName.endsWith(".parquet"))
        Files.move(f.toPath, Paths.get(mixed, "t", s"$sub-${f.getName}"))
      val t = Paths.get(mixed, "t").toString
      val (msc, mjobs) = TestSpark.jobsRun(Tables.parquetSchema(spark, t))
      assert(msc == spark.read.parquet(t).schema)
      assert(mjobs >= 1, "disagreeing footers must run Spark's inference")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }
}
