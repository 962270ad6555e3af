package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.TableOps

/** `TableOps.saveAndLoadRng` answers a bare parquet stg's load range
  * from its footers without a job, and every other shape falls back to
  * the agg job with the same answer. */
class TableOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** The agg job's (min dt, max dt, count), the reference figure. */
  private def aggRange(stg: DataFrame): (String, String, Long) = {
    val r = stg.agg(min(col("dt").cast("string")),
      max(col("dt").cast("string")), count(lit(1))).first()
    (r.getString(0), r.getString(1), r.getLong(2))
  }

  /** saveAndLoadRng's answer, the recorded rng row and the jobs it ran
    * (the rng append is one). */
  private def rng(stg: DataFrame): ((String, String, Long), Int) = {
    val rngPath = TestSpark.tmpPath("rng").resolve("rng").toString
    val (got, jobs) = TestSpark.jobsRun(
      TableOps.saveAndLoadRng(spark, stg, "dt", rngPath))
    assert(spark.read.parquet(rngPath).as[(String, String, Long)]
      .collect().toSeq == Seq(got))
    (got, jobs)
  }

  private def written(df: DataFrame, files: Int,
                      opts: (String, String)*): DataFrame = {
    val p = TestSpark.tmpPath("stg").resolve("stg").toString
    df.repartition(files).write.options(opts.toMap).parquet(p)
    val stg = spark.read.parquet(p)
    assert(stg.inputFiles.length == files)
    stg
  }

  /** One file with footer stats next to one without, which holds the
    * range's extremes: the stats of the first alone would understate
    * the range. */
  private def statsLessExtremes: DataFrame = {
    val dir = TestSpark.tmpPath("stg_mixed")
    val mid = written(dts(500).filter($"dt".between("2016-03-01",
      "2016-09-01")), 1)
    val ends = written(dts(500).filter(!$"dt".between("2016-03-01",
      "2016-09-01")), 1, "parquet.column.statistics.enabled" -> "false")
    for ((df, i) <- Seq(mid, ends).zipWithIndex) {
      val f = java.nio.file.Paths.get(new java.net.URI(df.inputFiles.head))
      java.nio.file.Files.move(f, dir.resolve(s"part-$i.parquet"))
    }
    spark.read.parquet(dir.toString)
  }

  private def dts(n: Int): DataFrame =
    spark.range(0, n).select(($"id" * 7 % 1000).as("id"),
      date_format(date_add(lit("2016-01-01").cast("date"),
        ($"id" * 13 % 400).cast("int")), "yyyy-MM-dd").as("dt"))

  test("a bare parquet stg, single- and multi-file, takes its range from " +
       "the footers with no job beyond the rng append") {
    for (files <- Seq(1, 3)) {
      val stg = written(dts(500), files)
      val (got, jobs) = rng(stg)
      assert(got == aggRange(stg))
      assert(got == (("2016-01-01", "2017-02-03", 500L)))
      assert(jobs == 1, s"$files files: $jobs jobs")
    }
  }

  test("shapes the footers cannot vouch for fall back to the agg job") {
    val base = written(dts(500), 2)
    val shapes = Seq(
      "DATE dt" -> written(dts(500).withColumn("dt", $"dt".cast("date")), 2),
      "all-null dt" -> written(
        dts(50).withColumn("dt", lit(null).cast("string")), 2),
      "filtered stg" -> base.filter($"id" < 300),
      "projected stg" -> base.select($"id", date_format(
        date_add($"dt".cast("date"), 1), "yyyy-MM-dd").as("dt")),
      "stats-less file" -> statsLessExtremes)
    for ((name, stg) <- shapes) {
      val (got, jobs) = rng(stg)
      assert(got == aggRange(stg), name)
      assert(jobs > 1, s"$name ran no agg job")
    }
  }
}
