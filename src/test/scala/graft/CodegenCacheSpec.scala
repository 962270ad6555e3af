package graft

import org.apache.spark.SparkConf
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.funsuite.AnyFunSuite

import graft.sql.GraftExtensions

/** The codegen-cache default [[GraftExtensions]] installs: a session
  * built with the extension sizes Spark's JVM-wide generated-class cache
  * at 1000 entries, so a repeated operation whose working set exceeds
  * Spark's default 100 compiles nothing the second time. */
class CodegenCacheSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val key = GraftExtensions.CodegenCacheKey

  private def compiles: Long =
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("a session built with GraftExtensions carries the codegen cache default") {
    assert(spark.sparkContext.getConf.get(key) == "1000")
    assert(spark.conf.get(key) == "1000")
  }

  test("contextConfDefault keeps an explicit value and fills a missing one") {
    val explicit = new SparkConf(false).set(key, "64")
    GraftBridge.contextConfDefault(key, "1000", Some(explicit))
    assert(explicit.get(key) == "64")
    val unset = new SparkConf(false)
    GraftBridge.contextConfDefault(key, "1000", Some(unset))
    assert(unset.get(key) == "1000")
  }

  test("a second round of 150 distinct projections compiles nothing") {
    // each literal gives the query's generated classes a distinct
    // source, so one round needs 150–300 classes: more than Spark's
    // default 100 entries (round two recompiled all 300 there) and well
    // inside 1000
    val n = 150
    def round(): Long = {
      val c0 = compiles
      (0 until n).foreach { i =>
        spark.range(1).select((col("id") + lit(7000003L * i + 11)).as("v"))
          .collect()
      }
      compiles - c0
    }
    val first = round()
    assert(first >= n, s"round one compiled $first classes, expected >= $n")
    assert(round() == 0L)
  }
}
