package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The production family run (Reports.runFamily + RptQueries
  * .runReportFamily): every member's rows in the shared sink must be
  * byte-equal to its registered standalone query — the family changes
  * WHERE facts come from (one staged star) and how outputs land (one
  * sink append, one bookkeeping pass), never a value. */
class ReportFamilySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def sortedRows(df: org.apache.spark.sql.DataFrame): Seq[Row] =
    df.orderBy(graft.rpt.Reports.sinkColumns.map(col): _*)
      .collect().toSeq

  test("family run == union of standalone members, next-dt bookkeeps") {
    assume(new java.io.File(sf).exists())
    val sink = graft.core.Tables.scratchDir(spark, "family_spec_sink")
    val ((nextStart, endDt), out) =
      RptQueries.runReportFamily(spark, sf, sink)
    val family = sortedRows(out)

    // standalone side: same members, EMPTY shared-star cache — each
    // query re-derives its own star join
    val standalone = sortedRows(
      RptQueries.familyNames
        .map(n => RptQueries.queries(n)(spark, sf))
        .reduce(_ unionByName _))

    assert(family.size == standalone.size)
    assert(family == standalone)

    // one bookkeeping pass: next window starts the day after the max
    // non-sentinel dw_dt in the merged sink
    val maxDt = out.filter(col("dw_dt") =!= "9999-12-31")
      .agg(max("dw_dt")).first().getString(0)
    assert(nextStart ==
      java.time.LocalDate.parse(maxDt).plusDays(1).toString)
    assert(endDt == "9999-12-31")

    // every member contributed rows under its own report id
    val reports = out.select("report").distinct()
      .collect().map(_.getString(0)).toSet
    assert(RptQueries.familyNames.size == 31)
    if (reports.size != RptQueries.familyNames.size) {
      // a member is silent when none of its own report ids reached the
      // sink (report ids are not the member names)
      val silent = RptQueries.familyNames.filterNot { n =>
        RptQueries.queries(n)(spark, sf).select("report").distinct()
          .collect().map(_.getString(0)).exists(reports)
      }
      fail(s"members that emitted no rows: ${silent.mkString(", ")}")
    }
  }

  test("a second family run appends (incremental load windows)") {
    assume(new java.io.File(sf).exists())
    val sink = graft.core.Tables.scratchDir(spark, "family_spec_sink2")
    val members = RptQueries.familyProbeMembers
    val (_, first) = RptQueries.runReportFamily(spark, sf, sink, members)
    val n1 = first.count()
    val (_, second) = RptQueries.runReportFamily(spark, sf, sink, members)
    assert(second.count() == 2 * n1)
  }

  test("withoutTopSort strips exactly one top-level global sort, " +
      "keeps rows, and is a no-op otherwise") {
    import org.apache.spark.sql.GraftBridge
    val df = spark.range(100).toDF("id")
      .withColumn("k", col("id") % 7)
    val sorted = df.orderBy(col("k").desc, col("id"))
    val stripped = GraftBridge.withoutTopSort(sorted)
    // rows identical as a set, top Sort node gone from the plan
    assert(stripped.collect().toSet == df.collect().toSet)
    assert(!stripped.queryExecution.optimizedPlan.toString.contains("Sort"))
    assert(sorted.queryExecution.optimizedPlan.toString.contains("Sort"))
    // no-op on a frame without a top-level sort (sortWithinPartitions
    // is local, not global — must survive)
    val local = df.sortWithinPartitions("k")
    assert(GraftBridge.withoutTopSort(local).queryExecution
      .logical.toString == local.queryExecution.logical.toString)
    assert(GraftBridge.withoutTopSort(df).collect().toSet ==
      df.collect().toSet)
  }

  test("a mis-shaped member fails loudly before touching the sink") {
    val sink = graft.core.Tables.scratchDir(spark, "family_spec_sink3")
    val bad = intercept[IllegalArgumentException] {
      graft.rpt.Reports.runFamily(spark,
        Seq("bad" -> (() =>
          spark.range(1).toDF("not_the_sink_shape"))), sink)
    }
    assert(bad.getMessage.contains("ms.report shape"))
  }
}
