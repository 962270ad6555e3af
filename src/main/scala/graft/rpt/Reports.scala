package graft.rpt

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.ops.Relational

/** Composable report pipelines (SURVEY §7 `graft.rpt`) — the shapes
  * behind the reference's 26 report jobs under src/cocacola/rpt/,
  * expressed as DataFrame functions over any fact table.
  */
object Reports {

  /** The canonical sliding-score report (18 of 26 reference reports;
    * m_cocacola_score_overall.clj:42-86): monthly fact → collect-kv →
    * month-end lag deltas → tr-dimension-metrics pair-tree JSON per
    * selector. `fact` must carry groupCols + dtCol(yyyy-MM-dd month-end)
    * + valCol(string-formatted decimal). */
  def slidingScoreReport(fact: DataFrame, groupCols: Seq[String],
                         dtCol: String, valCol: String,
                         metrics: Seq[(String, Column)]): DataFrame = {
    val sliding = Relational.slidingScores(fact, groupCols, dtCol, valCol)
    Relational.reportShape(sliding, groupCols, Seq("dt"), metrics)
  }

  /** The constants-only sliding-report family. The ~27 reference
    * report jobs not individually registered differ from the covered
    * shapes ONLY in tap name, dims, selector keys and verbatim filter
    * constants (SURVEY §2.6: the 5-step sliding pattern "repeats in 18
    * report files") — e.g. m_cocacola_sku6_bottler.clj:52-74,
    * m_cocacola_activation_brand.clj:52-70,
    * m_cocacola_availability_period_trend.clj:60-70. This helper IS
    * that distance: collect-kv sliding lags over a monthly fact, a
    * post-sliding row filter, a selector projection, and the
    * tr-dimension-metrics pair-tree, parameterized by exactly those
    * constants. Three reference jobs are instantiated through it in
    * RptQueries (report_sku6_bottler / report_activation_brand /
    * report_availability_period_trend), each oracle-checked.
    *
    * `m`: (groupCols..., dtCol, valCol) monthly fact, valCol a
    * string-formatted decimal; `rowFilter` must be GROUP-CONSTANT
    * (reference only groupCols) — the reference files filter after
    * sliding, but lag lookups only join within a group, so the filter
    * commutes and is applied BEFORE the collect-kv aggregation here
    * (no sliding maps built for groups that are then discarded; the
    * oracles filter early for the same reason). The result is one lazy
    * plan: a filter that keeps no row yields an empty report. `derive`
    * projects the report's selector / dw_dt / dim-value columns over
    * the sliding output (sliding emits the month-end key as `dt`) and
    * MUST define "selector" and "dw_dt"; `dimCols` nest outermost
    * first. */
  def slidingSelectorReport(m: DataFrame, groupCols: Seq[String],
                            dtCol: String, valCol: String,
                            rowFilter: Column,
                            derive: Seq[(String, Column)],
                            dimCols: Seq[String],
                            metrics: Seq[(String, Column)],
                            project: String, category: String,
                            report: String): DataFrame = {
    val sliding = Relational.slidingScores(m.filter(rowFilter), groupCols,
      dtCol, valCol)
    val withSel = derive.foldLeft(sliding) {
      case (d, (n, c)) => d.withColumn(n, c)
    }
    Relational.reportShape(withSel, Seq("dw_dt", "selector"),
        dimCols, metrics)
      .withColumnRenamed("report", "dimension_metrics")
      .select(col("dw_dt"), lit(project).as("project"),
        lit(category).as("category"), lit(report).as("report"),
        col("selector"), lit("").as("selector_desc"),
        col("dimension_metrics"))
  }

  /** Columns of the `ms.report` sink every family member must emit
    * (reference trgx.clj report tap; the shape every report job under
    * src/cocacola/rpt writes). */
  val sinkColumns: Seq[String] = Seq("dw_dt", "project", "category",
    "report", "selector", "selector_desc", "dimension_metrics")

  /** The production orchestration unit — the reference's actual
    * deployment shape (src/cocacola/rpt/cascalog.sh:37-120 runs the
    * whole report family serially against the SAME fact tables per
    * load window, each job appending to the one `ms.report` sink, with
    * `report->next-dt` (trgx.clj:110-116) deciding the next window).
    *
    * `members` are (name, thunk) pairs each yielding one report's
    * DataFrame in the [[sinkColumns]] shape (enforced loudly — a
    * mis-shaped member would silently corrupt the shared sink). The
    * thunks build serially, in order: a member build only plans (the
    * few members that stage an input run that one write), so there is
    * nothing to overlap. All member outputs are unioned and appended
    * to `sinkPath` in ONE write (one Spark job for the whole family —
    * each member subtree executes independently inside it), then the
    * next-dt bookkeeping runs ONCE over the merged sink, excluding the
    * `9999-12-31` sentinel rows the period reports carry (they are
    * selector-keyed bookkeeping rows, not load-window facts — counting
    * them would pin next-dt at year 9999 forever).
    *
    * Fact sharing is the caller's lever: wrap the call so the shared
    * upstream (the star join every tap synthesizes from) is staged
    * once — RptQueries.runReportFamily does exactly that via its
    * shared-star scope; per-query independence re-runs that join once
    * per member. Returns ((nextStart, endDt), the sink read back). */
  def runFamily(spark: org.apache.spark.sql.SparkSession,
                members: Seq[(String, () => DataFrame)],
                sinkPath: String,
                defaultStart: String = "1995-01-01",
                endDt: String = "9999-12-31")
      : ((String, String), DataFrame) = {
    require(members.nonEmpty, "empty report family")
    val frames = members.map { case (name, build) =>
      val df = build()
      require(df.schema.fieldNames.toSeq == sinkColumns,
        s"family member $name must emit the ms.report shape " +
          s"(${sinkColumns.mkString(", ")}), got " +
          df.schema.fieldNames.mkString(", "))
      df
    }
    val union = frames.reduce(_ unionByName _)
    union.write.mode("append").parquet(sinkPath)
    // every appender writes the ms.report shape (enforced above), so
    // the sink read passes it instead of re-inferring from footers
    val sink = graft.core.Tables.readAsWritten(spark, sinkPath,
      union.schema)
    val rng = graft.etl.TableOps.reportNextDt(
      sink.filter(col("dw_dt") =!= "9999-12-31"), "dw_dt",
      defaultStart, endDt)
    (rng, sink)
  }

  /** Share-of-voice with an "Others" remainder row
    * (m_cocacola_sovi_brand.clj:46-48: Others = 100 − Σ brand shares).
    * Shares in integer milli-percent so the remainder is exact at any
    * scale (no float accumulation). */
  def shareWithOthers(df: DataFrame, groupCol: String, brandCol: String):
      DataFrame = {
    val counts = df.groupBy(col(groupCol), col(brandCol))
      .agg(count(lit(1)).as("cnt"))
    val totals = df.groupBy(col(groupCol))
      .agg(count(lit(1)).as("total"))
    val shares = counts.join(totals, Seq(groupCol))
      .select(col(groupCol), col(brandCol).as("brand"),
        expr("cnt * 100000 div total").as("share_milli"))
    val others = shares.groupBy(col(groupCol))
      .agg((lit(100000L) - sum(col("share_milli"))).as("share_milli"))
      .select(col(groupCol), lit("Others").as("brand"),
              col("share_milli"))
    shares.unionByName(others)
  }

  /** Ranking report (m_cocacola_score_top_bottom5_ranking.clj:83-98):
    * ships *all* rows with rank columns carried as data — ordering is
    * deferred to the serving layer, the sink stays an unordered
    * relation. Ranks are global but computed WITHOUT a single-partition
    * window: each direction is a distributed range-partitioned
    * row_number (Relational.globalRowNumber), so the operator survives
    * inputs far past report grain. */
  def withRankColumns(df: DataFrame, orderCol: Column,
                      tieBreak: Column, nPartitions: Int = 0): DataFrame = {
    val top = Relational.globalRowNumber(df,
      Seq(orderCol.desc, tieBreak.asc), "rank_top", nPartitions)
    Relational.globalRowNumber(top,
      Seq(orderCol.asc, tieBreak.asc), "rank_bottom", nPartitions)
      .withColumn("rank_top", col("rank_top").cast("int"))
      .withColumn("rank_bottom", col("rank_bottom").cast("int"))
  }
}
