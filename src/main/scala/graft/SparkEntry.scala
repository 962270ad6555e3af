package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.ops.Relational

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` holds one oracle-checked probe per implemented operator
  * from SURVEY §2 (CoreQueries) plus the LLM-pipeline layer
  * (LlmQueries); `oracleSql` the DuckDB twins. Queries without an oracle
  * entry (trgx_tree_ops, dedup_simhash, ann_ivf_topk,
  * multimodal_frame_sample …) get the driver's rows-only check.
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001: the score_overall report
    * pipeline (reference m_cocacola_score_overall.clj:42-86 semantics) —
    * monthly revenue per market segment → collect-kv sliding deltas →
    * tr-dimension-metrics pair-tree JSON per segment. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val m = Tables.table(spark, dir, "orders")
      .join(Tables.table(spark, dir, "customer"),
            col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment").as("seg"),
               date_format(last_day(col("o_orderdate")), "yyyy-MM-dd")
                 .as("dt"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)"))
        .cast("decimal(38,2)").cast("string").as("val"))
    val sliding = Relational.slidingScores(m, Seq("seg"), "dt", "val")
    Relational.reportShape(
      sliding.withColumn("n", lit(1L)),
      Seq("seg"), Seq("dt"),
      Seq("score" -> col("value"), "n" -> col("n")))
  }

  /** The local session the graft mains run on: `local[n]` with n =
    * `SPARK_GRAFT_CPUS` (default 4) and as many shuffle partitions, the
    * graft extensions, no UI, and UTC — the precondition of
    * Tables.events' NTZ cast, without which the events queries would
    * time and gate zone-shifted timestamps. */
  def localSession(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.extensions", "graft.sql.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    CoreQueries.queries ++ LlmQueries.queries ++ RptQueries.queries ++
      CorpusQueries.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    CoreQueries.oracles ++ LlmQueries.oracles ++ RptQueries.oracles ++
      CorpusQueries.oracles
}
