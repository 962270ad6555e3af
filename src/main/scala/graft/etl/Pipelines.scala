package graft.etl

import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.core.Tables
import graft.ops.Relational
import graft.trgx.Trgx

/** Composed ETL pipelines (SURVEY §3 entry points; SURVEY §7
  * `graft.etl`).
  */
object Pipelines {
  private val log =
    org.slf4j.LoggerFactory.getLogger("graft.etl.Pipelines")

  /** EP-3: the ODS merge load (reference
    * src/bolome/ods/d_bolome_show.clj:58-83): bookkeeping → full-outer
    * stg⊕ods merge preserving surrogate ids → new-row id assignment →
    * staged write → atomic publish. Returns the published row count.
    *
    * The reference alternates driver-JDBC and cluster dataflow four
    * times; here the same choreography is explicit and
    * non-exception-swallowing. Every metadata question is answered on
    * the driver: the load range and stg row count from the stg footers
    * (a bare parquet stg; anything else runs the agg), the ODS schema
    * and load-max-dw-id from the ODS footers, the published count from
    * the new footers. A first load merges against an empty frame; the
    * publish creates the ODS. Spark jobs per merge with a bare parquet
    * stg, counting the caller's stg schema read:
    *   - new-row numbering on the driver path (stg rows ≤
    *     `spark.graft.driverPath.maxRows`): 4 on a first load (schema
    *     read, rng append, the single-task numbering sort, the write)
    *     and 6 on a later one (plus the stg and ODS join shuffles);
    *   - above the limit, the two-phase numbering of
    *     [[Relational.surrogateKeysOrdered]] adds its range-sample and
    *     count jobs in place of the sort: 6 and 8. */
  def odsMerge(spark: SparkSession, stg: DataFrame, odsPath: String,
               naturalKey: Seq[String], valueCols: Seq[String],
               idCol: String, orderCol: String, dtCol: String,
               rngPath: String): Long = {
    // 0. heal a crashed previous publish FIRST: with the ods path
    // missing and the last build at __replaced, the merge would take
    // this for a first load and silently lose all history + reissue
    // surrogate ids from 1
    TableOps.restoreInterrupted(odsPath)
    // 1. load-range bookkeeping (save-and-load-rng-dt!); its row count
    // bounds the rows that need new ids
    val (_, _, stgRows) = TableOps.saveAndLoadRng(spark, stg, dtCol,
      rngPath)
    // 2. current ods, or an empty one on the first load — the same
    // all-nullable schema a read of a published ods has
    val conf = spark.sessionState.newHadoopConf()
    val firstLoad = !java.nio.file.Files.exists(
      java.nio.file.Paths.get(odsPath))
    val ods =
      if (firstLoad) spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        GraftBridge.asNullable(stg.schema.add(idCol, LongType)))
      else spark.read.schema(Tables.parquetSchema(spark, odsPath))
        .parquet(odsPath)
    // 3. merge: stg wins per column, ods ids preserved
    val merged = Relational.fullOuterMerge(
      stg.withColumn(idCol, lit(null).cast("long")), ods,
      naturalKey, valueCols :+ idCol)
    // 4. surrogate ids for new rows (load-max-dw-id + row-num), with
    // load-max-dw-id read from the ods footers; an empty ods gives 0,
    // and a row group without usable stats falls back, loudly, to the
    // agg job
    val maxId = if (firstLoad) 0L
      else Tables.parquetLongMax(odsPath, conf, idCol).getOrElse {
        if (Tables.parquetRowCount(odsPath, conf) == 0L) 0L
        else {
          log.warn(s"odsMerge: no usable footer stats for '$idCol' " +
            s"under $odsPath; computing load-max-dw-id with an agg job")
          ods.agg(max(col(idCol))).first() match {
            case r if r.isNullAt(0) => 0L
            case r => r.getLong(0)
          }
        }
      }
    val keyed = Relational.surrogateKeysOrdered(merged, idCol, orderCol,
      maxId, newRowsAtMost = Some(stgRows))
    // 5. staged write + atomic publish (replace-into-ods); the returned
    // count is the published ods's footer row count, not a read-back
    val staged = odsPath + "__staged"
    keyed.write.mode("overwrite").parquet(staged)
    TableOps.replaceInto(staged, odsPath)
    Tables.parquetRowCount(odsPath, conf)
  }

  /** EP-1: the report-job `-main` lifecycle over the JDBC report sink
    * (SURVEY §3; m_cocacola_score_overall.clj:82-86 + trgx.clj:110-116):
    * resume range = MAX(dw-dt)+1 of this report's rows in the sink →
    * build the report for that range → append through the all-String
    * `-`→`_` tap. Returns the range that ran. Unlike the reference's
    * `(try … (catch Exception _))`, failures propagate.
    *
    * Crash boundary (the reference's too — same MAX+1 resume over the
    * same non-transactional multi-statement append): a crash MID-append
    * commits some partitions' rows, inflating MAX(dw-dt), so the next
    * run resumes past dates whose rows only partially landed. MAX+1
    * cannot distinguish that state without an intent log the reference
    * doesn't keep; the recovery procedure is [[graft.sources.Jdbc
    * .deleteRange]] over the suspect range (the reference's
    * `detele-report!` exists for exactly this) followed by a rerun.
    * Exactly-once needs a transactional sink. */
  def runReportJob(spark: SparkSession, url: String, reportTable: String,
                   reportName: String, defaultStart: String, endDt: String,
                   build: ((String, String)) => DataFrame): (String, String) = {
    import graft.sources.Jdbc
    val existing = Jdbc.readTable(spark, url, reportTable,
        Seq("dw-dt", "report"))
      .filter(col("report") === reportName)
      .select(col("dw-dt").as("dw_dt"))
    val rng = TableOps.reportNextDt(existing, "dw_dt", defaultStart, endDt)
    Jdbc.writeTable(build(rng), url, reportTable)
    rng
  }

  /** mlvar tree build (reference
    * src/bolome/mlvar/d_bolome_user_order.clj:75-141): roll each user's
    * rows into a trgx tree keyed by `pathCols` (the reference nests
    * user → dw-dt → order → product), DATA attached at the leaf, stored
    * as a canonical-JSON TEXT column — the EDN-in-TEXT storage boundary.
    */
  def mlvarUserOrderTrees(orders: DataFrame, userCol: String,
                          pathCols: Seq[String],
                          dataCols: Seq[String]): DataFrame = {
    val spark = orders.sparkSession
    import spark.implicits._
    orders
      .select(col(userCol).cast("long"),
        array(pathCols.map(c => col(c).cast("string")): _*),
        map(dataCols.flatMap(c =>
          Seq(lit(c), col(c).cast("string"))): _*))
      .as[(Long, Seq[String], Map[String, String])]
      .groupByKey(_._1)
      .mapGroups { (uid, rows) =>
        val tree = rows.foldLeft(Map.empty: Trgx.Tree) {
          case (acc, (_, path, data)) => Trgx.assocIn(acc, path, data)
        }
        (uid, Trgx.toJson(tree))
      }
      .toDF(userCol, "trgx")
  }

  /** mlvar shift-cut features (reference
    * src/bolome/mlvar/d_bolome_user_order_stat.clj:97-135): slice each
    * user's tree into k lookback windows ending at `asOf`, summing the
    * numeric field per window. */
  def shiftCutFeatures(trees: DataFrame, userCol: String, asOf: String,
                       windowDays: Int, numWindows: Int, field: String,
                       leafDepthBelowDate: Int = 1): DataFrame = {
    val spark = trees.sparkSession
    import spark.implicits._
    trees.select(col(userCol).cast("long"), col("trgx"))
      .as[(Long, String)]
      .flatMap { case (uid, json) =>
        Trgx.shiftCut(Trgx.fromJson(json), asOf, windowDays, numWindows,
            leafDepthBelowDate)
          .flatMap { case (w, sums) =>
            sums.get(field).map(v => (uid, w, v))
          }
      }
      .toDF(userCol, "w", field + "_sum")
  }
}
