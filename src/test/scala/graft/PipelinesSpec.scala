package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.Pipelines

class PipelinesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("odsMerge: upsert preserving ids, new ids continue from max") {
    val base = s"${graft.core.Tables.tmpDir}/ods_spec"
    val odsPath = s"$base/ods"; val rngPath = s"$base/rng"
    // start clean
    import java.nio.file.{Files, Paths}
    def rmrf(p: String): Unit = {
      val pp = Paths.get(p)
      if (Files.exists(pp))
        Files.walk(pp).sorted(java.util.Comparator.reverseOrder())
          .forEach(f => Files.delete(f))
    }
    rmrf(base)

    // load 1: two shows
    val stg1 = Seq(("s1", "Show One", "2016-01-01"),
                   ("s2", "Show Two", "2016-01-02"))
      .toDF("show_id", "title", "dt")
    val n1 = Pipelines.odsMerge(spark, stg1, odsPath, Seq("show_id"),
      Seq("title", "dt"), "dw_id", "show_id", "dt", rngPath)
    assert(n1 == 2)
    val ids1 = spark.read.parquet(odsPath)
      .select("show_id", "dw_id").as[(String, Long)].collect().toMap

    // load 2: s2 retitled + new s3 — s2 keeps its id, s3 continues
    val stg2 = Seq(("s2", "Show Two v2", "2016-01-05"),
                   ("s3", "Show Three", "2016-01-06"))
      .toDF("show_id", "title", "dt")
    val n2 = Pipelines.odsMerge(spark, stg2, odsPath, Seq("show_id"),
      Seq("title", "dt"), "dw_id", "show_id", "dt", rngPath)
    assert(n2 == 3)
    val after = spark.read.parquet(odsPath)
      .select("show_id", "title", "dw_id")
      .as[(String, String, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(after("s1")._1 == "Show One")
    assert(after("s2")._1 == "Show Two v2")
    assert(after("s2")._2 == ids1("s2"))           // id preserved
    assert(after("s3")._2 == ids1.values.max + 1)  // continues from max
    // rng bookkeeping recorded both loads
    assert(spark.read.parquet(rngPath).count() == 2)
  }

  private def merge(stg: org.apache.spark.sql.DataFrame, ods: String,
                    rng: String): Long =
    Pipelines.odsMerge(spark, stg, ods, Seq("k"), Seq("v", "dt"), "dw_id",
      "k", "dt", rng)

  test("odsMerge: three loads keep window-form ids, return the published " +
       "count and publish at most shuffle-partitions files") {
    import org.apache.spark.sql.expressions.Window
    val base = TestSpark.tmpPath("ods_multi").toString
    val ods = s"$base/ods"; val rng = s"$base/rng"
    val width = spark.conf.get("spark.sql.shuffle.partitions").toInt
    // overlapping key ranges: each load updates some keys and adds new
    // ones; k is unique per load and is the numbering order
    val loads = Seq((0L, 300L), (200L, 520L), (100L, 700L))
    var prev = Map.empty[Long, Long]
    for (((lo, hi), i) <- loads.zipWithIndex) {
      val stg = spark.range(lo, hi).select(($"id" * 7919 % 1000003).as("k"),
        concat(lit(s"v$i-"), $"id".cast("string")).as("v"),
        lit(s"2016-01-0${i + 1}").as("dt"))
      val n = merge(stg, ods, rng)
      // window-form reference over the merged key set: surviving ids
      // kept, new keys numbered from max in k order
      val maxPrev = if (prev.isEmpty) 0L else prev.values.max
      val ref = stg.select("k").union(prev.keys.toSeq.toDF("k")).distinct()
        .join(prev.toSeq.toDF("k", "dw_id"), Seq("k"), "left")
        .withColumn("dw_id", coalesce($"dw_id", lit(maxPrev) +
          row_number().over(Window.partitionBy($"dw_id".isNull)
            .orderBy($"k"))))
        .as[(Long, Long)].collect().toMap
      val out = spark.read.parquet(ods).select("k", "dw_id")
        .as[(Long, Long)].collect().toMap
      assert(out == ref, s"load $i ids")
      assert(n == spark.read.parquet(ods).count(), s"load $i count")
      val files = new java.io.File(ods).listFiles()
        .count(_.getName.endsWith(".parquet"))
      assert(files >= 1 && files <= width,
        s"load $i published $files files at width $width")
      prev = out
    }
    assert(prev.size == 700)
  }

  test("odsMerge: an ods without footer stats falls back to the max agg") {
    val base = TestSpark.tmpPath("ods_nostats").toString
    val ods = s"$base/ods"; val rng = s"$base/rng"
    spark.range(1, 501).select($"id".as("k"),
        concat(lit("v"), $"id".cast("string")).as("v"),
        lit("2016-01-01").as("dt"), $"id".as("dw_id"))
      .write.option("parquet.column.statistics.enabled", "false")
      .parquet(ods)
    // precondition: the footers cannot answer max(dw_id)
    assert(graft.core.Tables.parquetLongMax(ods,
      spark.sessionState.newHadoopConf(), "dw_id").isEmpty)
    val n = merge(Seq((1000L, "new", "2016-01-02")).toDF("k", "v", "dt"),
      ods, rng)
    assert(n == 501)
    val ids = spark.read.parquet(ods).select("k", "dw_id")
      .as[(Long, Long)].collect().toMap
    assert(ids(1000L) == 501L && ids(500L) == 500L)
  }

  test("odsMerge: a part file without the .parquet suffix still sets " +
       "load-max-dw-id") {
    val base = TestSpark.tmpPath("ods_nosuffix").toString
    val ods = s"$base/ods"; val rng = s"$base/rng"
    spark.range(1, 501).repartitionByRange(2, $"id").select($"id".as("k"),
        concat(lit("v"), $"id".cast("string")).as("v"),
        lit("2016-01-01").as("dt"), $"id".as("dw_id"))
      .write.parquet(ods)
    // Hive-style name for the part file holding the top of the id range
    val top = new java.io.File(ods).listFiles()
      .filter(_.getName.endsWith(".parquet")).maxBy(_.getName)
    assert(top.renameTo(new java.io.File(ods, "000001_0")))
    assert(spark.read.parquet(ods).agg(max("dw_id")).first().getLong(0)
      == 500L)
    merge(Seq((1000L, "new", "2016-01-02")).toDF("k", "v", "dt"), ods, rng)
    val ids = spark.read.parquet(ods).select("k", "dw_id")
      .as[(Long, Long)].collect().toMap
    assert(ids(1000L) == 501L && ids.size == 501)
  }

  test("order_show_debut flow: delta/shadow/switch with map-union merge") {
    // reference model/d_bolome_order_show_debut.clj:61-99: merge a delta
    // snapshot into the current one — union the per-key date sets, keep
    // the earliest debut timestamp — then publish via shadow swap.
    import graft.agg.Aggregators
    import java.nio.file.{Files, Paths}
    val live = s"${graft.core.Tables.tmpDir}/debut/live"
    val pp = Paths.get(s"${graft.core.Tables.tmpDir}/debut")
    if (Files.exists(pp))
      Files.walk(pp).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => Files.delete(f))

    Seq((1L, Map("o" -> Seq("2016-01-05")), "2016-01-05"),
        (2L, Map("o" -> Seq("2016-01-07")), "2016-01-07"))
      .toDF("dw_id", "pay_dts", "debut_dt")
      .write.parquet(live)
    val delta = Seq(
      (1L, Map("o" -> Seq("2016-01-03")), "2016-01-03"), // earlier debut
      (3L, Map("o" -> Seq("2016-02-01")), "2016-02-01")) // new show
      .toDF("dw_id", "pay_dts", "debut_dt")

    graft.etl.TableOps.deltaShadowSwitch(spark, live, delta,
      (d, cur) => {
        val j = d.alias("d").join(cur.alias("c"), Seq("dw_id"),
          "full_outer")
        j.select($"dw_id",
          when($"d.pay_dts".isNull, $"c.pay_dts")
            .when($"c.pay_dts".isNull, $"d.pay_dts")
            .otherwise(Aggregators.mapSetUnion($"d.pay_dts", $"c.pay_dts"))
            .as("pay_dts"),
          least($"d.debut_dt", $"c.debut_dt").as("debut_dt"))
      })

    val out = spark.read.parquet(live)
      .select("dw_id", "debut_dt").as[(Long, String)].collect().toMap
    assert(out == Map(1L -> "2016-01-03", 2L -> "2016-01-07",
                      3L -> "2016-02-01"))
    val union = spark.read.parquet(live).filter($"dw_id" === 1)
      .select("pay_dts").as[Map[String, Seq[String]]].head()
    assert(union("o") == Seq("2016-01-03", "2016-01-05"))
  }

  test("mlvar tree build + shift-cut features end-to-end") {
    val orders = Seq(
      (1L, "2016-01-10", "o1", 10.0), (1L, "2016-02-10", "o2", 20.0),
      (2L, "2016-02-11", "o3", 5.0))
      .toDF("user_id", "dt", "order_id", "price")
    val trees = Pipelines.mlvarUserOrderTrees(orders, "user_id",
      Seq("dt", "order_id"), Seq("price"))
    assert(trees.count() == 2)
    val feats = Pipelines.shiftCutFeatures(trees, "user_id",
        "2016-02-15", 30, 2, "price")
      .as[(Long, Int, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(feats((1L, 0)) == 20.0)  // window ending 2016-02-15
    assert(feats((1L, 1)) == 10.0)  // previous 30-day window
    assert(feats((2L, 0)) == 5.0)
  }

  test("mlvar deep tree (user→dt→order→product) with product-level sums") {
    val rows = Seq(
      (1L, "2016-01-10", "o1", "p1", 10.0, 2.0),
      (1L, "2016-01-10", "o1", "p2", 20.0, 1.0),
      (1L, "2016-01-20", "o2", "p1", 5.0, 3.0))
      .toDF("user_id", "dt", "order_id", "product_id", "revenue",
            "quantity")
    val trees = Pipelines.mlvarUserOrderTrees(rows, "user_id",
      Seq("dt", "order_id", "product_id"), Seq("revenue", "quantity"))
    // product-level DATA sits two wildcards below the date keys
    val feats = Pipelines.shiftCutFeatures(trees, "user_id",
        "2016-01-31", 31, 1, "revenue", leafDepthBelowDate = 2)
      .as[(Long, Int, Double)].collect()
    assert(feats.toSeq == Seq((1L, 0, 35.0)))
  }
}
