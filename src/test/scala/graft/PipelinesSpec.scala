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

  /** Three overlapping loads into a fresh ODS, each checked against the
    * window-form id reference, the published count and the file bound;
    * returns each load's published (k → (v, dw_id)) and count. */
  private def threeLoads(tag: String): Seq[(Map[Long, (String, Long)], Long)] = {
    import org.apache.spark.sql.expressions.Window
    val base = TestSpark.tmpPath(tag).toString
    val ods = s"$base/ods"; val rng = s"$base/rng"
    val width = spark.conf.get("spark.sql.shuffle.partitions").toInt
    // overlapping key ranges: each load updates some keys and adds new
    // ones; k is unique per load and is the numbering order
    val loads = Seq((0L, 300L), (200L, 520L), (100L, 700L))
    var prev = Map.empty[Long, Long]
    val published = for (((lo, hi), i) <- loads.zipWithIndex) yield {
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
      val rows = spark.read.parquet(ods).select("k", "v", "dw_id")
        .as[(Long, String, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      val out = rows.map { case (k, (_, id)) => k -> id }
      assert(out == ref, s"load $i ids")
      assert(n == spark.read.parquet(ods).count(), s"load $i count")
      val files = new java.io.File(ods).listFiles()
        .count(_.getName.endsWith(".parquet"))
      assert(files >= 1 && files <= width,
        s"load $i published $files files at width $width")
      prev = out
      (rows, n)
    }
    assert(prev.size == 700)
    published
  }

  test("odsMerge: three loads keep window-form ids, return the published " +
       "count and publish at most shuffle-partitions files") {
    threeLoads("ods_multi")
  }

  test("odsMerge: the driver-path and two-phase numberings publish the " +
       "same rows, ids and counts") {
    val tp0 = graft.ops.Relational.twoPhaseRunCount
    val driver = threeLoads("ods_driver")
    val tp1 = graft.ops.Relational.twoPhaseRunCount
    val staged = TestSpark.withConf(TestSpark.stagedOnly) {
      threeLoads("ods_staged")
    }
    assert(tp1 == tp0, "every load is under the default limit")
    assert(graft.ops.Relational.twoPhaseRunCount - tp1 == 3L)
    assert(driver == staged)
  }

  test("odsMerge: a load above spark.graft.driverPath.maxRows numbers its " +
       "new rows with the two-phase path") {
    val base = TestSpark.tmpPath("ods_over_limit").toString
    val ods = s"$base/ods"; val rng = s"$base/rng"
    val stg1 = spark.range(0, 50).select(($"id" * 2).as("k"),
      lit("a").as("v"), lit("2016-01-01").as("dt"))
    val stg2 = spark.range(0, 150).select(($"id" * 3 + 1).as("k"),
      lit("b").as("v"), lit("2016-01-02").as("dt"))
    TestSpark.withConf("spark.graft.driverPath.maxRows" -> "100") {
      val tp0 = graft.ops.Relational.twoPhaseRunCount
      assert(merge(stg1, ods, rng) == 50L)
      assert(graft.ops.Relational.twoPhaseRunCount == tp0)
      assert(merge(stg2, ods, rng) == 50L + 150L -
        stg1.select("k").intersect(stg2.select("k")).count())
      assert(graft.ops.Relational.twoPhaseRunCount == tp0 + 1L)
    }
    // new keys continue from 50 in k order
    val ids = spark.read.parquet(ods).select("k", "dw_id")
      .as[(Long, Long)].collect().toMap
    val fresh = ids.filter(_._2 > 50L).toSeq.sortBy(_._1).map(_._2)
    assert(fresh == (51L to ids.size.toLong))
    assert(ids.filter(_._2 <= 50L).keySet ==
      (0L until 50L).map(_ * 2).toSet)
  }

  test("odsMerge: a first load writes no empty ODS — the publish creates " +
       "it — and a crash left at __replaced is healed, not reloaded") {
    val base = TestSpark.tmpPath("ods_first").toString
    val ods = s"$base/ods"; val rng = s"$base/rng"
    // the stg's rows check, while the merge computes them, that no ODS
    // exists yet
    val odsAbsent = udf { (k: Long) =>
      require(!java.nio.file.Files.exists(java.nio.file.Paths.get(ods)),
        s"$ods exists before the publish"); k
    }
    val stg = Seq((3L, "c", "2016-01-01"), (1L, "a", "2016-01-01"),
                  (2L, "b", "2016-01-02"))
      .toDF("k", "v", "dt").withColumn("k", odsAbsent($"k"))
    assert(merge(stg, ods, rng) == 3L)
    val first = spark.read.parquet(ods).select("k", "dw_id")
      .as[(Long, Long)].collect().toMap
    assert(first == Map(1L -> 1L, 2L -> 2L, 3L -> 3L))
    // a crash between replaceInto's move-aside and move-in
    assert(new java.io.File(ods).renameTo(new java.io.File(ods + "__replaced")))
    assert(merge(Seq((4L, "d", "2016-01-03")).toDF("k", "v", "dt"),
      ods, rng) == 4L)
    val healed = spark.read.parquet(ods).select("k", "dw_id")
      .as[(Long, Long)].collect().toMap
    assert(healed == first + (4L -> 4L))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(ods + "__replaced")))
  }

  test("odsMerge over a parquet stg runs at most five jobs beyond the " +
       "stg's own schema read, on the first and a later load") {
    val base = TestSpark.tmpPath("ods_jobs").toString
    val ods = s"$base/ods"; val rng = s"$base/rng"
    for (i <- 0 until 2) {
      val stgPath = s"$base/stg_$i"
      spark.range(i * 100L, i * 100L + 300L).select($"id".as("k"),
          concat(lit(s"v$i-"), $"id".cast("string")).as("v"),
          lit(s"2016-01-0${i + 1}").as("dt"))
        .repartition(2).write.parquet(stgPath)
      val stg = spark.read.parquet(stgPath)
      val (n, jobs) = TestSpark.jobsRun(merge(stg, ods, rng))
      assert(n == 300L + 100L * i)
      assert(jobs <= 5, s"load $i ran $jobs jobs")
    }
    assert(spark.read.parquet(rng).as[(String, String, Long)].collect()
      .toSet == Set(("2016-01-01", "2016-01-01", 300L),
                    ("2016-01-02", "2016-01-02", 300L)))
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
