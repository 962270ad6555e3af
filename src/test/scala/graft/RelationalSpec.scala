package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Relational

class RelationalSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("fullOuterMerge: stg wins when present, ods preserved otherwise") {
    val stg = Seq((1, "a1"), (2, "a2")).toDF("k", "v")
    val ods = Seq((2, "b2"), (3, "b3")).toDF("k", "v")
    val out = Relational.fullOuterMerge(stg, ods, Seq("k"), Seq("v"))
      .as[(Int, String)].collect().toMap
    assert(out == Map(1 -> "a1", 2 -> "a2", 3 -> "b3"))
  }

  test("dimLookup keeps unmatched fact rows (left outer, !!var)") {
    val fact = Seq((1, "x"), (2, "y")).toDF("k", "f")
    val dim = Seq((1, "d1")).toDF("k", "d")
    val out = Relational.dimLookup(fact, dim, Seq("k"))
      .as[(Int, String, Option[String])].collect()
    assert(out.map(_._1).toSet == Set(1, 2))
    assert(out.find(_._1 == 2).get._3.isEmpty)
  }

  test("slidingScores computes mom/ytd/yoy deltas via map lookup") {
    val m = Seq(
      ("g", "2016-01-31", "100.00"), ("g", "2016-02-29", "130.00"),
      ("g", "2015-12-31", "90.00"), ("g", "2015-02-28", "80.00"))
      .toDF("g", "dt", "v")
    val out = Relational.slidingScores(m, Seq("g"), "dt", "v",
        "2015-02-28", "2016-02-29")
      .select($"dt", $"delta_mom".cast("string"),
              $"delta_ytd".cast("string"), $"delta_yoy".cast("string"))
      .as[(String, String, String, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // 2016-02-29: mom vs 2016-01-31 (+30), ytd vs 2015-12-31 (+40),
    // yoy vs 2015-02-28... 2015-02-28 is the Feb-2015 month end (+50)
    assert(out("2016-02-29") == (("30.000", "40.000", "50.000")))
    // 2016-01-31: mom vs 2015-12-31 (+10); yoy 2015-01-31 missing → null
    assert(out("2016-01-31")._1 == "10.000")
    assert(out("2016-01-31")._3 == null)

    // ?max-value: numeric max over the group's map (not lexicographic)
    val mx = Relational.slidingScores(m, Seq("g"), "dt", "v",
        "2015-02-28", "2016-02-29")
      .select($"max_value".cast("string")).distinct().as[String].collect()
    assert(mx.toSeq == Seq("130.000"))
  }

  /** Two groups: g carries a leap-year Feb 29, a mid-month key and a
    * month-13 key (both counted in max_value, neither emits a row) and
    * a null value (no row); h has a single month. */
  private def slidingInput = Seq(
      ("g", "2016-01-31", "100.00"), ("g", "2016-02-29", "130.00"),
      ("g", "2016-02-15", "999.00"), ("g", "2016-13-31", "7.00"),
      ("g", "2015-12-31", null), ("g", "2015-02-28", "80.00"),
      ("h", "2017-03-31", "5.00"))
    .toDF("g", "dt", "v")

  test("slidingScores unbounded == bounded over the data's own range") {
    val m = slidingInput
    val rng = m.agg(min("dt"), max("dt")).first()
    val unbounded = Relational.slidingScores(m, Seq("g"), "dt", "v")
    val bounded = Relational.slidingScores(m, Seq("g"), "dt", "v",
      rng.getString(0), rng.getString(1))
    assert(unbounded.columns.toSeq == Seq("g", "dt", "value",
      "max_value", "prev_mom", "prev_ytd", "prev_yoy", "delta_mom",
      "delta_ytd", "delta_yoy"))
    assert(unbounded.collect().toSet == bounded.collect().toSet)
    val rows = unbounded.select($"g", $"dt", $"value",
        $"max_value".cast("string"))
      .as[(String, String, String, String)].collect().toSet
    assert(rows == Set(
      ("g", "2015-02-28", "80.00", "999.000"),
      ("g", "2016-01-31", "100.00", "999.000"),
      ("g", "2016-02-29", "130.00", "999.000"),
      ("h", "2017-03-31", "5.00", "5.000")))
    // the reference's mk-month-dts axis over the same range, crossed
    // with each group's map, keeps exactly the same (group, dt, value)
    val axis = m.groupBy("g")
      .agg(graft.agg.Aggregators.collectKv($"dt", $"v").as("kv"))
      .withColumn("dt", explode(graft.functions.Functions.mkMonthDts(
        lit(rng.getString(0)), lit(rng.getString(1)))))
      .select($"g", $"dt", element_at($"kv", $"dt").as("value"))
      .filter($"value".isNotNull)
      .as[(String, String, String)].collect().toSet
    assert(axis == rows.map(r => (r._1, r._2, r._3)))

    val empty = m.filter(lit(false))
    assert(Relational.slidingScores(empty, Seq("g"), "dt", "v")
      .collect().isEmpty)
    assert(Relational.slidingScores(empty, Seq("g"), "dt", "v",
      null, null).collect().isEmpty)
  }

  test("slidingScores bounded is empty on an inverted or null range") {
    val m = slidingInput
    assert(Relational.slidingScores(m, Seq("g"), "dt", "v",
      "2017-03-31", "2015-02-28").collect().isEmpty)
    assert(Relational.slidingScores(m, Seq("g"), "dt", "v",
      null, "2017-03-31").collect().isEmpty)
    assert(Relational.slidingScores(m, Seq("g"), "dt", "v",
      "2015-02-28", null).collect().isEmpty)
    // a narrower range keeps only the month ends inside it
    assert(Relational.slidingScores(m, Seq("g"), "dt", "v",
        "2016-01-01", "2016-02-28")
      .select($"dt").as[String].collect().toSeq == Seq("2016-01-31"))
  }

  test("slidingScores fails on a malformed bound, naming it") {
    val m = slidingInput
    val s = intercept[IllegalArgumentException] {
      Relational.slidingScores(m, Seq("g"), "dt", "v",
        "2016-1-5", "2016-03-31")
    }
    assert(s.getMessage.contains("start bound '2016-1-5'"))
    val e = intercept[IllegalArgumentException] {
      Relational.slidingScores(m, Seq("g"), "dt", "v",
        "2016-01-05", "2016-3-31")
    }
    assert(e.getMessage.contains("end bound '2016-3-31'"))
  }

  test("surrogateKeys keeps existing ids, continues from max") {
    val df = Seq((10L, Some(10L)), (11L, None), (12L, Some(3L)),
                 (13L, None))
      .toDF("k", "dw_id")
    val out = Relational.surrogateKeys(df, "dw_id", "k", 10L, lit(0), 1)
      .as[(Long, Long)].collect().toMap
    assert(out == Map(10L -> 10L, 11L -> 11L, 12L -> 3L, 13L -> 12L))
  }

  /** 1000 rows over 8 partitions; every third row carries an id. */
  private def everyThirdId = spark.range(0, 1000, 1, 8)
    .select($"id".as("k"),
      when($"id" % 3 === 0, $"id" + 5000).cast("long").as("dw_id"))

  test("surrogateKeysDistributed: dense ids, no single-partition funnel") {
    // the two-phase numbering (no row bound): the new ids are unique
    // and dense from max + 1, and the numbering runs in 8 tasks
    val out = Relational.surrogateKeysOrdered(everyThirdId, "dw_id", "k",
        9000L, nPartitions = 8)
    assert(out.rdd.getNumPartitions == 8)
    val ids = out.select("dw_id").as[Long].collect()
    assert(ids.distinct.length == 1000)
    val newIds = ids.filter(_ > 9000).sorted
    assert(newIds.toSeq == (9001L to 9000L + 666L))
  }

  test("surrogateKeysOrdered matches the orderCol-window reference " +
       "sequence") {
    import org.apache.spark.sql.expressions.Window
    val df = spark.range(0, 500, 1, 8)
      .select(($"id" * 7 % 501).as("k"), // shuffled unique order col
        when($"id" % 4 === 0, $"id" + 9000).cast("long").as("dw_id"))
    val out = Relational.surrogateKeysOrdered(df, "dw_id", "k", 20000L,
        nPartitions = 8)
      .select($"k", $"dw_id").as[(Long, Long)].collect().toMap
    // reference: ids assigned in k order among null-id rows
    val ref = df
      .withColumn("dw_id", coalesce($"dw_id",
        lit(20000L) + org.apache.spark.sql.functions.row_number().over(
          Window.partitionBy($"dw_id".isNull).orderBy($"k"))))
      .select($"k", $"dw_id").as[(Long, Long)].collect().toMap
    assert(out == ref)
    // an IntegerType id column comes out LongType, existing ids kept
    val third = everyThirdId
    val ints = third.withColumn("dw_id", $"dw_id".cast("int"))
    val widened = Relational.surrogateKeysOrdered(ints, "dw_id", "k",
        9000L, nPartitions = 8)
    assert(widened.schema("dw_id").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(widened.select($"k", $"dw_id").as[(Long, Long)].collect()
      .toMap == third.select($"k", coalesce($"dw_id", lit(9000L) +
        org.apache.spark.sql.functions.row_number().over(
          Window.partitionBy($"dw_id".isNull).orderBy($"k"))).as("dw_id"))
      .as[(Long, Long)].collect().toMap)
  }

  test("globalRowNumber equals a global window row_number, without a " +
       "single-partition plan") {
    import org.apache.spark.sql.expressions.Window
    val df = spark.range(0, 1000, 1, 8)
      .select(($"id" * 13 % 1009).as("v"), $"id".as("tie"))
    val out = Relational.globalRowNumber(df,
        Seq($"v".desc, $"tie".asc), "rn", nPartitions = 8)
      .select($"v", $"tie", $"rn").as[(Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    val ref = df.withColumn("rn",
        org.apache.spark.sql.functions.row_number()
          .over(Window.orderBy($"v".desc, $"tie".asc)).cast("long"))
      .select($"v", $"tie", $"rn").as[(Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(out == ref)
  }

  test("groupedRowNumber equals the per-group window rank/ntile AND " +
       "spreads a dominant group over many partitions") {
    import org.apache.spark.sql.expressions.Window
    // skewed 2-lang fixture: 'en' holds 90% of rows — the window form
    // would funnel it through one task
    val df = spark.range(0, 1000, 1, 8)
      .select(when($"id" % 10 === 9, "zh").otherwise("en").as("lang"),
        ($"id" * 13 % 1009).as("v"), $"id".as("tie"))
    val out = Relational.groupedRowNumber(df, Seq("lang"),
        Seq($"v".asc, $"tie".asc), "rk", "n", nPartitions = 8)
    val got = out.withColumn("b", expr("(rk - 1) * 3 DIV n + 1"))
      .select($"lang", $"v", $"tie", $"rk", $"b")
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2, r._3) -> ((r._4, r._5))).toMap
    val w = Window.partitionBy($"lang").orderBy($"v".asc, $"tie".asc)
    val ref = df
      .withColumn("rk", row_number().over(w).cast("long"))
      .withColumn("b", ntile(3).over(w).cast("long"))
      .select($"lang", $"v", $"tie", $"rk", $"b")
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2, r._3) -> ((r._4, r._5))).toMap
    assert(got == ref)
    // the scale property: the dominant group's rows live in >1 of the
    // range partitions (the sort keys extend the range key, so a giant
    // group is split — the exact opposite of PARTITION BY lang)
    val langIdx = df.schema.fieldIndex("lang")
    val partsWithEn = df
      .repartitionByRange(8, $"lang", $"v".asc, $"tie".asc)
      .rdd.mapPartitionsWithIndex { (i, it) =>
        Iterator((i, it.exists(r => r.getString(langIdx) == "en")))
      }.collect().filter(_._2)
    assert(partsWithEn.length > 1,
      s"dominant lang collapsed to ${partsWithEn.length} partition")
  }

  test("ntileFromRank equals SQL ntile for every k, including the " +
       "n=7/k=5 case where the DIV shorthand diverges") {
    import org.apache.spark.sql.expressions.Window
    for (k <- Seq(1, 2, 3, 4, 5, 8, 16); n <- Seq(1, 2, 3, 6, 7, 15, 100)) {
      val df = spark.range(0, n, 1, 4)
        .select(lit("g").as("grp"), $"id".as("v"))
      val got = Relational.groupedRowNumber(df, Seq("grp"),
          Seq($"v".asc), "rk", "cnt", nPartitions = 4)
        .select($"v", Relational.ntileFromRank($"rk", $"cnt", k).as("b"))
        .as[(Long, Long)].collect().toMap
      val ref = df.withColumn("b", ntile(k).over(
          Window.partitionBy($"grp").orderBy($"v".asc)).cast("long"))
        .select($"v", $"b").as[(Long, Long)].collect().toMap
      assert(got == ref, s"n=$n k=$k: $got != $ref")
    }
  }

  test("groupedCumSum equals the per-group running-sum window on a " +
       "90%-one-source fixture") {
    import org.apache.spark.sql.expressions.Window
    val df = spark.range(0, 800, 1, 8)
      .select(when($"id" % 10 === 0, "rare").otherwise("cc").as("src"),
        $"id".as("id"), ($"id" * 7 % 113).as("n_tok"))
    val out = Relational.groupedCumSum(df, Seq("src"),
        Seq($"n_tok".desc, $"id".asc), "n_tok", "cum", nPartitions = 8)
      .select($"src", $"id", $"cum").as[(String, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    val ref = df.withColumn("cum", sum($"n_tok").over(
        Window.partitionBy($"src").orderBy($"n_tok".desc, $"id".asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select($"src", $"id", $"cum").as[(String, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(out == ref)
    // null source rows group together (the edge-audit corpus has one)
    val withNull = spark.range(0, 40, 1, 4)
      .select(when($"id" % 2 === 0, "s").as("src"), $"id".as("id"),
        lit(5L).as("n_tok"))
    val cums = Relational.groupedCumSum(withNull, Seq("src"),
        Seq($"id".asc), "n_tok", "cum", nPartitions = 4)
      .filter($"src".isNull).select($"cum").as[Long].collect().sorted
    assert(cums.toSeq == (1L to 20L).map(_ * 5))
    // SQL frame semantics for null VALUES: the running sum is NULL
    // until the frame holds a non-null weight — so a group whose
    // weights are ALL null yields all-NULL sums (review-caught: "null
    // weighs 0" kept such rows where the window form dropped them),
    // and a trailing null weight carries the previous sum
    val nullW = Seq(
      ("a", 1L, Some(3L)), ("a", 2L, None), ("a", 3L, Some(4L)),
      ("b", 1L, None), ("b", 2L, None))
      .toDF("src", "id", "w")
    val got = Relational.groupedCumSum(nullW, Seq("src"),
        Seq($"id".asc), "w", "cum", nPartitions = 4)
      .select($"src", $"id", $"cum").as[(String, Long, Option[Long])]
      .collect().map(r => (r._1, r._2) -> r._3).toMap
    val refNull = nullW.withColumn("cum", sum($"w").over(
        Window.partitionBy($"src").orderBy($"id".asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select($"src", $"id", $"cum").as[(String, Long, Option[Long])]
      .collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(got == refNull)
    assert(got(("b", 1L)).isEmpty && got(("b", 2L)).isEmpty)
    assert(got(("a", 2L)).contains(3L) && got(("a", 3L)).contains(7L))
  }

  test("prefix kernel: the emit pass fails loudly, naming the operator, " +
       "partition and group, when its rows differ from the counted ones") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import Relational.{EachRow, NullIn, PrefixScan, ValueOf}
    val schema = StructType(Seq(StructField("g", StringType),
      StructField("v", LongType)))
    // the counting job saw `counted` in partition 3, the emitting job
    // `emitted`: an upstream that recomputed nondeterministically
    def failure(scan: PrefixScan, counted: Seq[Row],
                emitted: Seq[Row]): String = {
      val table = scan.table(scan.count(3, counted.iterator).toArray)
      intercept[RuntimeException](
        scan.emit(table, 3, emitted.iterator).toList).getMessage
    }
    def names(msg: String, op: String, group: String): Unit =
      assert(msg.startsWith(s"$op: partition 3 group $group ") &&
        msg.contains("nondeterministically"), msg)
    val cumSum = new PrefixScan("groupedCumSum", schema, Seq("g"),
      Seq("cum" -> ValueOf("v")))
    val ab = Seq(Row("a", 1L), Row("a", 2L), Row("b", 4L))
    // the counted rows pass
    assert(cumSum.emit(cumSum.table(cumSum.count(3, ab.iterator).toArray),
        3, ab.iterator).map(_.getLong(2)).toList == List(1L, 3L, 4L))
    // a group the counting job never recorded in this partition
    names(failure(cumSum, ab, ab :+ Row("c", 5L)), "groupedCumSum", "[c]")
    // a run with the recorded rows but a different weight sum
    names(failure(cumSum, ab, Seq(Row("a", 1L), Row("a", 3L), ab(2))),
      "groupedCumSum", "[a]")
    // a run with a different row count
    names(failure(cumSum, ab, ab.take(2) ++ Seq(Row("a", null), ab(2))),
      "groupedCumSum", "[a]")
    // a recorded group the emitting job never meets
    names(failure(cumSum, ab, ab.take(2)), "groupedCumSum", "[b]")
    // the ungrouped path: a row count, and a null-row weight, that
    // differ from the counting job's
    val rowNum = new PrefixScan("globalRowNumber", schema, Nil,
      Seq("rn" -> EachRow))
    names(failure(rowNum, ab, ab.tail), "globalRowNumber", "[]")
    val fresh = new PrefixScan("surrogateKeysOrdered", schema, Nil,
      Seq("__new_rank" -> NullIn("v")))
    names(failure(fresh, Seq(Row("a", null), ab(1)), ab.take(2)),
      "surrogateKeysOrdered", "[]")
  }

  test("reportShape groups dimension metrics under selectors") {
    val df = Seq(("s1", "d1", 10L), ("s1", "d2", 20L), ("s2", "d1", 5L))
      .toDF("sel", "dim", "m")
    val out = Relational.reportShape(df, Seq("sel"), Seq("dim"),
        Seq("cnt" -> col("m")))
      .as[(String, String)].collect().toMap
    assert(out("s1") == """{"dim=d1":{"cnt":10},"dim=d2":{"cnt":20}}""")
    assert(out("s2") == """{"dim=d1":{"cnt":5}}""")
  }

  test("funnel: strict-after ordering, incomplete stages stay null") {
    import spark.implicits._
    def ts(sec: Int) = java.sql.Timestamp.valueOf(
      f"2024-01-01 00:00:$sec%02d")
    // u1 completes in order; u2 clicked BEFORE viewing (stage 2 null,
    // purchase therefore unreachable); u3 never purchases; u4 never
    // enters (no view)
    val ev = Seq(
      (1L, "view", ts(1)), (1L, "click", ts(2)), (1L, "purchase", ts(3)),
      (1L, "click", ts(5)), // later click must not shift min
      (2L, "click", ts(1)), (2L, "view", ts(2)), (2L, "purchase", ts(3)),
      (3L, "view", ts(1)), (3L, "click", ts(4)),
      (4L, "click", ts(1)), (4L, "purchase", ts(2)))
      .toDF("user_id", "event_type", "ts")
    val out = Relational.funnel(ev, "user_id", "event_type", "ts",
        Seq("view", "click", "purchase"))
      .orderBy("user_id")
      .select($"user_id", $"ts_1", $"ts_2", $"ts_3").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))  // u4 absent
    val u1 = out(0); val u2 = out(1); val u3 = out(2)
    assert(u1.getTimestamp(1) == ts(1) && u1.getTimestamp(2) == ts(2) &&
      u1.getTimestamp(3) == ts(3))
    assert(u2.getTimestamp(1) == ts(2) && u2.getTimestamp(2) == null &&
      u2.getTimestamp(3) == null)
    assert(u3.getTimestamp(2) == ts(4) && u3.getTimestamp(3) == null)
  }

  test("cohortRetention: staggered cohorts, churn, re-activation") {
    import spark.implicits._
    def ts(day: Int) = java.sql.Timestamp.valueOf(
      f"2024-01-${day}%02d 12:00:00")
    // u1: cohort wk0, active wk0+wk1; u2: cohort wk0 only;
    // u3: cohort wk1, skips wk2, returns wk3 (gap must not re-cohort)
    val ev = Seq(
      (1L, ts(2)), (1L, ts(9)),
      (2L, ts(3)),
      (3L, ts(10)), (3L, ts(24)))
      .toDF("user_id", "ts")
    val out = Relational.cohortRetention(ev, "user_id", "ts",
        "2024-01-01", periodDays = 7)
      .orderBy("cohort", "week_offset")
      .as[(Int, Int, Long)].collect().toSeq
    assert(out == Seq((0, 0, 2L), (0, 1, 1L), (1, 0, 1L), (1, 2, 1L)))
  }
}
