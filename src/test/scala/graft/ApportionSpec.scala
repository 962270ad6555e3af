package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Apportion

class ApportionSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  import TestSpark.{stagedOnly, withConf}

  test("largestRemainder: quotas sum EXACTLY to total, each is floor " +
       "or floor+1, zero weights get zero") {
    val w = Seq(("a", 3L), ("b", 3L), ("c", 3L), ("z", 0L))
      .toDF("k", "wt")
    // total 10, W 9: floors (3,3,3,0)=9, k=1 → one +1 by remainder
    // 10*3%9=3 equal three ways → tie to smallest key 'a'
    val out = Apportion.largestRemainder(w, Seq("k"), "wt", 10L)
      .as[(String, Long, Long)].collect()
      .map(r => r._1 -> r._3).toMap
    assert(out == Map("a" -> 4L, "b" -> 3L, "c" -> 3L, "z" -> 0L))
  }

  test("largestRemainder invariants hold on an adversarial spread") {
    val w = (1 to 200).map(i => (i.toLong, (i * i % 97).toLong))
      .toDF("k", "wt")
    val total = 12345L
    val bigW = (1 to 200).map(i => (i * i % 97).toLong).sum
    val out = Apportion.largestRemainder(w, Seq("k"), "wt", total)
      .as[(Long, Long, Long)].collect()
    assert(out.map(_._3).sum == total, "quotas must sum to total")
    out.foreach { case (k, wt, q) =>
      val fl = total * wt / bigW
      assert(q == fl || q == fl + 1, s"key $k: quota $q vs floor $fl")
      if (wt == 0) assert(q == 0L, s"zero weight got quota $q")
    }
  }

  test("cappedLargestRemainder: the hand-computed water-fill — tight " +
       "caps saturate in ratio order, the suffix splits the rest by " +
       "Hamilton, and the total is exact") {
    // total 100, weights all 10: A cap 5 and B cap 12 bind (shares
    // would be 25 / 28.3); C and D split the remaining 83 — floors
    // 41/41, equal remainders, tie to the smaller key
    val w = Seq(("A", 10L, 5L), ("B", 10L, 12L), ("C", 10L, 100L),
      ("D", 10L, 100L)).toDF("k", "wt", "cap")
    val out = Apportion.cappedLargestRemainder(w, Seq("k"), "wt",
        "cap", 100L)
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> r._4).toMap
    assert(out == Map("A" -> 5L, "B" -> 12L, "C" -> 42L, "D" -> 41L))
  }

  test("cappedLargestRemainder: Σ cap below total saturates everyone " +
       "at cap; unconstraining caps reduce to plain largestRemainder") {
    val tight = Seq(("a", 1L, 3L), ("b", 1L, 4L)).toDF("k", "wt", "cap")
    val t = Apportion.cappedLargestRemainder(tight, Seq("k"), "wt",
        "cap", 100L)
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> r._4).toMap
    assert(t == Map("a" -> 3L, "b" -> 4L))
    val w = (1 to 50).map(i => (i.toLong, (i * i % 23 + 1).toLong))
    val plain = Apportion.largestRemainder(w.toDF("k", "wt"),
        Seq("k"), "wt", 999L)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r._3).toMap
    val loose = Apportion.cappedLargestRemainder(
        w.map { case (k, wt) => (k, wt, 1000000L) }
          .toDF("k", "wt", "cap"),
        Seq("k"), "wt", "cap", 999L)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r._4).toMap
    assert(loose == plain)
  }

  test("cappedLargestRemainder invariants on an adversarial spread: " +
       "never over cap, exact total whenever headroom exists, " +
       "zero-cap rows get zero") {
    val rows = (1 to 300).map { i =>
      (i.toLong, (i * 7 % 31 + 1).toLong, (i * i % 211).toLong * 3L)
    }
    val total = 8888L
    val out = Apportion.cappedLargestRemainder(
        rows.toDF("k", "wt", "cap"), Seq("k"), "wt", "cap", total)
      .as[(Long, Long, Long, Long)].collect()
    val byKey = out.map(r => r._1 -> r).toMap
    out.foreach { case (k, _, cap, q) =>
      assert(q <= cap, s"key $k: quota $q exceeds cap $cap")
      assert(q >= 0, s"key $k: negative quota $q")
      if (cap == 0) assert(q == 0L)
    }
    val sumCap = rows.map(_._3).sum
    assert(out.map(_._4).sum == math.min(total, sumCap),
      s"Σ quota must be min(total, Σ cap)")
    assert(byKey.size == rows.size)
  }

  test("cappedLargestRemainder rejects zero/negative weights, " +
       "negative caps, and >= 2^53 magnitudes") {
    import org.apache.spark.sql.functions.lit
    intercept[IllegalArgumentException] {
      Apportion.cappedLargestRemainder(Seq(("a", 0L, 5L))
        .toDF("k", "wt", "cap"), Seq("k"), "wt", "cap", 10L)
    }
    intercept[IllegalArgumentException] {
      Apportion.cappedLargestRemainder(Seq(("a", 2L, -1L))
        .toDF("k", "wt", "cap"), Seq("k"), "wt", "cap", 10L)
    }
    intercept[IllegalArgumentException] {
      Apportion.cappedLargestRemainder(Seq(("a", 2L, (1L << 53)))
        .toDF("k", "wt", "cap"), Seq("k"), "wt", "cap", 10L)
    }
    intercept[IllegalArgumentException] {
      Apportion.cappedLargestRemainder(
        spark.range(0).selectExpr("CAST(id AS STRING) AS k",
          "id AS wt", "id AS cap"),
        Seq("k"), "wt", "cap", 10L)
    }
    // a null weight falls through the driver path; the staged path
    // refuses it before the prefix kernel runs
    intercept[IllegalArgumentException] {
      Apportion.cappedLargestRemainder(Seq(("a", Some(2L), 5L),
          ("b", None, 5L)).toDF("k", "wt", "cap"),
        Seq("k"), "wt", "cap", 10L)
    }
  }

  test("largestRemainder fails loudly on zero mass, negative weights, " +
       "and Long overflow") {
    intercept[IllegalArgumentException] {
      Apportion.largestRemainder(Seq(("a", 0L)).toDF("k", "wt"),
        Seq("k"), "wt", 10L)
    }
    intercept[IllegalArgumentException] {
      Apportion.largestRemainder(Seq(("a", -1L), ("b", 5L))
        .toDF("k", "wt"), Seq("k"), "wt", 10L)
    }
    intercept[IllegalArgumentException] {
      Apportion.largestRemainder(Seq(("a", Long.MaxValue / 2))
        .toDF("k", "wt"), Seq("k"), "wt", 1000L)
    }
  }

  test("r17 driver fast paths equal the two-phase plans bit-for-bit " +
       "(driverPath.maxRows = 0 forces the staged path)") {
    // adversarial spread: huge/tiny weights, remainder ties broken by
    // key, a zero weight
    val w = Seq(("a", 999999L), ("b", 1L), ("c", 333L), ("d", 333L),
      ("e", 0L), ("f", 777777L)).toDF("k", "n")
    def m(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "quota").as[(String, Long)].collect().toMap
    assert(m(Apportion.largestRemainder(w, Seq("k"), "n", 1000L)) ==
      withConf(stagedOnly)(
        m(Apportion.largestRemainder(w, Seq("k"), "n", 1000L))))
    // water-fill: binding caps on the high-ratio rows, a zero cap,
    // and a suffix Hamilton stage
    val cw = Seq(("a", 100L, 3L), ("b", 10L, 500L), ("c", 50L, 20L),
      ("d", 7L, 0L), ("e", 31L, 9L)).toDF("k", "n", "cap")
    def mc(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "quota").as[(String, Long)].collect().toMap
    val f = mc(Apportion.cappedLargestRemainder(cw, Seq("k"), "n",
      "cap", 60L))
    val d = withConf(stagedOnly)(mc(Apportion.cappedLargestRemainder(
      cw, Seq("k"), "n", "cap", 60L)))
    assert(f == d, s"capped fast path diverged: $f vs $d")
    // every cap binds (sum caps < total): all rows saturate at cap on
    // both paths
    val fAll = mc(Apportion.cappedLargestRemainder(cw, Seq("k"), "n",
      "cap", 100000L))
    val dAll = withConf(stagedOnly)(mc(Apportion.cappedLargestRemainder(
      cw, Seq("k"), "n", "cap", 100000L)))
    assert(fAll == dAll && fAll == Map("a" -> 3L, "b" -> 500L,
      "c" -> 20L, "d" -> 0L, "e" -> 9L))
    // guards fire identically on the fast path
    intercept[IllegalArgumentException] {
      Apportion.cappedLargestRemainder(
        Seq(("z", 0L, 5L)).toDF("k", "n", "cap"), Seq("k"), "n",
        "cap", 10L).collect()
    }
  }

  test("temperatureQuota: sqrt flattening shifts budget toward rare " +
       "sources vs alpha=1, hand-computed at all three temperatures; " +
       "non-dyadic alpha rejected") {
    val counts = Seq(("big", 100L), ("tiny", 1L), ("mid", 4L))
      .toDF("src", "n")
    def quotas(alpha: Double): Map[String, Long] =
      Apportion.temperatureQuota(counts, Seq("src"), "n", 13L, alpha)
        .select("src", "quota").as[(String, Long)].collect().toMap
    // α=1: weights (100,1,4), floors (12,0,0), k=1 → largest rem is
    // the 4-count row → (12, 0, 1)
    assert(quotas(1.0) == Map("big" -> 12L, "tiny" -> 0L, "mid" -> 1L))
    // α=0.5: micro-weights (10e6, 1e6, 2e6) → exactly 10:1:2
    assert(quotas(0.5) == Map("big" -> 10L, "tiny" -> 1L, "mid" -> 2L))
    // α=0.25: weights (3162278, 1000000, 1414214), floors (7,2,3),
    // k=1 → largest rem is big → (8, 2, 3)
    assert(quotas(0.25) == Map("big" -> 8L, "tiny" -> 2L, "mid" -> 3L))
    intercept[IllegalArgumentException] { quotas(0.7) }
  }
}
