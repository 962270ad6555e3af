package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Exact integer apportionment — the budgeted-stage primitive. */
object Apportion {

  /** Epoch-capped apportionment — exact water-filling: split `total`
    * proportionally to `weightCol` like [[largestRemainder]], but no
    * row may receive more than its `capCol` (for a training-data
    * mixture, cap = max-epochs × available tokens — the
    * data-constrained regime of Muennighoff et al. 2023, where a
    * small high-weight source must not be asked for 40 epochs of
    * itself and its excess share flows to the sources that still have
    * headroom).
    *
    * Closed-form water-fill, no iteration: sort rows by cap/weight
    * ascending (the order in which caps bind as the water level
    * rises), find the longest prefix where each row's cap is at or
    * below its proportional share of what remains
    * (cap_i · W_i ≤ R_i · w_i, compared EXACTLY in decimal(38,0) —
    * R_i/W_i the running remaining budget/weight), saturate that
    * prefix at cap, and Hamilton-apportion the remaining budget over
    * the suffix ([[largestRemainder]], so Σ quota = total exactly
    * whenever Σ cap ≥ total, else Σ quota = Σ cap). The suffix quota
    * is clamped at cap as a belt: the prefix test makes every suffix
    * share strictly below its cap under the sort order, so the clamp
    * only ever fires in the measure-zero case where two IEEE-rounded
    * ratios tie across the stop boundary — and then it UNDER-allocates
    * rather than ever exceeding an epoch cap.
    *
    * Determinism: the sort key is the IEEE double cap/weight (exact
    * division of two < 2^53 Longs — engine-identical), ties broken by
    * `keyCols`; everything downstream is integer arithmetic. Weights
    * must be strictly positive (a zero-weight source does not belong
    * in a mixture — rejected loudly); caps non-negative; weight, cap,
    * total < 2^53 so the double sort key and the decimal products stay
    * exact.
    *
    * Scale shape: the sort/rank and BOTH running sums ride one run of
    * the two-phase prefix kernel ([[Relational.prefixScan]], ungrouped,
    * weighing each row 1, its cap and its weight; 1 shuffle, 2 jobs,
    * with the kernel's recompute guard) — no single-partition
    * window, so this holds for per-DOMAIN caps (millions of rows),
    * not just per-source config tables. Driver fetches: the stats
    * row, the kernel's run table, the stop rank, and the
    * saturated-cap sum. Inputs of at most
    * `spark.graft.driverPath.maxRows` rows with string/integer keys
    * run the same water-fill on the collected rows instead
    * ([[Graph.driverPath]]).
    *
    * Output: keyCols ++ (weightCol, capCol, quota). */
  def cappedLargestRemainder(df: DataFrame, keyCols: Seq[String],
                             weightCol: String, capCol: String,
                             total: Long): DataFrame = {
    require(total >= 0, s"total must be >= 0: $total")
    val lim = 1L << 53
    val (w0, nRows0) = graft.core.Tables.stagedCounted(
      df.select((keyCols.map(col) :+
        col(weightCol).cast("long").as("__w") :+
        col(capCol).cast("long").as("__c")): _*), "capfill_w")
    // small-input fast path (r17): the water-fill on collected rows —
    // identical guards, the identical IEEE cap/weight sort key and
    // keyCols tiebreak, prefix sums, the exact (BigInt ≡ decimal(38,0))
    // saturation compare, and the SAME driver Hamilton election on the
    // unsaturated suffix — bit-identical to the staged chain
    // (ApportionSpec pins both paths). Null weights/caps fall through.
    if (Graph.driverPath(df.sparkSession, nRows0,
          keyCols.map(w0.schema(_).dataType): _*) && nRows0 > 0) {
      val nK = keyCols.length
      val rows = w0.collect()
      if (!rows.exists(r => r.isNullAt(nK) || r.isNullAt(nK + 1))) {
        val ws = rows.map(_.getLong(nK))
        val cs = rows.map(_.getLong(nK + 1))
        require(ws.min > 0,
          s"cappedLargestRemainder: weights must be > 0 (min ${ws.min})")
        require(cs.min >= 0,
          s"cappedLargestRemainder: negative cap (min ${cs.min})")
        val bigW = ws.sum
        require(ws.max < lim && cs.max < lim && total < lim &&
          bigW < lim,
          "cappedLargestRemainder: weight/cap/total must stay < 2^53 " +
            "for the exact double sort key and decimal(38,0) products")
        require(total == 0 || bigW <= Long.MaxValue / total,
          s"cappedLargestRemainder: total * sum(weights) must stay " +
            s"inside Long for the Hamilton suffix (total=$total, " +
            s"W=$bigW)")
        val order = rows.indices.toArray.sortWith { (i, j) =>
          val (ri, rj) =
            (cs(i).toDouble / ws(i).toDouble,
              cs(j).toDouble / ws(j).toDouble)
          if (ri != rj) ri < rj
          else keyCmp(rows(i), rows(j), nK) < 0
        }
        // inclusive prefix sums in ratio order, then the saturation
        // test cap_i·W_i ≤ R_i·w_i on the running remainders
        var ccap = 0L
        var cw = 0L
        var stop = Int.MaxValue
        var p = 0
        while (p < order.length && stop == Int.MaxValue) {
          val i = order(p)
          ccap += cs(i); cw += ws(i)
          val ri = total - (ccap - cs(i))
          val wi = bigW - (cw - ws(i))
          val sat = BigInt(cs(i)) * BigInt(wi) <=
            BigInt(ri) * BigInt(ws(i))
          if (!sat) stop = p
          p += 1
        }
        val quota = new Array[Long](rows.length)
        var bound = 0L
        p = 0
        while (p < math.min(stop, order.length)) {
          val i = order(p); quota(i) = cs(i); bound += cs(i); p += 1
        }
        if (stop != Int.MaxValue) {
          val unsatIdx = order.drop(stop)
          val rest = total - bound
          val hq = hamiltonDriverSide(unsatIdx.map(rows), nK, rest)
          var u = 0
          while (u < unsatIdx.length) {
            val i = unsatIdx(u)
            quota(i) = math.min(hq(u), cs(i))
            u += 1
          }
        }
        val out = new java.util.ArrayList[org.apache.spark.sql.Row](
          rows.length)
        var i = 0
        while (i < rows.length) {
          out.add(org.apache.spark.sql.Row.fromSeq(
            rows(i).toSeq.take(nK) ++ Seq(ws(i), cs(i), quota(i))))
          i += 1
        }
        val schema = org.apache.spark.sql.types.StructType(
          keyCols.map(k => w0.schema(k)) ++ Seq(
            org.apache.spark.sql.types.StructField(weightCol,
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField(capCol,
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("quota",
              org.apache.spark.sql.types.LongType)))
        return df.sparkSession.createDataFrame(out, schema)
      }
    }
    val stats = w0.agg(min(col("__w")), max(col("__w")),
      min(col("__c")), max(col("__c")), sum(col("__w")),
      count(lit(1)), count(col("__w")), count(col("__c"))).first()
    require(stats.getLong(5) > 0, "cappedLargestRemainder: empty input")
    require(stats.getLong(6) == stats.getLong(5) &&
      stats.getLong(7) == stats.getLong(5),
      "cappedLargestRemainder: null weight or cap")
    require(stats.getLong(0) > 0,
      s"cappedLargestRemainder: weights must be > 0 (min ${
        stats.getLong(0)})")
    require(stats.getLong(2) >= 0,
      s"cappedLargestRemainder: negative cap (min ${stats.getLong(2)})")
    require(stats.getLong(1) < lim && stats.getLong(3) < lim &&
      total < lim && stats.getLong(4) < lim,
      "cappedLargestRemainder: weight/cap/total must stay < 2^53 " +
        "for the exact double sort key and decimal(38,0) products")
    val bigW = stats.getLong(4)
    // the Hamilton suffix stage runs largestRemainder(rest, ΣunsatW)
    // with rest ≤ total and ΣunsatW ≤ ΣW, so mirroring its stricter
    // total·W < 2^63 guard HERE rejects contract-legal-looking inputs
    // up front instead of aborting mid-plan inside the suffix call
    require(total == 0 || bigW <= Long.MaxValue / total,
      s"cappedLargestRemainder: total * sum(weights) must stay inside " +
        s"Long for the Hamilton suffix (total=$total, W=$bigW)")
    // the rank and both running sums over the ratio order: ONE
    // ungrouped prefix kernel run (1 shuffle, 2 jobs)
    val cum = graft.core.Tables.staged(
      Relational.prefixScan("cappedLargestRemainder", w0, Nil,
        (col("__c").cast("double") / col("__w").cast("double")).asc +:
          keyCols.map(col(_).asc), 0,
        Seq("__rk" -> Relational.EachRow,
          "__ccap" -> Relational.ValueOf("__c"),
          "__cw" -> Relational.ValueOf("__w"))),
      "capfill_cum")
    // saturation test on the running remainders, exact in decimal:
    // cap_i · W_i ≤ R_i · w_i with R_i = total − caps already bound,
    // W_i = weight not yet bound (both inclusive of row i)
    val dec = "decimal(38,0)"
    val flagged = cum
      .withColumn("__ri", lit(total) - (col("__ccap") - col("__c")))
      .withColumn("__wi", lit(bigW) - (col("__cw") - col("__w")))
      .withColumn("__sat",
        col("__c").cast(dec) * col("__wi").cast(dec) <=
          col("__ri").cast(dec) * col("__w").cast(dec))
    val stop = flagged.filter(!col("__sat"))
      .agg(min(col("__rk"))).first() match {
        case r if r.isNullAt(0) => Long.MaxValue
        case r => r.getLong(0)
      }
    val satPart = flagged.filter(col("__rk") < stop)
      .select((keyCols.map(col) :+ col("__w") :+ col("__c") :+
        col("__c").as("quota")): _*)
    val unsat = flagged.filter(col("__rk") >= stop)
    val unsatPart =
      if (stop == Long.MaxValue)
        unsat.select((keyCols.map(col) :+ col("__w") :+ col("__c") :+
          lit(0L).as("quota")): _*)
      else {
        val bound = satPart.agg(coalesce(sum(col("__c")), lit(0L)))
          .first().getLong(0)
        val rest = total - bound
        largestRemainder(unsat, keyCols, "__w", rest)
          .withColumnRenamed("__w", "__hw")
          .join(unsat.select((keyCols.map(col) :+ col("__w") :+
            col("__c")): _*), keyCols)
          .select((keyCols.map(col) :+ col("__w") :+ col("__c") :+
            least(col("quota"), col("__c")).as("quota")): _*)
      }
    satPart.unionByName(unsatPart)
      .withColumnRenamed("__w", weightCol)
      .withColumnRenamed("__c", capCol)
  }

  /** Null-first ascending compare in Spark's own ordering (asc =
    * NULLS FIRST; strings in UTF8 unsigned-byte order). */
  private def keyLt(a: Any, b: Any): Boolean =
    if (a == null) b != null
    else if (b == null) false
    else graft.ops.Graph.nodeLt(a, b)

  /** keyCols-ascending tiebreak over collected rows (shared by both
    * fast paths' sort comparators). Returns <0/0/>0. */
  private def keyCmp(a: org.apache.spark.sql.Row,
                     b: org.apache.spark.sql.Row, nKeys: Int): Int = {
    var i = 0
    while (i < nKeys) {
      val (x, y) = (a.get(i), b.get(i))
      if (keyLt(x, y)) return -1
      if (keyLt(y, x)) return 1
      i += 1
    }
    0
  }

  /** Exact driver-side Hamilton apportionment over collected
    * (keyCols…, __w) rows — the same floors/remainders/overflow guards
    * and the same (remainder desc, keyCols asc) +1 election as the
    * two-phase plan, all in truncating Long arithmetic, so the quotas
    * are bit-identical (ApportionSpec pins both paths). Rows arrive
    * null-free in __w (the caller gates). */
  private def hamiltonDriverSide(rows: Array[org.apache.spark.sql.Row],
      nKeys: Int, total: Long): Array[Long] = {
    require(total >= 0, s"total must be >= 0: $total")
    require(rows.nonEmpty && rows.map(_.getLong(nKeys)).sum > 0,
      "largestRemainder: total weight must be positive")
    val mn = rows.map(_.getLong(nKeys)).min
    require(mn >= 0, s"largestRemainder: negative weight (min $mn)")
    val bigW = rows.map(_.getLong(nKeys)).sum
    require(total == 0 || bigW <= Long.MaxValue / total,
      s"largestRemainder: total*W overflows Long ($total * $bigW)")
    val fl = rows.map(r => total * r.getLong(nKeys) / bigW)
    val rem = rows.map(r => total * r.getLong(nKeys) % bigW)
    val k = total - fl.sum
    val order = rows.indices.toArray.sortWith { (i, j) =>
      if (rem(i) != rem(j)) rem(i) > rem(j)
      else keyCmp(rows(i), rows(j), nKeys) < 0
    }
    val quota = new Array[Long](rows.length)
    var rk = 0
    while (rk < order.length) {
      quota(order(rk)) = fl(order(rk)) + (if (rk < k) 1L else 0L)
      rk += 1
    }
    quota
  }

  /** Hamilton (largest-remainder) apportionment: split an integer
    * `total` across rows proportionally to the non-negative Long
    * `weightCol`, EXACTLY — Σ quota = total, every quota is
    * floor(total·w ÷ W) or that plus one, and the +1s go to the
    * largest remainders (ties broken by `keyCols` ascending, so the
    * split is deterministic). This is the op every budgeted stage
    * needs — crawl fetches per domain, sample counts per stratum,
    * rows per shard — where per-row rounding over- or under-shoots
    * the budget and this never does.
    *
    * All arithmetic is Long (floors/remainders are exact integer
    * division, identical in every engine); the caller keeps
    * total · W inside Long — guarded with a loud require. Zero
    * weights always get quota 0: k = Σrem ÷ W and every remainder is
    * strictly below W, so k is strictly less than the count of
    * positive remainders — a +1 never reaches a zero-remainder row.
    * W = 0 (all weights zero) is rejected loudly.
    *
    * Scale shape: one aggregate for (W, min w, Σ floor), floors and
    * remainders map-side, and the +1 election rides the two-phase
    * [[Relational.globalRowNumber]] (the prefix kernel) — no
    * single-partition window.
    * The input is staged once (it feeds both the aggregate and the
    * ranked projection). Inputs of at most
    * `spark.graft.driverPath.maxRows` rows with string/integer keys
    * run the same arithmetic on the collected rows instead
    * ([[Graph.driverPath]]).
    *
    * Output: keyCols ++ (weightCol, quota). */
  def largestRemainder(df: DataFrame, keyCols: Seq[String],
                       weightCol: String, total: Long): DataFrame = {
    require(total >= 0, s"total must be >= 0: $total")
    val (w, nRows) = graft.core.Tables.stagedCounted(
      df.select((keyCols.map(col) :+
        col(weightCol).cast("long").as("__w")): _*), "apportion_w")
    // small-input fast path (r17, the rank-family gate): the row count
    // is free from the staging write's footers; at or below the cutoff
    // the floors/remainders/+1 election run on the collected rows in
    // the identical truncating Long arithmetic and (rem desc, keys asc)
    // order — one collect replaces the stats/floors aggregates and the
    // two-phase rank. Null weights keep the plan's null algebra by
    // falling through to the distributed path; big inputs take it
    // unchanged.
    if (Graph.driverPath(df.sparkSession, nRows,
          keyCols.map(w.schema(_).dataType): _*) && nRows > 0) {
      val rows = w.collect()
      if (!rows.exists(_.isNullAt(keyCols.length))) {
        val quota = hamiltonDriverSide(rows, keyCols.length, total)
        val out = new java.util.ArrayList[org.apache.spark.sql.Row](
          rows.length)
        var i = 0
        while (i < rows.length) {
          out.add(org.apache.spark.sql.Row.fromSeq(
            rows(i).toSeq :+ quota(i)))
          i += 1
        }
        val schema = org.apache.spark.sql.types.StructType(
          keyCols.map(k => w.schema(k)) ++ Seq(
            org.apache.spark.sql.types.StructField(weightCol,
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("quota",
              org.apache.spark.sql.types.LongType)))
        return df.sparkSession.createDataFrame(out, schema)
      }
    }
    val stats = w.agg(sum(col("__w")).as("W"), min(col("__w")).as("mn"),
      count(lit(1)).as("n")).first()
    require(!stats.isNullAt(0) && stats.getLong(0) > 0,
      "largestRemainder: total weight must be positive")
    val bigW = stats.getLong(0)
    require(stats.getLong(1) >= 0,
      s"largestRemainder: negative weight (min ${stats.getLong(1)})")
    require(total == 0 || bigW <= Long.MaxValue / total,
      s"largestRemainder: total*W overflows Long ($total * $bigW)")
    val floors = w.withColumn("__fl",
        expr(s"(${total}L * __w) div ${bigW}L"))
      .withColumn("__rem", expr(s"(${total}L * __w) % ${bigW}L"))
    val k = total - (if (total == 0) 0L
      else floors.agg(sum(col("__fl"))).first().getLong(0))
    Relational.globalRowNumber(floors,
        col("__rem").desc +: keyCols.map(col), "__rk")
      .select((keyCols.map(col) :+ col("__w").as(weightCol) :+
        (col("__fl") + when(col("__rk") <= k, 1L).otherwise(0L))
          .as("quota")): _*)
  }

  /** Temperature-flattened mixture apportionment — the multilingual
    * α-sampling standard (Lample & Conneau 2019; XLM-R): a source's
    * share of the budget is proportional to count^α with α < 1
    * flattening the distribution toward rare sources, so a
    * high-resource language does not drown the tail; the flattened
    * weights feed [[largestRemainder]], so Σ quota = total EXACTLY.
    *
    * α is restricted to {1.0, 0.5, 0.25} deliberately: IEEE-754 sqrt
    * is CORRECTLY ROUNDED while pow is not (libm and the JVM may
    * differ in the last ulp, which the round() below amplifies into a
    * ±1 integer weight and a DIFFERENT apportionment), so count^(1/2)
    * and count^(1/4) — one and two sqrt applications — are the
    * temperatures computable bit-identically in every engine. The
    * flattened weight is round(sqrt^k(count) · 10^6): an exact
    * integer micro-weight (sqrt of a < 2^53 count is < 2^26.5;
    * times 10^6 stays < 2^47, far inside the double-exact range).
    * Counts must be non-negative (a zero-count source gets weight 0
    * and quota 0).
    *
    * Scale shape: one map-side weight projection on top of
    * [[largestRemainder]]'s aggregate + two-phase rank — no new
    * shuffles. Output: keyCols ++ (countCol, weight, quota). */
  def temperatureQuota(df: DataFrame, keyCols: Seq[String],
                       countCol: String, total: Long,
                       alpha: Double = 0.5): DataFrame = {
    val c = col(countCol).cast("long")
    val w = alpha match {
      case 1.0 => c
      case 0.5 =>
        round(sqrt(c.cast("double")) * 1000000.0).cast("long")
      case 0.25 =>
        round(sqrt(sqrt(c.cast("double"))) * 1000000.0).cast("long")
      case a => throw new IllegalArgumentException(
        "alpha must be 1.0, 0.5, or 0.25 — dyadic sqrt chains are " +
          s"the correctly-rounded, engine-exact temperatures: $a")
    }
    largestRemainder(
      df.select((keyCols.map(col) :+ c.as(countCol) :+
        w.as("weight")): _*),
      keyCols :+ countCol, "weight", total)
  }
}
