package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.agg.Aggregators
import graft.functions.Functions._

/** Relational building blocks (SURVEY §7 `graft.ops`). */
object Relational {

  private val twoPhase = new java.util.concurrent.atomic.AtomicLong(0)

  /** Monotone count of two-phase prefix-kernel invocations
    * ([[globalRowNumber]] / [[surrogateKeysDistributed]] / the grouped
    * prefix machinery) since JVM start. Each invocation runs TWO jobs
    * over one shuffled RDD (subtotal-count + offset-map) — the
    * many-small-disk-jobs shape whose warm timings spread ~2× under
    * disk weather. Bench reads the delta across a query's cold pass to
    * classify the 5-pass-median set by construction (with
    * [[graft.core.Tables.stagedWriteCount]]). */
  def twoPhaseRunCount: Long = twoPhase.get

  /** Record a two-phase kernel run implemented outside this object
    * (e.g. [[Apportion]]'s fused rank+prefix pass). */
  private[graft] def recordTwoPhase(): Unit = {
    twoPhase.incrementAndGet(); ()
  }

  /** Full-outer stg ⊕ ods merge with `or-tuple` coalesce — SCD-0 upsert
    * preserving ods surrogate ids (reference
    * src/bolome/ods/d_bolome_show.clj:41-56; or-tuple trgx.clj:21).
    *
    * `keys`: natural join keys; `valueCols`: columns present on both
    * sides, stg wins when non-null. Scale: a shuffle on the natural key
    * on both sides — exactly one exchange each, co-partitioned join.
    */
  def fullOuterMerge(stg: DataFrame, ods: DataFrame, keys: Seq[String],
                     valueCols: Seq[String]): DataFrame = {
    val s = stg.alias("stg")
    val o = ods.alias("ods")
    val joined = s.join(o, keys, "full_outer")
    val merged = valueCols.map(c =>
      coalesce(col(s"stg.$c"), col(s"ods.$c")).as(c))
    joined.select(keys.map(col) ++ merged: _*)
  }

  /** Left-outer dimension lookup — the `!!var` ungrounding join
    * (mlin/d_bolome_user_order.clj:81-85). Dimension side is broadcast:
    * at 100 TB the fact never shuffles for a small-dim lookup. */
  def dimLookup(fact: DataFrame, dim: DataFrame, keys: Seq[String],
                broadcastDim: Boolean = true): DataFrame =
    fact.join(if (broadcastDim) broadcast(dim) else dim, keys, "left_outer")

  /** The sliding-score pattern (SURVEY §2.6; reference
    * m_cocacola_score_overall.clj:42-57): collapse a (group, dt, value)
    * fact to `{dt → value}` per group, explode a month-end date axis,
    * look up the 3 reference dates per axis date, emit deltas.
    *
    * Input: df with `groupCols`, a date-string column `dtCol`, and a
    * *string-formatted* value column `valCol` (decimal-cast upstream so
    * arithmetic is exact). Output: one row per (group, axis-date) where
    * the axis date has a value, with mom/ytd/yoy deltas.
    *
    * Scale: ONE shuffle (the groupBy); the axis explode and the lag
    * lookups are map-side on the compact per-group map — no self-joins,
    * no window sort over the raw fact.
    */
  def slidingScores(df: DataFrame, groupCols: Seq[String], dtCol: String,
                    valCol: String, axisStart: String,
                    axisEnd: String): DataFrame = {
    // the groupBy's exchange is pinned as a USER repartition on the
    // group key (same hash clustering, so the aggregate adds no second
    // exchange): the downstream of this shuffle is the suite's most
    // CPU-dense stage per byte — map finalize, a ~window-sized axis
    // explode per group, 4 map lookups per axis row, then the
    // pair-tree partial agg — so AQE's byte-based partition coalescing
    // (which sees ~1 MB and folds the stage to ONE task, serializing
    // it; r17 profiler: 2.1-4.8 s single-task stages, the dominant
    // cost of every sliding report) is the wrong heuristic here. The
    // width is pinned to the session's spark.sql.shuffle.partitions —
    // a scale-adaptive conf, not a local constant — via the explicit
    // numPartitions form, which AQE never coalesces (the by-column
    // form still coalesced to minPartitionSize: 3 tasks of ~1 MB in
    // the r17 A/B, leaving 29 of 32 cores idle under a CPU-dense
    // stage). Partial collect_kv provided no map-side reduction anyway
    // ((group, dt) is unique at this grain), so shuffle bytes are
    // unchanged.
    val in = if (groupCols.isEmpty) df
      else df.repartition(
        df.sparkSession.sessionState.conf.numShufflePartitions,
        groupCols.map(col): _*)
    val kv = in.groupBy(groupCols.map(col): _*)
      .agg(Aggregators.collectKv(col(dtCol), col(valCol)).as("dt_kv"))
    // the axis bounds are driver strings in every caller, so build the
    // month-end axis ONCE driver-side (a ~window-sized list) instead of
    // re-evaluating mkMonthDts' interpreted filter/transform HOFs per
    // group row — the Scala twin replicates mkMonthDts exactly
    // (month-ends of [trunc(start), trunc(end)] kept inside the STRING
    // range; empty on an inverted or null range, which explodes to
    // zero rows just like mkMonthDts' NULL array). Pinned against the
    // Column form in FunctionsSpec.
    val axis = kv.withColumn(
      "dt", explode(typedlit(monthEndsSeq(axisStart, axisEnd))))
    val withRefs = axis
      .withColumn("value", element_at(col("dt_kv"), col("dt")))
      .filter(col("value").isNotNull)
      // ?max-value: numeric max over the group's whole {dt→value} map
      // (m_cocacola_score_overall.clj:53) — values are decimal strings,
      // so compare numerically, not lexicographically. The element-wise
      // cast is a native ARRAY cast (codegen'd), not a transform
      // lambda — same element semantics, no interpreted HOF
      .withColumn("max_value",
        array_max(map_values(col("dt_kv"))
          .cast("array<decimal(28,3)>")))
      .withColumn("prev_mom", element_at(col("dt_kv"), prevLastDay(col("dt"))))
      .withColumn("prev_ytd", element_at(col("dt_kv"), prevLastMonth(col("dt"))))
      .withColumn("prev_yoy", element_at(col("dt_kv"), prevSameMonth(col("dt"))))
    def delta(a: Column, b: Column): Column =
      when(b.isNull, lit(null)).otherwise(
        a.cast("decimal(28,3)") - b.cast("decimal(28,3)"))
    withRefs
      .withColumn("delta_mom", delta(col("value"), col("prev_mom")))
      .withColumn("delta_ytd", delta(col("value"), col("prev_ytd")))
      .withColumn("delta_yoy", delta(col("value"), col("prev_yoy")))
      .drop("dt_kv")
  }

  /** Group-max over partition (m_cocacola_score_overall.clj:53): max of
    * the collected map's values ≡ MAX(value) OVER (PARTITION BY group).
    * NOTE: compares in the map's value type — for decimal-string maps
    * cast first (slidingScores does this for its `max_value`). */
  def groupMax(valueMap: Column): Column = array_max(map_values(valueMap))

  /** `row-num` surrogate-key assignment, window form (reference
    * trgx.clj:166-186 + load-max-dw-id): rows keep an existing id;
    * new rows get maxExisting + rank over a deterministic order.
    *
    * `partitionCol` mirrors the reference's per-partition-number
    * assignment and keeps the window from funnelling through a single
    * partition — REQUIRED at scale (round-1 plan audit). Ids are made
    * globally unique by striding: id = max + (rank-1) * nPartitions +
    * partitionIndex + 1.
    */
  def surrogateKeys(df: DataFrame, idCol: String, orderCol: String,
                    maxExisting: Long, partitionCol: Column,
                    nPartitions: Int): DataFrame = {
    // rank only among rows missing an id — the reference's counter
    // advances per *new* row (trgx.clj:181-186)
    val w = Window.partitionBy(partitionCol, col(idCol).isNull)
      .orderBy(col(orderCol))
    // a partition value outside [0, nPartitions) would silently collide
    // ids across strides (prt=nPartitions lands on the next rank's
    // slot) — fail loudly per row instead
    val guarded = when(
      partitionCol.isNull || partitionCol < 0 ||
        partitionCol >= nPartitions,
      raise_error(concat(
        lit(s"surrogateKeys: partitionCol out of [0, $nPartitions): "),
        partitionCol.cast("string"))).cast("long"))
      .otherwise(partitionCol.cast("long"))
    df.withColumn("__prt", guarded)
      // row_number() is IntegerType: widen BEFORE the stride multiply
      // or (rk-1)*nPartitions wraps at 2^31/nPartitions rows per window
      // partition and silently emits duplicate/negative ids
      .withColumn("__rk", row_number().over(w).cast("long"))
      .withColumn(idCol,
        coalesce(col(idCol),
          lit(maxExisting) + (col("__rk") - 1) * nPartitions.toLong
            + col("__prt") + 1))
      .drop("__prt", "__rk")
  }

  /** Scale-path surrogate keys: two-phase zipWithIndex (per-partition
    * counts → cumulative offsets → local index), no global sort, no
    * single-partition window. Dense, gap-free ids continuing from
    * `maxExisting`. */
  def surrogateKeysDistributed(df: DataFrame, idCol: String,
                               maxExisting: Long): DataFrame = {
    twoPhase.incrementAndGet()
    val spark = df.sparkSession
    // widen existing ids up front: the output schema declares LongType,
    // and a pre-existing java.lang.Integer passing through the `else r`
    // branch below would fail createDataFrame's runtime conversion
    // (the window-form surrogateKeys coerces via SQL; this path must
    // match it)
    val widened = df.withColumn(idCol, col(idCol).cast("long"))
    val schema = widened.schema
    val idIdx = schema.fieldIndex(idCol)
    val rdd = widened.rdd
    val counts = rdd.mapPartitionsWithIndex { (i, it) =>
      // Long accumulator, not it.count (Int) — partitions can exceed
      // 2^31 rows at scale and a wrapped count corrupts every offset
      var n = 0L
      it.foreach(r => if (r.isNullAt(idIdx)) n += 1)
      Iterator((i, n))
    }.collect().sortBy(_._1)
    val offsets = counts.map(_._2).scanLeft(0L)(_ + _)
    val bc = spark.sparkContext.broadcast(offsets)
    val out = rdd.mapPartitionsWithIndex { (i, it) =>
      var next = maxExisting + bc.value(i)
      it.map { r =>
        if (r.isNullAt(idIdx)) {
          next += 1
          org.apache.spark.sql.Row.fromSeq(
            r.toSeq.updated(idIdx, next))
        } else r
      }
    }
    spark.createDataFrame(out,
      org.apache.spark.sql.types.StructType(schema.map(f =>
        if (f.name == idCol) f.copy(dataType =
          org.apache.spark.sql.types.LongType, nullable = false) else f)))
  }

  /** The registered scale path for surrogate keys: ids assigned to
    * null-id rows in `orderCol` order, dense and gap-free from
    * `maxExisting`, with NO single-partition window. Range-repartition
    * by `orderCol` gives a global order across partition indexes
    * (RangePartitioner's partition 0 holds the lowest range), then the
    * two-phase per-partition count/offset assignment runs fully
    * parallel. Matches the window form's id sequence whenever
    * `orderCol` is a total order — at any width, since the assignment
    * is dense in `orderCol` order. The numbering stage runs at
    * `spark.sql.shuffle.partitions` unless `nPartitions` > 0 pins it
    * (see [[resolvePartitions]]); a caller that writes the result
    * straight out gets one file per numbering task.
    *
    * `newRowsAtMost`: a caller-known upper bound on the null-id rows
    * (an ODS merge knows its stg row count). When [[Graph.driverPath]]
    * admits that bound, only the null-id rows are numbered, by one
    * `row_number()` window over `orderCol` — a single-task sort of at
    * most `spark.graft.driverPath.maxRows` rows — and unioned with the
    * id-carrying rows, which the numbering neither shuffles nor
    * counts; the union
    * is coalesced to the session's shuffle width so a caller writing
    * it out gets at most that many files. Both paths give the same ids
    * whenever `orderCol` is a total order. Without a bound, or above
    * the limit, the two-phase path runs. */
  def surrogateKeysOrdered(df: DataFrame, idCol: String, orderCol: String,
                           maxExisting: Long,
                           nPartitions: Int = 0,
                           newRowsAtMost: Option[Long] = None): DataFrame =
    if (newRowsAtMost.exists(Graph.driverPath(df.sparkSession, _))) {
      val numbered = df.filter(col(idCol).isNull).withColumn(idCol,
        lit(maxExisting) +
          row_number().over(Window.orderBy(col(orderCol))).cast("long"))
      df.filter(col(idCol).isNotNull)
        .withColumn(idCol, col(idCol).cast("long"))
        .union(numbered)
        .coalesce(resolvePartitions(df, 0))
    } else
      surrogateKeysDistributed(
        df.repartitionByRange(resolvePartitions(df, nPartitions),
            col(orderCol))
          .sortWithinPartitions(orderCol),
        idCol, maxExisting)

  /** nPartitions ≤ 0 (the default everywhere) resolves to the
    * session's shuffle-partition setting, so the two-phase helpers'
    * parallelism tracks the cluster configuration instead of a
    * hardcoded 32 (the r9 ADVICE item: the 100 TB rationale of these
    * helpers is exactly that the dominant group spans MANY partitions
    * — capping them at 32 tasks on a 1000-executor session defeats
    * it, and on a 4-core session 32 tasks only add scheduling and
    * small files). */
  private def resolvePartitions(df: DataFrame, n: Int): Int =
    if (n > 0) n
    else df.sparkSession.sessionState.conf.numShufflePartitions

  /** Global row_number over a total order without a single-partition
    * window: range-repartition on the sort keys (global order across
    * partition indexes), then two-phase per-partition offsets — a count
    * job plus a map job over the same shuffled RDD (the RangePartitioner
    * is sampled once per RDD instance, so both jobs see identical
    * boundaries). Emits LongType `outCol` starting at 1; the width
    * follows [[resolvePartitions]]. */
  def globalRowNumber(df: DataFrame, sortCols: Seq[Column],
                      outCol: String, nPartitions: Int = 0): DataFrame = {
    twoPhase.incrementAndGet()
    val spark = df.sparkSession
    val schema = df.schema
    val rdd = df.repartitionByRange(
        resolvePartitions(df, nPartitions), sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
      .rdd
    val counts = rdd.mapPartitionsWithIndex { (i, it) =>
      // Long accumulator, not it.size (Int) — see surrogateKeysDistributed
      var n = 0L
      it.foreach(_ => n += 1)
      Iterator((i, n))
    }.collect().sortBy(_._1)
    val offsets = counts.map(_._2).scanLeft(0L)(_ + _)
    val bc = spark.sparkContext.broadcast(offsets)
    val out = rdd.mapPartitionsWithIndex { (i, it) =>
      var n = bc.value(i)
      it.map { r =>
        n += 1
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ n)
      }
    }
    spark.createDataFrame(out, org.apache.spark.sql.types.StructType(
      schema.add(outCol, org.apache.spark.sql.types.LongType,
        nullable = false)))
  }

  /** Shared two-phase machinery for [[groupedRowNumber]] and
    * [[groupedCumSum]] — a per-GROUP prefix (rank / running sum) over a
    * total order with NO per-group single-task window. `PARTITION BY
    * grp ORDER BY ...` funnels each group through one task, which at
    * 100 TB serializes the dominant group (English is 40-60% of a web
    * corpus; CommonCrawl is >90% of a typical source mix). Here the
    * range partitioner keys on (groupCols ++ sortCols), so a dominant
    * group SPANS many partitions — the sort keys extend the range key —
    * then one counting job computes each partition's per-group weight
    * subtotal and the driver turns the contiguous runs into
    * (partition, group) start offsets plus per-group totals. Driver /
    * broadcast state is O(nGroups + nPartitions) entries (groups are
    * range-contiguous, so each partition boundary adds at most one
    * run), never O(rows). Both jobs run over the same shuffled RDD
    * instance, so the sampled range boundaries are identical (the
    * globalRowNumber contract).
    *
    * `weightCol = None` weighs every row 1 (rank); `Some(c)` weighs by
    * the LongType column `c` (running sum; a null weight adds 0, and
    * the per-(partition, group) NON-NULL weight counts are tracked
    * alongside so [[groupedCumSum]] can reproduce SQL frame semantics
    * — `sum() OVER` is NULL until the frame holds a non-null value). */
  private def groupedPrefix(df: DataFrame, groupCols: Seq[String],
      sortCols: Seq[Column], nPartitions: Int, weightCol: Option[String])
      : (org.apache.spark.rdd.RDD[org.apache.spark.sql.Row],
         org.apache.spark.sql.types.StructType, Array[Int],
         Map[(Int, List[Any]), (Long, Long)], Map[List[Any], Long],
         Map[(Int, List[Any]), (Long, Long)]) = {
    twoPhase.incrementAndGet()
    val schema = df.schema
    val gIdx = groupCols.map(schema.fieldIndex).toArray
    val wIdx = weightCol.map { c =>
      require(schema(c).dataType ==
        org.apache.spark.sql.types.LongType,
        s"groupedPrefix weight column $c must be LongType")
      schema.fieldIndex(c)
    }
    val keys = groupCols.map(col) ++ sortCols
    val rdd = df.repartitionByRange(nPartitions, keys: _*)
      .sortWithinPartitions(keys: _*)
      .rdd
    val runs = rdd.mapPartitionsWithIndex { (i, it) =>
      // rows arrive group-contiguous: per-group subtotals are runs —
      // O(groups-in-partition) output per partition, never O(rows)
      val acc = scala.collection.mutable.ArrayBuffer
        .empty[(List[Any], Long, Long)]
      var cur: List[Any] = null
      var sum = 0L
      var nn = 0L
      var any = false
      it.foreach { r =>
        val k = gIdx.map(j => r.get(j)).toList
        if (!any || k != cur) {
          if (any) acc += ((cur, sum, nn))
          cur = k; sum = 0L; nn = 0L; any = true
        }
        wIdx match {
          case Some(j) =>
            if (!r.isNullAt(j)) { sum += r.getLong(j); nn += 1L }
          case None => sum += 1L; nn += 1L
        }
      }
      if (any) acc += ((cur, sum, nn))
      acc.iterator.map { case (k, s, n) => (i, k, s, n) }
    }.collect()
    val runMap = runs.map { case (i, k, s, n) => ((i, k), (s, n)) }.toMap
    val byGroup = runs.groupBy(_._2)
    // (partition, group) → (weight prefix, non-null-count prefix):
    // both the running start offset for this partition's first row of
    // the group, computed from the earlier partitions' subtotals
    val offsets = byGroup.iterator.flatMap { case (g, rs) =>
      val sorted = rs.sortBy(_._1)
      val starts = sorted.scanLeft((0L, 0L)) { case ((s, n), r) =>
        (s + r._3, n + r._4)
      }.init
      sorted.zip(starts).map { case ((p, _, _, _), off) => ((p, g), off) }
    }.toMap
    val totals = byGroup.map { case (g, rs) => (g, rs.map(_._3).sum) }
    (rdd, schema, gIdx, offsets, totals, runMap)
  }

  /** Per-group global row number + group size over a total order —
    * the scale-safe replacement for `row_number()/ntile() OVER
    * (PARTITION BY group ORDER BY ...)` when one group can dominate
    * the corpus (see [[groupedPrefix]] for the plan shape). Appends
    * LongType `rankCol` (1-based within group, in `sortCols` order)
    * and `totalCol` (group row count); `ntile(k)` is then the pure
    * projection `(rank - 1) * k DIV total + 1` — byte-identical to the
    * window form whenever (groupCols ++ sortCols) is a total order. */
  def groupedRowNumber(df: DataFrame, groupCols: Seq[String],
                       sortCols: Seq[Column], rankCol: String,
                       totalCol: String,
                       nPartitions: Int = 0): DataFrame = {
    val spark = df.sparkSession
    val (rdd, schema, gIdx, offsets, totals, runMap) =
      groupedPrefix(df, groupCols, sortCols,
        resolvePartitions(df, nPartitions), None)
    val bcOff = spark.sparkContext.broadcast(offsets)
    val bcTot = spark.sparkContext.broadcast(totals)
    val bcRuns = spark.sparkContext.broadcast(runMap)
    val out = rdd.mapPartitionsWithIndex { (i, it) =>
      new scala.collection.AbstractIterator[org.apache.spark.sql.Row] {
        private var cur: List[Any] = null
        private var any = false
        private var n = 0L
        private var runRows = 0L
        private var tailChecked = false
        // a run whose ROW COUNT differs from what the counting job
        // recorded means the two jobs saw different row placements
        // even though the group SET matched (the subtle
        // nondeterministic-recompute case the unrecorded-group guard
        // below cannot see) — fail loudly, never emit corrupt ranks
        private def verifyRun(): Unit = if (any) {
          val rec = bcRuns.value((i, cur))._1
          if (rec != runRows) sys.error(
            s"groupedRowNumber: partition $i group $cur has $runRows " +
              s"rows but the counting job recorded $rec — upstream " +
              "recomputed nondeterministically")
        }
        def hasNext: Boolean = {
          val h = it.hasNext
          if (!h && !tailChecked) { tailChecked = true; verifyRun() }
          h
        }
        def next(): org.apache.spark.sql.Row = {
          val r = it.next()
          val k = gIdx.map(j => r.get(j)).toList
          if (!any || k != cur) {
            verifyRun()
            // a missing key means the counting job and this job saw
            // DIFFERENT partitionings (nondeterministic upstream
            // recompute after shuffle eviction) — fail loudly rather
            // than emit silently corrupt ranks
            n = bcOff.value.getOrElse((i, k), sys.error(
              s"groupedRowNumber: partition $i saw unrecorded group " +
                s"$k — upstream recomputed nondeterministically"))._1
            cur = k; any = true; runRows = 0L
          }
          n += 1
          runRows += 1
          org.apache.spark.sql.Row.fromSeq(
            r.toSeq :+ n :+ bcTot.value(k))
        }
      }
    }
    spark.createDataFrame(out, org.apache.spark.sql.types.StructType(
      schema
        .add(rankCol, org.apache.spark.sql.types.LongType,
          nullable = false)
        .add(totalCol, org.apache.spark.sql.types.LongType,
          nullable = false)))
  }

  /** SQL `ntile(k)` recovered from a grouped rank and group size: the
    * first (n mod k) buckets get ceil(n/k) rows, the rest floor(n/k) —
    * the exact SQL window semantics, as a pure projection over
    * [[groupedRowNumber]]'s outputs. For k = 3 this happens to equal
    * the shorthand `(rank-1)*3 DIV n + 1` (the ccnet projection), but
    * the shorthand is NOT ntile for general k — n=7, k=5 spreads the
    * two oversize buckets to positions 1 and 3 where SQL ntile puts
    * them at 1 and 2 — so any other k must go through here. Double
    * division is exact for group sizes below 2^52; the q=0 guard keeps
    * the dead branch finite when n < k (ANSI mode never sees an
    * integer division). Returns LongType buckets in [1, k]. */
  def ntileFromRank(rank: Column, total: Column, k: Int): Column = {
    require(k >= 1, s"ntileFromRank: k must be >= 1, got $k")
    val kL = lit(k.toLong)
    val q = floor(total / kL).cast("long")
    val r = total % kL
    val cut = r * (q + lit(1L))
    when(rank <= cut,
        floor((rank - lit(1L)) / (q + lit(1L))).cast("long") + lit(1L))
      .otherwise(r + floor((rank - cut - lit(1L)) /
        when(q === 0L, lit(1L)).otherwise(q)).cast("long") + lit(1L))
  }

  /** Per-group running sum (inclusive of the current row) over a total
    * order — the scale-safe replacement for `sum(v) OVER (PARTITION BY
    * group ORDER BY ... ROWS UNBOUNDED PRECEDING)` (see
    * [[groupedPrefix]] for why and for the plan shape). `valueCol`
    * must be LongType. SQL frame semantics EXACTLY, nulls included:
    * the running sum is NULL until the frame holds at least one
    * non-null value (an all-null group yields all-NULL sums — the
    * review-caught case where "null weighs 0" diverged from the
    * window form), and a null value after that leaves the sum
    * unchanged. Appends nullable LongType `outCol`. */
  def groupedCumSum(df: DataFrame, groupCols: Seq[String],
                    sortCols: Seq[Column], valueCol: String,
                    outCol: String, nPartitions: Int = 0): DataFrame = {
    val spark = df.sparkSession
    val (rdd, schema, gIdx, offsets, _, runMap) =
      groupedPrefix(df, groupCols, sortCols,
        resolvePartitions(df, nPartitions), Some(valueCol))
    val vIdx = schema.fieldIndex(valueCol)
    val bcOff = spark.sparkContext.broadcast(offsets)
    val bcRuns = spark.sparkContext.broadcast(runMap)
    val out = rdd.mapPartitionsWithIndex { (i, it) =>
      new scala.collection.AbstractIterator[org.apache.spark.sql.Row] {
        private var cur: List[Any] = null
        private var any = false
        private var n = 0L
        private var nn = 0L
        private var runSum = 0L
        private var runNn = 0L
        private var tailChecked = false
        // subtotal re-check — see groupedRowNumber.verifyRun
        private def verifyRun(): Unit = if (any) {
          val rec = bcRuns.value((i, cur))
          if (rec._1 != runSum || rec._2 != runNn) sys.error(
            s"groupedCumSum: partition $i group $cur run subtotal " +
              s"($runSum, $runNn) != counting job's $rec — upstream " +
              "recomputed nondeterministically")
        }
        def hasNext: Boolean = {
          val h = it.hasNext
          if (!h && !tailChecked) { tailChecked = true; verifyRun() }
          h
        }
        def next(): org.apache.spark.sql.Row = {
          val r = it.next()
          val k = gIdx.map(j => r.get(j)).toList
          if (!any || k != cur) {
            verifyRun()
            // loud failure over silent corruption — groupedRowNumber
            val off = bcOff.value.getOrElse((i, k), sys.error(
              s"groupedCumSum: partition $i saw unrecorded group $k — " +
                "upstream recomputed nondeterministically"))
            n = off._1; nn = off._2
            cur = k; any = true; runSum = 0L; runNn = 0L
          }
          if (!r.isNullAt(vIdx)) {
            val v = r.getLong(vIdx)
            n += v; nn += 1L; runSum += v; runNn += 1L
          }
          org.apache.spark.sql.Row.fromSeq(
            r.toSeq :+
              (if (nn == 0L) null else java.lang.Long.valueOf(n)))
        }
      }
    }
    spark.createDataFrame(out, org.apache.spark.sql.types.StructType(
      schema.add(outCol, org.apache.spark.sql.types.LongType,
        nullable = true)))
  }

  /** Ordered-funnel completion per key: stage 1 completes at its
    * earliest event; stage n at its earliest event STRICTLY AFTER
    * stage n−1's completion. One row per key that entered the funnel,
    * with per-stage completion timestamps (null = never reached).
    *
    * Scale shape: each stage is a conditional min-aggregate over a
    * (key, ts) slim projection joined to the previous stage's one-row-
    * per-key table — shuffles carry key+timestamp only, no per-key
    * event sorting, no mapGroups state. N stages = N narrow
    * aggregates; AQE collapses the per-stage joins to broadcasts when
    * the funnel head is selective. */
  def funnel(events: DataFrame, keyCol: String, typeCol: String,
             tsCol: String, stages: Seq[String]): DataFrame = {
    require(stages.nonEmpty, "funnel needs at least one stage")
    val slim = events.select(col(keyCol).as("__k"),
      col(typeCol).as("__t"), col(tsCol).as("__ts"))
    var acc = slim.filter(col("__t") === stages.head)
      .groupBy("__k").agg(min(col("__ts")).as("ts_1"))
    for ((st, i) <- stages.tail.zipWithIndex) {
      val n = i + 2
      val prev = s"ts_${n - 1}"
      val stageMin = slim.filter(col("__t") === st)
        .join(acc.select(col("__k"), col(prev)), Seq("__k"))
        .filter(col("__ts") > col(prev))
        .groupBy("__k").agg(min(col("__ts")).as(s"ts_$n"))
      acc = acc.join(stageMin, Seq("__k"), "left_outer")
    }
    acc.withColumnRenamed("__k", keyCol)
  }

  /** Cohort retention: keys bucketed into `periodDays`-day periods
    * since `anchorDate`; a key's cohort is its FIRST active period and
    * each (cohort, period − cohort) cell counts the distinct keys
    * still active — the classic retention triangle.
    *
    * Scale shape: activity collapses to distinct (key, period) first
    * (narrow shuffle), the cohort table is one agg on the key, and the
    * join is key-partitioned — no event-grain data survives past the
    * first distinct. */
  def cohortRetention(events: DataFrame, keyCol: String, tsCol: String,
                      anchorDate: String,
                      periodDays: Int = 7): DataFrame = {
    require(periodDays > 0, s"periodDays must be > 0, got $periodDays")
    val wk = floor(datediff(to_date(col(tsCol)), to_date(lit(anchorDate)))
      .cast("double") / periodDays).cast("int")
    // unplaceable events (null/unparseable timestamp → null wk) are
    // dropped, matching sessionizedAgg's null-event-time convention —
    // they'd otherwise mint phantom (cohort, null) cells or a
    // (null, null) cohort for keys with only null timestamps
    val activity = events.select(col(keyCol).as("k"), wk.as("wk"))
      .filter(col("wk").isNotNull)
      .distinct()
    val cohorts = activity.groupBy("k").agg(min("wk").as("cohort"))
    activity.join(cohorts, Seq("k"))
      .groupBy(col("cohort"), (col("wk") - col("cohort")).as("week_offset"))
      .agg(countDistinct("k").as("n_users"))
  }

  /** Salted join for skewed keys: when one fact key dominates (a
    * boilerplate document, a mega-customer) a plain shuffle join funnels
    * it into one task. Salting spreads each fact key over `nSalt`
    * sub-partitions and replicates the (medium-sized, non-broadcastable)
    * dim side ×nSalt. Complements AQE skew splitting, which only kicks
    * in post-shuffle.
    *
    * Produces exactly the plain-join result (inner/left on `keys`). */
  def saltedJoin(fact: DataFrame, dim: DataFrame, keys: Seq[String],
                 nSalt: Int, joinType: String = "inner"): DataFrame = {
    // right/full joins would surface the ×nSalt dim replication as
    // duplicate unmatched-dim rows — refuse instead of silently
    // diverging from the plain-join result the contract promises
    require(Set("inner", "left", "leftouter", "leftsemi", "leftanti")
        .contains(joinType.toLowerCase.replace("_", "")),
      s"saltedJoin preserves plain-join semantics only for inner/left " +
        s"join types (dim side is replicated x$nSalt), got: $joinType")
    val salted = fact.withColumn("__salt",
      pmod(monotonically_increasing_id(), lit(nSalt.toLong)))
    val replicated = dim.withColumn("__salt",
      explode(array((0 until nSalt).map(i => lit(i.toLong)): _*)))
    salted.join(replicated, keys :+ "__salt", joinType).drop("__salt")
  }

  /** Deterministic train/test split for corpus pipelines: rows route by
    * the first 4 hex chars of md5(key ‖ seed) against a driver-computed
    * threshold, so the assignment is (a) stable under re-runs, data
    * growth and repartitioning — a given key NEVER migrates between
    * splits, (b) engine-portable (md5 + string compare, no
    * engine-specific hash), (c) shuffle-free (pure projection).
    * `trainFrac` granularity is 1/65536. */
  def hashSplit(df: DataFrame, keyCol: Column, trainFrac: Double,
                seed: String = "graft"): DataFrame = {
    require(trainFrac >= 0.0 && trainFrac <= 1.0,
      s"trainFrac must be in [0,1], got $trainFrac")
    val t = math.round(trainFrac * 65536).toInt
    val splitCol =
      if (t >= 65536) lit("train") // "%04x" would be 5 chars: compare breaks
      else when(
        substring(md5(concat(keyCol.cast("string"), lit(seed))), 1, 4)
          < lit(f"$t%04x"), lit("train")).otherwise(lit("test"))
    df.withColumn("split", splitCol)
  }

  /** Report shaping: selectors + tr-dimension-metrics JSON payload —
    * the tail of every report (trgx.clj:72-79). Dimension levels are
    * keyed `header=value` (the reference's `[header value]` pair keys
    * after the pair-edn collapse); metrics render as plain JSON fields.
    */
  def reportShape(df: DataFrame, selectorCols: Seq[String],
                  dimCols: Seq[String],
                  metrics: Seq[(String, Column)]): DataFrame = {
    val dims = array(dimCols.map(c =>
      concat_ws("=", lit(c), col(c))): _*)
    val mmap = map(metrics.flatMap { case (n, c) =>
      Seq(lit(n), c.cast("string")) }: _*)
    df.groupBy(selectorCols.map(col): _*)
      .agg(Aggregators.trDimensionMetrics(dims, mmap).as("report"))
  }

  /** As-of join: for each left row, attach `payload` from the most
    * recent right row with rightTs ≤ leftTs (inclusive) under the same
    * `keys` — the point-in-time lookup Spark has no native operator for
    * (trades←quotes, event←latest-config).
    *
    * Implemented as union → single window (right rows sort BEFORE left
    * rows at equal ts via a side tag, then the running value carries
    * forward via `last(ignoreNulls)` over ONE struct of all payload
    * columns): ONE shuffle on `keys`, no join node at all, and per-key
    * sorted streaming — the plan survives 100 TB because nothing is
    * ever buffered beyond a key partition (skewed keys: pre-split
    * upstream). Left rows before any right row get null payload
    * (left-outer semantics).
    *
    * The payload rides in a single STRUCT (non-null for every right
    * row, even when its fields are null) rather than per-column
    * `last(ignoreNulls)` calls: per-column carries would skip a
    * legitimate null payload VALUE — returning the stale previous row —
    * and could tear fields from DIFFERENT right rows into one output
    * row when a multi-column payload has nulls. The struct makes the
    * as-of row selection atomic: you get exactly that row's fields,
    * nulls included.
    *
    * Right rows must be unique per (keys, rightTs) — pre-aggregate
    * otherwise, or the payload picked among equal-ts rows is
    * plan-dependent.
    */
  def asofJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
               leftTs: String, rightTs: String,
               payload: Seq[String]): DataFrame = {
    val carry = left.columns.filterNot(c =>
      keys.contains(c) || c == leftTs).toSeq
    // a payload name that also exists on the left would appear twice in
    // the union schema (carry + payload slot) and every downstream
    // reference would be ambiguous — refuse loudly
    require(carry.intersect(payload).isEmpty,
      s"asofJoin payload columns collide with left columns: " +
        s"${carry.intersect(payload).mkString(", ")} — rename one side")
    val payType = org.apache.spark.sql.types.StructType(
      payload.map(p => right.schema(p)))
    val lU = left.select(
      keys.map(col) ++ Seq(col(leftTs).as("__ts"), lit(1).as("__side")) ++
        carry.map(col) ++
        Seq(lit(null).cast(payType).as("__pay")): _*)
    // SQL ASOF-join semantics: an equality key never matches NULL and a
    // NULL right timestamp never satisfies l.ts >= r.ts, so such right
    // rows can match nothing — drop them BEFORE the union. Without
    // this, window partitioning (which groups NULL keys together and
    // sorts NULL ts first) would hand a null-keyed left row the
    // null-keyed right payload, and a null-ts right payload to every
    // row in its partition — matches SQL's never. Left rows with null
    // keys/ts still flow through and surface with a null payload
    // (left-outer semantics).
    val rU = right
      .filter((keys :+ rightTs).map(col(_).isNotNull).reduce(_ && _))
      .select(
        keys.map(col) ++ Seq(col(rightTs).as("__ts"), lit(0).as("__side")) ++
          carry.map(c => lit(null).cast(left.schema(c).dataType).as(c)) ++
          Seq(struct(payload.map(col): _*).as("__pay")): _*)
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("__ts"), col("__side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    lU.unionByName(rU)
      .select(
        keys.map(col) ++ Seq(col("__ts"), col("__side")) ++
          carry.map(col) ++
          Seq(last(col("__pay"), ignoreNulls = true).over(w).as("__pay")): _*)
      .filter(col("__side") === 1)
      .select(
        keys.map(col) ++ Seq(col("__ts")) ++ carry.map(col) ++
          payload.map(p => col("__pay").getField(p).as(p)): _*)
      .withColumnRenamed("__ts", leftTs)
  }

  /** Interval (range) join: left rows whose `leftTs` falls inside the
    * right row's [startCol, endCol] window (inclusive), plus optional
    * (leftKey, rightKey) equi pairs.
    *
    * The right side explodes its interval into DAY buckets and the join
    * runs as an EQUI join on (keys, bucket) with the exact range check
    * as a post-filter — a theta-join that Spark would otherwise plan as
    * BroadcastNestedLoop/cartesian per key group. Candidate volume is
    * bounded by rows-per-day, not rows-per-key (with 15 distinct keys
    * and 10⁶ rows each, the naive per-key cross product is 10¹² — the
    * bucketed form stays linear in events-per-day × interval length).
    * Each left row meets a given right row in exactly one bucket, so no
    * dedup pass is needed.
    */
  def rangeJoinBucketed(left: DataFrame, leftTs: String,
                        right: DataFrame, startCol: String, endCol: String,
                        keys: Seq[(String, String)] = Nil): DataFrame = {
    val l = left.withColumn("__lbucket", to_date(col(leftTs)))
    val r = right.withColumn("__rbucket",
      explode(sequence(to_date(col(startCol)), to_date(col(endCol)))))
    val cond = (keys.map { case (lk, rk) => l(lk) === r(rk) } :+
      (l("__lbucket") === r("__rbucket")) :+
      (l(leftTs) >= r(startCol)) :+ (l(leftTs) <= r(endCol)))
      .reduce(_ && _)
    l.join(r, cond).drop("__lbucket", "__rbucket")
  }
}
