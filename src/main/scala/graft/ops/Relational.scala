package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.GenericRow
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.agg.Aggregators
import graft.functions.Functions._

/** Relational building blocks (SURVEY §7 `graft.ops`). */
object Relational {

  private val twoPhase = new java.util.concurrent.atomic.AtomicLong(0)

  /** Monotone count of prefix-kernel runs since JVM start: one per
    * two-phase call of [[globalRowNumber]], [[groupedRowNumber]],
    * [[groupedCumSum]], [[surrogateKeysOrdered]] or
    * [[Apportion.cappedLargestRemainder]], each a counting job plus an
    * emitting job over one range-shuffled RDD. Bench charges two
    * disk-bound jobs per run to `queries_warm_staged`; perfbench reports
    * the delta per operation as `core.two_phase_runs`. */
  def twoPhaseRunCount: Long = twoPhase.get

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
    * fact to `{dt → value}` per group and look up the 3 reference dates
    * of each month-end key, emitting deltas.
    *
    * The reference crosses each map with an `mk-month-dts` axis over the
    * fact's own date range and keeps the axis dates that have a value;
    * that is exactly each group's own canonical month-end keys, so the
    * map is exploded directly — no axis, no range fetch. A key that is
    * not a `yyyy-MM-dd` month end (or does not parse) emits no row but
    * still counts toward `max_value`.
    *
    * Input: df with `groupCols`, a date-string column `dtCol`, and a
    * *string-formatted* value column `valCol` (decimal-cast upstream so
    * arithmetic is exact). Output: one row per (group, month-end key)
    * with a non-null value: groupCols, dt, value, max_value, prev_mom,
    * prev_ytd, prev_yoy, delta_mom, delta_ytd, delta_yoy.
    *
    * Scale: ONE shuffle (the groupBy); the explode and the lag lookups
    * are map-side on the compact per-group map — no self-joins, no
    * window sort over the raw fact.
    */
  def slidingScores(df: DataFrame, groupCols: Seq[String], dtCol: String,
                    valCol: String): DataFrame = {
    // the groupBy's exchange is pinned as a USER repartition on the
    // group key (same hash clustering, so the aggregate adds no second
    // exchange): the downstream of this shuffle is the suite's most
    // CPU-dense stage per byte — map finalize, a per-group explode, 4
    // map lookups per output row, then the pair-tree partial agg — so
    // AQE's byte-based partition coalescing (which sees ~1 MB and
    // folds the stage to ONE task, serializing it; r17 profiler:
    // 2.1-4.8 s single-task stages, the dominant cost of every sliding
    // report) is the wrong heuristic here. The width is pinned to the
    // session's spark.sql.shuffle.partitions — a scale-adaptive conf,
    // not a local constant — via the explicit numPartitions form,
    // which AQE never coalesces (the by-column form still coalesced to
    // minPartitionSize: 3 tasks of ~1 MB in the r17 A/B, leaving 29 of
    // 32 cores idle under a CPU-dense stage). Partial collect_kv
    // provided no map-side reduction anyway ((group, dt) is unique at
    // this grain), so shuffle bytes are unchanged.
    val in = if (groupCols.isEmpty) df
      else df.repartition(
        df.sparkSession.sessionState.conf.numShufflePartitions,
        groupCols.map(col): _*)
    val kv = in.groupBy(groupCols.map(col): _*)
      .agg(Aggregators.collectKv(col(dtCol), col(valCol)).as("dt_kv"))
    val withRefs = kv
      .select(groupCols.map(col) :+ col("dt_kv") :+
        explode(col("dt_kv")).as(Seq("dt", "value")): _*)
      // try_to_date: a malformed key drops instead of raising under ANSI
      .filter(col("value").isNotNull && col("dt") ===
        date_format(last_day(try_to_date(col("dt"))), "yyyy-MM-dd"))
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

  /** [[slidingScores]] restricted to month-end keys inside the string
    * range [axisStart, axisEnd] — the reference's `mk-month-dts start
    * end` axis when it is narrower than the data. A null or inverted
    * range yields no rows; a bound that is not `yyyy-MM-dd` fails at
    * plan construction, naming the bound. */
  def slidingScores(df: DataFrame, groupCols: Seq[String], dtCol: String,
                    valCol: String, axisStart: String,
                    axisEnd: String): DataFrame = {
    for ((b, which) <- Seq(axisStart -> "start", axisEnd -> "end")
         if b != null)
      try java.time.LocalDate.parse(b) catch {
        case e: java.time.format.DateTimeParseException =>
          throw new IllegalArgumentException(
            s"slidingScores: unparseable $which bound '$b' " +
              "(expected yyyy-MM-dd)", e)
      }
    slidingScores(df, groupCols, dtCol, valCol)
      .filter(col("dt") >= lit(axisStart) && col("dt") <= lit(axisEnd))
  }

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

  /** The registered scale path for surrogate keys: ids assigned to
    * null-id rows in `orderCol` order, dense and gap-free from
    * `maxExisting`, with NO single-partition window. The two-phase path
    * is one [[prefixScan]] over `orderCol` weighing each null-id row 1:
    * `id = coalesce(id, maxExisting + prefix)`. Matches the window
    * form's id sequence whenever `orderCol` is a total order — at any
    * width, since the assignment is dense in `orderCol` order. The
    * numbering stage runs at `spark.sql.shuffle.partitions` unless
    * `nPartitions` > 0 pins it (see [[resolvePartitions]]); a caller
    * that writes the result straight out gets one file per numbering
    * task.
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
    * the limit, the two-phase path runs. Ids come out LongType, an
    * IntegerType `idCol` widened. */
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
      prefixScan("surrogateKeysOrdered", df, Nil, Seq(col(orderCol)),
          nPartitions, Seq("__new_rank" -> NullIn(idCol)))
        .withColumn(idCol, coalesce(col(idCol).cast("long"),
          lit(maxExisting) + col("__new_rank")))
        .drop("__new_rank")

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

  /** A Long weight the prefix kernel sums per row, read inside its
    * partition iterators from an existing column of the input, and the
    * run slots it adds beside the row count (see [[Run]]). */
  private[graft] sealed abstract class Weight(val slots: Int)
      extends Serializable
  /** 1 per row: the prefix is the row number (the run's row count). */
  private[graft] case object EachRow extends Weight(0)
  /** The LongType column `c` under SQL null-frame semantics: a null
    * adds nothing, and the prefix is null until the frame holds a
    * non-null value. Its slots are the sum and the non-null rows. */
  private[graft] final case class ValueOf(c: String) extends Weight(2)
  /** 1 per row whose `c` is null (the rows still to be numbered). */
  private[graft] final case class NullIn(c: String) extends Weight(1)

  /** One (partition, group) run as the counting job recorded it, the
    * prefix its first row starts from (the group's runs in earlier
    * partitions) and the group's total. Each holds the rows in slot 0
    * (also the sum of [[EachRow]]), then one sum per [[NullIn]] and a
    * (sum, non-null rows) pair per [[ValueOf]]. */
  private[graft] final class Run(val recorded: Array[Long],
      val before: Array[Long], val total: Array[Long]) extends Serializable

  /** The counting job's runs keyed by (partition, group), and how many
    * groups each partition held. O(groups + partitions) entries: groups
    * are range-contiguous, so a partition boundary adds at most one
    * run. */
  private[graft] final case class RunTable(
      runs: Map[(Int, List[Any]), Run], groupsIn: Map[Int, Int])

  /** The prefix kernel's two partition passes over rows of `schema`
    * arriving sorted by (`groupCols` ++ sort keys). `count` reduces a
    * partition to its per-group runs, `table` turns the collected runs
    * into offsets and totals, and `emit` appends each row's inclusive
    * prefix per `prefixes` weight and its group total per `totals`
    * weight (LongType, nullable only for [[ValueOf]]). `emit` re-checks
    * every run against the table and fails, naming `op`, the partition
    * and the group, when the two jobs saw different rows — an upstream
    * that recomputed nondeterministically between them. */
  private[graft] final class PrefixScan(op: String, schema: StructType,
      groupCols: Seq[String], prefixes: Seq[(String, Weight)],
      totals: Seq[(String, Weight)] = Nil) extends Serializable {
    private val gIdx = groupCols.map(schema.fieldIndex).toArray
    private val weights = (prefixes ++ totals).map(_._2).distinct.toArray
    private val wIdx = weights.map {
      case EachRow => -1
      case ValueOf(c) =>
        require(schema(c).dataType == LongType,
          s"$op: weight column $c must be LongType")
        schema.fieldIndex(c)
      case NullIn(c) => schema.fieldIndex(c)
    }
    // each weight's first slot in a run; EachRow reads the row count
    private val start = weights.scanLeft(1)(_ + _.slots)
    private val width = start.last
    private val slot = weights.indices.map(j =>
      if (weights(j) == EachRow) 0 else start(j)).toArray
    private val outSlots = (prefixes.map(p => (false, p._2)) ++
      totals.map(t => (true, t._2)))
      .map { case (tot, w) => (tot, weights.indexOf(w)) }.toArray

    val outSchema: StructType = StructType(schema ++
      (prefixes ++ totals).map { case (name, w) =>
        StructField(name, LongType, nullable = w.isInstanceOf[ValueOf])
      })

    // the ungrouped path builds no per-row key
    private def key(r: Row): List[Any] =
      if (gIdx.isEmpty) Nil else gIdx.iterator.map(r.get).toList

    private def add(acc: Array[Long], r: Row): Unit = {
      acc(0) += 1L
      var j = 0
      while (j < weights.length) {
        val x = wIdx(j)
        val s = slot(j)
        weights(j) match {
          case EachRow =>
          case NullIn(_) => if (r.isNullAt(x)) acc(s) += 1L
          case ValueOf(_) =>
            if (!r.isNullAt(x)) { acc(s) += r.getLong(x); acc(s + 1) += 1L }
        }
        j += 1
      }
    }

    private def fmt(k: List[Any]): String = k.mkString("[", ", ", "]")

    private def fail(i: Int, k: List[Any], what: String): Nothing =
      sys.error(s"$op: partition $i group ${fmt(k)} $what — upstream " +
        "recomputed nondeterministically between the counting and " +
        "emitting jobs")

    def count(i: Int, it: Iterator[Row])
        : Iterator[(Int, List[Any], Array[Long])] = {
      val runs = scala.collection.mutable.ArrayBuffer
        .empty[(Int, List[Any], Array[Long])]
      it.foreach { r =>
        val k = key(r)
        if (runs.isEmpty || k != runs.last._2)
          runs += ((i, k, new Array[Long](width)))
        add(runs.last._3, r)
      }
      runs.iterator
    }

    def table(counted: Array[(Int, List[Any], Array[Long])]): RunTable = {
      def plus(a: Array[Long], b: Array[Long]) =
        Array.tabulate(width)(j => a(j) + b(j))
      val runs = counted.groupBy(_._2).valuesIterator.flatMap { rs =>
        val sorted = rs.sortBy(_._1)
        val total = sorted.map(_._3).reduce(plus)
        val before = sorted.iterator.map(_._3)
          .scanLeft(new Array[Long](width))(plus)
        sorted.iterator.zip(before).map { case ((i, k, rec), b) =>
          (i, k) -> new Run(rec, b, total)
        }
      }.toMap
      RunTable(runs, counted.groupBy(_._1).map { case (i, rs) =>
        (i, rs.length) })
    }

    def emit(table: RunTable, i: Int, it: Iterator[Row]): Iterator[Row] =
      new scala.collection.AbstractIterator[Row] {
        private val n = schema.length
        private val seen = new Array[Long](width)
        private val met = scala.collection.mutable.Set.empty[List[Any]]
        private var cur: List[Any] = null
        private var run: Run = null
        private var closed = false

        private def check(): Unit =
          if (run != null && !java.util.Arrays.equals(seen, run.recorded))
            fail(i, cur, s"has run slots ${seen.mkString(", ")} " +
              "(rows, then the weight sums) but the counting job recorded " +
              run.recorded.mkString(", "))

        def hasNext: Boolean = {
          val h = it.hasNext
          if (!h && !closed) {
            closed = true
            check()
            if (met.size != table.groupsIn.getOrElse(i, 0))
              fail(i, table.runs.keys.collectFirst {
                case (`i`, g) if !met(g) => g
              }.get, "was recorded by the counting job but never met")
          }
          h
        }

        def next(): Row = {
          val r = it.next()
          val k = key(r)
          if (run == null || k != cur) {
            check()
            run = table.runs.getOrElse((i, k),
              fail(i, k, "was not recorded by the counting job"))
            cur = k; met += k
            java.util.Arrays.fill(seen, 0L)
          }
          add(seen, r)
          val out = new Array[Any](n + outSlots.length)
          var c = 0
          while (c < n) { out(c) = r.get(c); c += 1 }
          def at(tot: Boolean, s: Int): Long =
            if (tot) run.total(s) else run.before(s) + seen(s)
          while (c < out.length) {
            val (tot, j) = outSlots(c - n)
            val s = slot(j)
            val none = weights(j).isInstanceOf[ValueOf] && at(tot, s + 1) == 0
            out(c) = if (none) null else at(tot, s)
            c += 1
          }
          new GenericRow(out)
        }
      }
  }

  /** The two-phase prefix kernel behind every scale-safe rank, running
    * sum and numbering here and in [[Apportion]] — a per-group prefix
    * over a total order with no single-task window. `PARTITION BY grp
    * ORDER BY ...` funnels each group through one task, which at 100 TB
    * serializes the dominant group (English is 40-60% of a web corpus;
    * CommonCrawl is >90% of a typical source mix). Here the range
    * partitioner keys on (`groupCols` ++ `sortCols`), so a dominant
    * group SPANS many partitions; one counting job records each
    * partition's per-group runs, the driver turns them into
    * (partition, group) offsets and group totals, and one emitting job
    * over the SAME shuffled RDD instance appends the prefixes (the
    * RangePartitioner is sampled once per RDD instance, so both jobs
    * see identical boundaries). With no `groupCols` it is the global
    * row number / running sum. The width follows [[resolvePartitions]];
    * see [[PrefixScan]] for the weights, outputs and the recompute
    * guard. */
  private[ops] def prefixScan(op: String, df: DataFrame,
      groupCols: Seq[String], sortCols: Seq[Column], nPartitions: Int,
      prefixes: Seq[(String, Weight)],
      totals: Seq[(String, Weight)] = Nil): DataFrame = {
    twoPhase.incrementAndGet()
    val spark = df.sparkSession
    val scan = new PrefixScan(op, df.schema, groupCols, prefixes, totals)
    val keys = groupCols.map(col) ++ sortCols
    val rdd = df.repartitionByRange(resolvePartitions(df, nPartitions),
        keys: _*)
      .sortWithinPartitions(keys: _*)
      .rdd
    val bc = spark.sparkContext.broadcast(
      scan.table(rdd.mapPartitionsWithIndex(scan.count).collect()))
    spark.createDataFrame(
      rdd.mapPartitionsWithIndex((i, it) => scan.emit(bc.value, i, it)),
      scan.outSchema)
  }

  /** Global row_number over a total order without a single-partition
    * window: the ungrouped [[prefixScan]]. Emits LongType `outCol`
    * starting at 1. */
  def globalRowNumber(df: DataFrame, sortCols: Seq[Column],
                      outCol: String, nPartitions: Int = 0): DataFrame =
    prefixScan("globalRowNumber", df, Nil, sortCols, nPartitions,
      Seq(outCol -> EachRow))

  /** Per-group global row number + group size over a total order —
    * the scale-safe replacement for `row_number()/ntile() OVER
    * (PARTITION BY group ORDER BY ...)` when one group can dominate
    * the corpus (see [[prefixScan]] for the plan shape). Appends
    * LongType `rankCol` (1-based within group, in `sortCols` order)
    * and `totalCol` (group row count); `ntile(k)` is then the pure
    * projection [[ntileFromRank]] — byte-identical to the window form
    * whenever (groupCols ++ sortCols) is a total order. */
  def groupedRowNumber(df: DataFrame, groupCols: Seq[String],
                       sortCols: Seq[Column], rankCol: String,
                       totalCol: String,
                       nPartitions: Int = 0): DataFrame =
    prefixScan("groupedRowNumber", df, groupCols, sortCols, nPartitions,
      Seq(rankCol -> EachRow), Seq(totalCol -> EachRow))

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
    * group ORDER BY ... ROWS UNBOUNDED PRECEDING)` (see [[prefixScan]]
    * for why and for the plan shape). `valueCol` must be LongType. SQL
    * frame semantics EXACTLY, nulls included: the running sum is NULL
    * until the frame holds at least one non-null value (an all-null
    * group yields all-NULL sums — the case where "null weighs 0"
    * diverged from the window form), and a null value after
    * that leaves the sum unchanged. Appends nullable LongType
    * `outCol`. */
  def groupedCumSum(df: DataFrame, groupCols: Seq[String],
                    sortCols: Seq[Column], valueCol: String,
                    outCol: String, nPartitions: Int = 0): DataFrame =
    prefixScan("groupedCumSum", df, groupCols, sortCols, nPartitions,
      Seq(outCol -> ValueOf(valueCol)))

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
