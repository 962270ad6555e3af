package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Scalar function library (SURVEY §2.8 / §2.3).
  *
  * Everything here is a pure `Column` combinator over built-in Spark
  * expressions, so the whole library stays inside whole-stage codegen —
  * no UDFs on the hot path. Dates are ISO-8601 *strings* throughout
  * (`yyyy-MM-dd`), matching the reference's string-date semantics where
  * lexicographic order == chronological order (reference
  * src/common/trgx.clj:23-43,63-65).
  */
object Functions {

  private val DtFmt = "yyyy-MM-dd"
  private def fmt(c: Column): Column = date_format(c, DtFmt)
  private def d(c: Column): Column = to_date(c, DtFmt)

  // ---- null semantics (trgx.clj:20-21; d_bolome_order_show_debut.clj:45-48)

  /** `"null"`/`"NULL"` string sentinel → real SQL null (trgx.clj:20). */
  def convertNull(c: Column): Column =
    when(lower(c) === "null", lit(null)).otherwise(c)

  /** `cif`: if(test, then, else) as an expression
    * (d_bolome_order_show_debut.clj:45). */
  def cif(test: Column, thenC: Column, elseC: Column): Column =
    when(test, thenC).otherwise(elseC)

  /** `nvl2`: if(c is not null, a, b) (d_bolome_order_show_debut.clj:46). */
  def nvl2(c: Column, a: Column, b: Column): Column =
    when(c.isNotNull, a).otherwise(b)

  /** `cor`: first non-null (d_bolome_order_show_debut.clj:47). */
  def cor(cs: Column*): Column = coalesce(cs: _*)

  /** `or-tuple`: pairwise coalesce across aligned column pairs — the
    * stg-vs-ods merge kernel (trgx.clj:21; used ods/d_bolome_show.clj:48-50).
    */
  def orTuple(pairs: (Column, Column)*): Seq[Column] =
    pairs.map { case (a, b) => coalesce(a, b) }

  /** `c>`: null-propagating compare (mlin/d_bolome_user_order.clj:64). */
  def cGt(a: Column, b: Column): Column = a > b

  /** `c>*`: null-defaulting compare — null operands → false
    * (mlin/d_bolome_user_order.clj:65). */
  def cGtDefault(a: Column, b: Column): Column = coalesce(a > b, lit(false))

  /** `mark*`: one boolean flag per candidate value
    * (mlin/d_bolome_user_order.clj:49). */
  def mark(c: Column, values: Seq[Any]): Seq[Column] =
    values.map(v => coalesce(c === lit(v), lit(false)))

  /** `compare-mark*`: 3-way comparison → [lt, eq, gt] flags, null-safe
    * (mlin/d_bolome_user_order.clj:50). */
  def compareMark(a: Column, b: Column): Seq[Column] =
    Seq(coalesce(a < b, lit(false)),
        coalesce(a === b, lit(false)),
        coalesce(a > b, lit(false)))

  /** `str-least`: min of non-null values — Spark's `least` already skips
    * nulls (d_bolome_order_show_debut.clj:48). */
  def strLeast(cs: Column*): Column = least(cs: _*)

  /** `sort?` as a between-check (mlvar/d_bolome_user_order_stat.clj:72). */
  def sortBetween(c: Column, lo: Column, hi: Column): Column = c.between(lo, hi)

  /** `pad`: fix an array to length exactly n — right-pad with a default
    * AND truncate when longer (trgx.clj:249 is `take n (concat coll
    * (repeat v))`). */
  def pad(arr: Column, n: Int, default: Column): Column =
    slice(
      concat(arr,
        array_repeat(default, greatest(lit(0), lit(n) - size(arr)))),
      1, n)

  // ---- date library (trgx.clj:23-43,129)

  /** `ts->dt`: ISO timestamp string → date string (trgx.clj:129). */
  def tsToDt(ts: Column): Column = substring(ts, 1, 10)

  /** `dt->year` (m_cocacola_score_period_months.clj:69). */
  def dtToYear(dt: Column): Column = substring(dt, 1, 4)

  /** `tomorrow-dt` / `future-dt` relative to a date column. */
  def offsetDt(dt: Column, days: Int): Column = fmt(date_add(d(dt), days))

  /** `last-day`: month-end from `yyyy-MM` (trgx.clj:26). */
  def lastDayOfYm(ym: Column): Column =
    fmt(last_day(to_date(concat(ym, lit("-01")), "yyyy-MM-dd")))

  /** `simple-last-day`: month-end from `yyyyMM` (trgx.clj:25). */
  def simpleLastDay(yyyymm: Column): Column =
    fmt(last_day(to_date(yyyymm, "yyyyMM")))

  /** `prev-last-day`: last day of the previous month (trgx.clj:28). */
  def prevLastDay(dt: Column): Column = fmt(last_day(add_months(d(dt), -1)))

  /** `prev-last-month`: Dec 31 of the previous year (trgx.clj:30). */
  def prevLastMonth(dt: Column): Column =
    fmt(last_day(add_months(trunc(d(dt), "year"), -1)))

  /** `prev-same-month`: same month-end one year back (trgx.clj:32). */
  def prevSameMonth(dt: Column): Column = fmt(last_day(add_months(d(dt), -12)))

  /** `latest-ts`: now as ISO-8601 (trgx.clj:23) — driver-side, like the
    * reference (a load timestamp, never part of dataflow determinism). */
  def latestTs(): String =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ssX")
      .withZone(java.time.ZoneOffset.UTC)
      .format(java.time.Instant.now())

  /** `dt-rebase`: shift dt by the interval from one base date to another
    * (mlvar/d_bolome_user_order_stat.clj:43-70): result = toBase +
    * (dt − fromBase). */
  def dtRebase(dt: Column, fromBase: Column, toBase: Column): Column =
    fmt(date_add(d(toBase), datediff(d(dt), d(fromBase))))

  /** `dt-ge-get`: value gated on dt ≥ bound (mlvar stat window pick). */
  def dtGeGet(dt: Column, bound: Column, value: Column): Column =
    when(dt >= bound, value)

  /** `dt-rebase` on ranges (mlvar/d_bolome_user_order_stat.clj:47-50):
    * fill the nil side of [newStart, newEnd] by shifting the other by
    * the day-length of [start, end]. */
  def dtRebaseRange(newRange: (Option[String], Option[String]),
                    base: (String, String)): (String, String) = {
    import java.time.LocalDate
    import java.time.temporal.ChronoUnit
    val days = ChronoUnit.DAYS.between(
      LocalDate.parse(base._1), LocalDate.parse(base._2))
    val start = newRange._1.getOrElse(
      LocalDate.parse(newRange._2.get).minusDays(days).toString)
    val end = newRange._2.getOrElse(
      LocalDate.parse(newRange._1.get).plusDays(days).toString)
    (start, end)
  }

  /** One train/test sample: the target (y) window plus one lookback (x)
    * window per requested interval, keyed by interval days. */
  final case class TrainSpec(y: (String, String),
                             xs: Map[Int, (String, String)])

  /** `take-train-dts` (mlvar/d_bolome_user_order_stat.clj:52-70):
    * driver-side train/test window generator. Steps `backStep` days back
    * from the day before the target (dm) window, rebasing a y-window of
    * the dm length at each step and attaching per-interval x-lookback
    * windows clipped to the warehouse range. */
  def takeTrainDts(n: Int, backStep: Int, dmRange: (String, String),
                   dwRange: (String, String),
                   intervals: Seq[Int]): (Seq[TrainSpec], Seq[TrainSpec]) = {
    import java.time.LocalDate
    val (dmStart, dmEnd) = dmRange
    val (dwMin, dwMax) = dwRange
    val hisMax =
      Seq(dwMax, LocalDate.parse(dmStart).minusDays(1).toString).min
    def calDts(dt: String): Option[TrainSpec] = {
      val (yStart, yEnd) = dtRebaseRange((None, Some(dt)), (dmStart, dmEnd))
      val (xMax, _) = dtRebaseRange((None, Some(yEnd)), (hisMax, dmEnd))
      val xs = intervals.sorted.iterator
        .map(i => i -> LocalDate.parse(xMax).minusDays(i.toLong).toString)
        .takeWhile { case (_, xStart) => xStart >= dwMin }
        .map { case (i, xStart) => i -> (xStart, xMax) }
        .toMap
      if (xs.nonEmpty) Some(TrainSpec((yStart, yEnd), xs)) else None
    }
    // backStep <= 0 would never advance toward dwMin and the toSeq
    // below would force an infinite iterator — driver hang/OOM
    require(backStep > 0, s"backStep must be > 0, got $backStep")
    val trainBase = Iterator.iterate(LocalDate.parse(hisMax))(
        _.minusDays(backStep.toLong))
      .map(_.toString).takeWhile(_ >= dwMin)
    val trainSeq = trainBase.map(calDts).takeWhile(_.isDefined)
      .map(_.get).toSeq
    val train =
      if (n < trainSeq.size) trainSeq.take(n)
      else trainSeq.takeWhile(_.xs.size == intervals.size)
    (train, calDts(dmEnd).toSeq)
  }

  /** `mk-dts`: array of daily date strings in [start, end] (trgx.clj:37-39).
    * Distributed: `sequence` is a codegen'd Catalyst expression — no
    * driver-built list (cf. VERDICT round-1 plan audit). An inverted
    * range yields an EMPTY array (the reference's take-while-over-
    * iterate semantics), not the IllegalArgumentException Spark's
    * `sequence` throws for start > end with a positive step. */
  def mkDts(start: Column, end: Column): Column =
    // null start/end propagates as NULL ("date unknown"), not an empty
    // array ("zero days") — d(start) <= d(end) is null-valued then and
    // would silently fall to the otherwise branch
    when(d(start).isNull || d(end).isNull, lit(null).cast("array<string>"))
      .when(d(start) <= d(end),
        transform(sequence(d(start), d(end), expr("interval 1 day")),
          fmt(_)))
      .otherwise(array().cast("array<string>"))

  /** `mk-month-dts`: array of month-end date strings with month-end in
    * [start, end] (trgx.clj:41-43). Empty on an inverted range, like
    * [[mkDts]]. */
  def mkMonthDts(start: Column, end: Column): Column = {
    val ms = trunc(d(start), "MM"); val me = trunc(d(end), "MM")
    when(ms.isNull || me.isNull, lit(null).cast("array<string>"))
      .when(ms <= me,
        filter(
          transform(sequence(ms, me, expr("interval 1 month")),
            m => fmt(last_day(m))),
          x => x >= start && x <= end))
      .otherwise(array().cast("array<string>"))
  }

  // ---- map/array helpers (trgx.clj:46-60)

  /** `vars->kv`: zip a static header with value columns into a map
    * (trgx.clj:46). */
  def varsToKv(pairs: (String, Column)*): Column =
    map(pairs.flatMap { case (k, v) => Seq(lit(k), v) }: _*)

  /** `vars->pair`: ordered pair-list array(struct(k,v)) (trgx.clj:47). */
  def varsToPair(pairs: (String, Column)*): Column =
    array(pairs.map { case (k, v) =>
      struct(lit(k).as("key"), v.as("value")) }: _*)

  /** `kv->tuple` / `tkv-select`: extract map values by key list
    * (trgx.clj:57-58). */
  def kvToTuple(m: Column, keys: Seq[String]): Seq[Column] =
    keys.map(k => m.getItem(k))

  /** `kv->lkp`: look up N *dynamic* key columns in a map column — the lag
    * mechanism of the sliding pattern (trgx.clj:60). */
  def kvLookup(m: Column, keyCols: Seq[Column]): Seq[Column] =
    keyCols.map(k => element_at(m, k))

  /** `sort-keys`: sorted key array of a map column
    * (model/d_bolome_order_show_debut.clj:44). */
  def sortKeys(m: Column): Column = array_sort(map_keys(m))

  /** Canonical render of a map column: sorted `k=v` pairs joined by `,`.
    * Deterministic across engines — used wherever map values must be
    * hash-compared against a SQL oracle. A NULL value renders as
    * `k=<null>` rather than vanishing: `concat` is null-intolerant and
    * `array_join` FILTERS null elements, so without the coalesce two
    * different maps — map('a'→null,'b'→'1') and map('b'→'1') — would
    * render identically and hash-compare equal. */
  def mapToCanonicalString(m: Column): Column =
    array_join(
      transform(array_sort(map_entries(m)),
                e => concat(e.getField("key"), lit("="),
                  coalesce(e.getField("value"), lit("<null>")))),
      ",")

  /** Canonical render of an array column: sorted, `|`-joined; null
    * elements render as `<null>` instead of being silently filtered
    * (array('a', null) must not collide with array('a')). */
  def arrayToCanonicalString(a: Column): Column =
    array_join(array_sort(a), "|", "<null>")
}
