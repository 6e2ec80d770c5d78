package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, DataType, StructField}

import graft.kernels.{RowFifo, SeriesKernel, SeriesRun, SeriesScan, SqlDouble}

/** W3/W4/W5 — the repeated-streak family (flags 27/28/29)
  * (reference `scripts/3_qaqc_data/qaqc_unusual_streaks.py:45-818`). Straight
  * repeats are one streaming [[graft.kernels.SeriesScan]] pass per series; the
  * same-hour and whole-day checks are window + groupBy plans over `(seriesKey, time)`.
  *
  * Every check shuffles once on the series key; all windows and sub-aggregations key on
  * supersets of it, so nothing here assumes single-station cardinality.
  */
object StreakOps {

  /** W3 — straight (consecutive) repeat streaks, flag 28 (`consecutive_repeats`,
    * `qaqc_unusual_streaks.py:573-670`). Full semantics:
    *  - non-null values only; `minValue` (wind/precip) drops small values BEFORE streak
    *    grouping;
    *  - a streak = consecutive equal values (RLE over the filtered series);
    *  - candidate when length ≥ `minSeqLen` (reference hardcodes 10) AND
    *    (length > `nValues` OR floor(span-in-days) > `nDays`);
    *  - spurious-streak suppression: rows of the streak must be adjacent in the
    *    PRE-minValue-filter valid series (`is_consecutive` — a min_value hole inside a
    *    run disqualifies it).
    * The kernel walks each series in time order and holds one open streak (with the
    * rows interleaved in it) in the scan's spillable buffer: a months-long stuck
    * sensor spills instead of filling the heap. One exchange, no window, no join.
    * Returns the NON-NULL (and, when `minValue` is set, above-`minValue`) input rows,
    * key columns first, with a boolean `out` column (true = member of a flagged
    * streak; always false on a row with a null key). */
  def straightRepeats(df: DataFrame, keys: Seq[String], timeCol: String, valueCol: String,
                      nValues: Long, nDays: Long, minValue: Option[Double] = None,
                      minSeqLen: Long = 10, out: String = "straight_streak"): DataFrame =
    body(df, keys, timeCol, valueCol, nValues, nDays, minValue, minSeqLen, lit(true), out)
      .filter(col("_kept"))
      .select((SeriesOps.keysFirst(df, keys) :+ col(out)): _*)

  /** The row-preserving form of [[straightRepeats]] over the rows where `valid` holds:
    * every row of `df`, with `_kept` (the row is one [[straightRepeats]] would return
    * for `df.filter(valid)`) and `out`, which is false wherever `_kept` is. */
  private[graft] def body(df: DataFrame, keys: Seq[String], timeCol: String,
                          valueCol: String, nValues: Long, nDays: Long,
                          minValue: Option[Double], minSeqLen: Long, valid: Column,
                          out: String): DataFrame = {
    val v = col(valueCol)
    val in = v.isNotNull && valid
    SeriesScan.over(df, keys, timeCol,
      Seq(in, minValue.fold(in)(m => in && v > m), v, col(timeCol).cast("double"),
        SeriesOps.keysNotNull(keys)),
      StraightKernel(nValues, nDays, minSeqLen, out, df.schema(valueCol).dataType))
  }

  /** Inputs: in the series, kept (in the series and above `minValue`), the value, the
    * time as a double, the keys are not null. */
  private final case class StraightKernel(nValues: Long, nDays: Long, minSeqLen: Long,
                                          out: String, valueType: DataType)
      extends SeriesKernel {
    override def outputs: Seq[StructField] = Seq(
      StructField("_kept", BooleanType, nullable = false),
      StructField(out, BooleanType, nullable = false))

    override def open(firstOut: Int, fifo: () => RowFifo): SeriesRun = new SeriesRun(fifo()) {
      private val KEPT = firstOut; private val OUT = firstOut + 1
      private var rn = 0L // position in the series (non-null, valid)
      // the open streak: value, length, first/last position, first/last non-null time
      private var open = false
      private var value: Any = null
      private var len = 0L
      private var firstRn = 0L; private var lastRn = 0L
      private var hasT = false; private var minT = 0.0; private var maxT = 0.0
      private var keysOk = false
      private var bad = false // the verdict on the streak being released

      override def push(row: UnsafeRow, in: InternalRow): Unit = {
        if (in.getBoolean(0)) rn += 1
        val kept = in.getBoolean(1)
        row.setBoolean(KEPT, kept)
        row.setBoolean(OUT, false)
        if (!kept) { if (held == 0) put(row) else hold(row) }
        else {
          val v = in.get(2, valueType)
          if (open && !SqlDouble.same(value, v)) closeStreak()
          if (!open) {
            open = true; value = InternalRow.copyValue(v); len = 0L; firstRn = rn
            hasT = false; keysOk = in.getBoolean(4)
          }
          len += 1; lastRn = rn
          if (!in.isNullAt(3)) {
            val t = in.getDouble(3)
            if (!hasT) { hasT = true; minT = t }
            maxT = t
          }
          hold(row)
        }
      }

      /** The streak ends: its verdict goes to every kept row held, and all held rows
        * (the streak and the rows between its members) leave. */
      private def closeStreak(): Unit = {
        // spark's floor: a double to a long
        val longSpan = hasT && math.floor((maxT - minT) / 86400.0).toLong > nDays
        bad = keysOk && len >= minSeqLen && (len > nValues || longSpan) &&
          lastRn - firstRn + 1 == len
        open = false
        releaseAll()
      }

      override def endGroup(): Unit = {
        if (open) closeStreak() else releaseAll()
        rn = 0L
      }

      override protected def finish(row: UnsafeRow): Unit =
        if (row.getBoolean(KEPT)) row.setBoolean(OUT, bad)
    }
  }

  /** W3 composed — straight repeats with thresholds resolved from the reference's
    * criteria table by (variable, inferred resolution)
    * (`STRAIGHT_REPEAT_CRITERIA` + `infere_res`, `qaqc_unusual_streaks.py:45-122,
    * 324-407`): resolution per series via A13, criteria row looked up driver-side
    * (the table is 24 rows), then [[straightRepeats]] per distinct resolution bucket.
    * `variable` is the canonical variable name the criteria key on. */
  def straightRepeatsWithCriteria(df: DataFrame, keys: Seq[String], timeCol: String,
                                  valueCol: String, variable: String,
                                  out: String = "straight_streak"): DataFrame = {
    val crit = graft.core.Lookups.streakCriteria.filter(_.variable == variable)
    require(crit.nonEmpty, s"no streak criteria for variable $variable")
    val res = graft.ops.AggOps.inferResolution(df, keys, valueCol)
    val withRes = df.join(res, keys)
    // one pass per resolution bucket (≤3), unioned — each straightRepeats run sees
    // only the series whose inferred resolution selects that criteria row
    crit.map { c =>
      straightRepeats(withRes.filter(col("resolution") === c.resolution),
        keys, timeCol, valueCol, c.nValues, c.nDays,
        minValue = c.minValue, out = out)
    }.reduce(_.unionByName(_))
  }

  /** W4 — same-hour repeat streaks, flag 27 (`hourly_repeats` + `find_date_clusters`,
    * `qaqc_unusual_streaks.py:474-570`): per (series, hour-of-day, exact value), order
    * observations by time; break clusters where the day gap (floor of the timestamp
    * difference in days) exceeds 1; clusters with more than `clusterThreshold` members
    * are flagged (the reference hardcodes 15 regardless of its criteria table). */
  def sameHourRepeats(df: DataFrame, keys: Seq[String], timeCol: String, valueCol: String,
                      clusterThreshold: Long = 15, minValue: Option[Double] = None,
                      out: String = "hour_streak"): DataFrame = {
    val v = col(valueCol)
    val base0 = df.filter(v.isNotNull)
    val base = minValue.fold(base0)(m => base0.filter(v > m))
    val withHr = base.withColumn("_hr", hour(col(timeCol)))
    val gkeys = keys ++ Seq("_hr", valueCol)
    val wg = Window.partitionBy(gkeys.map(col): _*).orderBy(col(timeCol))
    val gapDays = coalesce(
      floor((col(timeCol).cast("double") - lag(col(timeCol), 1).over(wg).cast("double")) / 86400.0),
      lit(1L))
    val withCid = withHr
      .withColumn("_gap", gapDays)
      .withColumn("_cid", sum(when(col("_gap") > 1, 1).otherwise(0))
        .over(wg.rowsBetween(Window.unboundedPreceding, 0)))
    val cgk = (gkeys :+ "_cid").map(col)
    val wc = Window.partitionBy(cgk: _*)
    withCid.withColumn(out, count(lit(1)).over(wc) > clusterThreshold)
      .drop("_hr", "_gap", "_cid")
  }

  /** W5 — whole-day replication streaks, flag 29 (`consecutive_fullDay_repeats` +
    * `full_day_compare`, `qaqc_unusual_streaks.py:697-818`):
    *  1. hourly mean profile per (series, date, hour) over non-null rows;
    *  2. `minValue` filter on the hourly means (after averaging, as the reference does);
    *  3. per (series, date): the vector of bround(mean, 1) ordered by hour;
    *  4. compare each day's vector to the PREVIOUS present day's (dates need not be
    *     consecutive — the reference compares adjacent rows of the by-date frame);
    *  5. runs of matching days longer than `threshold` (match-days only — the first day
    *     of a run is the reference's `-1` mismatch marker and is never flagged);
    *  6. returns the flagged (series, date) set for the caller to backflag all
    *     observations on those dates. */
  def wholeDayRepeatDates(df: DataFrame, keys: Seq[String], timeCol: String, valueCol: String,
                          threshold: Long, minValue: Option[Double] = None): DataFrame = {
    val kc = keys.map(col)
    val v = col(valueCol)
    val hourly = df.filter(v.isNotNull)
      .groupBy((kc ++ Seq(to_date(col(timeCol)).as("_date"), hour(col(timeCol)).as("_hr"))): _*)
      .agg(avg(v).as("_hm"))
    val filtered = minValue.fold(hourly)(m => hourly.filter(col("_hm") > m))
    val daily = filtered
      .groupBy((kc :+ col("_date")): _*)
      .agg(transform(array_sort(collect_list(struct(col("_hr").as("h"), bround(col("_hm"), 1).as("m")))),
        s => s.getField("m")).as("_vec"))
    val wd = Window.partitionBy(kc: _*).orderBy(col("_date"))
    val prev = lag(col("_vec"), 1).over(wd)
    val matched = daily.withColumn("_match",
      prev.isNotNull && size(col("_vec")) === size(prev) && col("_vec") === prev)
    val withRun = matched.withColumn("_run",
      sum(when(!col("_match"), 1).otherwise(0))
        .over(wd.rowsBetween(Window.unboundedPreceding, 0)))
    val runSizes = Window.partitionBy((kc :+ col("_run")): _*)
    withRun
      .withColumn("_matchCnt", sum(when(col("_match"), 1).otherwise(0)).over(runSizes))
      .filter(col("_match") && col("_matchCnt") > threshold)
      .select((kc :+ col("_date")): _*)
  }
}
