package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** W3/W4/W5 — the repeated-streak family (flags 27/28/29), re-expressed as window +
  * groupBy plans over `(seriesKey, time)`
  * (`/root/reference/scripts/3_qaqc_data/qaqc_unusual_streaks.py:45-818`).
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
    *    run disqualifies it), enforced via a row_number taken before the filter.
    * Each streak's length, time span and row-number span are window aggregates over
    * (series, streak id), a sub-partition of the series shuffle: one exchange, no join.
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
    * for `df.filter(valid)`) and `out`, which is false wherever `_kept` is. The filters
    * are window partition keys instead — non-null and `valid` for the row number,
    * `minValue` on top for the streaks — and one `repartition(keys)` serves every
    * window. */
  private[graft] def body(df: DataFrame, keys: Seq[String], timeCol: String,
                          valueCol: String, nValues: Long, nDays: Long,
                          minValue: Option[Double], minSeqLen: Long, valid: Column,
                          out: String): DataFrame = {
    val kc = keys.map(col)
    val v = col(valueCol); val t = col(timeCol)
    def series(p: String) = Window.partitionBy((kc :+ col(p)): _*).orderBy(t)
    val numbered = df.repartition(kc: _*)
      .withColumn("_in", v.isNotNull && valid)
      .withColumn("_rn", row_number().over(series("_in")))
    // without `minValue` the streaks run over the row-number series and share its sort
    val (withKept, kept) = minValue.fold((numbered, "_in"))(m =>
      (numbered.withColumn("_kept", col("_in") && v > m), "_kept"))
    val wf = series(kept)
    val changed = when(lag(v, 1).over(wf).isNull || lag(v, 1).over(wf) =!= v, 1).otherwise(0)
    val withSid = withKept.withColumn("_sid",
      sum(changed).over(wf.rowsBetween(Window.unboundedPreceding, 0)))
    val ws = Window.partitionBy((kc ++ Seq(col(kept), col("_sid"))): _*)
    val len = count(lit(1)).over(ws)
    val bad = col(kept) && SeriesOps.keysNotNull(keys) && len >= minSeqLen &&
      (len > nValues ||
        floor((max(t).over(ws).cast("double") - min(t).over(ws).cast("double")) / 86400.0) > nDays) &&
      (max(col("_rn")).over(ws) - min(col("_rn")).over(ws) + 1 === len)
    withSid.select((df.columns.map(col) ++
      Seq(col(kept).as("_kept"), coalesce(bad, lit(false)).as(out))): _*)
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
