package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** W6 — spike detection (1–3 point unusual large jumps), flag 23.
  *
  * Re-expression of `detect_spikes` + `potential_spike_check`
  * (`/root/reference/scripts/3_qaqc_data/qaqc_unusual_large_jumps.py:128-299`) as pure
  * window expressions — no driver loop, one shuffle on the series key:
  *
  *  1. first differences of value (null→0) and time-in-hours (null→0);
  *  2. keep rows with 0 < Δt ≤ 12 h;
  *  3. per (series, year, month): n > `minDatapoints` rows and critical value
  *     crit = ceil(`iqrThresh` × IQR(diff)) (exact percentile — group size is bounded
  *     by one month of one station's observations, ≤ ~9k rows at 5-min cadence);
  *  4. |diff| > crit marks a potential spike;
  *  5. neighbor-pattern confirmation over the FILTERED series (positional lead/lag, as
  *     the reference indexes the filtered frame):
  *     - 3-pt: sign(d)≠sign(d₊₂), |d₋₁|<½c₋₁, |d₊₁|<½c₊₁, |d₊₂|<½c₊₂, |d₊₃|>c₊₃, |d₊₄|<½c₊₄
  *     - 2-pt: sign(d)≠sign(d₊₂), |d₋₁|<½c₋₁, |d₊₁|<½c₊₁, |d₊₂|>c₊₂, |d₊₃|<½c₊₃
  *     - 1-pt: sign(d)≠sign(d₊₁), |d₋₁|<c₋₁,  |d₊₁|>c₊₁,  |d₊₂|<c₊₂
  *     A k-point spike flags rows i..i+k−1.
  *
  * No step filters rows. The non-null key and the monthly count are window partition
  * keys (a window over `partitionBy(keys :+ p)` sees, on the rows where `p` holds,
  * exactly the series `filter(p)` would leave); the Δt window is a `when` inside the
  * monthly aggregates. The body therefore keeps every input row, and one
  * `repartition(keys)` serves all its windows (a hash partitioning on the keys
  * satisfies every key set that contains them), so the operator shuffles once and
  * never joins.
  *
  * Rows with a null key are dropped. Output: the key columns, the other input
  * columns, then `_d`, `_dt_h`, `_crit` and `out`, for the rows kept by steps 2–3.
  *
  * Departure from the reference (documented): rows whose pattern window runs off either
  * end of the series are never spikes here; the reference's positional indexing
  * wraps -1 to the last element (a numpy indexing artifact), which we do not replicate.
  */
object SpikeOps {

  def detectSpikes(df: DataFrame, keys: Seq[String], timeCol: String, valueCol: String,
                   iqrThresh: Double = 6.0, minDatapoints: Long = 50,
                   out: String = "spike"): DataFrame =
    body(df, keys, timeCol, valueCol, iqrThresh, minDatapoints, lit(true), out)
      .filter(col("_kept"))
      .select((SeriesOps.keysFirst(df, keys) ++
        Seq(col("_d"), col("_dt_h"), col("_crit"), col(out))): _*)

  /** The row-preserving form of [[detectSpikes]]: every row of `df`, with `_d`,
    * `_dt_h`, `_crit`, `_kept` (the row survives steps 2–3 of the series restricted to
    * non-null keys and `valid`) and `out`, which is false wherever `_kept` is. */
  private[graft] def body(df: DataFrame, keys: Seq[String], timeCol: String,
                          valueCol: String, iqrThresh: Double, minDatapoints: Long,
                          valid: Column, out: String): DataFrame = {
    val kc = keys.map(col)
    val t = col(timeCol); val v = col(valueCol)
    // The month sorts ahead of the time: the same series order (the month is monotone
    // in time), and the monthly statistics' partition (keys, _in, month) is then a
    // prefix of it, so the differences and the statistics share one sort. The monthly
    // statistics count only the rows with a valid time step (`when(_step, …)`).
    val ym = col("_ym")
    val w0 = Window.partitionBy((kc :+ col("_in")): _*).orderBy(ym, t)
    val wm = Window.partitionBy((kc ++ Seq(col("_in"), ym)): _*)
    val diffed = df.repartition(kc: _*)
      .withColumn("_in", SeriesOps.keysNotNull(keys) && valid)
      .withColumn("_ym", date_trunc("MONTH", t))
      .withColumn("_d", coalesce(v - lag(v, 1).over(w0), lit(0.0)))
      .withColumn("_dt_h",
        coalesce((t.cast("double") - lag(t, 1).over(w0).cast("double")) / 3600.0, lit(0.0)))
      .withColumn("_step", col("_in") && col("_dt_h") > 0.0 && col("_dt_h") <= 12.0)

    def pctl(p: Double): Column =
      expr(s"percentile(CASE WHEN _step THEN _d END, $p)").over(wm)
    val withCrit = diffed
      .withColumn("_crit", ceil(lit(iqrThresh) * (pctl(0.75) - pctl(0.25))).cast("double"))
      .withColumn("_kept", col("_step") && count(when(col("_step"), 1)).over(wm) > minDatapoints)

    // Neighbor pattern over the kept, time-ordered series: every neighbor the three
    // patterns read is taken once, in one select.
    // positional guard (`potential_spike_check`, qaqc_unusual_large_jumps.py:171-173):
    // the reference skips candidates at series position 1 (0-based) and in the last 4
    // positions. (At position 0 it reads diff[-1] — python wraparound to the LAST
    // element; we do not replicate that accident: a null lag fails the condition.)
    // Position-from-end is count-over-partition − rn + 1, both on the ascending sort.
    val wf = Window.partitionBy((kc :+ col("_kept")): _*).orderBy(t)
    val d = col("_d"); val c = col("_crit")
    val ahead = (1 to 4).flatMap(k =>
      Seq(lead(d, k).over(wf).as(s"_dp$k"), lead(c, k).over(wf).as(s"_cp$k")))
    val shifted = withCrit.select((col("*") +: lag(d, 1).over(wf).as("_dm1") +:
      lag(c, 1).over(wf).as("_cm1") +: row_number().over(wf).as("_rnA") +:
      count(lit(1)).over(wf.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
        .as("_cnt") +: ahead): _*)
    def dAt(k: Int): Column = if (k < 0) col("_dm1") else if (k == 0) d else col(s"_dp$k")
    def cAt(k: Int): Column = if (k < 0) col("_cm1") else if (k == 0) c else col(s"_cp$k")
    val potential = abs(d) > c && col("_rnA") =!= 2 && col("_cnt") - col("_rnA") + 1 >= 5

    val spike3 = potential &&
      signum(dAt(0)) =!= signum(dAt(2)) &&
      abs(dAt(-1)) < cAt(-1) * 0.5 &&
      abs(dAt(1)) < cAt(1) * 0.5 &&
      abs(dAt(2)) < cAt(2) * 0.5 &&
      abs(dAt(3)) > cAt(3) &&
      abs(dAt(4)) < cAt(4) * 0.5
    val spike2 = potential && !col("_s3") &&
      signum(dAt(0)) =!= signum(dAt(2)) &&
      abs(dAt(-1)) < cAt(-1) * 0.5 &&
      abs(dAt(1)) < cAt(1) * 0.5 &&
      abs(dAt(2)) > cAt(2) &&
      abs(dAt(3)) < cAt(3) * 0.5
    val spike1 = potential && !col("_s3") && !col("_s2") &&
      signum(dAt(0)) =!= signum(dAt(1)) &&
      abs(dAt(-1)) < cAt(-1) &&
      abs(dAt(1)) > cAt(1) &&
      abs(dAt(2)) < cAt(2)

    val marked = shifted
      .withColumn("_s3", coalesce(spike3, lit(false)))
      .withColumn("_s2", coalesce(spike2, lit(false)))
      .withColumn("_s1", coalesce(spike1, lit(false)))
    // a k-point spike covers rows i..i+k-1 → a row is flagged if a spike started at it
    // or up to k-1 rows before it
    val flagged = col("_kept") && (col("_s1") || col("_s2") || col("_s3") ||
      coalesce(lag(col("_s2"), 1).over(wf), lit(false)) ||
      coalesce(lag(col("_s3"), 1).over(wf), lit(false)) ||
      coalesce(lag(col("_s3"), 2).over(wf), lit(false)))
    marked.select((df.columns.map(col) ++
      Seq(d, col("_dt_h"), c, col("_kept"), flagged.as(out))): _*)
  }
}
