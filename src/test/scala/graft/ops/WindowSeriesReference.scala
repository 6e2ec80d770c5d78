package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.kernels.Butterworth

/** The window and `mapPartitions` forms of the series operators that now run as
  * [[graft.kernels.SeriesScan]] kernels — the parity references for
  * `SpikeOps.body`, `StreakOps.body`, `SeriesOps.interpolateLinear` and
  * `Butterworth.lowPass` (same columns, same values). Each runs several windows over
  * its own sorts of the series: plain enough to trust, too slow to ship. */
object WindowSeriesReference {

  private def keysNotNull(keys: Seq[String]): Column =
    keys.map(col(_).isNotNull).reduce(_ && _)

  def spikeBody(df: DataFrame, keys: Seq[String], timeCol: String,
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
      .withColumn("_in", keysNotNull(keys) && valid)
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

  def streakBody(df: DataFrame, keys: Seq[String], timeCol: String,
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
    val bad = col(kept) && keysNotNull(keys) && len >= minSeqLen &&
      (len > nValues ||
        floor((max(t).over(ws).cast("double") - min(t).over(ws).cast("double")) / 86400.0) > nDays) &&
      (max(col("_rn")).over(ws) - min(col("_rn")).over(ws) + 1 === len)
    withSid.select((df.columns.map(col) ++
      Seq(col(kept).as("_kept"), coalesce(bad, lit(false)).as(out))): _*)
  }

  def interpolateLinear(df: DataFrame, keys: Seq[String], timeCol: String, valueCol: String,
                        out: String): DataFrame = {
    val past = Window.partitionBy(keys.map(col): _*).orderBy(col(timeCol)).rowsBetween(Window.unboundedPreceding, 0)
    // the series in reverse (DESC NULLS LAST reverses ASC NULLS FIRST)
    val ahead = Window.partitionBy(keys.map(col): _*).orderBy(col(timeCol).desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val t = col(timeCol).cast("double")
    val prevV = last(col(valueCol), ignoreNulls = true).over(past)
    val nextV = last(col(valueCol), ignoreNulls = true).over(ahead)
    val prevT = last(when(col(valueCol).isNotNull, t), ignoreNulls = true).over(past)
    val nextT = last(when(col(valueCol).isNotNull, t), ignoreNulls = true).over(ahead)
    val frac = (t - prevT) / (nextT - prevT)
    df.withColumn(out,
      when(col(valueCol).isNotNull, col(valueCol))
        .when(prevV.isNull, lit(null)) // leading nulls stay null (pandas behavior)
        .when(nextV.isNull, prevV) // trailing nulls forward-fill (pandas behavior)
        .when(nextT === prevT, prevV)
        .otherwise(prevV + (nextV - prevV) * frac))
  }

  def lowPass(df: DataFrame, keys: Seq[String], timeCol: String, valueCol: String,
              dataFreqSecondsCol: String, out: String,
              cutFreq: Double = Butterworth.OneMonthCutoffHz): DataFrame = {
    val keyCols = keys.map(col)
    val schema = df.schema
    val ki = keys.map(schema.fieldIndex)
    val Seq(ti, vi, fi) = Seq(timeCol, valueCol, dataFreqSecondsCol).map(schema.fieldIndex)
    def num(r: Row, i: Int): Double = r.get(i).asInstanceOf[Number].doubleValue
    df.repartition(keyCols: _*)
      .sortWithinPartitions((keyCols :+ col(timeCol)): _*)
      .mapPartitions { it =>
        // partition is sorted by (key, time): detect group boundaries on the fly
        // (null-safe key equality) and keep only the IIR state per group
        var key: Seq[Any] = null
        var c: Butterworth.Coeffs = null
        var t: Any = null
        var xp = 0.0; var yp = 0.0
        it.map { r =>
          val k = ki.map(r.get)
          if (key == null || k != key) { key = k; c = null; t = null }
          val y: Any =
            if (r.isNullAt(ti) || r.isNullAt(vi) || r.isNullAt(fi)) null
            else if (c != null && r.get(ti) == t) yp
            else {
              val x = num(r, vi)
              yp = if (c == null) { c = Butterworth.coeffs(cutFreq, 1.0 / num(r, fi)); c.b0 * x }
                   else c.b0 * x + c.b1 * xp - c.a1 * yp
              xp = x; t = r.get(ti)
              yp
            }
          Row.fromSeq(r.toSeq :+ y)
        }
      }(Encoders.row(schema.add(out, DoubleType, nullable = true)))
  }
}
