package graft.kernels

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** W11 — first-order Butterworth low-pass over per-series standardized anomalies
  * (`/root/reference/scripts/3_qaqc_data/qaqc_climatological_outlier.py:148-177`):
  * `signal.butter(1, cutFreq, 'lp', fs=dataFreq)` + `sosfilt`, the reference's only
  * inherently-sequential kernel.
  *
  * Spark shape: one `mapPartitions` over the time-sorted rows — the one operator
  * family SQL can't express. The IIR state is two doubles; rows STREAM through the
  * kernel with all their columns (no per-station materialization, no join-back), so a
  * station's series can be arbitrarily long at 100 TB. The required secondary sort is
  * obtained by `repartition(key).sortWithinPartitions(key, time)`: one exchange.
  */
object Butterworth {

  /** Bilinear-transform coefficients of the 1st-order Butterworth low-pass:
    * K = tan(pi*fc/fs); b0 = b1 = K/(K+1); a1 = (K-1)/(K+1). Matches
    * scipy.signal.butter(1, fc, 'lp', fs=fs) exactly (same prewarped bilinear
    * transform, Oppenheim & Schafer §7.1). */
  final case class Coeffs(b0: Double, b1: Double, a1: Double)

  def coeffs(cutFreq: Double, dataFreq: Double): Coeffs = {
    val wn = cutFreq / (dataFreq / 2.0)
    require(wn > 0 && wn < 1, s"cutoff must be below Nyquist (Wn=$wn)")
    val k = math.tan(math.Pi * wn / 2.0)
    Coeffs(k / (k + 1.0), k / (k + 1.0), (k - 1.0) / (k + 1.0))
  }

  /** Direct-form difference equation y[n] = b0 x[n] + b1 x[n-1] - a1 y[n-1] with zero
    * initial conditions (scipy sosfilt default). Pure streaming fold. */
  def filterSeries(xs: Iterator[Double], c: Coeffs): Iterator[Double] = {
    var xp = 0.0
    var yp = 0.0
    var first = true
    xs.map { x =>
      val y = if (first) { first = false; c.b0 * x }
              else c.b0 * x + c.b1 * xp - c.a1 * yp
      xp = x; yp = y
      y
    }
  }

  /** The reference's one-month cutoff frequency in Hz (`cut_period = 1 month`). */
  val OneMonthCutoffHz: Double = 1.0 / (3600.0 * 24.0 * 365.0 / 30.0)

  /** Distributed application: per key group, linear interpolation of the value column
    * is the caller's job (SeriesOps.interpolateLinear, as the reference interpolates
    * before filtering); here we sort within partitions by (keys, time) after a
    * repartition on keys and stream each group through the IIR. `dataFreqSecondsCol`
    * holds the per-series mode of time deltas (A14); the group's first filtered row
    * sets its coefficients.
    *
    * Returns every input row and column plus `out`. A row with a null time, value or
    * frequency passes through with a null `out` and does not advance the filter
    * state; a repeated (keys, time) gets the previous row's output (an IIR over
    * duplicate timestamps is ill-defined) without advancing the state. */
  def lowPass(df: DataFrame, keys: Seq[String], timeCol: String, valueCol: String,
              dataFreqSecondsCol: String, out: String,
              cutFreq: Double = OneMonthCutoffHz)(implicit spark: SparkSession): DataFrame = {
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
        var c: Coeffs = null
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
              yp = if (c == null) { c = coeffs(cutFreq, 1.0 / num(r, fi)); c.b0 * x }
                   else c.b0 * x + c.b1 * xp - c.a1 * yp
              xp = x; t = r.get(ti)
              yp
            }
          Row.fromSeq(r.toSeq :+ y)
        }
      }(Encoders.row(schema.add(out, DoubleType, nullable = true)))
  }
}
