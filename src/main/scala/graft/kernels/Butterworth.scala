package graft.kernels

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DoubleType, StructField}

/** W11 — first-order Butterworth low-pass over per-series standardized anomalies
  * (`/root/reference/scripts/3_qaqc_data/qaqc_climatological_outlier.py:148-177`):
  * `signal.butter(1, cutFreq, 'lp', fs=dataFreq)` + `sosfilt`, the reference's only
  * inherently-sequential kernel.
  *
  * Spark shape: a [[SeriesScan]] — the one operator family SQL can't express. The IIR
  * state is two doubles; rows STREAM through the kernel with all their columns (no
  * per-station buffer, no join-back), so a station's series can be arbitrarily long.
  * The scan declares the (key, time) clustering and sort it needs, so after another
  * scan over the same key and time ([[graft.ops.SeriesOps.interpolateLinear]], as in
  * the climatological chain) it adds no exchange and no sort.
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

  /** The reference's one-month cutoff frequency in Hz (`cut_period = 1 month`). */
  val OneMonthCutoffHz: Double = 1.0 / (3600.0 * 24.0 * 365.0 / 30.0)

  /** Distributed application: per key group, linear interpolation of the value column
    * is the caller's job (SeriesOps.interpolateLinear, as the reference interpolates
    * before filtering); here each group streams through the IIR in time order.
    * `dataFreqSecondsCol` holds the per-series mode of time deltas (A14); the group's
    * first filtered row sets its coefficients.
    *
    * Returns every input row and column plus `out`. A row with a null time, value or
    * frequency passes through with a null `out` and does not advance the filter
    * state; a repeated (keys, time) gets the previous row's output (an IIR over
    * duplicate timestamps is ill-defined) without advancing the state. */
  def lowPass(df: DataFrame, keys: Seq[String], timeCol: String, valueCol: String,
              dataFreqSecondsCol: String, out: String,
              cutFreq: Double = OneMonthCutoffHz)(implicit spark: SparkSession): DataFrame =
    SeriesScan.over(df, keys, timeCol,
      Seq(col(timeCol), col(valueCol).cast("double"), col(dataFreqSecondsCol).cast("double")),
      LowPassKernel(cutFreq, out, df.schema(timeCol).dataType))

  /** Inputs: the time, the value and the frequency in seconds. Runs the direct-form
    * y[n] = b0 x[n] + b1 x[n-1] - a1 y[n-1] from zero initial conditions (scipy
    * sosfilt's default). */
  private final case class LowPassKernel(cutFreq: Double, out: String, timeType: DataType)
      extends SeriesKernel {
    override def outputs: Seq[StructField] = Seq(StructField(out, DoubleType, nullable = true))
    override def open(firstOut: Int, fifo: () => RowFifo): SeriesRun = new SeriesRun(fifo()) {
      private var c: Coeffs = null
      private var t: Any = null
      private var xp = 0.0
      private var yp = 0.0
      override def push(row: UnsafeRow, in: InternalRow): Unit = {
        if (!(in.isNullAt(0) || in.isNullAt(1) || in.isNullAt(2))) {
          val ti = in.get(0, timeType)
          if (c == null || ti != t) {
            val x = in.getDouble(1)
            yp = if (c == null) { c = coeffs(cutFreq, 1.0 / in.getDouble(2)); c.b0 * x }
                 else c.b0 * x + c.b1 * xp - c.a1 * yp
            xp = x; t = InternalRow.copyValue(ti)
          }
          row.setDouble(firstOut, yp)
        }
        put(row)
      }
      override def endGroup(): Unit = { c = null; t = null }
      override protected def finish(row: UnsafeRow): Unit = ()
    }
  }
}
