package graft.ops

import scala.collection.mutable
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, DoubleType, StructField}

import graft.kernels.{RowFifo, SeriesKernel, SeriesRun, SeriesScan}
import graft.kernels.SqlDouble.{equal, gt, lt}

/** W6 — spike detection (1–3 point unusual large jumps), flag 23.
  *
  * Re-expression of `detect_spikes` + `potential_spike_check`
  * (reference `scripts/3_qaqc_data/qaqc_unusual_large_jumps.py:128-299`) as one
  * streaming [[graft.kernels.SeriesScan]] pass over each series in time order — no
  * per-station loop, one shuffle on the series key, no window and no join:
  *
  *  1. first differences of value (null→0) and time-in-hours (null→0);
  *  2. keep rows with 0 < Δt ≤ 12 h;
  *  3. per (series, year, month): n > `minDatapoints` rows and critical value
  *     crit = ceil(`iqrThresh` × IQR(diff)), with Spark's exact `percentile` (position
  *     (n−1)·p, linear interpolation between the sorted values);
  *  4. |diff| > crit marks a potential spike;
  *  5. neighbor-pattern confirmation over the FILTERED series (positional lead/lag, as
  *     the reference indexes the filtered frame):
  *     - 3-pt: sign(d)≠sign(d₊₂), |d₋₁|<½c₋₁, |d₊₁|<½c₊₁, |d₊₂|<½c₊₂, |d₊₃|>c₊₃, |d₊₄|<½c₊₄
  *     - 2-pt: sign(d)≠sign(d₊₂), |d₋₁|<½c₋₁, |d₊₁|<½c₊₁, |d₊₂|>c₊₂, |d₊₃|<½c₊₃
  *     - 1-pt: sign(d)≠sign(d₊₁), |d₋₁|<c₋₁,  |d₊₁|>c₊₁,  |d₊₂|<c₊₂
  *     A k-point spike flags rows i..i+k−1.
  *
  * The filters of steps 2–3 are never applied to the rows: the kernel runs the
  * differences over the rows with non-null keys and `valid` (and, separately, over
  * the others), closes a month when the first row of a later month arrives, and
  * decides a kept row once its fourth kept successor is known. It holds the rows from
  * the oldest undecided one on: one open month plus the kept rows back to the
  * fourth-last, in the scan's spillable buffer.
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
    * non-null keys and `valid`) and `out`, which is false wherever `_kept` is. Rows
    * outside that series get their differences over the other rows of their key,
    * a null `_crit` and false flags. */
  private[graft] def body(df: DataFrame, keys: Seq[String], timeCol: String,
                          valueCol: String, iqrThresh: Double, minDatapoints: Long,
                          valid: Column, out: String): DataFrame = {
    val t = col(timeCol)
    SeriesScan.over(df, keys, timeCol,
      Seq(SeriesOps.keysNotNull(keys) && valid, t.cast("double"), date_trunc("MONTH", t),
        col(valueCol).cast("double")),
      SpikeKernel(iqrThresh, minDatapoints, out))
  }

  /** Inputs: in the series, the time as a double, its month, the value. */
  private final case class SpikeKernel(iqrThresh: Double, minDatapoints: Long, out: String)
      extends SeriesKernel {
    override def outputs: Seq[StructField] = Seq(
      StructField("_d", DoubleType, nullable = false),
      StructField("_dt_h", DoubleType, nullable = false),
      StructField("_crit", DoubleType, nullable = true),
      StructField("_kept", BooleanType, nullable = false),
      StructField(out, BooleanType, nullable = false))
    override def open(firstOut: Int, fifo: () => RowFifo): SeriesRun =
      new SpikeRun(this, firstOut, fifo())
  }

  /** The previous row of one sub-series (nullable value and time). */
  private final class Prev {
    var hasV = false; var v = 0.0
    var hasT = false; var t = 0.0
    def reset(): Unit = { hasV = false; hasT = false }
  }

  /** A closed month: its critical value, whether its step rows are kept, and how many
    * of its rows (all in the series) are still to leave. */
  private final class Month(val crit: Double, val critNull: Boolean, val kept: Boolean,
                            var left: Int)

  /** A kept row waiting for the pattern test. */
  private final class Kept(val d: Double, val c: Double, val seq: Long)

  private final class SpikeRun(k: SpikeKernel, firstOut: Int, fifo: RowFifo)
      extends SeriesRun(fifo) {
    private val D = firstOut; private val DT = firstOut + 1; private val CRIT = firstOut + 2
    private val KEPT = firstOut + 3; private val OUT = firstOut + 4
    private val inSeries = new Prev
    private val others = new Prev
    // the open month: its key, its first held row, its rows and its step differences
    private var monthOpen = false
    private var monthNull = false
    private var monthKey = 0L
    private var monthFirst = 0L
    private var monthRows = 0
    private val stepD = new mutable.ArrayBuilder.ofDouble
    private val stepSeq = new mutable.ArrayBuilder.ofLong
    private val months = mutable.ArrayDeque.empty[Month]
    // the pattern test: the kept rows not yet decided, the last decided one and the
    // s2/s3 marks of the last two
    private val waiting = mutable.ArrayDeque.empty[Kept]
    private var nKept = 0L
    private var hasPrevKept = false
    private var prevD = 0.0; private var prevC = 0.0
    private var s2m1 = false; private var s3m1 = false; private var s3m2 = false
    private val flags = mutable.ArrayDeque.empty[Boolean]
    // held rows are numbered; the ones below `released` may leave
    private var pushed = 0L
    private var released = 0L

    override def push(row: UnsafeRow, in: InternalRow): Unit = {
      val inRow = in.getBoolean(0)
      val tNull = in.isNullAt(1)
      val ymNull = in.isNullAt(2)
      val ym = if (ymNull) 0L else in.getLong(2)
      if (monthOpen && (ymNull != monthNull || ym != monthKey)) closeMonth()
      val p = if (inRow) inSeries else others
      val vNull = in.isNullAt(3)
      val v = if (vNull) 0.0 else in.getDouble(3)
      val t = if (tNull) 0.0 else in.getDouble(1)
      val d = if (!vNull && p.hasV) v - p.v else 0.0
      val dt = if (!tNull && p.hasT) (t - p.t) / 3600.0 else 0.0
      p.hasV = !vNull; p.v = v; p.hasT = !tNull; p.t = t
      row.setDouble(D, d)
      row.setDouble(DT, dt)
      row.setBoolean(OUT, false)
      if (!inRow) {
        row.setBoolean(KEPT, false)
        if (held == 0) put(row) else { hold(row); pushed += 1 }
      } else {
        // `_crit` marks a row of the series until its month fills it in; `_kept`
        // holds the step test until the month's count is known
        val step = dt > 0.0 && dt <= 12.0
        row.setDouble(CRIT, 0.0)
        row.setBoolean(KEPT, step)
        if (!monthOpen) {
          monthOpen = true; monthNull = ymNull; monthKey = ym; monthFirst = pushed
          monthRows = 0
        }
        monthRows += 1
        if (step) { stepD += d; stepSeq += pushed }
        hold(row); pushed += 1
      }
      releaseDecided()
    }

    private def percentile(sorted: Array[Double], p: Double): Double = {
      val pos = (sorted.length - 1) * p
      val lo = math.floor(pos).toLong
      val hi = math.ceil(pos).toLong
      val a = sorted(lo.toInt)
      if (hi == lo) a
      else {
        val b = sorted(hi.toInt)
        if (a == b) a else (hi - pos) * a + (pos - lo) * b
      }
    }

    private def closeMonth(): Unit = {
      val ds = stepD.result()
      val n = ds.length
      val critNull = n == 0
      val crit =
        if (critNull) 0.0
        else {
          val s = ds.clone()
          java.util.Arrays.sort(s)
          // `ceil` is Spark's: a double to a long, then cast back to double
          math.ceil(k.iqrThresh * (percentile(s, 0.75) - percentile(s, 0.25))).toLong.toDouble
        }
      val kept = n > k.minDatapoints
      months += new Month(crit, critNull, kept, monthRows)
      if (kept) {
        val seqs = stepSeq.result()
        (0 until n).foreach(i => addKept(new Kept(ds(i), crit, seqs(i))))
      }
      monthOpen = false
      stepD.clear(); stepSeq.clear()
    }

    private def addKept(r: Kept): Unit = {
      waiting += r
      if (waiting.size == 5) decide(potentialOk = true)
    }

    /** Decides the oldest waiting kept row: `potentialOk` when its fourth kept
      * successor exists. */
    private def decide(potentialOk: Boolean): Unit = {
      val r = waiting.head
      val position = nKept + 1
      def d(i: Int) = waiting(i).d
      def c(i: Int) = waiting(i).c
      // no previous kept row: |d₋₁| is null, and so is every pattern
      val potential = potentialOk && hasPrevKept && gt(math.abs(r.d), r.c) && position != 2
      val s3 = potential &&
        !equal(math.signum(d(0)), math.signum(d(2))) &&
        lt(math.abs(prevD), prevC * 0.5) &&
        lt(math.abs(d(1)), c(1) * 0.5) &&
        lt(math.abs(d(2)), c(2) * 0.5) &&
        gt(math.abs(d(3)), c(3)) &&
        lt(math.abs(d(4)), c(4) * 0.5)
      val s2 = potential && !s3 &&
        !equal(math.signum(d(0)), math.signum(d(2))) &&
        lt(math.abs(prevD), prevC * 0.5) &&
        lt(math.abs(d(1)), c(1) * 0.5) &&
        gt(math.abs(d(2)), c(2)) &&
        lt(math.abs(d(3)), c(3) * 0.5)
      val s1 = potential && !s3 && !s2 &&
        !equal(math.signum(d(0)), math.signum(d(1))) &&
        lt(math.abs(prevD), prevC) &&
        gt(math.abs(d(1)), c(1)) &&
        lt(math.abs(d(2)), c(2))
      // a k-point spike covers rows i..i+k-1
      flags += (s1 || s2 || s3 || s2m1 || s3m1 || s3m2)
      s3m2 = s3m1; s3m1 = s3; s2m1 = s2
      hasPrevKept = true; prevD = r.d; prevC = r.c
      nKept += 1
      waiting.removeHead()
    }

    /** Releases the held rows below the first one still waiting: a row of the open
      * month, or an undecided kept row. */
    private def releaseDecided(): Unit = {
      var first = pushed
      if (monthOpen) first = math.min(first, monthFirst)
      if (waiting.nonEmpty) first = math.min(first, waiting.head.seq)
      if (first > released) { release((first - released).toInt); released = first }
    }

    override def endGroup(): Unit = {
      if (monthOpen) closeMonth()
      while (waiting.nonEmpty) decide(potentialOk = false)
      releaseDecided()
      inSeries.reset(); others.reset()
      nKept = 0L; hasPrevKept = false; s2m1 = false; s3m1 = false; s3m2 = false
    }

    override protected def finish(row: UnsafeRow): Unit =
      if (!row.isNullAt(CRIT)) {
        val m = months.head
        if (m.critNull) row.setNullAt(CRIT) else row.setDouble(CRIT, m.crit)
        val kept = m.kept && row.getBoolean(KEPT)
        row.setBoolean(KEPT, kept)
        if (kept) row.setBoolean(OUT, flags.removeHead())
        m.left -= 1
        if (m.left == 0) months.removeHead()
      }
  }
}
