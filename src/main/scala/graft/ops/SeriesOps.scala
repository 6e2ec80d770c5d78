package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DoubleType, StructField}

import graft.kernels.{RowFifo, SeriesKernel, SeriesRun, SeriesScan, SqlDouble}

/** Window / time-series operators (SURVEY.md §2.5, W1–W20). Every op partitions by the
  * series key (station/user) — Spark shuffles once on that key and all windows below are
  * partition-local, so these scale linearly with the number of series.
  */
object SeriesOps {

  def seriesWindow(keys: Seq[String], timeCol: String): WindowSpec =
    Window.partitionBy(keys.map(col): _*).orderBy(col(timeCol))

  /** True where every key column is non-null. A per-group statistic joined back on
    * the keys never matched a null key, and the window forms keep that rule. */
  private[ops] def keysNotNull(keys: Seq[String]): Column =
    keys.map(col(_).isNotNull).reduce(_ && _)

  /** `df`'s columns with the key columns first: the output order of a join on `keys`,
    * kept by the operators whose statistics are window aggregates. */
  private[ops] def keysFirst(df: DataFrame, keys: Seq[String]): Seq[Column] =
    (keys ++ df.columns.filterNot(keys.contains)).map(col)

  /** W1 — first differences of value and time over the series
    * (`/root/reference/scripts/3_qaqc_data/qaqc_unusual_large_jumps.py:252-262`). */
  def withDiffs(df: DataFrame, keys: Seq[String], timeCol: String, valueCol: String,
                diffCol: String = "diff", dtCol: String = "dt_s"): DataFrame = {
    val w = seriesWindow(keys, timeCol)
    df.withColumn(diffCol, col(valueCol) - lag(col(valueCol), 1).over(w))
      .withColumn(dtCol, col(timeCol).cast("long") - lag(col(timeCol), 1).over(w).cast("long"))
  }

  /** W7 — range-frame window max: true where `valueCol` stays constant (max |dd| == 0)
    * for `rangeSeconds` ahead (dewpoint-depression 24 h check,
    * `/root/reference/scripts/3_qaqc_data/qaqc_logic_checks.py:80-151`). */
  def constantAheadFlag(df: DataFrame, keys: Seq[String], timeCol: String, ddCol: String,
                        rangeSeconds: Long, out: String): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(timeCol).cast("long")).rangeBetween(0, rangeSeconds)
    df.withColumn(out, max(abs(col(ddCol))).over(w) === 0)
  }

  /** W8 — ringing detector (`/root/reference/scripts/3_qaqc_data/qaqc_deaccumulate.py:74-113`).
    * Reference scale: sign_changes = |sign(diff) − lag(sign(diff))| ∈ {0,1,2} (null → 0);
    * ringing where the centered 3-row sum of sign_changes > 2 AND |diff| exceeds the
    * magnitude threshold (`flag_ringing`'s `large_fluctuations`; default 2×median|diff|
    * per series — the round-1 version omitted the magnitude test and used a 0/1 flip
    * scale, over-flagging). `threshold=None` → per-group 2×median|diff| via one
    * percentile join-back. */
  def withRinging(df: DataFrame, keys: Seq[String], timeCol: String, diffCol: String,
                  threshold: Option[Double] = None, out: String = "ringing"): DataFrame = {
    val w = seriesWindow(keys, timeCol)
    val sgn = signum(col(diffCol))
    val sgnChg = coalesce(abs(sgn - lag(sgn, 1).over(w)), lit(0.0))
    val withThr = threshold match {
      case Some(t) => df.withColumn("_thr", lit(t))
      case None =>
        val med = df.groupBy(keys.map(col): _*)
          .agg(expr(s"percentile(abs($diffCol), 0.5)").as("_medabs"))
        df.join(med, keys).withColumn("_thr", col("_medabs") * 2).drop("_medabs")
    }
    // pandas rolling(3, center=True) yields NaN unless all 3 rows exist (min_periods
    // defaults to the window size) -> series edges are never ringing
    withThr.withColumn("_sc", sgnChg)
      .withColumn(out,
        (count(lit(1)).over(w.rowsBetween(-1, 1)) === 3) &&
          (sum(col("_sc")).over(w.rowsBetween(-1, 1)) > 2) &&
          (abs(col(diffCol)) > col("_thr")))
      .drop("_sc", "_thr")
  }

  /** W9 — de-accumulation of a cumulative gauge, full reference semantics
    * (`qaqc_deaccumulate.py:116-234`, `de_accumulate`):
    * over the non-null subseries ordered by time,
    *  - diff; resets are drops below −`resetThreshold` → de-accumulated value 0, NOT flagged;
    *  - ringing rows (W8: oscillation count AND magnitude) → flag;
    *  - negative diffs that are not resets → flag; ringing/negative flags are suppressed
    *    where the original accumulated value is exactly 0 (a natural empty gauge), except
    *    negative non-reset diffs which the reference re-flags post-reset-zeroing;
    *  - the first diff of each series is 0 (reference `fillna(0)`), flagged rows get a
    *    null de-accumulated value (flag 34) and `accum` keeps the original (flag 35 is
    *    the caller's whole-column marker).
    * Null-value rows pass through with null `deacc` and no flag. Gating by W10
    * autocorrelation (`is_precip_accumulated`) is the caller's join — see
    * [[lag1Autocorr]]. Adds `deacc` (double) and `deacc_flagged` (boolean). */
  def deaccumulate(df: DataFrame, keys: Seq[String], timeCol: String, valueCol: String,
                   resetThreshold: Double = 50.0,
                   ringingThreshold: Option[Double] = Some(10.0)): DataFrame = {
    val v = col(valueCol)
    val marked = df.withColumn("_valid", v.isNotNull)
    val valid = marked.filter(col("_valid"))
    val w = seriesWindow(keys, timeCol)
    val d = v - lag(v, 1).over(w)
    val diffed = withRinging(valid.withColumn("_d", d), keys, timeCol, "_d",
      threshold = ringingThreshold, out = "_ring")
    val dd = col("_d")
    val isReset = dd < -resetThreshold
    val flagged =
      (((col("_ring") || dd < 0) && v =!= 0.0) || (dd < 0 && !isReset)) && dd.isNotNull
    val deacc0 = when(dd.isNull, 0.0).when(isReset, 0.0).otherwise(dd)
    val computed = diffed
      .withColumn("deacc_flagged", coalesce(flagged, lit(false)))
      .withColumn("deacc", when(col("deacc_flagged"), lit(null)).otherwise(deacc0))
      .drop("_d", "_ring")
    val untouched = marked.filter(!col("_valid"))
      .withColumn("deacc_flagged", lit(false))
      .withColumn("deacc", lit(null).cast("double"))
    computed.unionByName(untouched).drop("_valid")
  }

  /** Flags 34/35 end-to-end — the deaccumulate QAQC stage
    * (`qaqc_deaccumulate.py:296-365`, `qaqc_deaccumulate_precip`): each series is
    * gated on the accumulation detector (lag-1 Pearson autocorrelation of its
    * POSITIVE subseries > `autocorrThreshold`, `is_precip_accumulated`,
    * `:28-71`). For an accumulated series, `valueCol` is REPLACED by the
    * de-accumulated values ([[deaccumulate]]; flagged rows null + flag 34 in
    * `<var>_eraqc` — the reference re-initializes that column for the stage), the
    * original gauge moves to `accum_<var>`, and `accum_<var>_eraqc` carries the
    * whole-column provenance flag 35 ("deaccumulation applied"). Non-accumulated
    * series pass through untouched with null accum columns.
    *
    * Scale shape: the detector is one filtered window+corr agg producing ONE row
    * per series (broadcast back); the deacc computation is the W9 station-keyed
    * window. A NaN autocorr (constant/short series) reads as not-accumulated,
    * exactly the reference's early-False. */
  def deaccumulatePrecipStage(df: DataFrame, keys: Seq[String], timeCol: String,
                              valueCol: String,
                              resetThreshold: Double = 50.0,
                              ringingThreshold: Option[Double] = Some(10.0),
                              autocorrThreshold: Double = 0.8): DataFrame = {
    val flagCol = valueCol + "_eraqc"
    val accCol = "accum_" + valueCol
    val accFlagCol = accCol + "_eraqc"
    val detector = lag1Autocorr(df.filter(col(valueCol) > 0), keys, timeCol, valueCol)
      .select(keys.zipWithIndex.map { case (k, i) => col(k).as(s"_ak$i") } :+
        (coalesce(col("autocorr"), lit(0.0)) > autocorrThreshold).as("_isAccum"): _*)
    val cond = keys.zipWithIndex.map { case (k, i) => col(k) === col(s"_ak$i") }
      .reduce(_ && _)
    val existingFlag =
      if (df.columns.contains(flagCol)) col(flagCol) else lit(null).cast("int")
    val passthrough = df.columns
      .filterNot(c => c == valueCol || c == flagCol).map(col).toSeq
    deaccumulate(df, keys, timeCol, valueCol, resetThreshold, ringingThreshold)
      .join(broadcast(detector), cond, "left")
      .withColumn("_acc", coalesce(col("_isAccum"), lit(false)))
      .select(passthrough ++ Seq(
        when(col("_acc"), col("deacc")).otherwise(col(valueCol)).as(valueCol),
        when(col("_acc"),
          when(col("deacc_flagged"), lit(graft.core.Flags.DeaccumAmbiguous)))
          .otherwise(existingFlag).as(flagCol),
        when(col("_acc"), col(valueCol)).as(accCol),
        when(col("_acc"), lit(graft.core.Flags.DeaccumProvenance)).as(accFlagCol)): _*)
  }

  /** W10 — lag-1 autocorrelation per series (accumulated-gauge detector,
    * `qaqc_deaccumulate.py:28-71`). Returns one row per key with `autocorr`. */
  def lag1Autocorr(df: DataFrame, keys: Seq[String], timeCol: String, valueCol: String): DataFrame = {
    val w = seriesWindow(keys, timeCol)
    df.withColumn("_lag", lag(col(valueCol), 1).over(w))
      .filter(col("_lag").isNotNull && col(valueCol).isNotNull)
      .groupBy(keys.map(col): _*)
      .agg(corr(col(valueCol), col("_lag")).as("autocorr"))
  }

  /** W15 — hourly resample, top-of-hour "first" convention for instantaneous variables
    * (`/root/reference/scripts/4_merge_data/merge_hourly_standardization.py:156-173`).
    * Deterministic: earliest (time, tiebreak) row per hour via min_by. */
  def hourlyFirst(df: DataFrame, keys: Seq[String], timeCol: String, valueCols: Seq[String],
                  tiebreak: Column): DataFrame = {
    val hour = date_trunc("HOUR", col(timeCol)).as("hour_ts")
    // Per column, first NON-null value in the hour (pandas resample('1h').first()
    // skips nulls per column): nulling the min_by ordering key when the value is null
    // makes min_by skip that row for this column only.
    def firstNonNull(v: String): Column =
      min_by(col(v), when(col(v).isNotNull, struct(col(timeCol), tiebreak))).as(v)
    df.groupBy((keys.map(col) :+ hour): _*)
      .agg(firstNonNull(valueCols.head), valueCols.tail.map(firstNonNull): _*)
  }

  /** W16 — hourly resample-sum where an all-null hour stays null (not 0)
    * (`merge_hourly_standardization.py:144-154,214-218`). */
  def hourlySum(df: DataFrame, keys: Seq[String], timeCol: String, valueCol: String): DataFrame =
    df.groupBy((keys.map(col) :+ date_trunc("HOUR", col(timeCol)).as("hour_ts")): _*)
      .agg(AggOps.sumOrNull(col(valueCol)).as(valueCol))

  /** W17 — hourly flag concat: distinct flags in the hour joined with ","; sorted for
    * determinism; no flags → the literal "nan" (the reference's empty marker,
    * `merge_hourly_standardization.py:25-43`). */
  def flagConcat(flagCol: Column): Column = {
    val s = array_sort(collect_set(flagCol))
    when(size(s) === 0, "nan").otherwise(array_join(s, ","))
  }

  /** W18 — single-pass infill (`merge_hourly_standardization.py:46-94`): each
    * observed row emits itself plus the missing hours between it and its
    * predecessor (lag + guarded `sequence` + one explode) —
    * same result set as a per-key min-to-max hourly grid with the rows left-joined,
    * but ONE window shuffle instead of two aggregations and a join, and the
    * upstream hourly aggregate is evaluated once instead of twice (isolated 10×
    * A/B: 3.67 s → 3.05 s min-of-2; the structural win grows with the cost of
    * the upstream plan, which the old shape ran twice). First rows have no
    * predecessor, so the grid still starts at each series' min hour.
    *
    * Precondition (same as the grid shape relied on implicitly): `hourCol` is
    * hour-truncated — [[hourlyFirst]]/[[hourlySum]] output. Misaligned input
    * would generate prev+1h off-lattice rows here where the old shape silently
    * DROPPED the misaligned observation (grid left-join kept only lattice rows);
    * null hours are filtered, matching the old join's behavior. */
  def gapInfill(hourly: DataFrame, keys: Seq[String], hourCol: String): DataFrame = {
    val valueCols = hourly.columns.filterNot(c => keys.contains(c) || c == hourCol).toSeq
    val w = seriesWindow(keys, hourCol)
    val prev = lag(col(hourCol), 1).over(w)
    val oneHour = expr("INTERVAL 1 HOUR")
    val gaps = when(prev.isNotNull && prev + oneHour <= col(hourCol) - oneHour,
      sequence(prev + oneHour, col(hourCol) - oneHour, oneHour))
    val obsRow = struct(col(hourCol).as("_h") +:
      valueCols.map(c => col("`" + c + "`")) :+ lit("n").as("standardized_infill"): _*)
    val gapRow = (h: Column) => struct(h.as("_h") +:
      valueCols.map(c => lit(null).cast(hourly.schema(c).dataType).as(c)) :+
      lit("y").as("standardized_infill"): _*)
    hourly
      .filter(col(hourCol).isNotNull)
      .withColumn("_rows", concat(
        transform(coalesce(gaps, array().cast("array<timestamp>")), gapRow),
        array(obsRow)))
      .select(keys.map(col) :+ explode(col("_rows")).as("_r"): _*)
      .select(keys.map(col) ++ (col("_r._h").as(hourCol) +:
        valueCols.map(c => col("_r.`" + c + "`").as(c)) :+
        col("_r.standardized_infill").as("standardized_infill")): _*)
  }

  /** W20 — season key with DJF winter-year convention: December belongs to the *next*
    * year's winter (`/root/reference/scripts/3_qaqc_data/qaqc_frequent.py:407-428`). */
  def season(timeCol: Column): Column =
    when(month(timeCol).isin(12, 1, 2), "DJF")
      .when(month(timeCol).isin(3, 4, 5), "MAM")
      .when(month(timeCol).isin(6, 7, 8), "JJA")
      .otherwise("SON")

  def seasonYear(timeCol: Column): Column =
    when(month(timeCol) === 12, year(timeCol) + 1).otherwise(year(timeCol))

  /** W12 — linear interpolation of INTERIOR null gaps, time-weighted between the last
    * and next non-null observation (`qaqc_climatological_outlier.py:175`). Pandas
    * `interpolate(method='linear')` leaves leading nulls unfilled but forward-fills
    * trailing nulls with the last non-null value; matched exactly.
    *
    * One [[graft.kernels.SeriesScan]] pass in time order: a null waits in the scan's
    * buffer until the next non-null of its series arrives, so the scan holds one gap
    * at a time, and a following scan over the same keys and time (the Butterworth
    * low-pass) reuses its exchange and sort. The value of `out` is, with `t` the
    * time as a double, the previous non-null `v₀` (at `t₀`) and the next `v₁` (at
    * `t₁`): `v` where it is not null; null with no `v₀`; `v₀` with no `v₁` or where
    * `t₁ = t₀`; else `v₀ + (v₁ − v₀)·((t − t₀)/(t₁ − t₀))`. Rows that share a time
    * are taken in the scan's order: a row's next non-null is the last one at or
    * before it among the rows of its time, else the last one of the first later
    * time that has one. A row with a null time is its own value. */
  def interpolateLinear(df: DataFrame, keys: Seq[String], timeCol: String, valueCol: String,
                        out: String): DataFrame =
    SeriesScan.over(df, keys, timeCol,
      Seq(col(timeCol), col(timeCol).cast("double"), col(valueCol).cast("double")),
      InterpKernel(out, df.schema(timeCol).dataType))

  /** Inputs: the time, the time as a double and the value. */
  private final case class InterpKernel(out: String, timeType: DataType) extends SeriesKernel {
    override def outputs: Seq[StructField] = Seq(StructField(out, DoubleType, nullable = true))
    override def open(firstOut: Int, fifo: () => RowFifo): SeriesRun =
      new InterpRun(firstOut, timeType, fifo())
  }

  /** A run of held rows: final ones, or nulls of one time that wait for the next
    * non-null (`pending`), with the previous non-null they all share. */
  private final class Held(val pending: Boolean, val tie: Long, val prevV: Double,
                           val hasPrevT: Boolean, val prevT: Double) {
    var left = 0
    var resolved = false
    var nextV = 0.0
    var nextT = 0.0
  }

  private final class InterpRun(firstOut: Int, timeType: DataType, fifo: RowFifo)
      extends SeriesRun(fifo) {
    private var hasPrevV = false; private var prevV = 0.0
    private var hasPrevT = false; private var prevT = 0.0
    // the current run of rows with one time (a tie); `tie` counts them per group
    private var started = false
    private var tie = 0L
    private var tieNull = false
    private var tieTime: Any = null
    private var tieT = 0.0
    private var tieHasV = false; private var tieV = 0.0
    private val runs = scala.collection.mutable.ArrayDeque.empty[Held]
    private var releasedRuns = 0

    override def push(row: UnsafeRow, in: InternalRow): Unit = {
      val tNull = in.isNullAt(0)
      if (!started || tNull != tieNull || (!tNull && in.get(0, timeType) != tieTime)) {
        closeTie()
        started = true; tie += 1; tieNull = tNull; tieHasV = false
        tieTime = if (tNull) null else InternalRow.copyValue(in.get(0, timeType))
        tieT = if (in.isNullAt(1)) Double.NaN else in.getDouble(1)
      }
      if (!in.isNullAt(2)) {
        val v = in.getDouble(2)
        row.setDouble(firstOut, v)
        hasPrevV = true; prevV = v
        if (!in.isNullAt(1)) { hasPrevT = true; prevT = in.getDouble(1) }
        tieHasV = true; tieV = v
        emit(row)
      } else if (tieNull || !hasPrevV) emit(row) // a null time, or a leading null
      else if (tieHasV) {
        // an earlier row of this time is the previous and the next non-null
        row.setDouble(firstOut, tieV)
        emit(row)
      } else {
        // the time waits in the output slot until the next non-null arrives
        row.setDouble(firstOut, in.getDouble(1))
        val last = runs.lastOption.orNull
        if (last != null && last.pending && last.tie == tie && runs.size > releasedRuns)
          last.left += 1
        else {
          val h = new Held(true, tie, prevV, hasPrevT, prevT)
          h.left = 1
          runs += h
        }
        hold(row)
      }
    }

    /** A final row, behind any held ones. */
    private def emit(row: UnsafeRow): Unit =
      if (runs.isEmpty) put(row)
      else {
        val last = runs.last
        if (!last.pending && runs.size > releasedRuns) last.left += 1
        else { val h = new Held(false, tie, 0.0, false, 0.0); h.left = 1; runs += h }
        hold(row)
      }

    /** The time run ends: its last non-null is the next non-null of every null that
      * waits from an earlier time. */
    private def closeTie(): Unit = {
      if (started && !tieNull && tieHasV)
        runs.foreach(h => if (h.pending && !h.resolved && h.tie < tie) {
          h.resolved = true; h.nextV = tieV; h.nextT = tieT
        })
      releaseFinal()
    }

    private def releaseFinal(): Unit =
      while (releasedRuns < runs.size &&
          (!runs(releasedRuns).pending || runs(releasedRuns).resolved)) {
        release(runs(releasedRuns).left)
        releasedRuns += 1
      }

    override def endGroup(): Unit = {
      closeTie()
      // the nulls still waiting have no next non-null: they forward-fill
      releasedRuns until runs.size foreach { i => release(runs(i).left) }
      releasedRuns = runs.size
      started = false; tie = 0L; hasPrevV = false; hasPrevT = false
    }

    override protected def finish(row: UnsafeRow): Unit = {
      val h = runs.head
      if (h.pending) {
        if (!h.resolved || (h.hasPrevT && SqlDouble.equal(h.nextT, h.prevT)))
          row.setDouble(firstOut, h.prevV)
        else if (!h.hasPrevT || h.nextT - h.prevT == 0.0) row.setNullAt(firstOut)
        else {
          val t = row.getDouble(firstOut)
          row.setDouble(firstOut,
            h.prevV + (h.nextV - h.prevV) * ((t - h.prevT) / (h.nextT - h.prevT)))
        }
      }
      h.left -= 1
      if (h.left == 0) { runs.removeHead(); releasedRuns -= 1 }
    }
  }

  /** Sessionization: consecutive events of a key share a session while each gap to
    * the previous event is <= `gapSeconds`; a larger gap (or the first event) opens a
    * new session. Adds `out` = 1-based session index per key. The streaming twin is
    * StreamingOps.sessionize (same semantics on a live feed with per-key state).
    * One shuffle on the series key; the lag + running sum are partition-local. */
  def sessionize(df: DataFrame, keys: Seq[String], timeCol: String, gapSeconds: Long,
                 out: String = "session_id"): DataFrame = {
    val w = seriesWindow(keys, timeCol)
    val tl = col(timeCol).cast("long")
    val gap = tl - lag(tl, 1).over(w)
    val opens = when(gap.isNull || gap > gapSeconds, 1).otherwise(0)
    df.withColumn(out, sum(opens).over(w.rowsBetween(Window.unboundedPreceding, 0)))
  }
}
