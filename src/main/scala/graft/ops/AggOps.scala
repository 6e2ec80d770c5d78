package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Aggregation operators (SURVEY.md §2.4, A1–A17). Each is a generic grouped
  * transformation; climatology-style results (medians/IQR per group) are produced as
  * small keyed tables meant to be joined back (broadcast when the key space is small).
  */
object AggOps {

  /** A1/A2 — grouped percentile (median by default). One shuffle on `keys`; partial
    * aggregation applies map-side.
    *
    * SCALE CONTRACT: `exact = true` buffers every group value on the executor heap —
    * legal ONLY when the key set provably bounds group size (station-keyed: ≤ ~400k
    * rows/group at 1-min cadence over 43 years; (station, month/hour) subkeys are
    * smaller still). For unbounded keys (event types, whole-table climatologies at
    * 100 TB) pass `exact = false`: `percentile_approx` with `accuracy` (error ≤
    * 1/accuracy of the rank) keeps memory O(accuracy) per group. Oracle queries use
    * exact on bounded keys; the approx path is the default recommendation at scale. */
  def groupedPercentile(df: DataFrame, keys: Seq[String], valueCol: String,
                        p: Double, out: String = "pctl",
                        exact: Boolean = true, accuracy: Int = 10000): DataFrame = {
    val agg =
      if (exact) expr(s"percentile($valueCol, $p)")
      else expr(s"percentile_approx($valueCol, $p, $accuracy)")
    df.groupBy(keys.map(col): _*).agg(agg.as(out))
  }

  /** A3 — IQR with a floor (reference floors at 1.5 IQR-units for climatological
    * outliers, `/root/reference/scripts/3_qaqc_data/qaqc_climatological_outlier.py:129-138`). */
  def groupedIqr(df: DataFrame, keys: Seq[String], valueCol: String,
                 floor: Double = 0.0, out: String = "iqr"): DataFrame =
    df.groupBy(keys.map(col): _*).agg(
      greatest(expr(s"percentile($valueCol, 0.75) - percentile($valueCol, 0.25)"),
        lit(floor)).as(out))

  /** Per-group quantile gate — keep rows at or above their group's `p`-quantile of
    * `valueCol` (quality-floor pruning per language/domain in a curation pass). One
    * grouped-percentile aggregate (group count bounds the exact-percentile heap; pass
    * `exact = false` above for unbounded keys) + a join-back that AQE broadcasts
    * (one row per group). */
  def quantileGate(df: DataFrame, keys: Seq[String], valueCol: String,
                   p: Double, exact: Boolean = true): DataFrame = {
    val thr = groupedPercentile(df, keys, valueCol, p, exact = exact, out = "_thr")
    df.join(thr, keys).filter(col(valueCol) >= col("_thr")).drop("_thr")
  }

  /** A4 — fixed-width histogram: bin index per row (`floor((x − origin)/width)`).
    * Pure expression; the groupBy(bin) count is the caller's. */
  def binIndex(value: Column, origin: Double, width: Double): Column =
    floor((value - lit(origin)) / lit(width)).cast("long")

  def histogram(df: DataFrame, keys: Seq[String], valueCol: String,
                origin: Double, width: Double): DataFrame =
    df.withColumn("bin", binIndex(col(valueCol), origin, width))
      .groupBy((keys :+ "bin").map(col): _*).count()

  /** A5 — frequent-bin detection over a histogram: a bin is suspect when its count
    * exceeds `frac` of the surrounding ±3-bin mass and `minCount` obs
    * (`/root/reference/scripts/3_qaqc_data/qaqc_frequent.py:503-563`).
    * Input must be the output of [[histogram]]; window over bin index within keys. */
  def frequentBins(hist: DataFrame, keys: Seq[String], frac: Double = 0.5,
                   minCount: Long = 30): DataFrame = {
    // rangeBetween on the bin INDEX: empty bins are absent rows, so a rows-frame would
    // span farther than the reference's contiguous ±3-bin block and inflate the
    // neighborhood mass with distant bins (`qaqc_frequent.py` bins_to_flag).
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col("bin")).rangeBetween(-3, 3)
    hist.withColumn("neighborhood", sum(col("count")).over(w))
      .filter(col("count") > col("neighborhood") * frac && col("count") > minCount)
  }

  /** A5 composed — frequent-value flag (24/25): per (keys, season), histogram the
    * values (A4), detect suspect bins (A5 thresholds: > `frac` of the ±3-bin mass and
    * > `minCount` obs, `qaqc_frequent.py:503-563`), and flag every observation whose
    * bin is suspect (`qaqc_frequent.py:289-462` seasonal application). Returns the
    * rows with boolean `out`. Two shuffles: the histogram groupBy and the
    * suspect-bin join-back (broadcast — suspect bins are rare by construction). */
  def flagFrequentValues(df: DataFrame, keys: Seq[String], timeCol: String,
                         valueCol: String, origin: Double, width: Double,
                         frac: Double = 0.5, minCount: Long = 30,
                         out: String = "frequent_value"): DataFrame = {
    val withBin = df
      .withColumn("_season", graft.ops.SeriesOps.season(col(timeCol)))
      .withColumn("bin", binIndex(col(valueCol), origin, width))
    val skeys = keys :+ "_season"
    val hist = withBin.groupBy((skeys :+ "bin").map(col): _*).count()
    val suspect = frequentBins(hist, skeys, frac, minCount)
      .select((skeys :+ "bin").map(col) :+ lit(true).as("_suspect"): _*)
    withBin.join(broadcast(suspect), skeys :+ "bin", "left")
      .withColumn(out, coalesce(col("_suspect"), lit(false)))
      .drop("_suspect", "_season", "bin")
  }

  /** The A6/A7 clip: `valueCol` clipped to its group's [`pLo`, `pHi`] percentiles, as
    * `_clipped`. The bounds are window aggregates over the group — the group shuffle,
    * no join-back. Rows with a null key are dropped, as an inner join-back drops them.
    * (A null value clips to the lower bound: `greatest` skips nulls.) */
  private def winsorClip(df: DataFrame, keys: Seq[String], valueCol: String,
                         pLo: Double, pHi: Double): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
    def pctl(p: Double): Column = expr(s"percentile($valueCol, $p)").over(w)
    df.filter(SeriesOps.keysNotNull(keys))
      .withColumn("_clipped", least(greatest(col(valueCol), pctl(pLo)), pctl(pHi)))
  }

  /** A6 — winsorized mean: clip at the group's p05/p95 then average, one row per
    * group — percentile window + clip + groupBy, no UDAF
    * (`qaqc_climatological_outlier.py:105-120`). One shuffle on `keys`. */
  def winsorizedMean(df: DataFrame, keys: Seq[String], valueCol: String,
                     pLo: Double = 0.05, pHi: Double = 0.95, out: String = "wmean"): DataFrame =
    winsorClip(df, keys, valueCol, pLo, pHi)
      .groupBy(keys.map(col): _*).agg(avg("_clipped").as(out))

  /** A7 — anomaly standardization against the winsorized climatology
    * (`qaqc_climatological_outlier.py:105-145`): anom = v − winsorized mean(keys);
    * std = anom / max(IQR(anom), 1.5), both per key group. Every statistic is a window
    * aggregate over the group, so the operator is one shuffle on `keys` and no join;
    * keys are (station, month, hour)-shaped so groups stay bounded. Rows with a null
    * key are dropped; output is the key columns, the other input columns, then `out`. */
  def standardizedAnomaly(df: DataFrame, keys: Seq[String], valueCol: String,
                          out: String): DataFrame = {
    val kc = keys.map(col)
    val w = Window.partitionBy(kc: _*)
    def pctl(p: Double): Column = expr(s"percentile(_anom, $p)").over(w)
    val anom = col(valueCol) - avg(col("_clipped")).over(w)
    val withAnom = winsorClip(df, keys, valueCol, 0.05, 0.95).withColumn("_anom", anom)
    withAnom.select((SeriesOps.keysFirst(df, keys) :+
      (col("_anom") / greatest(pctl(0.75) - pctl(0.25), lit(1.5))).as(out)): _*)
  }

  /** A8 — daily resample-sum with all-null-stays-null semantics
    * (`/root/reference/scripts/4_merge_data/merge_hourly_standardization.py:216-218`). */
  def sumOrNull(c: Column): Column = when(count(c) === 0, lit(null)).otherwise(sum(c))

  /** A13 — value-resolution inference, full reference semantics (`infere_res_var`,
    * `/root/reference/scripts/3_qaqc_data/qaqc_unusual_streaks.py:172-223`):
    *  - diffs of the value-SORTED series, INCLUDING zero diffs (duplicates);
    *  - ≤10 diffs → fall back to 0.5;
    *  - mode of diffs (pandas mode → smallest on tie) blended with the median diff:
    *    (mode+median)/2, rounded to the nearest 0.5; rounded ≤0.25 → 0.1; capped at 1.0.
    * Rounding is HALF_UP (Spark `round`) where numpy uses banker's — divergence only at
    * exact .25 multiples of the blend, which real data never hits.
    * `prescale`: reference divides pressure variables by 100 (Pa→hPa) before inference
    * when the mean exceeds 10000 — pass `v => v / 100` for those columns.
    * Returns one row per key group with a `resolution` column. */
  def inferResolution(df: DataFrame, keys: Seq[String], valueCol: String,
                      prescale: Column => Column = identity): DataFrame = {
    val kc = keys.map(col)
    val scaled = df.filter(col(valueCol).isNotNull)
      .withColumn("_v", prescale(col(valueCol)))
    val w = Window.partitionBy(kc: _*).orderBy(col("_v"))
    val diffs = scaled
      .withColumn("_d", col("_v") - lag(col("_v"), 1).over(w))
      .filter(col("_d").isNotNull)
    val counted = diffs.groupBy((kc :+ col("_d")): _*).count()
    val mode = counted
      .groupBy(kc: _*)
      .agg(max_by(col("_d"), struct(col("count"), -col("_d"))).as("_mode"))
    val medAndN = diffs.groupBy(kc: _*)
      .agg(expr("percentile(_d, 0.5)").as("_med"), count(lit(1)).as("_n"))
    mode.join(medAndN, keys)
      .withColumn("_blend", (col("_mode") + col("_med")) / 2.0)
      .withColumn("_snap", round(col("_blend") * 2.0, 0) / 2.0)
      .withColumn("resolution",
        when(col("_n") <= 10, lit(0.5))
          .when(col("_snap") <= 0.25, lit(0.1))
          .otherwise(least(col("_snap"), lit(1.0))))
      .select((kc :+ col("resolution")): _*)
  }

  /** A14 — time-frequency inference: distribution of successive timestamp deltas,
    * keeping deltas that account for > `minFrac` of rows
    * (`qaqc_unusual_streaks.py:143-169`). */
  def timeDeltaFreqs(df: DataFrame, keys: Seq[String], timeCol: String,
                     minFrac: Double = 0.05): DataFrame = {
    val kc = keys.map(col)
    val w = Window.partitionBy(kc: _*).orderBy(col(timeCol))
    val deltas = df
      .withColumn("delta_s",
        col(timeCol).cast("long") - lag(col(timeCol), 1).over(w).cast("long"))
      .filter(col("delta_s").isNotNull)
    val counted = deltas.groupBy((keys :+ "delta_s").map(col): _*).count()
    val totals = Window.partitionBy(kc: _*)
    counted.withColumn("frac", col("count") / sum(col("count")).over(totals))
      .filter(col("frac") > minFrac)
  }

  /** A17 — per-group internal range consistency with row-level flags, full reference
    * semantics (`qaqc_elev_internal_range_consistency`, `qaqc_wholestation.py:318-392`):
    *  - >2 distinct values AND span > `maxSpan`: flag rows outside
    *    median(DISTINCT values) ± maxSpan (the reference medians the unique list, not
    *    the rows);
    *  - exactly 2 distinct values differing by > maxSpan: flag the minority value's
    *    rows (tie → no flag);
    *  - ≤1 distinct value: bypass.
    * Adds `flagCol` = `flag` (36) on offending rows. Two aggregations over the DISTINCT
    * (key, value) pairs — group count is bounded by distinct values per key, never rows. */
  def flagSpanInconsistent(df: DataFrame, keys: Seq[String], valueCol: String,
                           flagColName: String, maxSpan: Double = 50.0,
                           flag: Int = graft.core.Flags.ElevInconsistent): DataFrame = {
    val kc = keys.map(col)
    val v = col(valueCol)
    val perValue = df.filter(v.isNotNull).groupBy((kc :+ v.as("_val")): _*)
      .agg(count(lit(1)).as("_cnt"))
    val stats = perValue.groupBy(kc: _*).agg(
      count(lit(1)).as("_n_distinct"),
      (max(col("_val")) - min(col("_val"))).as("_span"),
      expr("percentile(_val, 0.5)").as("_dmed"),
      // minority value among exactly two (null when counts tie; struct tiebreak keeps
      // min_by deterministic even then)
      when(count(lit(1)) === 2 && min(col("_cnt")) =!= max(col("_cnt")),
        min_by(col("_val"), struct(col("_cnt"), col("_val")))).as("_minority"))
    val joined = df.join(stats, keys, "left")
    val bad =
      (col("_n_distinct") > 2 && col("_span") > maxSpan &&
        (v < col("_dmed") - maxSpan || v > col("_dmed") + maxSpan)) ||
      (col("_n_distinct") === 2 && col("_span") > maxSpan && v === col("_minority"))
    joined
      .withColumn(flagColName,
        when(coalesce(bad, lit(false)), lit(flag).cast("int")).otherwise(col(flagColName)))
      .drop("_n_distinct", "_span", "_dmed", "_minority")
  }

  /** Two-sample Kolmogorov–Smirnov statistic per group — distribution-drift
    * detection between two corpus slices (train vs val split, old vs new crawl,
    * network A vs B): D = max over x of |F_a(x) − F_b(x)| with the empirical CDFs
    * evaluated at every observed value (RANGE window frames make ties exact — every
    * row at a tied value sees the full tied mass on both sides).
    *
    * One window shuffle on `keys` (the sort is the unavoidable cost of an exact
    * EDF; state per row is two running counts) + one groupBy max over the same
    * partitioning — Catalyst reuses the exchange. Returns (keys..., ks, n_a, n_b).
    * Groups missing one side entirely yield ks = 1.0 (maximal drift) by the CDF
    * definition. At 100 TB scale the same shape applies per group; a keyless
    * whole-corpus KS should sub-key first (e.g. by hash bucket) and take the max. */
  /** A19 / QAQC flag 31 — frequent-precip check (`/root/reference/scripts/
    * 3_qaqc_data/qaqc_frequent.py:566-645`, `qaqc_frequent_precip`; a
    * HadISD/GHCN-daily modification): aggregate unflagged obs to daily totals,
    * keep the non-zero days, find runs of IDENTICAL consecutive daily totals in
    * that non-zero-day sequence (the reference's shift-cumsum grouping), and stamp
    * `flagCol = 31` on every observation of a day inside a run of >= `dayThresh`
    * days whose total exceeds `moderateThresh` (default 18 mm / 5 days).
    *
    * Documented divergence (the W14 pattern, BASELINE.md): the reference applies
    * the flag through three INDEPENDENT year/month/day `isin` masks (`:629-637`),
    * which also hits the cartesian combinations of the flagged days' date
    * components (flagged 2020-01-05 + 2021-03-07 would flag 2020-03-07 too — a
    * pandas accident); we flag exactly the flagged days via a date equi-join,
    * the documented intent.
    *
    * Daily totals are summed through DECIMAL(18,`exactSumScale`) and cast back to
    * double, so the run-equality compare is addition-order independent — identical
    * across partitionings and engines (the kmeansStep convention; run grouping on
    * a naive double sum would be partition-order dependent).
    *
    * Scale shape: one partial-aggregated groupBy to days (obs → days is ~3 orders
    * of magnitude), a station-keyed window over DAYS for the run ids, and the
    * flagged-day join back is broadcast-sized (flagged days are a tiny subset). */
  /** Decimal-exact daily totals of unflagged, non-null observations — shared by the
    * daily-precip family (flags 31/32/33). Addition-order independent (the
    * kmeansStep convention), so downstream equality/percentile logic is identical
    * across partitionings and engines. */
  private def dailyTotals(df: DataFrame, keys: Seq[String], timeCol: String,
                          valueCol: String, flagCol: String,
                          exactSumScale: Int): DataFrame =
    df.filter(col(valueCol).isNotNull && col(flagCol).isNull)
      .groupBy(keys.map(col) :+ to_date(col(timeCol)).as("_day"): _*)
      .agg(sum(col(valueCol).cast(s"decimal(18,$exactSumScale)"))
        .cast("double").as("_dtot"))

  /** Stamp `code` into `flagCol` for every obs falling on a flagged (keys, day) —
    * flagged days are day-grained (broadcast-sized), and the day sides are renamed
    * so the join back to `df` (their common ancestor) is unambiguous. */
  private def backflagDays(df: DataFrame, keys: Seq[String], timeCol: String,
                           flagCol: String, flaggedDays: DataFrame,
                           code: Int): DataFrame = {
    val fd = flaggedDays.select(
      keys.zipWithIndex.map { case (k, i) => col(k).as(s"_fk$i") } :+
        col("_day").as("_fday"): _*)
    val joinCond = keys.zipWithIndex.map { case (k, i) => col(k) === col(s"_fk$i") }
      .reduce(_ && _) && (to_date(col(timeCol)) === col("_fday"))
    df.join(broadcast(fd), joinCond, "left")
      .select(df.columns.filter(_ != flagCol).map(df(_)) :+
        when(col("_fday").isNotNull, lit(code)).otherwise(df(flagCol)).as(flagCol): _*)
  }

  def frequentPrecipFlag(df: DataFrame, keys: Seq[String], timeCol: String,
                         valueCol: String, flagCol: String,
                         moderateThresh: Double = 18.0, dayThresh: Int = 5,
                         exactSumScale: Int = 2): DataFrame = {
    val kc = keys.map(col)
    val daily = dailyTotals(df, keys, timeCol, valueCol, flagCol, exactSumScale)
      .filter(col("_dtot") > 0)
    val byKey = Window.partitionBy(kc: _*).orderBy(col("_day"))
    val changed = when(lag(col("_dtot"), 1).over(byKey).isNull ||
      lag(col("_dtot"), 1).over(byKey) =!= col("_dtot"), 1).otherwise(0)
    val runs = daily.withColumn("_rid",
      sum(changed).over(byKey.rowsBetween(Window.unboundedPreceding, 0)))
    val flaggedDays = runs
      .withColumn("_rsz", count(lit(1)).over(Window.partitionBy(kc :+ col("_rid"): _*)))
      .filter(col("_rsz") >= dayThresh && col("_dtot") > moderateThresh)
    backflagDays(df, keys, timeCol, flagCol, flaggedDays,
      graft.core.Flags.PrecipDailyFrequent)
  }

  /** A20 / QAQC flag 32 — daily-precip climatological outlier
    * (`qaqc_climatological_outlier.py:463-589`, `qaqc_climatological_outlier_precip`,
    * GHCN-daily modification): per calendar month across the whole record, the 95th
    * percentile of the month's NON-ZERO daily totals sets the scale; a day is
    * flagged when its total exceeds `factor` × p95 (default 9) — or the 442 mm
    * world-record day directly when p95 itself exceeds it, the reference's
    * low-sample guard. Daily totals are decimal-exact; the percentile is the same
    * linear-interpolation statistic in Spark (`percentile`), pandas (`quantile`)
    * and DuckDB (`quantile_cont`), so the op carries an exact SQL oracle.
    *
    * Backflag divergence as [[frequentPrecipFlag]] (exact-date join, not the
    * year/month/day isin cartesian). One groupBy to days, one percentile agg on
    * ~12 rows per station-month, broadcast flag-back. */
  def climOutlierPrecipFlag(df: DataFrame, keys: Seq[String], timeCol: String,
                            valueCol: String, flagCol: String,
                            factor: Double = 9.0, worldRecord: Double = 442.0,
                            exactSumScale: Int = 2): DataFrame = {
    val kc = keys.map(col)
    val nz = dailyTotals(df, keys, timeCol, valueCol, flagCol, exactSumScale)
      .filter(col("_dtot") > 0)
      .withColumn("_mon", month(col("_day")))
    val p95 = nz.groupBy(kc :+ col("_mon"): _*)
      .agg(expr("percentile(_dtot, 0.95)").as("_p95"))
    val flaggedDays = nz.join(p95, keys :+ "_mon")
      .filter(
        when(col("_p95") > worldRecord, col("_dtot") > worldRecord)
          .when(col("_p95") =!= 0, col("_dtot") > col("_p95") * factor)
          .otherwise(col("_dtot") > factor))
    backflagDays(df, keys, timeCol, flagCol, flaggedDays,
      graft.core.Flags.PrecipDailyOutlier)
  }

  /** A21 / QAQC flag 33 — daily-precip unusual gap (`qaqc_unusual_gaps.py:449-553`,
    * `qaqc_unusual_gaps_precip`, HadISD modification): per calendar month across
    * the record, a day whose total differs by more than `threshold` (default
    * 200 mm) from EVERY other daily total of that month is flagged. The reference
    * materializes the full O(n²) pairwise |difference| matrix per month
    * (`check_differences`, `:449-480`); the predicate "all others differ by more
    * than t" is equivalent to "the NEAREST other value is more than t away", and
    * in sorted order the nearest other value is the predecessor or successor — so
    * this runs as one sort window with lag/lead (O(n log n), and distributable).
    * The month grid includes empty calendar days as zero totals (pandas
    * `resample("1D")` semantics), which is load-bearing: a giant value is only
    * "gapped" if nothing — including dry days — comes near it.
    *
    * Backflag divergence, documented: the reference's write-back (`:545-552`)
    * maps dates through a RangeIndex-keyed series and OVERWRITES the whole eraqc
    * column (flagged days land NaN — a broken no-op in practice); we implement
    * the documented intent — flag 33 on the flagged days' obs, existing flags
    * preserved. Single-day months never flag (the matrix row is vacuously false
    * in the reference). */
  def unusualGapsPrecipFlag(df: DataFrame, keys: Seq[String], timeCol: String,
                            valueCol: String, flagCol: String,
                            threshold: Double = 200.0,
                            exactSumScale: Int = 2): DataFrame = {
    val kc = keys.map(col)
    val daily = dailyTotals(df, keys, timeCol, valueCol, flagCol, exactSumScale)
    // per-station full-day grid (resample semantics: empty days count as 0)
    val grid = daily.groupBy(kc: _*)
      .agg(min(col("_day")).as("_d0"), max(col("_day")).as("_d1"))
      .select(keys.zipWithIndex.map { case (k, i) => col(k).as(s"_gk$i") } :+
        explode(sequence(col("_d0"), col("_d1"), expr("interval 1 day"))).as("_gday"): _*)
    val gridCond = keys.zipWithIndex.map { case (k, i) => col(s"_gk$i") === col(k) }
      .reduce(_ && _) && (col("_gday") === col("_day"))
    val full = grid.join(daily, gridCond, "left")
      .select(keys.indices.map(i => col(s"_gk$i").as(keys(i))) :+
        col("_gday").as("_day") :+
        coalesce(col("_dtot"), lit(0.0)).as("_dtot"): _*)
      .withColumn("_mon", month(col("_day")))
    val byVal = Window.partitionBy(kc :+ col("_mon"): _*).orderBy(col("_dtot"))
    val prevGap = col("_dtot") - lag(col("_dtot"), 1).over(byVal)
    val nextGap = lead(col("_dtot"), 1).over(byVal) - col("_dtot")
    val flaggedDays = full
      .withColumn("_n", count(lit(1)).over(Window.partitionBy(kc :+ col("_mon"): _*)))
      .withColumn("_minGap", least(
        coalesce(prevGap, lit(Double.MaxValue)),
        coalesce(nextGap, lit(Double.MaxValue))))
      .filter(col("_n") > 1 && col("_minGap") > threshold)
    backflagDays(df, keys, timeCol, flagCol, flaggedDays,
      graft.core.Flags.PrecipDailyGap)
  }

  def ksStatistic(df: DataFrame, keys: Seq[String], valueCol: String,
                  sideCol: String, sideA: String, sideB: String): DataFrame = {
    val kc = keys.map(col)
    val isA = when(col(sideCol) === sideA, 1L).otherwise(0L)
    val isB = when(col(sideCol) === sideB, 1L).otherwise(0L)
    val wAll = Window.partitionBy(kc: _*)
    val wCdf = Window.partitionBy(kc: _*).orderBy(col(valueCol))
      .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    df.filter(col(sideCol).isin(sideA, sideB) && col(valueCol).isNotNull)
      .withColumn("_na", sum(isA).over(wAll))
      .withColumn("_nb", sum(isB).over(wAll))
      .withColumn("_d", abs(
        sum(isA).over(wCdf).cast("double") / greatest(col("_na"), lit(1L)) -
        sum(isB).over(wCdf).cast("double") / greatest(col("_nb"), lit(1L))))
      .groupBy(kc: _*)
      .agg(round(max(when(col("_na") === 0 || col("_nb") === 0, 1.0)
          .otherwise(col("_d"))), 6).as("ks"),
        max(col("_na")).as("n_a"), max(col("_nb")).as("n_b"))
  }
}
