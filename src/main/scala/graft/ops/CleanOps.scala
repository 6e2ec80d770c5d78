package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Projection / filter / predicate operators (SURVEY.md §2.2, P1–P11).
  * All schema-parameterized, partition-key-agnostic: nothing here assumes
  * single-station cardinality, so each op scales by its grouping key alone.
  */
object CleanOps {

  /** P1 — missing-sentinel standardization: null out values matching per-column sentinel
    * codes (`/root/reference/scripts/3_qaqc_data/qaqc_wholestation.py:113-196`).
    * Sentinels are a tiny static map → generated `when(isin)` per column, no join, stays
    * in whole-stage codegen. */
  def nullSentinels(df: DataFrame, sentinels: Map[String, Seq[Double]]): DataFrame =
    sentinels.foldLeft(df) { case (d, (col0, vals)) =>
      d.withColumn(col0, when(col(col0).isin(vals: _*), lit(null)).otherwise(col(col0)))
    }

  /** P2 — time-bounds filter (`/root/reference/scripts/2_clean_data/ASOSAWOS_clean.py:600-603`). */
  def timeBounds(df: DataFrame, timeCol: String, lo: String, hi: String): DataFrame =
    df.filter(col(timeCol) >= lit(lo).cast("timestamp") && col(timeCol) < lit(hi).cast("timestamp"))

  /** P3 — bounding-box geo filter (`ASOSAWOS_clean.py:173-281`). */
  def bboxFilter(df: DataFrame, latCol: String, lonCol: String,
                 latLo: Double, latHi: Double, lonLo: Double, lonHi: Double): DataFrame =
    df.filter(col(latCol).between(latLo, latHi) && col(lonCol).between(lonLo, lonHi))

  /** P4 — point-in-polygon membership (ray casting) for stations passing the bbox
    * prefilter (`qaqc_wholestation.py:231-267`), via the native Catalyst expression
    * (`graft.expr.PointInPolygon`, whole-stage codegen'd), applied AFTER
    * [[bboxFilter]] so the scan-level pruning still happens; call on the stations dim
    * table (15k rows), never per-observation. */
  def filterInPolygon(df: DataFrame, xCol: String, yCol: String,
                      poly: Seq[(Double, Double)]): DataFrame = {
    val xs = poly.map(_._1); val ys = poly.map(_._2)
    bboxFilter(df, xCol, yCol, xs.min, xs.max, ys.min, ys.max)
      .filter(graft.expr.PointInPolygon.expr(col(xCol), col(yCol), poly))
  }

  /** Flags 1/2 — buoy checks (`/root/reference/scripts/3_qaqc_data/qaqc_buoy_check.py:60-170`):
    * the reference hand-codes disestablishment cutoffs per station; here they are a
    * broadcast lookup `(station, cutoff_ts[, end_ts])` and every observation past its
    * station's cutoff — and, when `end_ts` is present, not past `end_ts` (the
    * NDBC_46044 adrift window, `:121-131`) — is flagged 2 on all variables' flag
    * columns. [[graft.core.Lookups.buoyCutoffsDf]] carries the reference's catalog. */
  def flagDisestablished(df: DataFrame, stationCol: String, timeCol: String,
                         flagColNames: Seq[String], cutoffs: DataFrame): DataFrame = {
    val cut = if (cutoffs.columns.contains("end_ts")) cutoffs
      else cutoffs.withColumn("end_ts", lit(null).cast("timestamp"))
    val joined = df.join(broadcast(cut), Seq(stationCol), "left")
    val bad = col("cutoff_ts").isNotNull && col(timeCol) >= col("cutoff_ts") &&
      (col("end_ts").isNull || col(timeCol) <= col("end_ts"))
    flagColNames.foldLeft(joined) { (d, f) =>
      d.withColumn(f,
        when(bad && validObs(col(f)), lit(graft.core.Flags.BuoyMissingPosition).cast("int"))
          .otherwise(col(f)))
    }.drop("cutoff_ts", "end_ts")
  }

  /** Flag 1 — known-issue hour-of-day window (`qaqc_buoy_check.py:133-145`: e.g. wind
    * obstructed by ferry dockings 06:00–20:00 at one pier station). The reference
    * hard-codes station/hours/variables; here they are a broadcast lookup
    * `(station, hour_lo, hour_hi)` and rows of affected stations inside the local-hour
    * window get flag 1 on the supplied variables' flag columns. */
  def flagKnownIssueHours(df: DataFrame, stationCol: String, timeCol: String,
                          flagColNames: Seq[String], issues: DataFrame): DataFrame = {
    val joined = df.join(broadcast(issues), Seq(stationCol), "left")
    val bad = col("hour_lo").isNotNull &&
      hour(col(timeCol)).between(col("hour_lo"), col("hour_hi"))
    flagColNames.foldLeft(joined) { (d, f) =>
      d.withColumn(f,
        when(bad && validObs(col(f)), lit(graft.core.Flags.BuoyDrift).cast("int"))
          .otherwise(col(f)))
    }.drop("hour_lo", "hour_hi")
  }

  /** Flags 3/4/5 — elevation infill (`qaqc_wholestation.py:395-470`), the external
    * USGS DEM call replaced by a broadcast static table `(keys..., dem_elev)`:
    *  - some rows null → fill with the station's first non-null elevation (flag 4);
    *  - all rows null → DEM value (flag 3); DEM miss (ocean) → 0.0 (flag 5).
    * Window aggregates over the station key — no driver loop, no HTTP. */
  def elevInfill(df: DataFrame, keys: Seq[String], timeCol: String, elevCol: String,
                 flagColName: String, dem: DataFrame): DataFrame = {
    import graft.core.Flags
    val w = Window.partitionBy(keys.map(col): _*)
    val wAll = Window.partitionBy(keys.map(col): _*).orderBy(col(timeCol))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val anyNonNull = max(col(elevCol).isNotNull).over(w)
    // earliest non-null by time: deterministic, unlike an unordered first()
    val stationFill = first(col(elevCol), ignoreNulls = true).over(wAll)
    val joined = df.join(broadcast(dem), keys, "left")
    joined
      .withColumn(flagColName,
        when(col(elevCol).isNotNull, col(flagColName))
          .when(anyNonNull, lit(Flags.ElevInfillNeighbor).cast("int"))
          .when(col("dem_elev").isNotNull, lit(Flags.ElevInfillDem).cast("int"))
          .otherwise(lit(Flags.ElevInfillFailed).cast("int")))
      .withColumn(elevCol,
        when(col(elevCol).isNotNull, col(elevCol))
          .when(anyNonNull, stationFill)
          .when(col("dem_elev").isNotNull, col("dem_elev"))
          .otherwise(lit(0.0)))
      .drop("dem_elev")
  }

  /** P5 — whole-partition gate: drop groups where a column is null for every row
    * (`qaqc_wholestation.py:199-228`). One shuffle on `keys` for the survivor set;
    * the semi-join back is left to AQE (the survivor set is nearly all groups in
    * practice — an unconditional broadcast would ship an unbounded key set to every
    * executor at 100 TB). */
  def dropGroupsAllNull(df: DataFrame, keys: Seq[String], valueCol: String): DataFrame = {
    val survivors = df.groupBy(keys.map(col): _*)
      .agg(max(col(valueCol).isNotNull).as("_any"))
      .filter(col("_any")).drop("_any")
    df.join(survivors, keys, "left_semi")
  }

  /** P9 — flag-aware valid-obs predicate (`/root/reference/scripts/3_qaqc_data/qaqc_utils.py:326-378`):
    * a row is valid for `variable` when unflagged, or only yellow-flagged (19/20) unless
    * `dropYellow`. Composable into any downstream check's filter. */
  def validObs(flagCol: Column, dropYellow: Boolean = false): Column =
    if (dropYellow) flagCol.isNull
    else flagCol.isNull || flagCol.isin(graft.core.Flags.Yellow: _*)

  /** P10 — keep-first time de-duplication within (keys) ordered by `order`
    * (`QAQC_pipeline.py:486-487`). `row_number` (not dropDuplicates) so the survivor is
    * deterministic under any partitioning. */
  def dedupKeepFirst(df: DataFrame, keys: Seq[String], order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    df.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1).drop("_rn")
  }

  /** P11 — per-group conditional unit repair: if the group mean of `valueCol` is below
    * `threshold`, rescale the whole group by `factor` (hPa→Pa mis-clean repair,
    * `/root/reference/scripts/3_qaqc_data/qaqc_logic_checks.py:376-414`).
    * Group mean via window avg — no join, one shuffle on `keys`. */
  def conditionalRescale(df: DataFrame, keys: Seq[String], valueCol: String,
                         threshold: Double, factor: Double): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
    df.withColumn(valueCol,
      when(avg(col(valueCol)).over(w) < threshold, col(valueCol) * factor)
        .otherwise(col(valueCol)))
  }

  /** A16 analog (P-side application) — world-record bounds flag: set `flagCol` = 11 where
    * the value escapes [lo, hi], respecting already-set flags
    * (`qaqc_wholestation.py:689-842`). Bounds are compile-time constants per variable →
    * literal predicates, zero join. */
  def flagOutOfBounds(df: DataFrame, valueCol: String, flagColName: String,
                      lo: Double, hi: Double, flag: Int = graft.core.Flags.WorldRecord): DataFrame = {
    val existing = col(flagColName)
    df.withColumn(flagColName,
      when(validObs(existing) && (col(valueCol) < lo || col(valueCol) > hi),
        lit(flag).cast("int")).otherwise(existing))
  }

  /** Flags 6/7/8/9 — sensor-height gates (`qaqc_wholestation.py:579-686`): per
    * station, if thermometer height is missing anywhere the station's `tas_eraqc`
    * becomes 6; present but anywhere outside 2 m ± 1/3 m → 7. Anemometer: missing
    * anywhere → `sfcWind_eraqc` = `sfcWind_dir_eraqc` = 8; present but the FIRST
    * row's height outside 10 m ± 1/3 m → 9 (the reference reads only row 0 for wind
    * — `df["anemometer_height_m"][0]` at `:674` — while the temperature check scans
    * every row; mirrored exactly). The reference assigns the WHOLE column, wiping
    * prior flags for the station — mirrored (these run first in part 1b).
    *
    * INACTIVE IN THE REFERENCE'S V2 PIPELINE (both functions are defined but
    * commented out of the stage list — many networks don't report sensor heights);
    * shipped for catalog completeness behind QaqcPipeline's `sensorHeights = false`
    * default. One window shuffle on station; per-station state is four scalars. */
  def sensorHeightFlags(df: DataFrame, stationCol: String = "station",
                        timeCol: String = "time"): DataFrame = {
    val w = Window.partitionBy(col(stationCol))
    val wt = w.orderBy(col(timeCol))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val tMissing = max(when(col("thermometer_height_m").isNull, 1).otherwise(0)).over(w) === 1
    val tOutside = max(when(col("thermometer_height_m") < 2.0 - 1.0 / 3 ||
      col("thermometer_height_m") > 2.0 + 1.0 / 3, 1).otherwise(0)).over(w) === 1
    val aMissing = max(when(col("anemometer_height_m").isNull, 1).otherwise(0)).over(w) === 1
    val firstA = first(col("anemometer_height_m")).over(wt)
    val aOutside = firstA < 10.0 - 1.0 / 3 || firstA > 10.0 + 1.0 / 3
    def windFlag(existing: Column): Column =
      when(aMissing, lit(graft.core.Flags.AnemometerHeightMissing))
        .when(aOutside, lit(graft.core.Flags.AnemometerHeightNot10m))
        .otherwise(existing).cast("int")
    df.withColumn("tas_eraqc",
        when(tMissing, lit(graft.core.Flags.ThermometerHeightMissing))
          .when(tOutside, lit(graft.core.Flags.ThermometerHeightNot2m))
          .otherwise(col("tas_eraqc")).cast("int"))
      .withColumn("sfcWind_eraqc", windFlag(col("sfcWind_eraqc")))
      .withColumn("sfcWind_dir_eraqc", windFlag(col("sfcWind_dir_eraqc")))
  }

  /** Flag 30 — fixed-cadence grid infill (`VALLEYWATER_clean.py:117-134`): resample
    * each key's record onto a regular `cadence` grid from its first to last timestamp;
    * timestamps absent from the record appear as new rows with null observations and
    * `flagColName = 30`, so downstream stages can trace the infill. Grid generation is
    * one agg (min/max per key) + `explode(sequence(...))` — a generator, no driver
    * loop; the join is co-partitioned on the same keys. Span is bounded per key (years
    * x cadence), never by table size. */
  def infillFixedCadence(df: DataFrame, keys: Seq[String], timeCol: String,
                         flagColName: String, cadence: String = "15 minutes",
                         flag: Int = graft.core.Flags.ValleywaterInfill): DataFrame = {
    val grid = df.groupBy(keys.map(col): _*)
      .agg(min(col(timeCol)).as("_t0"), max(col(timeCol)).as("_t1"))
      .select((keys.map(col) :+
        explode(sequence(col("_t0"), col("_t1"), expr(s"INTERVAL $cadence"))).as(timeCol)): _*)
    val existing = if (df.columns.contains(flagColName)) col(flagColName)
      else lit(null).cast("int")
    grid.join(df.withColumn("_obs", lit(true)), keys :+ timeCol, "left")
      .withColumn(flagColName,
        when(col("_obs").isNull, lit(flag).cast("int")).otherwise(existing))
      .drop("_obs")
  }
}
