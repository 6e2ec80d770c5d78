package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Broadcast-sized lookup tables the QA/QC checks consult. These are static reference
  * constants re-expressed as small DataFrames (broadcast-joined at use sites) instead of
  * the reference's in-code dicts / CSVs.
  */
object Lookups {

  /** North-America world-record bounds per canonical variable.
    * Values from `/root/reference/scripts/3_qaqc_data/qaqc_wholestation.py:720-798`.
    */
  final case class Bound(variable: String, lo: Double, hi: Double)

  val worldRecords: Seq[Bound] = {
    val prLike = Seq("pr" -> 656.0, "pr_1h" -> 656.0, "pr_24h" -> 656.0, "pr_localmid" -> 656.0)
    Seq(
      Bound("tas", 210.15, 329.92),
      Bound("tdps", 173.15, 329.85),
      Bound("tdps_derived", 173.15, 329.85),
      Bound("sfcWind", 0.0, 113.2),
      Bound("sfcWind_dir", 0.0, 360.0),
      Bound("psl", 87000.0, 108330.0),
      Bound("ps", 45960.0, 108330.0),
      Bound("ps_derived", 45960.0, 108330.0),
      Bound("ps_altimeter", 45960.0, 108330.0),
      Bound("rsds", -5.0, 1500.0),
      Bound("hurs", 0.0, 100.0),
      Bound("elevation", -100.0, 6210.0),
      Bound("pr_5min", 0.0, 31.8),
      Bound("pr_15min", 0.0, 25.4),
      Bound("accum_pr", 0.0, 10000.0)
    ) ++ prLike.map { case (v, hi) => Bound(v, 0.0, hi) }
  }

  /** Straight-repeat streak criteria keyed by (variable, inferred value resolution):
    * a streak is flagged when it exceeds `nValues` consecutive identical values OR spans
    * more than `nDays` days; wind/precip additionally require the repeated value to be
    * at least `minValue` (`/root/reference/scripts/3_qaqc_data/qaqc_unusual_streaks.py:45-122`).
    */
  final case class StreakCriterion(
      variable: String,
      resolution: Double,
      nValues: Int,
      nDays: Int,
      hourRepeatDays: Int,
      dayRepeatDays: Int,
      minValue: Option[Double]
  )

  val streakCriteria: Seq[StreakCriterion] = {
    // variable -> resolution -> (nValues, nDays)
    val straight: Map[String, Map[Double, (Int, Int)]] = {
      val tasLike = Map(1.0 -> (40, 14), 0.5 -> (30, 10), 0.1 -> (24, 7))
      val tdpsLike = Map(1.0 -> (80, 14), 0.5 -> (60, 10), 0.1 -> (48, 7))
      val psLike = Map(1.0 -> (120, 28), 0.5 -> (100, 21), 0.1 -> (72, 14))
      val prVars = Seq("pr", "pr_5min", "pr_15min", "pr_1h", "pr_24h", "pr_localmid")
      Map("tas" -> tasLike, "sfcWind" -> tasLike, "tdps" -> tdpsLike, "tdps_derived" -> tdpsLike,
        "psl" -> psLike, "ps" -> psLike, "ps_derived" -> psLike, "ps_altimeter" -> psLike) ++
        prVars.map(_ -> tasLike)
    }
    val hourRepeat = Map(1.0 -> 25, 0.5 -> 20, 0.1 -> 15) // same for all vars
    val dayRepeat = Map(1.0 -> 10, 0.5 -> 7, 0.1 -> 5) // same for all vars
    val minValue: Map[String, Map[Double, Double]] = Map(
      "sfcWind" -> Map(1.0 -> 1.0, 0.5 -> 0.5, 0.1 -> 1.0),
      "pr" -> Map(1.0 -> 2.0, 0.5 -> 2.0, 0.1 -> 2.0)
    )
    for {
      (v, byRes) <- straight.toSeq.sortBy(_._1)
      (res, (nVal, nDay)) <- byRes.toSeq.sortBy(_._1)
    } yield StreakCriterion(v, res, nVal, nDay, hourRepeat(res), dayRepeat(res),
      minValue.get(v).flatMap(_.get(res)))
  }

  /** Buoy disestablishment / adrift catalog
    * (`/root/reference/scripts/3_qaqc_data/qaqc_buoy_check.py:48-160`): the
    * reference hard-codes per-station cutoff branches; here one broadcast table
    * `(station, cutoff_ts, end_ts)` — rows past `cutoff_ts` (and, when `end_ts`
    * is set, not past it — the NDBC_46044 adrift window) get flag 2 on every
    * variable's flag column. "Potential issue" stations (`:61-73`) flag their
    * WHOLE record, expressed as an epoch-0 cutoff. Only MARITIME/NDBC stations
    * appear, so the check is network-gated by construction. */
  def buoyCutoffsDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val known = Seq(
      ("NDBC_46023", "2010-09-09 00:00:00", None), // disestablished 9/8/2010
      ("NDBC_46045", "1997-12-01 00:00:00", None), // disestablished 11/1997
      ("NDBC_46051", "1996-05-01 00:00:00", None), // disestablished 4/1996
      ("MARITIME_PTAC1", "2022-02-09 00:00:00", None), // disestablished 2/9/2022
      // adrift 5/2/2015 10:40Z – 5/3/2015 15:50Z (inclusive window)
      ("NDBC_46044", "2015-05-02 10:40:00", Some("2015-05-03 15:50:00")))
    val potential = Seq("NDBC_46290", "NDBC_46404", "NDBC_46212", "NDBC_46216",
      "NDBC_46220", "NDBC_46226", "NDBC_46227", "NDBC_46228", "NDBC_46230",
      "NDBC_46234", "NDBC_46245", "NDBC_46250")
      .map(s => (s, "1970-01-01 00:00:00", None: Option[String]))
    (known ++ potential).toDF("station", "cutoff", "end")
      .selectExpr("station", "CAST(cutoff AS TIMESTAMP) AS cutoff_ts",
        "CAST(end AS TIMESTAMP) AS end_ts")
  }

  /** Known-issue hour windows (`qaqc_buoy_check.py:133-146`): MARITIME_PTWW1's
    * wind is obstructed by ferry dockings 06:00–20:00 — flag 1 on the wind
    * variables only. */
  def buoyIssueHoursDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(("MARITIME_PTWW1", 6, 20)).toDF("station", "hour_lo", "hour_hi")
  }

  /** Flag-code → (owning check, meaning) decode table
    * (`/root/reference/data/era_qaqc_flag_meanings.csv:1-39`). */
  def flagMeaningsDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(
      (1, "buoy", "buoy drift"), (2, "buoy", "buoy missing position"),
      (3, "elev_infill", "elevation infilled from DEM"),
      (4, "elev_infill", "elevation infilled from neighbor"),
      (5, "elev_infill", "elevation infill failed"),
      (10, "logic", "negative precipitation"),
      (11, "world_record", "value outside world record range"),
      (12, "logic", "supersaturation (tdps > tas)"),
      (13, "logic", "dewpoint depression zero for 24h"),
      (14, "logic", "calm wind with nonzero direction"),
      (15, "logic", "nonzero wind with zero direction"),
      (16, "logic", "precip accumulation window A"),
      (17, "logic", "precip accumulation window B"),
      (18, "logic", "precip accumulation window C"),
      (19, "short_record", "station record too short (yellow)"),
      (20, "short_record", "variable record too short (yellow)"),
      (21, "distribution", "monthly median outside climatology"),
      (22, "distribution", "distribution gap"),
      (23, "spike", "spike"),
      (24, "frequent", "frequent value"), (25, "frequent", "frequent precip value"),
      (26, "clim_outlier", "climatological outlier"),
      (27, "streak", "straight repeat streak"),
      (28, "streak", "same-hour repeat streak"),
      (29, "streak", "whole-day replication streak"),
      (30, "clean", "VALLEYWATER infill"),
      (31, "precip_daily", "daily precip frequent value"),
      (32, "precip_daily", "daily precip outlier"),
      (33, "precip_daily", "daily precip distribution gap"),
      (34, "deaccumulate", "de-accumulation reset"),
      (35, "deaccumulate", "de-accumulation ringing"),
      (36, "elevation", "elevation internally inconsistent"),
      (37, "clean", "VALLEYWATER lone peak"),
      (38, "derived", "derived-variable synergistic flag")
    ).toDF("flag_value", "qaqc_function", "flag_meaning")
  }
}
