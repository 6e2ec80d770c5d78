package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Case-study QA/QC evaluation utilities
  * (`/root/reference/notebooks/case_study_eval_utils.py`): the user-facing helpers
  * analysts run to check flag behavior against known extreme-weather events.
  *
  * Re-expressed Spark-first:
  *  - the event time subset is a plain range predicate on the time column, so it
  *    pushes to the parquet scan (PushedFilters) — at 100 TB an event window reads
  *    only the row groups whose min/max stats overlap the buffered window;
  *  - `id_all_flags`' per-variable `np.unique` loop becomes ONE pass: stack the
  *    `_eraqc` columns into (variable, flag) pairs and take a single distinct —
  *    one shuffle for the whole station, not one job per variable;
  *  - the geopandas county `overlay(intersection)` of `subset_eval_stns` is the
  *    same literal point-in-polygon `when`-chain as
  *    [[graft.sources.StationLists.assignState]] — no join, whole-stage codegen.
  */
object CaseStudyOps {

  /** Named V1 evaluation events (`event_info`, `case_study_eval_utils.py:410-463`). */
  val EventWindows: Map[String, (String, String)] = Map(
    "santa_ana_wind" -> (("2007-10-19", "2007-11-16")),
    "winter_storm" -> (("1990-12-20", "1990-12-24")),
    "AR" -> (("2017-01-16", "2017-01-20")),
    "mudslide" -> (("2018-01-05", "2018-01-09")),
    "aug2020_heatwave" -> (("2020-08-14", "2020-08-15")),
    "sep2020_heatwave" -> (("2020-09-05", "2020-09-08")),
    "aug2022_heatwave" -> (("2022-08-30", "2022-09-09")),
    "offshore_wind" -> (("2021-01-15", "2021-01-16")))

  /** Start/end dates for a named event, or the caller's own window via
    * `event = "alternative"` (`event_info`). */
  def eventWindow(event: String, altStart: Option[String] = None,
                  altEnd: Option[String] = None): (String, String) =
    if (event == "alternative") {
      require(altStart.isDefined && altEnd.isDefined,
        "event \"alternative\" requires altStart and altEnd (YYYY-MM-DD)")
      (altStart.get, altEnd.get)
    } else EventWindows.getOrElse(event,
      throw new IllegalArgumentException(
        s"unknown event $event (options: ${EventWindows.keys.mkString(", ")})"))

  /** Subset an obs frame to the event window ± `bufferDays`
    * (`event_subset`, `:465-510`): `start − buffer ≤ t ≤ end-midnight + buffer`,
    * both bounds at midnight exactly as the reference's `pd.Timestamp(date)`
    * arithmetic. A pure range predicate — pushes to the scan. */
  def eventSubset(df: DataFrame, timeCol: String, event: String,
                  bufferDays: Int = 7, altStart: Option[String] = None,
                  altEnd: Option[String] = None): DataFrame = {
    val (s0, e0) = eventWindow(event, altStart, altEnd)
    df.filter(
      col(timeCol) >= date_sub(to_date(lit(s0)), bufferDays).cast("timestamp") &&
        col(timeCol) <= date_add(to_date(lit(e0)), bufferDays).cast("timestamp"))
  }

  /** Distinct flags set on `<var>_eraqc` within an (already event-subset) frame
    * (`flags_during_event`, `:512-538`) — includes the null no-flag row, like the
    * reference's `unique()` keeps NaN. */
  def flagsDuringEvent(subset: DataFrame, varName: String): DataFrame =
    subset.select(col(varName + "_eraqc").as("flag")).distinct()

  /** All distinct values of every `_eraqc` variable as (variable, flag) rows
    * (`id_all_flags`, `:383-407`). The reference loops `np.unique` per variable;
    * here the flag columns stack into one exploded pass and a single distinct.
    * Flags are emitted as strings so heterogeneous flag column types stack. */
  def idAllFlags(df: DataFrame): DataFrame = {
    val qcVars = df.columns.filter(_.endsWith("_eraqc")).toSeq
    require(qcVars.nonEmpty,
      "Station has no eraqc variables -- please double check that this station " +
        "has completed QA/QC!")
    df.select(explode(array(qcVars.map(v =>
        struct(lit(v).as("variable"), col(v).cast("string").as("flag"))): _*))
        .as("vf"))
      .select(col("vf.variable").as("variable"), col("vf.flag").as("flag"))
      .distinct()
  }

  /** Stations whose record covers the buffered window
    * (`find_other_events`, `:540-597`): `start_date ≤ start − buffer` and
    * `end_date ≥ end + buffer`. */
  def findOtherEvents(stnList: DataFrame, eventStart: String, eventEnd: String,
                      bufferDays: Int = 14): DataFrame =
    stnList.filter(
      col("start_date") <=
        date_sub(to_date(lit(eventStart)), bufferDays).cast("timestamp") &&
        col("end_date") >=
          date_add(to_date(lit(eventEnd)), bufferDays).cast("timestamp"))

  /** Stations relevant to a named event (`subset_eval_stns`, `:162-380`):
    * `event_type ∈ {"all", event}`, minus `notes == "manual check on end date"`
    * rows (the SNOTEL 2100-end-date exclusion), spatially restricted to the
    * event's counties by point-in-polygon.
    *
    * Divergences (documented):
    *  - an empty `targetCounties` means NO spatial restriction (the reference's
    *    `isin([])` over the shapefile yields an empty overlay — a latent bug its
    *    own `# CA` comments contradict; we implement the stated intent);
    *  - `subsetN` takes the first N stations in md5(era_id) order instead of
    *    pandas' nondeterministic `.sample` — stable under reruns and corpus
    *    growth, the samp1 convention.
    *
    * @param counties `(county name, polygon)` rows of the census shapefile */
  def subsetEvalStns(stnList: DataFrame, event: String,
                     counties: Seq[(String, Seq[(Double, Double)])],
                     targetCounties: Seq[String],
                     specificStation: Option[String] = None,
                     subsetN: Option[Int] = None): DataFrame = {
    val eventStns = stnList.filter(col("event_type").isin("all", event) &&
      !(col("notes") <=> lit("manual check on end date")))
    specificStation match {
      case Some(id) => eventStns.filter(col("era_id") === id)
      case None =>
        val polys = counties.filter { case (n, _) => targetCounties.contains(n) }
        // a requested county absent from the shapefile restricts to the ones
        // that DO match; all-absent means nothing matches (reduceOption guards
        // the empty reduce), mirroring the reference's empty-overlay result
        val local =
          if (targetCounties.isEmpty) eventStns
          else eventStns.filter(polys.map { case (_, p) =>
            graft.expr.PointInPolygon.expr(col("longitude"), col("latitude"), p)
          }.reduceOption(_ || _).getOrElse(lit(false)))
        subsetN match {
          case Some(n) => local.withColumn("_h", md5(col("era_id")))
            .orderBy("_h").limit(n).drop("_h")
          case None => local
        }
    }
  }

  /** Stations that set any flag in a time window
    * (`notebooks/find_station_flags.ipynb`, `find_flags` + its per-station tqdm
    * loop): subset the obs to the window, stack every `_eraqc` column, keep
    * non-null flags, and collect each station's distinct flag set — the
    * notebook's one-xarray-open-per-station loop as a single filtered scan +
    * one groupBy. Callers wanting the notebook's county restriction first filter
    * the station dimension with [[subsetEvalStns]] / a semi-join. */
  def stationsWithFlags(obs: DataFrame, stationCol: String, flagCols: Seq[String],
                        timeCol: String, start: String, end: String,
                        bufferDays: Int = 0): DataFrame = {
    val sub = eventSubset(obs, timeCol, "alternative", bufferDays,
      Some(start), Some(end))
    sub.select(col(stationCol).as("station"),
        explode(array(flagCols.map(c => col(c).cast("string")): _*)).as("flag"))
      .filter(col("flag").isNotNull)
      .groupBy("station")
      .agg(sort_array(collect_set(col("flag"))).as("flags"))
  }
}
