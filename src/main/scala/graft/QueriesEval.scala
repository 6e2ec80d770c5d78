package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.CaseStudyOps

/** Case-study evaluation query instantiations
  * (`notebooks/case_study_eval_utils.py`): event-window subsetting, flag
  * enumeration, record-coverage station search, and the event station subset —
  * run over `events`-derived obs/station fixtures, oracle-checked. The
  * `"alternative"` event path carries the windows (the named events predate the
  * synthetic data's 2024 span). */
object QueriesEval {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    SparkEntry.loadTableFanout(s, dir, name)

  /** The obs fixture's station id and its two QC flag columns over `events`:
    * tas_eraqc (25 above 300, 10 above 150) and pr_eraqc (31 on
    * event_id%97 == 0, else 34 on event_id%89 == 0). */
  private def station: Column = concat(lit("NET_"), col("user_id").cast("string")).as("station")
  private def tasFlag: Column =
    when(col("value") > 300, 25).when(col("value") > 150, 10).as("tas_eraqc")
  private def prFlag: Column =
    when(col("event_id") % 97 === 0, 31).when(col("event_id") % 89 === 0, 34).as("pr_eraqc")

  /** ev5/ev6/ev7: per-station flag counts of both flag columns. */
  private def stationFlagCounts(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.QaqcPipeline.flagCountReportByStation(
      t(s, dir, "events").select(station, tasFlag, prFlag), "station", Seq("tas_eraqc", "pr_eraqc"))

  /** ev5/ev6/ev7's oracle obs: `key` plus each flag as a string, 'no_flag' when unset. */
  private def flagObsCte(key: String): String =
    s"""obs AS (
           SELECT $key,
                  CASE WHEN value > 300 THEN '25'
                       WHEN value > 150 THEN '10' ELSE 'no_flag' END AS tflag,
                  CASE WHEN event_id % 97 = 0 THEN '31'
                       WHEN event_id % 89 = 0 THEN '34' ELSE 'no_flag' END AS pflag
           FROM events)"""

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // event_subset + flags_during_event: range predicate (pushes to the scan)
    // then one distinct over the flag column, null no-flag row included.
    "ev1_event_flags" -> ((s, dir) => {
      val obs = t(s, dir, "events").select(col("ts").as("time"), tasFlag)
      val sub = CaseStudyOps.eventSubset(obs, "time", "alternative",
        bufferDays = 2, altStart = Some("2024-01-10"), altEnd = Some("2024-01-12"))
      CaseStudyOps.flagsDuringEvent(sub, "tas")
        .select(col("flag").cast("long").as("flag"))
    }),

    // find_other_events: stations whose record covers the buffered window.
    "ev2_other_events" -> ((s, dir) => {
      val stns = t(s, dir, "events").groupBy(col("user_id"))
        .agg(min(col("ts")).as("start_date"), max(col("ts")).as("end_date"))
        .select(concat(lit("NET_"), col("user_id").cast("string")).as("era_id"),
          col("start_date"), col("end_date"))
      CaseStudyOps.findOtherEvents(stns, "2024-01-10", "2024-01-12", bufferDays = 2)
        .select(col("era_id"), unix_timestamp(col("start_date")).as("start_s"),
          unix_timestamp(col("end_date")).as("end_s"))
    }),

    // subset_eval_stns: event-type membership, SNOTEL notes exclusion, county
    // point-in-polygon (the s15 lattice-safe triangles).
    "ev3_eval_stns" -> ((s, dir) => {
      val uid = col("user_id")
      val u = col("uid")
      val stns = t(s, dir, "events").select(uid.as("uid")).distinct().select(
        concat(lit("NET_"), u.cast("string")).as("era_id"),
        (lit(32.0) + (u % 80) / lit(10.0)).as("latitude"),
        (lit(-124.0) + (u % 100) / lit(20.0)).as("longitude"),
        when(u % 4 === 0, "all").when(u % 4 === 1, "santa_ana_wind")
          .when(u % 4 === 2, "AR").otherwise(lit("none")).as("event_type"),
        when(u % 10 === 0, "manual check on end date").as("notes"))
      val counties = Seq(
        "CA" -> Seq((-125.0, 31.9), (-118.9, 31.9), (-125.0, 40.1)),
        "NV" -> Seq((-118.9, 31.9), (-125.0, 40.1), (-118.9, 40.1)))
      CaseStudyOps.subsetEvalStns(stns, "santa_ana_wind", counties, Seq("CA"))
        .select("era_id", "event_type")
    }),

    // id_all_flags: every _eraqc variable's distinct values in ONE stacked pass.
    "ev4_id_flags" -> ((s, dir) =>
      CaseStudyOps.idAllFlags(t(s, dir, "events").select(tasFlag, prFlag))),

    // data-confidence ranking: per-station flag counts in one stacked pass, then
    // qc_percent = 1 - no_flag/total — the notebook's ~30-min per-station CSV
    // loop as two aggregations.
    "ev5_station_confidence" -> ((s, dir) =>
      graft.pipeline.QaqcPipeline.stationConfidence(stationFlagCounts(s, dir))
        .select(col("station"), col("no_flag"), col("total_obs_count"),
          round(col("qc_percent"), 4).as("qc_percent"))),

    // per-(station, variable) flag-rate table off the same long-format counts —
    // the reference's ~37-min per-station CSV loop as one groupBy.
    "ev6_flag_rates" -> ((s, dir) =>
      graft.pipeline.QaqcPipeline.flagRateTable(stationFlagCounts(s, dir))
        .select(col("station"), col("variable"), col("total_flag"),
          col("total_obs_count"), round(col("flag_rate"), 4).as("flag_rate"))),

    // corpus-level flag-count roll-up with meanings join: never-fired flag 99
    // surfaces with count 0, unknown flags fill meaning "0" (fillna parity).
    "ev7_flag_count_rollup" -> ((s, dir) => {
      import s.implicits._
      val counts = stationFlagCounts(s, dir)
      val meanings = Seq((25, "unusual_large"), (31, "frequent_values"),
        (99, "never_fires")).toDF("flag_value", "qaqc_function")
      graft.pipeline.QaqcPipeline.sumFlagCounts(counts, meanings)
    }),

    // stations-over-time chart data: record spans (spread over several months by
    // uid-dependent offsets) clamp to the chart window, explode per month, one
    // count — the pandas period_range-per-row + pivot_table as a single agg.
    "ev8_stations_over_time" -> ((s, dir) => {
      val uid = col("user_id")
      val u = col("uid")
      val stns = SparkEntry.loadTable(s, dir, "events").groupBy(uid.as("uid"))
        .agg(min(col("ts")).cast("date").as("mn"),
          max(col("ts")).cast("date").as("mx"))
        .select(
          when(u % 2 === 0, "NETA").otherwise(lit("NETB")).as("network"),
          add_months(col("mn"), -(u % 5)).as("start_date"),
          add_months(col("mx"), u % 3).as("end_date"))
      graft.sources.StationLists.stationsOverTime(stns, "2023-10-01", "2024-03-15")
        .select(col("network"), col("month").cast("string").as("month"),
          col("n_stations"))
    }),

    // stations that set any flag in the event window, with their distinct flag
    // sets — the notebook's one-zarr-open-per-station loop as one scan + groupBy.
    "ev9_stations_with_flags" -> ((s, dir) => {
      val obs = t(s, dir, "events").select(station, col("ts").as("time"), tasFlag, prFlag)
      CaseStudyOps.stationsWithFlags(obs, "station",
          Seq("tas_eraqc", "pr_eraqc"), "time", "2024-01-10", "2024-01-12",
          bufferDays = 2)
        .select(col("station"), concat_ws(",", col("flags")).as("flags"))
    })
  )

  def oracles: Map[String, String] = Map(
    "ev1_event_flags" ->
      """SELECT DISTINCT CAST(CASE WHEN value > 300 THEN 25
                                   WHEN value > 150 THEN 10 END AS BIGINT) AS flag
         FROM events
         WHERE ts >= TIMESTAMP '2024-01-08 00:00:00'
           AND ts <= TIMESTAMP '2024-01-14 00:00:00'""",
    "ev2_other_events" ->
      """SELECT 'NET_' || CAST(user_id AS VARCHAR) AS era_id,
                CAST(epoch(date_trunc('second', min(ts))) AS BIGINT) AS start_s,
                CAST(epoch(date_trunc('second', max(ts))) AS BIGINT) AS end_s
         FROM events GROUP BY user_id
         HAVING min(ts) <= TIMESTAMP '2024-01-08 00:00:00'
            AND max(ts) >= TIMESTAMP '2024-01-14 00:00:00'""",
    "ev3_eval_stns" ->
      """WITH stns AS (
           SELECT DISTINCT user_id AS uid,
                  32.0 + (user_id % 80) / 10.0 AS latitude,
                  -124.0 + (user_id % 100) / 20.0 AS longitude
           FROM events)
         SELECT 'NET_' || CAST(uid AS VARCHAR) AS era_id,
                CASE WHEN uid % 4 = 0 THEN 'all'
                     WHEN uid % 4 = 1 THEN 'santa_ana_wind'
                     WHEN uid % 4 = 2 THEN 'AR' ELSE 'none' END AS event_type
         FROM stns
         WHERE uid % 4 IN (0, 1)
           AND uid % 10 <> 0
           AND latitude < 31.9 + 8.2 * (longitude + 118.9) / (-6.1)""",
    "ev4_id_flags" ->
      """SELECT DISTINCT 'tas_eraqc' AS variable,
                CAST(CAST(CASE WHEN value > 300 THEN 25
                               WHEN value > 150 THEN 10 END AS INTEGER) AS VARCHAR)
                  AS flag
         FROM events
         UNION
         SELECT DISTINCT 'pr_eraqc',
                CAST(CAST(CASE WHEN event_id % 97 = 0 THEN 31
                               WHEN event_id % 89 = 0 THEN 34 END AS INTEGER)
                     AS VARCHAR)
         FROM events""",
    "ev5_station_confidence" ->
      s"""WITH ${flagObsCte("'NET_' || CAST(user_id AS VARCHAR) AS station")},
         per AS (
           SELECT station,
                  SUM(CASE WHEN tflag = 'no_flag' THEN 1 ELSE 0 END) +
                    SUM(CASE WHEN pflag = 'no_flag' THEN 1 ELSE 0 END) AS no_flag,
                  2 * COUNT(*) AS total_obs_count
           FROM obs GROUP BY station)
         SELECT station, CAST(no_flag AS BIGINT) AS no_flag,
                CAST(total_obs_count AS BIGINT) AS total_obs_count,
                ROUND(1 - CAST(no_flag AS DOUBLE) / total_obs_count, 4) + 0
                  AS qc_percent
         FROM per""",
    "ev6_flag_rates" ->
      s"""WITH ${flagObsCte("'NET_' || CAST(user_id AS VARCHAR) AS station")},
         per AS (
           SELECT station, 'tas_eraqc' AS variable,
                  SUM(CASE WHEN tflag <> 'no_flag' THEN 1 ELSE 0 END) AS total_flag,
                  COUNT(*) AS total_obs_count
           FROM obs GROUP BY station
           UNION ALL
           SELECT station, 'pr_eraqc',
                  SUM(CASE WHEN pflag <> 'no_flag' THEN 1 ELSE 0 END),
                  COUNT(*)
           FROM obs GROUP BY station)
         SELECT station, variable, CAST(total_flag AS BIGINT) AS total_flag,
                total_obs_count,
                ROUND(CAST(total_flag AS DOUBLE) / total_obs_count, 4) + 0
                  AS flag_rate
         FROM per""",
    "ev7_flag_count_rollup" ->
      s"""WITH ${flagObsCte("user_id")},
         stacked AS (
           SELECT tflag AS flag FROM obs
           UNION ALL SELECT pflag FROM obs),
         counts AS (
           SELECT flag, COUNT(*) AS cnt FROM stacked GROUP BY flag
           UNION ALL
           SELECT 'total_obs_count', 2 * COUNT(*) FROM obs),
         m(flag_value, qaqc_function) AS (
           VALUES (25, 'unusual_large'), (31, 'frequent_values'),
                  (99, 'never_fires'))
         SELECT coalesce(c.flag, CAST(m.flag_value AS VARCHAR)) AS flag,
                CAST(coalesce(c.cnt, 0) AS BIGINT) AS cnt,
                coalesce(m.qaqc_function, '0') AS qaqc_function
         FROM counts c FULL OUTER JOIN m
           ON c.flag = CAST(m.flag_value AS VARCHAR)""",
    "ev8_stations_over_time" ->
      """WITH base AS (
           SELECT user_id AS uid, CAST(min(ts) AS DATE) AS mn,
                  CAST(max(ts) AS DATE) AS mx
           FROM events GROUP BY user_id),
         stns AS (
           SELECT CASE WHEN uid % 2 = 0 THEN 'NETA' ELSE 'NETB' END AS network,
                  mn - to_months(CAST(uid % 5 AS INTEGER)) AS sd,
                  mx + to_months(CAST(uid % 3 AS INTEGER)) AS ed
           FROM base),
         cl AS (
           SELECT network,
                  date_trunc('month', greatest(sd, DATE '2023-10-01')) AS s0,
                  date_trunc('month', least(ed, DATE '2024-03-15')) AS e0
           FROM stns),
         ex AS (
           SELECT network,
                  unnest(generate_series(CAST(s0 AS TIMESTAMP),
                                         CAST(e0 AS TIMESTAMP),
                                         INTERVAL 1 MONTH)) AS m
           FROM cl WHERE s0 <= e0)
         SELECT network, CAST(CAST(m AS DATE) AS VARCHAR) AS month,
                COUNT(*) AS n_stations
         FROM ex GROUP BY network, month""",
    "ev9_stations_with_flags" ->
      """WITH obs AS (
           SELECT 'NET_' || CAST(user_id AS VARCHAR) AS station,
                  CASE WHEN value > 300 THEN '25'
                       WHEN value > 150 THEN '10' END AS tflag,
                  CASE WHEN event_id % 97 = 0 THEN '31'
                       WHEN event_id % 89 = 0 THEN '34' END AS pflag
           FROM events
           WHERE ts >= TIMESTAMP '2024-01-08 00:00:00'
             AND ts <= TIMESTAMP '2024-01-14 00:00:00'),
         stacked AS (
           SELECT station, tflag AS flag FROM obs
           UNION ALL SELECT station, pflag FROM obs)
         SELECT station,
                string_agg(DISTINCT flag, ',' ORDER BY flag) AS flags
         FROM stacked WHERE flag IS NOT NULL
         GROUP BY station"""
  )
}
