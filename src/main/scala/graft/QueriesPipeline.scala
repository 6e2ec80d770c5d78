package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.{DeriveDag, MergePipeline, QaqcPipeline}

/** Batch D query instantiations — pipeline composition (SURVEY §3): the ordered,
  * flag-dependency-respecting QA/QC pipeline end-to-end, the merge pipeline's hourly
  * standardization (J7 — four resamples as one groupBy), and the derive DAG (§2.8).
  * The e2e oracle replicates each stage IN ORDER, with later stages filtered to
  * rows the earlier stages left unflagged — verifying the `grab_valid_obs`
  * dependency semantics, not just each operator in isolation. */
object QueriesPipeline {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    SparkEntry.loadTable(s, dir, name)

  private def r4(c: Column): Column = round(c, 4)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // §3.1 end-to-end: world-record -> negative -> spikes -> streaks over a quantized
    // events series with injected spikes; report = flag value counts (A10)
    "pipe1_qaqc_e2e" -> ((s, dir) => {
      val obs = t(s, dir, "events")
        .withColumn("v",
          floor(col("value") / 50) * 50 +
            when(pmod(col("event_id"), lit(199)) === 0, 3000.0).otherwise(0.0))
        .withColumn("v_eraqc", lit(null).cast("int"))
      val stages = QaqcPipeline.singleVariable("user_id", "ts", "v",
        lo = 25.0, hi = 5000.0, streakNValues = 2, streakNDays = 9999,
        streakMinSeqLen = 2)
      val out = QaqcPipeline.run(obs, stages)
      QaqcPipeline.flagCountReport(out, "v_eraqc")
    }),

    // J7: hourly standardization -- instant/sum/flag/const resamples in ONE groupBy
    "j7_hourly_standardize" -> ((s, dir) => {
      val e = t(s, dir, "events")
        .withColumn("v1", col("value"))
        .withColumn("v2", when(col("value") >= 5, col("value")))
        .withColumn("fl", when(col("value") > 400, "11").when(col("value") < 1, "19"))
        .withColumn("c", pmod(col("user_id"), lit(7)))
      MergePipeline.hourlyStandardize(e, Seq("user_id"), "ts",
          instantCols = Seq("v1"), sumCols = Seq("v2"), flagCols = Seq("fl"),
          constCols = Seq("c"), tiebreak = col("event_id"))
        .select(col("user_id"), unix_timestamp(col("hour_ts")).as("hour_s"),
          round(col("v1"), 4).as("v1"), round(col("v2"), 2).as("v2"),
          col("fl"), col("c"))
    }),

    // A10 hourly variant: comma-joined hourly flag strings exploded and counted
    "a10h_hourly_flag_counts" -> ((s, dir) => {
      val hourly = t(s, dir, "events")
        .withColumn("flag",
          when(col("value") > 400, "11").when(col("value") < 1, "19").cast("string"))
        .groupBy(col("user_id"), date_trunc("HOUR", col("ts")).as("hour_ts"))
        .agg(graft.ops.SeriesOps.flagConcat(col("flag")).as("flags"))
      QaqcPipeline.hourlyFlagCountReport(hourly, "flags")
    }),

    // Flags 12/14/15: cross-variable logic checks on constructed wind/temp columns
    "l1_logic_checks" -> ((s, dir) => {
      val e = t(s, dir, "events")
        .withColumn("tas", lit(280.0) + col("value") / 10)
        .withColumn("tdps", lit(275.0) + col("value") / 5) // exceeds tas when value > 100
        .withColumn("sfcWind", when(col("value") < 10, 0.0).otherwise(col("value") / 50))
        .withColumn("sfcWind_dir", (col("event_id") % 361).cast("double"))
        .withColumn("tdps_eraqc", lit(null).cast("int"))
        .withColumn("tas_eraqc", when(col("value") > 400, 11).cast("int"))
        .withColumn("sfcWind_dir_eraqc", lit(null).cast("int"))
        .withColumn("sfcWind_eraqc", lit(null).cast("int"))
      val step1 = graft.ops.LogicOps.flagSupersaturation(e, "tdps", "tas",
        "tdps_eraqc", col("tas_eraqc"))
      val step2 = graft.ops.LogicOps.flagCalmWindDir(step1, "sfcWind", "sfcWind_dir",
        "sfcWind_dir_eraqc", col("sfcWind_eraqc"))
      step2.groupBy(col("event_type"))
        .agg(sum(when(col("tdps_eraqc") === 12, 1).otherwise(0)).as("n_supersat"),
          sum(when(col("sfcWind_dir_eraqc") === 14, 1).otherwise(0)).as("n_calm_bad"),
          sum(when(col("sfcWind_dir_eraqc") === 15, 1).otherwise(0)).as("n_recoded"),
          sum(when(col("sfcWind_dir") === 360.0, 1).otherwise(0)).as("n_dir360"))
    }),

    // Flags 6-9: sensor-height gates (reference part 1b, inactive in its v2 stage
    // list — run here directly for catalog completeness, by no QAQC pipeline).
    // Stations synthesized so every code fires: user_id%5==0 with an
    // event_id%97 row -> thermometer height null somewhere (6); %5==1 -> 2.5m (7);
    // %3==0 with an event_id%101 row -> anemometer null (8); %3==1 -> FIRST-row
    // height 10.9m (9 — pins the reference's row-0 wind quirk, df[...][0]).
    "c6_sensor_heights" -> ((s, dir) => {
      val wmin = org.apache.spark.sql.expressions.Window.partitionBy(col("user_id"))
      val e = t(s, dir, "events")
        .withColumn("thermometer_height_m",
          when(col("user_id") % 5 === 0 && col("event_id") % 97 === 0,
            lit(null).cast("double"))
          .when(col("user_id") % 5 === 1, lit(2.5)).otherwise(lit(2.1)))
        .withColumn("anemometer_height_m",
          when(col("user_id") % 3 === 0,
            when(col("event_id") % 101 === 0, lit(null).cast("double"))
              .otherwise(lit(10.0)))
          .when(col("user_id") % 3 === 1,
            when(col("ts") === min(col("ts")).over(wmin), lit(10.9)).otherwise(lit(10.0)))
          .otherwise(lit(10.2)))
        .withColumn("tas_eraqc", lit(null).cast("int"))
        .withColumn("sfcWind_eraqc", lit(null).cast("int"))
        .withColumn("sfcWind_dir_eraqc", lit(null).cast("int"))
      graft.ops.CleanOps.sensorHeightFlags(e, "user_id", "ts")
        .groupBy(col("tas_eraqc").cast("long").as("t_flag"),
          col("sfcWind_eraqc").cast("long").as("w_flag"))
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("user_id")).as("n_stations"))
    }),

    // §2.8: derive DAG -- dewpoint derived from (tas, hurs) with synergistic flag 38
    "d8_derive_dag" -> ((s, dir) => {
      val obs = t(s, dir, "events")
        .withColumn("tas", lit(280.0) + col("value") / 10)
        .withColumn("hurs", lit(50.0) + col("value") / 20)
        .withColumn("tas_eraqc",
          when(col("value") > 400, 11).cast("int"))
      DeriveDag.deriveMissing(obs)
        .select(col("event_id"), r4(col("tdps_derived")).as("tdps_derived"),
          col("tdps_derived_eraqc").cast("long").as("syn_flag"))
    }),

    // §3 full-platform slice in ONE lazy plan: two per-network cleans (unit
    // conversion + sentinel nulling on different local conventions) -> station
    // concat (unionByName + P10 keep-first dedup) -> A16 world-record flag ->
    // J7 hourly standardization -> per-network report. The four reference
    // stages (2_clean / concat / 3_qaqc / 4_merge) move the corpus through ONE
    // shuffle: the explicit station repartition below satisfies both the
    // (station,time) dedup window's and the (station,hour) groupBy's clustering
    // (subset-key rule), so Catalyst inserts no further corpus exchange — only
    // the two network-cardinality report exchanges remain (plan-pinned in
    // AdopterJourneySpec).
    "pipe4_platform_slice" -> ((s, dir) => {
      val e = t(s, dir, "events")
      val rawA = e.select(
        concat(lit("CIMIS_"), col("user_id").cast("string")).as("station"),
        date_trunc("MINUTE", col("ts")).as("time"),
        when(col("event_id") % 97 === 0, lit(null).cast("double"))
          .otherwise(col("value") / 10 + 273.15).as("tas"),
        col("event_id").as("rec"))
      val rawB = e.filter(col("user_id") % 2 === 0).select(
        concat(lit("SNOTEL_"), col("user_id").cast("string")).as("station"),
        date_trunc("MINUTE", col("ts")).as("time"),
        (((col("value") / 5 + 32) - 32) * 5 / 9 + 273.15).as("tas"),
        (col("event_id") + 10000000L).as("rec"))
      val concatd = graft.ops.CleanOps.dedupKeepFirst(
          rawA.unionByName(rawB).repartition(col("station")),
          Seq("station", "time"), Seq(col("rec")))
        .withColumn("tas_eraqc", lit(null).cast("int"))
      val flagged = graft.ops.CleanOps.flagOutOfBounds(
        concatd, "tas", "tas_eraqc", 250.0, 320.0)
      val hourly = MergePipeline.hourlyStandardize(flagged, Seq("station"), "time",
        instantCols = Seq("tas"), sumCols = Nil, flagCols = Seq("tas_eraqc"),
        constCols = Nil, tiebreak = col("rec"))
      hourly.groupBy(split(col("station"), "_").getItem(0).as("network"))
        .agg(count(lit(1)).as("n_hours"),
          countDistinct(col("station")).as("n_stations"),
          sum(when(col("tas_eraqc") =!= "nan", 1L).otherwise(0L)).as("n_flagged_hours"),
          sum(round(col("tas"), 4).cast("decimal(18,4)")).cast("double").as("tas_sum"))
    })
  )

  def oracles: Map[String, String] = Map(
    // pipe4: each stage as a CTE in pipeline order — any_value(... ORDER BY)
    // skips NULL tas exactly like the engine's min_by-over-non-null first
    "pipe4_platform_slice" ->
      """WITH a AS (
           SELECT 'CIMIS_' || CAST(user_id AS VARCHAR) AS station,
                  date_trunc('minute', ts) AS time,
                  CASE WHEN event_id % 97 = 0 THEN NULL
                       ELSE value / 10 + 273.15 END AS tas,
                  event_id AS rec
           FROM events),
         b AS (
           SELECT 'SNOTEL_' || CAST(user_id AS VARCHAR) AS station,
                  date_trunc('minute', ts) AS time,
                  ((value / 5 + 32) - 32) * 5 / 9 + 273.15 AS tas,
                  event_id + 10000000 AS rec
           FROM events WHERE user_id % 2 = 0),
         u AS (SELECT * FROM a UNION ALL SELECT * FROM b),
         d AS (SELECT station, time, tas, rec,
                 row_number() OVER (PARTITION BY station, time ORDER BY rec) AS rn
               FROM u),
         f AS (SELECT station, time, tas, rec,
                 CASE WHEN tas < 250 OR tas > 320 THEN 11 END AS flag
               FROM d WHERE rn = 1),
         h AS (SELECT station, date_trunc('hour', time) AS hour_ts,
                 any_value(tas ORDER BY time, rec) AS tas,
                 CASE WHEN COUNT(DISTINCT flag) = 0 THEN 'nan'
                      ELSE array_to_string(
                        list_sort(list(DISTINCT CAST(flag AS VARCHAR))), ',')
                 END AS fl
               FROM f GROUP BY 1, 2)
         SELECT string_split(station, '_')[1] AS network,
                COUNT(*) AS n_hours,
                COUNT(DISTINCT station) AS n_stations,
                CAST(SUM(CASE WHEN fl <> 'nan' THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_flagged_hours,
                CAST(SUM(CAST(ROUND(tas, 4) AS DECIMAL(18,4))) AS DOUBLE) AS tas_sum
         FROM h GROUP BY 1""",
    "c6_sensor_heights" ->
      """WITH e AS (
           SELECT user_id, ts, event_id,
             CASE WHEN user_id % 5 = 0 AND event_id % 97 = 0 THEN NULL
                  WHEN user_id % 5 = 1 THEN 2.5 ELSE 2.1 END AS th,
             CASE WHEN user_id % 3 = 0 THEN
                    (CASE WHEN event_id % 101 = 0 THEN NULL ELSE 10.0 END)
                  WHEN user_id % 3 = 1 THEN
                    (CASE WHEN ts = MIN(ts) OVER (PARTITION BY user_id) THEN 10.9 ELSE 10.0 END)
                  ELSE 10.2 END AS anem
           FROM events),
         m AS (SELECT *, MIN(ts) OVER (PARTITION BY user_id) AS mts FROM e),
         st AS (
           SELECT user_id,
             MAX(CASE WHEN th IS NULL THEN 1 ELSE 0 END) AS t_miss,
             MAX(CASE WHEN th < 2 - 1.0/3 OR th > 2 + 1.0/3 THEN 1 ELSE 0 END) AS t_out,
             MAX(CASE WHEN anem IS NULL THEN 1 ELSE 0 END) AS a_miss,
             MAX(CASE WHEN ts = mts THEN anem END) AS first_a
           FROM m GROUP BY 1),
         fl AS (
           SELECT user_id,
             CASE WHEN t_miss = 1 THEN 6 WHEN t_out = 1 THEN 7 END AS tf,
             CASE WHEN a_miss = 1 THEN 8
                  WHEN first_a < 10 - 1.0/3 OR first_a > 10 + 1.0/3 THEN 9 END AS wf
           FROM st)
         SELECT CAST(tf AS BIGINT) AS t_flag, CAST(wf AS BIGINT) AS w_flag,
                COUNT(*) AS n_rows, COUNT(DISTINCT e.user_id) AS n_stations
         FROM e JOIN fl ON e.user_id = fl.user_id
         GROUP BY 1, 2""",
    "pipe1_qaqc_e2e" ->
      """WITH obs AS (
           SELECT user_id, ts,
                  floor(value/50)*50 + CASE WHEN event_id % 199 = 0 THEN 3000.0 ELSE 0.0 END AS v
           FROM events),
         -- stage 1: world-record bounds [25, 5000] -> flag 11
         s1 AS (SELECT user_id, ts, v,
                  CASE WHEN v < 25.0 OR v > 5000.0 THEN 11 END AS f
                FROM obs),
         -- stage 2: negative values -> flag 10 on valid rows (none here, by construction)
         s2 AS (SELECT user_id, ts, v,
                  CASE WHEN f IS NULL AND v < 0 THEN 10 ELSE f END AS f
                FROM s1),
         -- stage 3: spikes among rows still valid after stages 1-2
         val3 AS (SELECT user_id, ts, v FROM s2 WHERE f IS NULL OR f IN (19, 20)),
         d0 AS (SELECT user_id, ts,
                  COALESCE(v - lag(v) OVER (PARTITION BY user_id ORDER BY ts), 0) AS d,
                  COALESCE((epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)))/3600.0, 0) AS dt_h
                FROM val3),
         fdt AS (SELECT * FROM d0 WHERE dt_h > 0 AND dt_h <= 12),
         c AS (SELECT user_id, date_trunc('month', ts) AS ym, COUNT(*) AS n,
                  ceil(6*(quantile_cont(d, 0.75) - quantile_cont(d, 0.25))) AS crit
                FROM fdt GROUP BY 1, 2),
         j AS (SELECT fdt.user_id, fdt.ts, fdt.d, c.crit
                FROM fdt JOIN c ON fdt.user_id = c.user_id AND date_trunc('month', fdt.ts) = c.ym
                WHERE c.n > 50),
         x AS (SELECT user_id, ts, d, crit,
                  lag(d) OVER w AS dm1, lead(d, 1) OVER w AS dp1, lead(d, 2) OVER w AS dp2,
                  lead(d, 3) OVER w AS dp3, lead(d, 4) OVER w AS dp4,
                  lag(crit) OVER w AS cm1, lead(crit, 1) OVER w AS cp1, lead(crit, 2) OVER w AS cp2,
                  lead(crit, 3) OVER w AS cp3, lead(crit, 4) OVER w AS cp4,
                  (ABS(d) > crit) AS pot,
                  -- position guard (qaqc_unusual_large_jumps.py:171-173): no candidate at
                  -- the 2nd position of the filtered series or in its last four
                  (row_number() OVER w <> 2
                   AND COUNT(*) OVER (PARTITION BY user_id) - row_number() OVER w + 1 >= 5) AS pos_ok
                FROM j WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         sp AS (SELECT user_id, ts,
                  COALESCE(pot AND pos_ok AND sign(d) <> sign(dp2) AND abs(dm1) < 0.5*cm1 AND abs(dp1) < 0.5*cp1
                    AND abs(dp2) < 0.5*cp2 AND abs(dp3) > cp3 AND abs(dp4) < 0.5*cp4, false) AS s3a,
                  COALESCE(pot AND pos_ok AND sign(d) <> sign(dp2) AND abs(dm1) < 0.5*cm1 AND abs(dp1) < 0.5*cp1
                    AND abs(dp2) > cp2 AND abs(dp3) < 0.5*cp3, false) AS s2raw,
                  COALESCE(pot AND pos_ok AND sign(d) <> sign(dp1) AND abs(dm1) < cm1 AND abs(dp1) > cp1
                    AND abs(dp2) < cp2, false) AS s1raw
                FROM x),
         sp2 AS (SELECT user_id, ts, s3a, (s2raw AND NOT s3a) AS s2a,
                  (s1raw AND NOT s3a AND NOT (s2raw AND NOT s3a)) AS s1a
                FROM sp),
         spk AS (SELECT user_id, ts,
                  (s1a OR s2a OR s3a
                   OR COALESCE(lag(s2a) OVER w, false)
                   OR COALESCE(lag(s3a) OVER w, false)
                   OR COALESCE(lag(s3a, 2) OVER w, false)) AS spike
                FROM sp2 WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         s3 AS (SELECT s2.user_id, s2.ts, s2.v,
                  CASE WHEN s2.f IS NULL AND COALESCE(spk.spike, false) THEN 23 ELSE s2.f END AS f
                FROM s2 LEFT JOIN spk ON s2.user_id = spk.user_id AND s2.ts = spk.ts),
         -- stage 4: straight streaks among rows still valid after stages 1-3
         val4 AS (SELECT user_id, ts, v FROM s3 WHERE f IS NULL OR f IN (19, 20)),
         chg AS (SELECT user_id, ts, v,
                  CASE WHEN lag(v) OVER (PARTITION BY user_id ORDER BY ts) IS DISTINCT FROM v
                       THEN 1 ELSE 0 END AS chg
                FROM val4),
         sid AS (SELECT user_id, ts,
                  SUM(chg) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
                FROM chg),
         runs AS (SELECT user_id, sid, COUNT(*) AS len FROM sid GROUP BY 1, 2),
         stk AS (SELECT sid.user_id, sid.ts
                FROM sid JOIN runs ON sid.user_id = runs.user_id AND sid.sid = runs.sid
                WHERE runs.len >= 3),
         s4 AS (SELECT s3.user_id, s3.ts,
                  CASE WHEN s3.f IS NULL AND stk.ts IS NOT NULL THEN 28 ELSE s3.f END AS f
                FROM s3 LEFT JOIN stk ON s3.user_id = stk.user_id AND s3.ts = stk.ts)
         -- A10 report: per-flag counts + no_flag + total row
         SELECT COALESCE(CAST(f AS VARCHAR), 'no_flag') AS flag, COUNT(*) AS cnt FROM s4 GROUP BY 1
         UNION ALL
         SELECT 'total_obs_count', COUNT(*) FROM s4""",
    "j7_hourly_standardize" ->
      """SELECT user_id, CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_s,
           ROUND(any_value(v1 ORDER BY ts, event_id), 4) + 0 AS v1,
           ROUND(CASE WHEN COUNT(v2) = 0 THEN NULL ELSE SUM(v2) END, 2) + 0 AS v2,
           CASE WHEN COUNT(DISTINCT fl) = 0 THEN 'nan'
                ELSE array_to_string(list_sort(list(DISTINCT fl)), ',') END AS fl,
           any_value(c) AS c
         FROM (
           SELECT user_id, ts, event_id, value AS v1,
                  CASE WHEN value >= 5 THEN value END AS v2,
                  CASE WHEN value > 400 THEN '11' WHEN value < 1 THEN '19' END AS fl,
                  user_id % 7 AS c
           FROM events)
         GROUP BY 1, 2""",
    "a10h_hourly_flag_counts" ->
      """WITH hourly AS (
           SELECT user_id, date_trunc('hour', ts) AS hour_ts,
             CASE WHEN COUNT(DISTINCT f) = 0 THEN 'nan'
                  ELSE array_to_string(list_sort(list(DISTINCT f)), ',') END AS flags
           FROM (SELECT user_id, ts,
                        CASE WHEN value > 400 THEN '11' WHEN value < 1 THEN '19' END AS f
                 FROM events)
           GROUP BY 1, 2),
         ex AS (SELECT unnest(string_split(flags, ',')) AS flag FROM hourly)
         SELECT flag, COUNT(*) AS cnt FROM ex WHERE flag <> 'nan' GROUP BY flag""",
    "l1_logic_checks" ->
      """WITH e AS (
           SELECT event_type, value,
                  280.0 + value/10 AS tas, 275.0 + value/5 AS tdps,
                  CASE WHEN value < 10 THEN 0.0 ELSE value/50 END AS w,
                  CAST(event_id % 361 AS DOUBLE) AS wd,
                  CASE WHEN value > 400 THEN 11 END AS tasf
           FROM events),
         f AS (
           SELECT event_type,
                  CASE WHEN tasf IS NULL AND tdps > tas THEN 12 END AS tdpsf,
                  CASE WHEN w = 0 AND wd <> 0 THEN 14
                       WHEN w <> 0 AND wd = 0 THEN 15 END AS wdf,
                  CASE WHEN w <> 0 AND wd = 0 THEN 360.0 ELSE wd END AS wd2
           FROM e)
         SELECT event_type,
           CAST(SUM(CASE WHEN tdpsf = 12 THEN 1 ELSE 0 END) AS BIGINT) AS n_supersat,
           CAST(SUM(CASE WHEN wdf = 14 THEN 1 ELSE 0 END) AS BIGINT) AS n_calm_bad,
           CAST(SUM(CASE WHEN wdf = 15 THEN 1 ELSE 0 END) AS BIGINT) AS n_recoded,
           CAST(SUM(CASE WHEN wd2 = 360.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_dir360
         FROM f GROUP BY event_type""",
    "d8_derive_dag" ->
      """SELECT event_id,
           ROUND(1.0 / ((1.0/273.0) - 0.0001844 * ln(
             (0.611 * exp(5423.0 * ((1.0/273.0) - 1.0/(280.0 + value/10)))
              * (50.0 + value/20) / 100.0) / 0.611)), 4) AS tdps_derived,
           CASE WHEN value > 400 THEN 38 END AS syn_flag
         FROM events"""
  )
}
