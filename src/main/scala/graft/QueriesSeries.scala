package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops._

/** Batch B query instantiations — the window/time-series operator family (spikes,
  * streaks, de-accumulation, interpolation, distribution gaps), each with an exact
  * DuckDB window-SQL oracle. */
object QueriesSeries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    SparkEntry.loadTable(s, dir, name)

  private def dsum(c: Column): Column = sum(c.cast("decimal(18,2)")).cast("double")
  private def r4(c: Column): Column = round(c, 4)
  private def tS(c: Column): Column = unix_timestamp(c) // floor-to-second epoch

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // W3: straight-repeat streaks on a quantized value (SURVEY §2.5 W3)
    "w3_straight_repeats" -> ((s, dir) => {
      val e = t(s, dir, "events").withColumn("v", floor(col("value") / 50))
      StreakOps.straightRepeats(e, Seq("user_id"), "ts", "v",
          nValues = 2, nDays = 9999, minSeqLen = 2)
        .filter(col("straight_streak"))
        .select(col("user_id"), tS(col("ts")).as("t_s"))
    }),

    // W4: same-hour repeat streaks (SURVEY §2.5 W4)
    "w4_same_hour_repeats" -> ((s, dir) => {
      val e = t(s, dir, "events").withColumn("vb", floor(col("value") / 100))
      StreakOps.sameHourRepeats(e, Seq("event_type"), "ts", "vb", clusterThreshold = 15)
        .filter(col("hour_streak"))
        .select(col("event_type"), tS(col("ts")).as("t_s"))
    }),

    // W5: whole-day replication over a deterministic hourly profile (SURVEY §2.5 W5)
    "w5_whole_day_repeats" -> ((s, dir) => {
      val e = t(s, dir, "events")
        .withColumn("g", lit(0))
        .withColumn("vh", (hour(col("ts")) % 6).cast("double"))
      StreakOps.wholeDayRepeatDates(e, Seq("g"), "ts", "vh", threshold = 7)
        .select(col("_date").cast("string").as("day"))
    }),

    // W6: spike detection with injected spikes (SURVEY §2.5 W6)
    "w6_spikes" -> ((s, dir) => {
      val e = t(s, dir, "events")
        .withColumn("v", col("value") + when(pmod(col("event_id"), lit(199)) === 0, 2000.0).otherwise(0.0))
      SpikeOps.detectSpikes(e, Seq("user_id"), "ts", "v")
        .filter(col("spike"))
        .select(col("user_id"), tS(col("ts")).as("t_s"))
    }),

    // W7: constant-ahead range window (SURVEY §2.5 W7)
    "w7_constant_ahead" -> ((s, dir) => {
      val e = t(s, dir, "events")
        .withColumn("dd", when(col("value") < 450, 0.0).otherwise(1.0))
      SeriesOps.constantAheadFlag(e, Seq("user_id"), "ts", "dd", 7200L, "const2h")
        .groupBy(col("user_id"))
        .agg(sum(when(col("const2h"), 1).otherwise(0)).as("n_const"))
    }),

    // W8: ringing detector with auto threshold (SURVEY §2.5 W8)
    "w8_ringing" -> ((s, dir) => {
      val d = SeriesOps.withDiffs(t(s, dir, "events"), Seq("user_id"), "ts", "value")
      SeriesOps.withRinging(d, Seq("user_id"), "ts", "diff")
        .groupBy(col("user_id"))
        .agg(sum(when(col("ringing"), 1).otherwise(0)).as("n_ringing"))
    }),

    // W9: de-accumulation of a synthetic cumulative gauge with resets (SURVEY §2.5 W9)
    "w9_deaccumulate" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"))
        .rowsBetween(Window.unboundedPreceding, 0)
      val e = t(s, dir, "events")
        .withColumn("acc", pmod(sum(col("value")).over(w), lit(10000.0)))
      SeriesOps.deaccumulate(e, Seq("user_id"), "ts", "acc",
          resetThreshold = 50.0, ringingThreshold = Some(10.0))
        .groupBy(col("user_id"))
        .agg(count(col("deacc")).as("n_deacc"),
          dsum(col("deacc")).as("total_deacc"),
          sum(col("deacc_flagged").cast("int")).as("n_flagged"))
    }),

    // Flags 34/35 stage: autocorr-gated de-accumulation (`qaqc_deaccumulate.py:296-365`).
    // Even users get a rising gauge with one small negative glitch at rn=10 (flag 34
    // on that row, provenance 35 on the whole accum column); odd users alternate
    // high/low (negative autocorr) and pass through untouched
    "c34_deaccum_stage" -> ((s, dir) => {
      val e = t(s, dir, "events")
      val rn = row_number().over(Window.partitionBy(col("user_id")).orderBy(col("ts")))
      val v = when(col("user_id") % 2 === 0,
          rn * 3.0 + 5.0 - when(rn === 10, 4.0).otherwise(0.0))
        .otherwise(lit(5.0) + (rn % 2) * 50.0 + pmod(col("event_id"), lit(5)))
      val obs = e.select(col("user_id"), col("event_id"), col("ts"), v.as("pr"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      SeriesOps.deaccumulatePrecipStage(obs, Seq("user_id"), "ts", "pr")
        .select(col("user_id"), col("event_id"),
          unix_timestamp(col("ts")).as("time_s"),
          round(col("pr"), 4).as("pr"), col("pr_eraqc").as("flag"),
          round(col("accum_pr"), 4).as("accum"),
          col("accum_pr_eraqc").as("accum_flag"))
    }),

    // W12: linear interpolation of interior gaps (SURVEY §2.5 W12)
    "w12_interpolate" -> ((s, dir) => {
      val e = t(s, dir, "events")
        .withColumn("v", when(col("value").between(100, 400), lit(null)).otherwise(col("value")))
      SeriesOps.interpolateLinear(e, Seq("user_id"), "ts", "v", "vi")
        .groupBy(col("user_id"))
        .agg(count(col("vi")).as("n_filled"),
          sum(round(col("vi"), 2).cast("decimal(18,2)")).cast("double").as("total"))
    }),

    // J9: pairwise-diff outlier on daily totals (SURVEY §2.3 J9)
    "j9_pairwise_outlier" -> ((s, dir) => {
      val daily = t(s, dir, "events")
        .groupBy(col("user_id"), to_date(col("ts")).cast("string").as("day"))
        .agg(dsum(col("value")).as("total"))
      JoinOps.pairwiseDiffOutlier(daily, Seq("user_id"), "total", threshold = 300.0)
        .filter(col("outlier"))
        .select(col("user_id"), col("day"), round(col("total"), 2).as("total"))
    }),

    // A7: standardized anomaly vs winsorized climatology (SURVEY §2.4 A7)
    "a7_std_anomaly" -> ((s, dir) => {
      val e = t(s, dir, "events").withColumn("hr", hour(col("ts")))
      AggOps.standardizedAnomaly(e, Seq("event_type", "hr"), "value", "std_anom")
        .groupBy(col("event_type"), col("hr"))
        .agg(r4(expr("percentile(std_anom, 0.5)")).as("med_std"))
    }),

    // A9: p95 daily-total outlier days (SURVEY §2.4 A9)
    "a9_daily_p95" -> ((s, dir) => {
      GapOps.dailyPrecipOutlierDates(t(s, dir, "events"), Seq("user_id"), "ts", "value",
          factor = 1.02, recordCap = 1e9)
        .select(col("user_id"), col("_date").cast("string").as("day"),
          round(col("_total"), 2).as("total"))
    }),

    // A13: value-resolution inference (SURVEY §2.4 A13)
    "a13_resolution" -> ((s, dir) => {
      val e = t(s, dir, "events").withColumn("v", round(col("value"), 0))
      AggOps.inferResolution(e, Seq("user_id"), "v")
        .select(col("user_id"), col("resolution"))
    }),

    // A14: time-delta frequency inference on hour-truncated stamps (SURVEY §2.4 A14)
    "a14_time_freqs" -> ((s, dir) => {
      val e = t(s, dir, "events").withColumn("tsh", date_trunc("HOUR", col("ts")))
      AggOps.timeDeltaFreqs(e, Seq("user_id"), "tsh", minFrac = 0.05)
        .select(col("user_id"), col("delta_s"), col("count").as("cnt"), r4(col("frac")).as("frac"))
    }),

    // A17: span-consistency minority vote with row flags (SURVEY §2.4 A17)
    "a17_span_consistency" -> ((s, dir) => {
      val e = t(s, dir, "events")
        .withColumn("elev", (floor(col("value") / 100) * 100).cast("double"))
        .withColumn("elev_eraqc", lit(null).cast("int"))
      AggOps.flagSpanInconsistent(e, Seq("user_id"), "elev", "elev_eraqc")
        .groupBy(col("user_id"))
        .agg(sum(when(col("elev_eraqc") === 36, 1).otherwise(0)).as("n_flagged"))
    }),

    // Flags 24/25 composed: frequent-value flag over an injected spike value
    "a5f_frequent_flag" -> ((s, dir) => {
      val e = t(s, dir, "events")
        .withColumn("v", when(col("event_id") % 3 === 0, 42.2).otherwise(col("value")))
      AggOps.flagFrequentValues(e, Seq("event_type"), "ts", "v",
          origin = 0.0, width = 1.0)
        .groupBy(col("event_type"))
        .agg(sum(when(col("frequent_value"), 1).otherwise(0)).as("n_flagged"),
          count(lit(1)).as("n"))
    }),

    // §7.3 composed: the full climatological-outlier chain (A6 winsorized climatology
    // -> A7 standardized anomaly -> W12 interpolation -> W11 Butterworth -> W13
    // Gaussian gap scan, flag 26). Rows-only: the IIR stage has no SQL oracle; each
    // component is separately oracle- or test-verified.
    "clim1_outlier_chain" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      // sustained level shift late in the record: survives the one-month low-pass
      // (a spike would not) and opens a distribution gap for the scan to find
      // hourly cadence first (the reference's obs granularity): the chain then runs
      // over ~720 points per series instead of re-evaluating heavy windows on raw rows
      // the hourly aggregate (under the Butterworth join-back) and the low-passed
      // series are each consumed twice; pinning them stops the chain re-deriving the
      // whole upstream plan per consumer
      val e = t(s, dir, "events")
        .withColumn("value",
          col("value") + when(col("event_type") === "click" &&
            col("ts") >= "2024-01-26", 5000.0).otherwise(0.0))
        .groupBy(col("event_type"), date_trunc("HOUR", col("ts")).as("tsh"))
        .agg(avg(col("value")).as("v"))
        .withColumn("hr", hour(col("tsh")))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // eager population (r15, the mm10 lesson): the low-pass's two sides are
      // concurrent AQE jobs — lazy, both re-ran the hourly agg
      e.count()
      val std = AggOps.standardizedAnomaly(e, Seq("event_type", "hr"), "v", "std_anom")
      val interp = SeriesOps.interpolateLinear(std, Seq("event_type"), "tsh", "std_anom", "std_i")
        .withColumn("freq_s", lit(3600.0))
      val lp = graft.kernels.Butterworth.lowPass(interp, Seq("event_type"), "tsh",
          "std_i", "freq_s", "lp")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      lp.count() // eager: the gap scan consumes lp from concurrent jobs too
      graft.kernels.GaussGapScan.flagged(lp, Seq("event_type", "hr"), "tsh", "lp")
        .groupBy(col("event_type"), col("hr")).agg(count(lit(1)).as("n_flagged"))
    }),

    // W11: Butterworth low-pass kernel, oracle-exact: the first-order IIR is a
    // deterministic sequential fold, so a DuckDB recursive CTE replays it bit-for-bit
    // when the coefficients are inlined as round-trip doubles and the hourly mean is
    // an order-independent decimal sum (SURVEY §2.5 W11)
    "w11_butterworth" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val e = t(s, dir, "events")
        .withColumn("tsh", date_trunc("HOUR", col("ts")))
        .groupBy(col("user_id"), col("tsh"))
        .agg((sum(col("value").cast("decimal(18,6)")).cast("double")
          / count(col("value")).cast("double")).as("v"))
        .withColumn("freq_s", lit(3600.0))
      graft.kernels.Butterworth.lowPass(e, Seq("user_id"), "tsh", "v", "freq_s", "lp")
        .groupBy(col("user_id"))
        .agg(count(col("lp")).as("n"), r4(max(abs(col("lp")))).as("max_lp"))
    }),

    // W13: Gaussian-fit distribution gap scan kernel (rows-only; behavior pinned in
    // KernelsSpec) (SURVEY §2.5 W13)
    "w13_gauss_gap" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val e = t(s, dir, "events").withColumn("hr", hour(col("ts")))
      // the standardized table feeds both the per-group Gaussian fit and the row-level
      // flag join; pin it so the anomaly is computed once
      val std = AggOps.standardizedAnomaly(e, Seq("event_type", "hr"), "value", "std_anom")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // eager population (r15, the mm10 lesson): the Gaussian fit and the
      // row-level flag join are concurrent consumers of this cache
      std.count()
      graft.kernels.GaussGapScan.flagged(std, Seq("event_type", "hr"), "ts", "std_anom")
        .groupBy(col("event_type"), col("hr")).agg(count(lit(1)).as("n_flagged"))
    }),

    // W14: monthly-median IQR-bound flag over multi-year lineitem (SURVEY §2.5 W14)
    "w14_month_gap" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      GapOps.monthlyMedianGapFlag(li, Seq("l_returnflag"), "l_shipdate", "l_quantity",
          iqrThresh = 0.02, out = "gap")
        .filter(col("gap"))
        .groupBy(col("l_returnflag"), month(col("l_shipdate")).as("m"),
          year(col("l_shipdate")).as("y"))
        .agg(count(lit(1)).as("n"))
    })
  )

  /** w11's IIR coefficients, computed by the same Scala code the kernel runs and
    * inlined as shortest-round-trip doubles (Double.toString), so DuckDB parses back
    * the identical bit patterns. */
  private val w11c = graft.kernels.Butterworth.coeffs(
    graft.kernels.Butterworth.OneMonthCutoffHz, 1.0 / 3600.0)

  def oracles: Map[String, String] = Map(
    // The first-order IIR y[n] = b0*x[n] + b1*x[n-1] - a1*y[n-1] replayed as a
    // recursive CTE: one row per (series, position), advancing one position per
    // recursion step. Float ops fold in the same order as the Scala kernel, so the
    // compare is bit-exact.
    "w11_butterworth" ->
      s"""WITH RECURSIVE
         h AS (SELECT user_id, date_trunc('hour', ts) AS tsh,
                 CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                   / CAST(COUNT(value) AS DOUBLE) AS v
               FROM events GROUP BY 1, 2),
         s AS (SELECT user_id, v,
                 row_number() OVER (PARTITION BY user_id ORDER BY tsh) AS rn
               FROM h),
         f AS (
           SELECT user_id, rn, v, ${w11c.b0} * v AS y FROM s WHERE rn = 1
           UNION ALL
           SELECT s.user_id, s.rn, s.v,
                  ${w11c.b0} * s.v + ${w11c.b1} * f.v - ${w11c.a1} * f.y AS y
           FROM s JOIN f ON s.user_id = f.user_id AND s.rn = f.rn + 1)
         SELECT user_id, COUNT(y) AS n, ROUND(MAX(ABS(y)), 4) AS max_lp
         FROM f GROUP BY user_id""",
    "a5f_frequent_flag" ->
      """WITH b AS (
           SELECT event_type, ts,
                  CASE WHEN month(ts) IN (12,1,2) THEN 'DJF'
                       WHEN month(ts) IN (3,4,5) THEN 'MAM'
                       WHEN month(ts) IN (6,7,8) THEN 'JJA' ELSE 'SON' END AS season,
                  CAST(FLOOR((CASE WHEN event_id % 3 = 0 THEN 42.2 ELSE value END) / 1.0) AS BIGINT) AS bin
           FROM events),
         h AS (SELECT event_type, season, bin, COUNT(*) AS cnt FROM b GROUP BY 1, 2, 3),
         sus AS (SELECT event_type, season, bin FROM (
                   SELECT event_type, season, bin, cnt,
                          SUM(cnt) OVER (PARTITION BY event_type, season ORDER BY bin
                                         RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS hood
                   FROM h)
                 WHERE cnt > hood * 0.5 AND cnt > 30)
         SELECT b.event_type,
           CAST(SUM(CASE WHEN sus.bin IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
           COUNT(*) AS n
         FROM b LEFT JOIN sus
           ON b.event_type = sus.event_type AND b.season = sus.season AND b.bin = sus.bin
         GROUP BY b.event_type""",
    "w3_straight_repeats" ->
      """WITH v AS (SELECT user_id, ts, floor(value/50) AS v FROM events),
         c AS (SELECT user_id, ts, v,
                 CASE WHEN lag(v) OVER (PARTITION BY user_id ORDER BY ts) IS DISTINCT FROM v
                      THEN 1 ELSE 0 END AS chg
               FROM v),
         s AS (SELECT user_id, ts,
                 SUM(chg) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
               FROM c),
         g AS (SELECT user_id, sid, COUNT(*) AS len FROM s GROUP BY 1, 2)
         SELECT s.user_id, CAST(floor(epoch(s.ts)) AS BIGINT) AS t_s
         FROM s JOIN g USING (user_id, sid) WHERE g.len >= 3""",
    "w4_same_hour_repeats" ->
      """WITH b AS (SELECT event_type, ts, hour(ts) AS hr, floor(value/100) AS vb FROM events),
         g AS (SELECT event_type, ts, hr, vb,
                 COALESCE(floor((epoch(ts) - epoch(lag(ts) OVER (PARTITION BY event_type, hr, vb ORDER BY ts)))/86400.0), 1) AS gap
               FROM b),
         cid AS (SELECT event_type, ts, hr, vb,
                 SUM(CASE WHEN gap > 1 THEN 1 ELSE 0 END)
                   OVER (PARTITION BY event_type, hr, vb ORDER BY ts ROWS UNBOUNDED PRECEDING) AS cl
               FROM g),
         sz AS (SELECT event_type, ts,
                 COUNT(*) OVER (PARTITION BY event_type, hr, vb, cl) AS csz
               FROM cid)
         SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) AS t_s
         FROM sz WHERE csz > 15""",
    "w5_whole_day_repeats" ->
      """WITH h AS (SELECT CAST(ts AS DATE) AS d, hour(ts) AS hr,
                 AVG(CAST(hour(ts) % 6 AS DOUBLE)) AS hm
               FROM events GROUP BY 1, 2),
         dv AS (SELECT d, list(round(hm, 1) ORDER BY hr) AS vec FROM h GROUP BY d),
         m AS (SELECT d, vec,
                 (lag(vec) OVER (ORDER BY d) IS NOT NULL
                  AND len(vec) = len(lag(vec) OVER (ORDER BY d))
                  AND vec = lag(vec) OVER (ORDER BY d)) AS mt
               FROM dv),
         r AS (SELECT d, mt,
                 SUM(CASE WHEN NOT mt THEN 1 ELSE 0 END) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS run
               FROM m),
         rc AS (SELECT d, mt, SUM(CASE WHEN mt THEN 1 ELSE 0 END) OVER (PARTITION BY run) AS mc
               FROM r)
         SELECT CAST(d AS VARCHAR) AS day FROM rc WHERE mt AND mc > 7""",
    "w6_spikes" ->
      """WITH base AS (SELECT user_id, ts,
                 value + CASE WHEN event_id % 199 = 0 THEN 2000.0 ELSE 0.0 END AS v
               FROM events),
         d0 AS (SELECT user_id, ts,
                 COALESCE(v - lag(v) OVER (PARTITION BY user_id ORDER BY ts), 0) AS d,
                 COALESCE((epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)))/3600.0, 0) AS dt_h
               FROM base),
         f AS (SELECT * FROM d0 WHERE dt_h > 0 AND dt_h <= 12),
         c AS (SELECT user_id, date_trunc('month', ts) AS ym, COUNT(*) AS n,
                 ceil(6*(quantile_cont(d, 0.75) - quantile_cont(d, 0.25))) AS crit
               FROM f GROUP BY 1, 2),
         j AS (SELECT f.user_id, f.ts, f.d, c.crit
               FROM f JOIN c ON f.user_id = c.user_id AND date_trunc('month', f.ts) = c.ym
               WHERE c.n > 50),
         x AS (SELECT user_id, ts, d, crit,
                 lag(d) OVER w AS dm1, lead(d, 1) OVER w AS dp1, lead(d, 2) OVER w AS dp2,
                 lead(d, 3) OVER w AS dp3, lead(d, 4) OVER w AS dp4,
                 lag(crit) OVER w AS cm1, lead(crit, 1) OVER w AS cp1, lead(crit, 2) OVER w AS cp2,
                 lead(crit, 3) OVER w AS cp3, lead(crit, 4) OVER w AS cp4,
                 (ABS(d) > crit
                  AND row_number() OVER w <> 2
                  AND row_number() OVER (PARTITION BY user_id ORDER BY ts DESC) >= 5) AS pot
               FROM j WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         sp AS (SELECT user_id, ts,
                 COALESCE(pot AND sign(d) <> sign(dp2) AND abs(dm1) < 0.5*cm1 AND abs(dp1) < 0.5*cp1
                   AND abs(dp2) < 0.5*cp2 AND abs(dp3) > cp3 AND abs(dp4) < 0.5*cp4, false) AS s3a,
                 COALESCE(pot AND sign(d) <> sign(dp2) AND abs(dm1) < 0.5*cm1 AND abs(dp1) < 0.5*cp1
                   AND abs(dp2) > cp2 AND abs(dp3) < 0.5*cp3, false) AS s2raw,
                 COALESCE(pot AND sign(d) <> sign(dp1) AND abs(dm1) < cm1 AND abs(dp1) > cp1
                   AND abs(dp2) < cp2, false) AS s1raw
               FROM x),
         sp2 AS (SELECT user_id, ts, s3a,
                 (s2raw AND NOT s3a) AS s2a,
                 (s1raw AND NOT s3a AND NOT (s2raw AND NOT s3a)) AS s1a
               FROM sp),
         fl AS (SELECT user_id, ts,
                 (s1a OR s2a OR s3a
                  OR COALESCE(lag(s2a) OVER w, false)
                  OR COALESCE(lag(s3a) OVER w, false)
                  OR COALESCE(lag(s3a, 2) OVER w, false)) AS spike
               FROM sp2 WINDOW w AS (PARTITION BY user_id ORDER BY ts))
         SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS t_s FROM fl WHERE spike""",
    "w7_constant_ahead" ->
      """SELECT user_id,
           CAST(SUM(CASE WHEN mx = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_const
         FROM (
           SELECT user_id,
                  MAX(ABS(dd)) OVER (PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
                                     RANGE BETWEEN CURRENT ROW AND 7200 FOLLOWING) AS mx
           FROM (SELECT user_id, ts, CASE WHEN value < 450 THEN 0.0 ELSE 1.0 END AS dd FROM events))
         GROUP BY user_id""",
    "w8_ringing" ->
      """WITH d0 AS (SELECT user_id, ts,
                 value - lag(value) OVER (PARTITION BY user_id ORDER BY ts) AS d
               FROM events),
         med AS (SELECT user_id, 2*quantile_cont(abs(d), 0.5) AS thr FROM d0 GROUP BY 1),
         sc AS (SELECT user_id, ts, d,
                 COALESCE(abs(sign(d) - sign(lag(d) OVER (PARTITION BY user_id ORDER BY ts))), 0) AS s
               FROM d0),
         r AS (SELECT sc.user_id, ts, d, thr,
                 SUM(s) OVER w3 AS ss, COUNT(*) OVER w3 AS c3
               FROM sc JOIN med ON sc.user_id = med.user_id
               WINDOW w3 AS (PARTITION BY sc.user_id ORDER BY ts ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING))
         SELECT user_id,
           CAST(SUM(CASE WHEN c3 = 3 AND ss > 2 AND abs(d) > thr THEN 1 ELSE 0 END) AS BIGINT) AS n_ringing
         FROM r GROUP BY user_id""",
    "w9_deaccumulate" ->
      """WITH a AS (SELECT user_id, ts,
                 SUM(value) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) % 10000.0 AS v
               FROM events),
         d0 AS (SELECT user_id, ts, v,
                 v - lag(v) OVER (PARTITION BY user_id ORDER BY ts) AS d
               FROM a),
         sc AS (SELECT user_id, ts, v, d,
                 COALESCE(abs(sign(d) - sign(lag(d) OVER (PARTITION BY user_id ORDER BY ts))), 0) AS s
               FROM d0),
         r AS (SELECT user_id, ts, v, d,
                 (COUNT(*) OVER w3 = 3 AND SUM(s) OVER w3 > 2 AND abs(d) > 10.0) AS ring
               FROM sc WINDOW w3 AS (PARTITION BY user_id ORDER BY ts ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING)),
         fl AS (SELECT user_id, ts, d,
                 COALESCE((((ring OR d < 0) AND v <> 0.0) OR (d < 0 AND NOT (d < -50.0))), false) AS flagged
               FROM r)
         SELECT user_id,
           COUNT(CASE WHEN NOT flagged THEN 1 END) AS n_deacc,
           CAST(SUM(CAST(CASE WHEN flagged THEN NULL
                              WHEN d IS NULL THEN 0.0
                              WHEN d < -50.0 THEN 0.0
                              ELSE d END AS DECIMAL(18,2))) AS DOUBLE) AS total_deacc,
           CAST(SUM(CASE WHEN flagged THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged
         FROM fl GROUP BY user_id""",
    "c34_deaccum_stage" ->
      """WITH base AS (
           SELECT user_id, event_id, ts,
                  row_number() OVER (PARTITION BY user_id ORDER BY ts) AS rn
           FROM events),
         v0 AS (
           SELECT user_id, event_id, ts,
             CASE WHEN user_id % 2 = 0
               THEN rn * 3.0 + 5.0 - (CASE WHEN rn = 10 THEN 4.0 ELSE 0.0 END)
               ELSE 5.0 + (rn % 2) * 50.0 + (event_id % 5) END AS v
           FROM base),
         det AS (
           SELECT user_id, corr(v, pv) AS ac
           FROM (SELECT user_id, v,
                   lag(v) OVER (PARTITION BY user_id ORDER BY ts) AS pv
                 FROM v0 WHERE v > 0)
           WHERE pv IS NOT NULL GROUP BY 1),
         d0 AS (
           SELECT user_id, event_id, ts, v,
                  v - lag(v) OVER (PARTITION BY user_id ORDER BY ts) AS d
           FROM v0),
         sc AS (
           SELECT user_id, event_id, ts, v, d,
                  COALESCE(abs(sign(d) - sign(lag(d) OVER (PARTITION BY user_id ORDER BY ts))), 0) AS s
           FROM d0),
         r AS (
           SELECT user_id, event_id, ts, v, d,
                  (COUNT(*) OVER w3 = 3 AND SUM(s) OVER w3 > 2 AND abs(d) > 10.0) AS ring
           FROM sc
           WINDOW w3 AS (PARTITION BY user_id ORDER BY ts ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING)),
         fl AS (
           SELECT r.user_id, r.event_id, r.ts, r.v,
                  COALESCE((((ring OR d < 0) AND v <> 0.0) OR (d < 0 AND NOT (d < -50.0))), false) AS flagged,
                  CASE WHEN d IS NULL THEN 0.0 WHEN d < -50.0 THEN 0.0 ELSE d END AS deacc,
                  COALESCE(det.ac, 0.0) > 0.8 AS acc
           FROM r LEFT JOIN det ON r.user_id = det.user_id)
         SELECT user_id, event_id,
                CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS time_s,
                ROUND(CASE WHEN acc THEN (CASE WHEN flagged THEN NULL ELSE deacc END)
                           ELSE v END, 4) + 0 AS pr,
                CASE WHEN acc AND flagged THEN 34 END AS flag,
                ROUND(CASE WHEN acc THEN v END, 4) + 0 AS accum,
                CASE WHEN acc THEN 35 END AS accum_flag
         FROM fl""",
    "w12_interpolate" ->
      """WITH v0 AS (SELECT user_id, ts, epoch(ts) AS et,
                 CASE WHEN value BETWEEN 100 AND 400 THEN NULL ELSE value END AS v
               FROM events),
         w AS (SELECT user_id, ts, v, et,
                 last_value(v IGNORE NULLS) OVER wp AS pv,
                 first_value(v IGNORE NULLS) OVER wf AS nv,
                 last_value(CASE WHEN v IS NOT NULL THEN et END IGNORE NULLS) OVER wp AS pt,
                 first_value(CASE WHEN v IS NOT NULL THEN et END IGNORE NULLS) OVER wf AS nt
               FROM v0
               WINDOW wp AS (PARTITION BY user_id ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                      wf AS (PARTITION BY user_id ORDER BY ts ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)),
         i AS (SELECT user_id,
                 CASE WHEN v IS NOT NULL THEN v
                      WHEN pv IS NULL THEN NULL
                      WHEN nv IS NULL THEN pv
                      WHEN nt = pt THEN pv
                      ELSE pv + (nv - pv) * (et - pt) / (nt - pt) END AS vi
               FROM w)
         SELECT user_id, COUNT(vi) AS n_filled,
           CAST(SUM(CAST(round(vi, 2) AS DECIMAL(18,2))) AS DOUBLE) AS total
         FROM i GROUP BY user_id""",
    "j9_pairwise_outlier" ->
      """WITH daily AS (
           SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
                  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
           FROM events GROUP BY 1, 2),
         o AS (SELECT user_id, day, total,
                 COUNT(total) OVER (PARTITION BY user_id) AS n,
                 lag(total) OVER (PARTITION BY user_id ORDER BY total) AS pv,
                 lead(total) OVER (PARTITION BY user_id ORDER BY total) AS nx
               FROM daily)
         SELECT user_id, CAST(day AS VARCHAR) AS day, round(total, 2) AS total
         FROM o
         WHERE n > 1 AND (pv IS NULL OR total - pv > 300.0)
           AND (nx IS NULL OR nx - total > 300.0)""",
    "a7_std_anomaly" ->
      """WITH e AS (SELECT event_type, hour(ts) AS hr, value FROM events),
         b AS (SELECT event_type, hr,
                 quantile_cont(value, 0.05) AS lo, quantile_cont(value, 0.95) AS hi
               FROM e GROUP BY 1, 2),
         cl AS (SELECT e.event_type, e.hr,
                 AVG(LEAST(GREATEST(e.value, b.lo), b.hi)) AS clim
               FROM e JOIN b ON e.event_type = b.event_type AND e.hr = b.hr
               GROUP BY 1, 2),
         an AS (SELECT e.event_type, e.hr, e.value - cl.clim AS anom
               FROM e JOIN cl ON e.event_type = cl.event_type AND e.hr = cl.hr),
         iq AS (SELECT event_type, hr,
                 GREATEST(quantile_cont(anom, 0.75) - quantile_cont(anom, 0.25), 1.5) AS iqr
               FROM an GROUP BY 1, 2)
         SELECT an.event_type, an.hr,
           ROUND(quantile_cont(an.anom / iq.iqr, 0.5), 4) + 0 AS med_std
         FROM an JOIN iq ON an.event_type = iq.event_type AND an.hr = iq.hr
         GROUP BY 1, 2""",
    "a9_daily_p95" ->
      """WITH daily AS (
           SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
                  SUM(value) AS total
           FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
         p AS (SELECT user_id, month(day) AS m, quantile_cont(total, 0.95) AS p95
               FROM daily WHERE total > 0 GROUP BY 1, 2)
         SELECT d.user_id, CAST(d.day AS VARCHAR) AS day, round(d.total, 2) AS total
         FROM daily d LEFT JOIN p ON d.user_id = p.user_id AND month(d.day) = p.m
         WHERE d.total > LEAST(1e9, p.p95 * 1.02)""",
    "a13_resolution" ->
      """WITH v AS (SELECT user_id, round(value, 0) + 0 AS v FROM events WHERE value IS NOT NULL),
         d AS (SELECT user_id, v - lag(v) OVER (PARTITION BY user_id ORDER BY v) AS d FROM v),
         dd AS (SELECT user_id, d FROM d WHERE d IS NOT NULL),
         mo AS (SELECT user_id, d AS md FROM (
                  SELECT user_id, d, row_number() OVER (PARTITION BY user_id ORDER BY cnt DESC, d ASC) AS rn
                  FROM (SELECT user_id, d, COUNT(*) AS cnt FROM dd GROUP BY 1, 2))
                WHERE rn = 1),
         me AS (SELECT user_id, quantile_cont(d, 0.5) AS md2, COUNT(*) AS n FROM dd GROUP BY 1)
         SELECT mo.user_id,
           CASE WHEN me.n <= 10 THEN 0.5
                WHEN round((mo.md + me.md2)/2*2)/2 <= 0.25 THEN 0.1
                ELSE LEAST(round((mo.md + me.md2)/2*2)/2, 1.0) END AS resolution
         FROM mo JOIN me ON mo.user_id = me.user_id""",
    "a14_time_freqs" ->
      """WITH d AS (SELECT user_id,
                 CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT)
                   - CAST(floor(epoch(lag(date_trunc('hour', ts))
                       OVER (PARTITION BY user_id ORDER BY date_trunc('hour', ts)))) AS BIGINT) AS delta_s
               FROM events),
         c AS (SELECT user_id, delta_s, COUNT(*) AS cnt FROM d WHERE delta_s IS NOT NULL GROUP BY 1, 2),
         tot AS (SELECT user_id, delta_s, cnt,
                 CAST(cnt AS DOUBLE) / SUM(cnt) OVER (PARTITION BY user_id) AS frac
               FROM c)
         SELECT user_id, delta_s, cnt, ROUND(frac, 4) AS frac FROM tot WHERE frac > 0.05""",
    "a17_span_consistency" ->
      """WITH e AS (SELECT user_id, CAST(floor(value/100)*100 AS DOUBLE) AS elev FROM events),
         pv AS (SELECT user_id, elev, COUNT(*) AS cnt FROM e GROUP BY 1, 2),
         st AS (SELECT user_id, COUNT(*) AS nd, MAX(elev) - MIN(elev) AS span,
                 quantile_cont(elev, 0.5) AS dmed,
                 CASE WHEN COUNT(*) = 2 AND MIN(cnt) <> MAX(cnt)
                      THEN arg_min(elev, cnt) END AS minority
               FROM pv GROUP BY 1)
         SELECT e.user_id,
           CAST(SUM(CASE WHEN (st.nd > 2 AND st.span > 50 AND (e.elev < st.dmed - 50 OR e.elev > st.dmed + 50))
                      OR (st.nd = 2 AND st.span > 50 AND e.elev = st.minority)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged
         FROM e JOIN st ON e.user_id = st.user_id
         GROUP BY e.user_id""",
    "w14_month_gap" ->
      """WITH wp AS (SELECT l_returnflag, l_quantity,
                 month(l_shipdate) AS m, year(l_shipdate) AS y
               FROM lineitem),
         b AS (SELECT l_returnflag, m, quantile_cont(l_quantity, 0.5) AS med,
                 quantile_cont(l_quantity, 0.75) - quantile_cont(l_quantity, 0.25) AS iqr
               FROM wp GROUP BY 1, 2),
         ym AS (SELECT l_returnflag, m, y, quantile_cont(l_quantity, 0.5) AS ymed
               FROM wp GROUP BY 1, 2, 3),
         bad AS (SELECT ym.l_returnflag, ym.m, ym.y
               FROM ym JOIN b ON ym.l_returnflag = b.l_returnflag AND ym.m = b.m
               WHERE ym.ymed < b.med - 0.02*b.iqr OR ym.ymed > b.med + 0.02*b.iqr)
         SELECT wp.l_returnflag, wp.m, wp.y, COUNT(*) AS n
         FROM wp JOIN bad ON wp.l_returnflag = bad.l_returnflag AND wp.m = bad.m AND wp.y = bad.y
         GROUP BY 1, 2, 3"""
  )
}
