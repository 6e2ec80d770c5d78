package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{NetworkCatalogs, StationLists, StationStatus}

/** Batch C2 query instantiations — per-network clean catalogs (SURVEY §2.1 S4,
  * data half): the CIMIS / SCAN-SNOTEL / CW3E / VALLEYWATER / MARITIME / MADIS
  * standardization plans plus the ISD fixed-width clean (c13) and the
  * clean/qaqc-stage station ledgers (s12/s13), each run over raw-shaped
  * projections of `events` and oracle-checked end-to-end (local-time convention
  * inversion, sentinel/NA nulling, unit conversion, QC shadow columns, platform
  * time filter, exact-duplicate drop).
  *
  * Timestamps are shifted back 10 years (2024 → 2014 — events is all-January, so
  * no leap-day clamping) to land inside the reference's 1980–2022 window; the raw
  * file PARSE paths (positional schemas, NA tokens, filename ids) are pinned by
  * NetworkCatalogsSpec fixtures — oracle SQL can't read CSV, so the queries start
  * from the already-parsed raw shape, which is exactly what [[NetworkCatalogs
  * .standardize]] consumes. */
object QueriesClean {

  /** Scan-side fan-out (same rationale as QueriesLlm's loader): the testdata
    * tables are single-row-group parquet, so the scan is ONE task — and the clean
    * queries do java.time-heavy per-row work that must not run single-threaded.
    * Conditional since r15: at production scale the file count already provides
    * scan parallelism and the repartition shuffle is skipped. */
  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    SparkEntry.loadTableFanout(s, dir, name)

  private def r4(c: Column): Column = round(c, 4)

  /** s26/s27: the read-back stations summarized as their oracles aggregate the
    * source rows (exact decimal value sums). */
  private def publishSummary(readBack: DataFrame): DataFrame =
    readBack.groupBy(col("station")).agg(
        count(lit(1)).as("n"),
        sum(col("val").cast("decimal(18,2)")).cast("double").as("sval"),
        sum(col("evt")).as("sevt"),
        max(unix_micros(col("time"))).as("max_us"),
        countDistinct(col("flag")).as("nflags"))

  /** One station-list ledger stage over the events fixture: the stage's
    * status column `flag`, its time column `time` (emitted as epoch seconds
    * `out`), the passed stations (uid % passMod != 0), the errors (event_id %
    * errMod == 0, one per (uid, event_type)) on file `prefix<uid>suffix`, and
    * whether passed stations missing from the list are appended. */
  private case class LedgerStage(flag: String, time: String, out: String, passMod: Int,
      errMod: Int, prefix: String, suffix: String, appendUnlisted: Boolean)

  private val CleanLedger =
    LedgerStage("cleaned", "time_cleaned", "tc_s", 3, 101, "raw_", "_x.csv", appendUnlisted = true)
  private val QaqcLedger =
    LedgerStage("qaqc", "time_qaqc", "tq_s", 3, 101, "raw_", "_x.csv", appendUnlisted = false)
  private val MergeLedger =
    LedgerStage("merged", "time_merge", "tm_s", 5, 97, "merge_", "_x.zarr", appendUnlisted = false)

  /** s12/s13/s18: the listed stations `NET_<uid>` (uid%29==0 unlisted), the
    * stage's passed ids (`NET_<uid>` plus `idSuffix`) and errors, through
    * `update`. */
  private def stationLedger(s: SparkSession, dir: String, st: LedgerStage,
      idSuffix: Option[Column],
      update: (DataFrame, DataFrame, DataFrame) => DataFrame): DataFrame = {
    val e = t(s, dir, "events")
    val stations = e.filter(col("user_id") % 29 =!= 0)
      .select(concat(lit("NET_"), col("user_id").cast("string")).as("era_id"))
      .distinct()
    val passed = e.filter(col("user_id") % st.passMod =!= 0)
      .groupBy(col("user_id"))
      .agg(date_trunc("SECOND", min(col("ts"))).as(st.time))
      .select(concat(Seq(lit("NET_"), col("user_id").cast("string")) ++ idSuffix: _*).as("id"),
        col(st.time))
    val errors = e.filter(col("event_id") % st.errMod === 0)
      .groupBy(col("user_id"), col("event_type"))
      .agg(date_trunc("SECOND", min(col("ts"))).as("time"))
      .select(concat(lit(st.prefix), col("user_id").cast("string"), lit(st.suffix)).as("file"),
        col("time"), col("event_type").as("error"))
    update(stations, passed, errors)
      .select(col("era_id"), col(st.flag), unix_timestamp(col(st.time)).as(st.out),
        col("errors_str"))
  }

  /** s12/s13/s18's oracle: the stage ledger replayed — listed stations, the
    * stage's passed ids, the bare-id substring error attach with
    * last-match-wins and time gating, and the multi-error concat. */
  private def stationLedgerSql(st: LedgerStage): String = {
    val (eraId, join) =
      if (st.appendUnlisted) ("COALESCE(st.era_id, cl.id) AS era_id", "FULL OUTER")
      else ("st.era_id", "LEFT")
    val m = "m_" + st.out.stripSuffix("_s")
    s"""WITH st AS (
           SELECT DISTINCT 'NET_' || CAST(user_id AS VARCHAR) AS era_id
           FROM events WHERE user_id % 29 <> 0),
         cl AS (
           SELECT 'NET_' || CAST(user_id AS VARCHAR) AS id,
                  date_trunc('second', min(ts)) AS ${st.time}
           FROM events WHERE user_id % ${st.passMod} <> 0 GROUP BY user_id),
         er AS (
           SELECT '${st.prefix}' || CAST(user_id AS VARCHAR) || '${st.suffix}' AS file,
                  date_trunc('second', min(ts)) AS time, event_type AS error
           FROM events WHERE event_id % ${st.errMod} = 0 GROUP BY user_id, event_type),
         base AS (
           SELECT $eraId,
                  CASE WHEN cl.id IS NULL THEN 'N' ELSE 'Y' END AS ${st.flag},
                  cl.${st.time}
           FROM st $join JOIN cl ON st.era_id = cl.id),
         cand AS (
           SELECT er.file, er.error, er.time, b.era_id AS m_era_id,
                  b.${st.time} AS $m,
                  row_number() OVER (PARTITION BY er.file, er.error
                                     ORDER BY b.era_id DESC) AS rn
           FROM er JOIN base b
             ON er.file LIKE '%' || regexp_extract(b.era_id, '([^_]+)$$', 1) || '%'),
         att AS (
           SELECT * FROM cand
           WHERE rn = 1 AND ($m IS NULL OR time IS NULL OR time >= $m)),
         per AS (
           SELECT m_era_id AS era_id,
                  CASE WHEN COUNT(*) = 1 THEN MIN(error)
                       ELSE string_agg(file || ': ' || error, ' '
                                       ORDER BY file, error) END AS errors_str
           FROM att GROUP BY m_era_id)
         SELECT b.era_id, b.${st.flag},
                CAST(epoch(b.${st.time}) AS BIGINT) AS ${st.out}, p.errors_str
         FROM base b LEFT JOIN per p USING (era_id)"""
  }

  /** s23/s24's ISD pull fixture over the event stations: a station list
    * (string start/end stamps; some pre-1980 starts exercise the floor, some
    * end-before-start windows the empty range) and the raw-prefix object
    * listing, with deterministic per-year gaps ((year+uid)%3==0 missing) and
    * no files at all for uid%13==0 stations. */
  private def isdPullFixture(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val uids = t(s, dir, "events").select(col("user_id").as("uid")).distinct()
    val stations = uids.select(
      concat(lit("ISD"), col("uid").cast("string")).as("isd_id"),
      (col("uid") % 99999).as("wban"),
      concat((lit(1975) + col("uid") % 10).cast("string"),
        lit("-01-01 00:00:00")).as("start_time"),
      concat((lit(1982) + col("uid") % 7).cast("string"),
        lit("-12-31 23:00:00")).as("end_time"))
    val files = uids.filter(col("uid") % 13 =!= 0)
      .select(col("uid"), explode(sequence(lit(1979), lit(1990))).as("y"))
      .filter((col("y") + col("uid")) % 3 =!= 0)
      .select(concat(lit("1_raw_wx/ISD/ISD"), col("uid").cast("string"),
        lit("-"), col("y").cast("string"), lit(".gz")).as("file"))
    (stations, files)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // CIMIS (`CIMIS_clean.py:58-734`): 1–24h PST convention (2400 -> next-day
    // 00:00), +8 h to UTC, sentinel −9998 family -> null, °C -> K, QC shadow.
    // The Date/Hour columns are ENCODED as the raw files carry them (M/d/yyyy
    // string + HHMM int) and decoded by the catalog — the round trip is the test.
    "c7_cimis_clean" -> ((s, dir) => {
      val e = t(s, dir, "events")
      val pstHour = date_trunc("HOUR", expr("ts - INTERVAL 10 YEARS - INTERVAL 8 HOURS"))
      val h = hour(pstHour)
      val raw = e.select(
        col("user_id").cast("string").as("Station ID"),
        date_format(when(h === 0, date_sub(to_date(pstHour), 1))
          .otherwise(to_date(pstHour)), "MM/dd/yyyy").as("Date"),
        (when(h === 0, 24).otherwise(h) * 100).as("Hour (PST)"),
        // no projection-side rounding: value/10 sits on exact .005 ties where
        // HALF_UP (Spark) and DuckDB's double rounding diverge; the unrounded
        // double is bit-identical across engines and the output r4 has no ties
        when(col("event_id") % 97 === 0, -9998.0)
          .otherwise(col("value") / 10).as("Air Temperature (°C)"),
        when(col("value") > 400, "Y").as("QC for Air Temperature"))
        // the fixture ENCODE (events -> CIMIS-shaped strings) is not the system
        // under test — a real adopter reads raw CSV bytes. Persisting it stands
        // in for "the raw file exists" AND is the required optimizer barrier:
        // without it, predicate pushdown inlines the java.time decode chain into
        // the time-bounds filter TWICE and evaluates it inside the single
        // scan task (measured 2.7 s warm; with the barrier the decode runs at
        // full parallelism). Released by the harness clearCache (BASELINE.md
        // cache-release contract).
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      NetworkCatalogs.standardize(raw, NetworkCatalogs.cimis,
          NetworkCatalogs.cimis.stationId(col("Station ID")),
          NetworkCatalogs.cimisTime(col("Date"), col("Hour (PST)"), "MM/dd/yyyy"))
        .select(col("station"), unix_timestamp(col("time")).as("time_s"),
          r4(col("tas")).as("tas"), col("tas_qc"))
    }),

    // SCAN/SNOTEL (`SCANSNOTEL_clean.py:55-768`): per-station tz-offset shift to
    // UTC (broadcast metadata join in the read path; inline column here), °F -> K,
    // inHg -> Pa, `<VAR>_flag` QC shadow, dedup.
    "c8_scansnotel_clean" -> ((s, dir) => {
      val e = t(s, dir, "events")
      val tz = when(col("user_id") % 2 === 0, -8.0).otherwise(-7.0)
      // second-truncated: epoch output must be fraction-free (DuckDB CAST(epoch)
      // rounds, Spark unix_timestamp floors — micros would hash-mismatch)
      val localTs = date_trunc("SECOND", expr("ts - INTERVAL 10 YEARS")) +
        make_dt_interval(lit(0), lit(0), lit(0), tz * 3600.0)
      val raw = e.select(
        col("user_id"),
        tz.as("stationDataTimeZone"),
        localTs.as("time"),
        when(col("event_id") % 89 === 0, lit(null).cast("double"))
          .otherwise(col("value") / 5 + 32).as("TOBS_value"),
        when(col("value") > 450, "S").as("TOBS_flag"),
        (lit(29.0) + col("value") / 1000).as("PRES_value"))
      NetworkCatalogs.standardize(raw, NetworkCatalogs.scanSnotel,
          NetworkCatalogs.scanSnotel.stationId(col("user_id")),
          NetworkCatalogs.scanTime(col("time"), col("stationDataTimeZone")))
        .select(col("station"), unix_timestamp(col("time")).as("time_s"),
          r4(col("tas")).as("tas"), col("tas_qc"), r4(col("psl")).as("psl"))
    }),

    // CW3E (`CW3E_clean.py:57-635`): `%Y.%j.%H%M` time reassembly from the
    // year / julian-day / HHMM columns (already UTC), −99999 NA/sentinel,
    // °C -> K, mb -> Pa. Values ride a double->string->double round trip
    // (Java shortest-repr strings round-trip exactly) — the raw files are
    // stringly typed and the catalog's parse path is the system under test.
    "c9_cw3e_clean" -> ((s, dir) => {
      val e = t(s, dir, "events")
      val tm = date_trunc("MINUTE", expr("ts - INTERVAL 10 YEARS"))
      val raw = e.select(
        col("user_id"),
        year(tm).cast("string").as("Year (end time of average)"),
        dayofyear(tm).cast("string").as("Julian Day (end time of average)"),
        (hour(tm) * 100 + minute(tm)).cast("string")
          .as("HoursMinutes (end time of average)"),
        when(col("event_id") % 97 === 0, lit("-99999"))
          .otherwise((col("value") / 10).cast("string")).as("Temperature (C)"),
        (lit(950.0) + col("value") / 100).cast("string").as("Pressure (mb)"))
        // same optimizer-barrier rationale as c7: the fixture ENCODE is not the
        // system under test; persisting stands in for "the raw file exists"
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      NetworkCatalogs.standardize(raw, NetworkCatalogs.cw3e,
          NetworkCatalogs.cw3e.stationId(concat(lit("S"), col("user_id").cast("string"))),
          NetworkCatalogs.cw3eTime(col("Year (end time of average)"),
            col("Julian Day (end time of average)"),
            col("HoursMinutes (end time of average)")))
        .select(col("station"), unix_timestamp(col("time")).as("time_s"),
          r4(col("tas")).as("tas"), r4(col("psl")).as("psl"))
    }),

    // VALLEYWATER (`VALLEYWATER_clean.py:45-278`): approval-null row drop,
    // 15-min grid infill with traceable flag 30 (the oracle-green c30 op),
    // inches -> mm into pr_15min, approval kept as raw_qc. The encode keys
    // everything off the 15-min bucket so raw rows are grid-aligned and
    // deterministic per (station, bucket) — exactly the raw-file shape.
    "c10_valleywater_clean" -> ((s, dir) => {
      val e = t(s, dir, "events")
      val raw0 = e.select(col("user_id"),
        floor(unix_timestamp(expr("ts - INTERVAL 10 YEARS")) / 900).as("b")).distinct()
      val t15 = timestamp_seconds(col("b") * 900)
      val raw = raw0.select(
        col("user_id"),
        date_format(t15, "yyyy-MM-dd HH:mm:ss").as("ISO 8601 UTC"),
        (pmod(col("b"), lit(1000)) / 100).cast("string").as("Value"),
        when(pmod(col("b") + col("user_id"), lit(89)) === 0, "")
          .when(pmod(col("b"), lit(2)) === 0, "1").otherwise("2").as("Approval Level"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      NetworkCatalogs.standardizeValleywater(raw,
          concat(lit("VALLEYWATER_"), col("user_id").cast("string")))
        .select(col("station"), unix_timestamp(col("time")).as("time_s"),
          r4(col("pr_15min")).as("pr_15min"), col("raw_qc"),
          col("pr_15min_eraqc").as("infill_flag"))
    }),

    // MARITIME/NDBC (`MARITIME_clean.py:160-660`): Y/M/D/h/m time reassembly
    // (already UTC), `MM` NA token, 999/99/9999 missing codes, hPa -> Pa,
    // °C -> K on air temperature.
    "c11_maritime_clean" -> ((s, dir) => {
      val e = t(s, dir, "events")
      val tm = date_trunc("MINUTE", expr("ts - INTERVAL 10 YEARS"))
      val raw = e.select(
        col("user_id"),
        year(tm).cast("string").as("YYYY"),
        month(tm).cast("string").as("MO"),
        dayofmonth(tm).cast("string").as("DD"),
        hour(tm).cast("string").as("hh"),
        minute(tm).cast("string").as("mi"),
        when(col("event_id") % 97 === 0, lit("MM"))
          .otherwise((col("value") / 20).cast("string")).as("ATMP"),
        when(col("event_id") % 89 === 0, lit("999"))
          .otherwise((lit(950.0) + col("value") / 100).cast("string")).as("PRES"),
        (col("value") / 50).cast("string").as("WSPD"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      NetworkCatalogs.standardize(raw, NetworkCatalogs.maritime,
          NetworkCatalogs.maritime.stationId(col("user_id")),
          NetworkCatalogs.maritimeTime(raw))
        .select(col("station"), unix_timestamp(col("time")).as("time_s"),
          r4(col("tas")).as("tas"), r4(col("ps")).as("ps"),
          r4(col("sfcWind")).as("sfcWind"))
    }),

    // MADIS/CWOP (`MADIS_clean.py:404-1702`): Synoptic `<var>_set_1` columns with
    // `;`-separated float-coerced QC flags (".0" residue stripped — `:650-662`),
    // "None" NA token, °C -> K on temperatures, pressure already Pa, wind m/s.
    // The raw-file PARSE path (header sniff, per-file dynamic columns, duplicate
    // columns, first-data-row scan) is pinned by NetworkCatalogsSpec's MADIS file
    // fixture; this query starts from the parsed raw shape, like c7-c11.
    "c12_madis_clean" -> ((s, dir) => {
      val e = t(s, dir, "events")
      val tm = date_trunc("SECOND", expr("ts - INTERVAL 10 YEARS"))
      val raw = e.select(
        concat(lit("AP"), col("user_id").cast("string")).as("Station_ID"),
        date_format(tm, "yyyy-MM-dd HH:mm:ss").as("Date_Time"),
        when(col("event_id") % 97 === 0, lit("None"))
          .otherwise((col("value") / 10).cast("string")).as("air_temp_set_1"),
        when(col("value") > 450, lit("2.0;3.0"))
          .when(col("value") > 400, lit("2.0")).as("air_temp_set_1_qc"),
        (lit(96000.0) + col("value") * 10).cast("string").as("pressure_set_1"),
        (col("value") / 50).cast("string").as("wind_speed_set_1"))
        // same optimizer-barrier rationale as c7: the fixture ENCODE is not the
        // system under test; persisting stands in for "the raw file exists"
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      NetworkCatalogs.standardize(raw, NetworkCatalogs.madis,
          NetworkCatalogs.madis.stationId(col("Station_ID")),
          to_timestamp(col("Date_Time")))
        .select(col("station"), unix_timestamp(col("time")).as("time_s"),
          r4(col("tas")).as("tas"), col("tas_qc"), r4(col("ps")).as("ps"),
          r4(col("sfcWind")).as("sfcWind"))
    }),

    // ASOSAWOS/OtherISD (`ASOSAWOS_clean.py:254-580`, `OtherISD_clean.py:70-1019`):
    // fixed-width ISD records encoded from events (mandatory section + optional
    // MA1 pressure / AA1 precip), parsed by IsdParser at scan speed, then the
    // clean-stage unit conversions (°C -> K, hPa -> Pa) + platform time filter.
    "c13_asos_clean" -> ((s, dir) => {
      val e = t(s, dir, "events")
      val tm = date_trunc("MINUTE", expr("ts - INTERVAL 10 YEARS"))
      val d = abs(round(col("value"))).cast("int") // deci-units payload
      val line = concat(
        lit("0123"),                                      // [0:4] record length etc.
        lpad(col("user_id").cast("string"), 11, "0"),     // [4:15] USAF+WBAN
        date_format(tm, "yyyyMMddHHmm"),                  // [15:27]
        lit("4"),                                         // [27] source
        lit("+37123"), lit("-121456"),                    // [28:41] lat/lon
        lit("00000"),                                     // [41:46] type code
        lit("+0030"),                                     // [46:51] elevation
        lit("00000"),                                     // [51:56] call letters
        lit("V020"),                                      // [56:60] qaqc process
        lit("999"), lit("9"), lit("N"),                   // [60:65] wind dir missing
        lpad(d.cast("string"), 4, "0"), lit("1"),         // [65:70] wind speed
        lit("00000000000000000"),                         // [70:87] sky/visibility
        concat(lit("+"), lpad(d.cast("string"), 4, "0")), lit("1"), // [87:93] tas
        lit("+9999"), lit("9"),                           // [93:99] tdps missing
        lpad((lit(95000) + d).cast("string"), 5, "0"), lit("1"),    // [99:105] psl
        when(col("event_id") % 3 === 0,
          concat(lit("MA1"), lpad((lit(10000) + d).cast("string"), 5, "0"), lit("5"),
            lpad((lit(9000) + d).cast("string"), 5, "0"), lit("5"))).otherwise(lit("")),
        when(col("event_id") % 5 === 0,
          concat(lit("AA101"), lpad(d.cast("string"), 4, "0"), lit("05"))).otherwise(lit("")))
      val lines = e.select(line.as("value"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      graft.sources.IsdParser.parse(lines)
        .filter(col("time") > lit("1979-12-31 00:00:00").cast("timestamp") &&
          col("time") < lit("2022-09-01 00:00:00").cast("timestamp"))
        .select(
          concat(lit("ASOSAWOS_"), col("usaf"), col("wban")).as("station"),
          unix_timestamp(col("time")).as("time_s"),
          r4(col("tas") + 273.15).as("tas"),
          r4(col("psl") * 100).as("psl"),
          r4(col("ps") * 100).as("ps"),
          r4(col("pr")).as("pr"),
          r4(col("sfcWind")).as("sfcWind"))
    }),

    // Clean-stage bookkeeping (`stnlist_update_clean.py:152-330`): cleaned Y/N via
    // full-outer merge (unlisted cleaned stations appended), bare-id substring
    // error attach with last-match-wins, clean-time gating, multi-error concat.
    // The fixture exercises every branch: uid%29==0 stations are unlisted,
    // uid%3==0 are uncleaned, single-digit bare ids force ambiguous substring
    // matches resolved by the last-match rule.
    "s12_stnlist_status" -> ((s, dir) =>
      stationLedger(s, dir, CleanLedger, None, StationStatus.updateStationList)),

    // QAQC-stage ledger (`stnlist_update_qaqc.py:1-380`): same shape as s12 with
    // the stage deltas — `_c` concatenated-station suffix normalized back to the
    // original id (uid%7==0 outputs carry it), and stage outputs missing from the
    // station list DROPPED instead of appended (uid%29==0 passed-ids are unlisted
    // and must not surface). The merge ledger shares this code path minus the `_c`
    // rule (StationStatusSpec pins it).
    "s13_stnlist_qaqc" -> ((s, dir) =>
      stationLedger(s, dir, QaqcLedger,
        Some(when(col("user_id") % 7 === 0, "_c").otherwise("")),
        StationStatus.updateStationListQaqc)),

    // Merge-stage ledger (`stnlist_update_merge.py` merge_qa): the s13 shape
    // minus the `_c` normalization — unlisted stage outputs still DROPPED
    // (uid%29==0 ids pass merge but are not in the station list and must not
    // surface); distinct moduli from s13 so the two ledgers don't share a
    // fixture
    "s18_stnlist_merge" -> ((s, dir) =>
      stationLedger(s, dir, MergeLedger, None, StationStatus.updateStationListMerge)),

    // Pull-stage ledger (`stnlist_update_pull.py:479-558` isd_retry_downloads):
    // completes the 4-stage ledger family over the ISD fixture plus one non-.gz
    // junk file; uid%13==0 stations have no files at all and belong to the s24
    // missed report, not this gap report.
    "s23_stnlist_pull" -> ((s, dir) => {
      val (stations, files) = isdPullFixture(s, dir)
      StationStatus.pullMissingFiles(stations,
        files.union(s.range(1).select(lit("1_raw_wx/ISD/isd-history-stations.csv").as("file"))))
    }),

    // Pull-stage ledger part 2: stations with NO downloaded file (the retry
    // list the reference re-fetches; fetcher itself is the S10 cut). WBAN
    // zero-pads to 5, the reference's `:522-524` fixup.
    "s24_pull_missed" -> ((s, dir) => {
      val (stations, files) = isdPullFixture(s, dir)
      StationStatus.pullMissedStations(stations, files)
        .select(col("isd_id"), col("wban"))
    }),

    // Dev-subset sampler (`create_qaqc_dev_subset.R`): per-covariate LHS-
    // midpoint targets, nearest station to each target, union of picks. The
    // fixture synthesizes three deterministic covariates (one with nulls to
    // exercise the na.rm path) over the event stations; n=25 targets each.
    "s25_dev_subset" -> ((s, dir) => {
      val e = t(s, dir, "events")
      val st = e.select(col("user_id").as("uid")).distinct()
        .select(concat(lit("NET_"), col("uid").cast("string")).as("era_id"),
          when(col("uid") % 41 === 0, lit(null))
            .otherwise((col("uid") * 37 % 1000 - 100).cast("double")).as("elevation"),
          (col("uid") * 13 % 400 / lit(10.0)).as("bio5"),
          (col("uid") * 7 % 250 / lit(5.0)).as("wind"))
      StationLists.devSubset(st, "era_id", Seq("elevation", "bio5", "wind"), n = 25)
    }),

    // S8 publish round-trip, zarr half (`MERGE_pipeline.py:413-468` to_zarr):
    // build an obs frame from events, PUBLISH it as per-station consolidated
    // zarr v2 stores (distributed ZarrSink write), read the stores back through
    // ZarrSource, and aggregate. The oracle computes the same aggregate straight
    // from the parquet — any drift anywhere in the write→read loop (chunking,
    // zlib, vlen strings, datetime64 time, fill handling) breaks the hash.
    "s26_zarr_publish" -> ((s, dir) => {
      val obs = t(s, dir, "events").select(
        concat(lit("Z"), lpad((col("user_id") % 40).cast("string"), 2, "0"))
          .as("station"),
        col("ts").as("time"), col("value").as("val"),
        col("event_type").as("flag"), col("event_id").as("evt"))
      val out = java.nio.file.Files.createTempDirectory("graft-s26").toString
      // chunkRows sized so each station still spans >1 chunk at sf0.1 (the
      // chunk-edge path stays exercised) without drowning in per-chunk-file
      // filesystem round-trips — 512-row chunks meant ~8k tiny files and 8x
      // the wall-clock of the identical-shape nc half (ZarrSinkSpec covers
      // small-chunk edges exhaustively; the store layout is oracle-invariant).
      // Env-overridable for the SCALE chunk-count/latency tradeoff runs
      // (object-store-shaped publish: per-chunk PUT is the real floor at
      // scale, so 100× benches compare 8192 vs the library's 65536 default).
      val chunkRows = sys.env.getOrElse("SPARK_GRAFT_S26_CHUNKROWS", "8192").toInt
      val ledger = graft.sources.ZarrSink.writeZarrStores(obs, out, chunkRows = chunkRows)
      // ledger is station-cardinality (40 rows) — model-sized driver collect
      val paths = ledger.select("path").collect().map(_.getString(0)).toSeq
      publishSummary(graft.sources.ZarrSource.readStores(s, paths))
    }),

    // S8 publish round-trip, netCDF half (`ASOSAWOS_clean.py:~750-1106`
    // to_netcdf): same loop through NcSink → classic CDF-2 files → NcSource.
    // Time truncates to whole seconds first (the CF double-seconds encoding's
    // exact range; the oracle truncates identically).
    "s27_nc_publish" -> ((s, dir) => {
      val obs = t(s, dir, "events").select(
        concat(lit("N"), lpad((col("user_id") % 25).cast("string"), 2, "0"))
          .as("station"),
        date_trunc("second", col("ts")).as("time"), col("value").as("val"),
        col("event_type").as("flag"), col("event_id").as("evt"))
      val out = java.nio.file.Files.createTempDirectory("graft-s27").toString
      val ledger = graft.sources.NcSink.writeNcFiles(obs, out)
      val paths = ledger.select("path").collect().map(_.getString(0)).toSeq
      publishSummary(graft.sources.NcSource.readFiles(s, paths))
    }),

    // All-network station-list generation (`stationlist_generator.py:144-529`):
    // three network frames with deliberately hostile schemas exercise every fuzzy
    // column-resolution rule — start_time preferred over begin, disconnect removed
    // from start candidates (it matches via "connect") but used as the end date,
    // elev(m)/elev_dem sensor-height decoys removed, "Active" end dates replaced
    // by the as-of stamp, absent fields null-filled, whole-row duplicates dropped.
    "s14_stationlist_gen" -> ((s, dir) => {
      val e = t(s, dir, "events")
      val uid = col("user_id")
      val base = e.groupBy(uid.as("uid")).agg(
        date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss").as("mn"),
        date_format(max(col("ts")), "yyyy-MM-dd HH:mm:ss").as("mx"),
        count(lit(1)).as("nobs"))
      val u = col("uid")
      val a = base.select(
        concat(lit("CIMIS_"), u.cast("string")).as("era-id"),
        (u % 10 + 32.5).as("lat"),
        (lit(-120.0) + (u % 7)).as("lon"),
        (u * 3).cast("double").as("elev"),
        col("mn").as("start_time"),
        lit("2001-01-01 00:00:00").as("begin"),
        col("mx").as("disconnect"),
        when(u % 4 === 0, "N").otherwise("Y").as("merged"),
        col("nobs").cast("double").as("total_nobs"))
      val b = base.filter(u % 2 === 0).select(
        concat(lit("MARITIME_"), u.cast("string")).as("era-id"),
        (lit(30.0) + (u % 5)).as("latitude"),
        (lit(-125.0) + (u % 9) / lit(2.0)).as("longitude"),
        u.cast("double").as("elev(m)"),
        (u * 2).cast("double").as("elevation"),
        (u * 7).cast("double").as("elev_dem"),
        col("mn").as("start"),
        when(u % 3 === 0, "Active").otherwise(col("mx")).as("end"),
        lit("Y").as("merged"),
        col("nobs").cast("double").as("total_nobs"))
      val c = e.filter(uid % 3 === 0).select(
        concat(lit("CW3E_S"), uid.cast("string")).as("era-id"),
        (uid * 5).cast("double").as("elevation"),
        when(uid % 2 === 0, "Y").otherwise("N").as("merged"))
      StationLists.generateStationList(
        Seq("CIMIS" -> a, "MARITIME" -> b, "CW3E" -> c), "merge",
        "2022-09-01 00:00:00")
        .select(col("era_id"), r4(col("latitude")).as("lat"),
          r4(col("longitude")).as("lon"), r4(col("elevation")).as("elev"),
          unix_timestamp(col("start_date")).as("start_s"),
          unix_timestamp(col("end_date")).as("end_s"),
          col("merged"), col("network"), col("total_nobs").cast("long").as("nobs"))
    }),

    // Public-facing station list (`public_facing_stationlist_cleanup.py:36-130`):
    // merged-only filter, ASOSAWOS elevation correction (null / -30479.6952
    // sentinel, fixed only where a raw ISD row exists), source-id derivation
    // (ICAO for ASOSAWOS, network-prefix strip otherwise), WKT geometry, and the
    // state point-in-polygon assignment over two triangles whose shared edge
    // avoids the coordinate lattice (the p4 construction).
    "s15_public_stationlist" -> ((s, dir) => {
      val e = t(s, dir, "events")
      val uid = col("user_id")
      val u = col("uid")
      val m = e.groupBy(uid.as("uid")).agg(
          date_trunc("SECOND", min(col("ts"))).as("start_date"),
          date_trunc("SECOND", max(col("ts"))).as("end_date"),
          count(lit(1)).as("total_nobs"))
        .select(
          when(u % 2 === 0,
            concat(lit("ASOSAWOS_"), lpad(u.cast("string"), 6, "0")))
            .otherwise(concat(lit("CIMIS_"), u.cast("string"))).as("era_id"),
          when(u % 2 === 0, "ASOSAWOS").otherwise(lit("CIMIS")).as("network"),
          (lit(32.0) + (u % 80) / lit(10.0)).as("latitude"),
          (lit(-124.0) + (u % 100) / lit(20.0)).as("longitude"),
          when(u % 7 === 0, lit(null).cast("double"))
            .when(u % 11 === 0, lit(StationLists.BadElevation))
            .otherwise(u.cast("double") * 2).as("elevation"),
          when(u % 13 === 0, "N").otherwise("Y").as("merged"),
          col("start_date"), col("end_date"), col("total_nobs"))
      val lp = lpad(u.cast("string"), 6, "0")
      val asosRaw = e.select(uid.as("uid")).distinct().filter(u % 4 === 0)
        .select(
          concat(substring(lp, 1, 3), lit("-"), substring(lp, 4, 3)).as("isd_id"),
          concat(lit("K"), u.cast("string")).as("icao"),
          (u.cast("double") * 100).as("elevation"))
      val states = Seq(
        "CA" -> Seq((-125.0, 31.9), (-118.9, 31.9), (-125.0, 40.1)),
        "NV" -> Seq((-118.9, 31.9), (-125.0, 40.1), (-118.9, 40.1)))
      StationLists.publicStationList(m, asosRaw, states)
        .select(col("era_id"), col("source_id"), col("network"), col("state"),
          r4(col("elevation")).as("elev"),
          unix_timestamp(col("start_date")).as("start_s"),
          col("total_nobs").cast("long").as("nobs"), col("geometry"))
    }),

    // Published-listing count comparison (`compare_zarr_counts.py`): per-network
    // counts on each side plus both missing directions — b drops uid%3 stations
    // and adds T-prefixed stations absent from a.
    "s16_count_compare" -> ((s, dir) => {
      val e = t(s, dir, "events")
      val uid = col("user_id")
      val net = when(uid % 2 === 0, "NETA").otherwise(lit("NETB"))
      val a = e.select(net.as("network"),
        concat(lit("S"), uid.cast("string")).as("station"))
      val b = e.filter(uid % 3 =!= 0)
        .select(net.as("network"),
          concat(lit("S"), uid.cast("string")).as("station"))
        .union(e.filter(uid % 7 === 0)
          .select(net.as("network"),
            concat(lit("T"), uid.cast("string")).as("station")))
      StationLists.compareStationCounts(a, b)
    }),

    // Nested-metadata flattening (`homr_metadata.py:31-78`): an events-derived
    // HOMR-shaped nested record (struct-of-structs header/location + ragged
    // per-station updates array) flattens schema-driven — structs to
    // underscore-joined columns, the array to (row, idx) rows — in one
    // projection + one posexplode.
    "s19_homr_flatten" -> ((s, dir) => {
      val e = t(s, dir, "events")
      val nested = e.groupBy(col("user_id")).agg(count(lit(1)).as("n"))
        .select(col("user_id"),
          struct(
            struct(col("user_id").cast("string").as("ncdcId"),
              concat(lit("ST"), col("user_id").cast("string")).as("name"))
              .as("header"),
            struct((col("user_id") % 50).as("code"), col("n").as("obs"))
              .as("location")).as("meta"),
          transform(sequence(lit(0), col("user_id") % 3), i =>
            struct(i.as("seq"), (col("user_id") + i).as("note"))).as("updates"))
      val flat = graft.sources.JsonFlatten.flattenStructs(nested)
      val rows = graft.sources.JsonFlatten.explodeArray(flat, "updates")
      graft.sources.JsonFlatten.flattenStructs(rows)
        .select(col("user_id"), col("meta_header_ncdcId").as("ncdc_id"),
          col("meta_location_code").as("code"), col("meta_location_obs").as("obs"),
          col("updates_idx"), col("updates_seq"), col("updates_note"))
    }),

    // Flag 2 — spurious buoy check (`qaqc_buoy_check.py:60-131`): observations
    // past a station's disestablishment cutoff (bounded by the adrift-window
    // end_ts where present) flag 2 unless already red-flagged; synthetic cutoff
    // catalog on uid%3 stations, end-bounded on uid%9, pre-set flag 11 rows
    // exercise the validObs guard.
    "c1_buoy_flags" -> ((s, dir) => {
      val e = t(s, dir, "events")
      val obs = e.select(
        concat(lit("MARITIME_"), col("user_id").cast("string")).as("station"),
        col("ts").as("time"),
        when(col("event_id") % 50 === 0, 11).cast("int").as("tas_eraqc"))
      val cutoffs = e.select(col("user_id").as("uid")).distinct()
        .filter(col("uid") % 3 === 0)
        .select(concat(lit("MARITIME_"), col("uid").cast("string")).as("station"),
          lit("2024-01-15 00:00:00").cast("timestamp").as("cutoff_ts"),
          when(col("uid") % 9 === 0,
            lit("2024-01-25 00:00:00").cast("timestamp")).as("end_ts"))
      graft.ops.CleanOps.flagDisestablished(obs, "station", "time", Seq("tas_eraqc"), cutoffs)
        .groupBy(col("tas_eraqc").cast("long").as("flag"))
        .agg(count(lit(1)).as("n"))
    }),

    // Flag 1 — known-issue hour-of-day window (`qaqc_buoy_check.py:133-145`):
    // affected stations' obs inside the local-hour window flag 1.
    "c2_buoy_hours" -> ((s, dir) => {
      val e = t(s, dir, "events")
      val obs = e.select(
        concat(lit("MARITIME_"), col("user_id").cast("string")).as("station"),
        col("ts").as("time"),
        when(col("event_id") % 50 === 0, 11).cast("int").as("tas_eraqc"))
      val issues = e.select(col("user_id").as("uid")).distinct()
        .filter(col("uid") % 5 === 0)
        .select(concat(lit("MARITIME_"), col("uid").cast("string")).as("station"),
          lit(6).as("hour_lo"), lit(20).as("hour_hi"))
      graft.ops.CleanOps.flagKnownIssueHours(obs, "station", "time", Seq("tas_eraqc"), issues)
        .groupBy(col("tas_eraqc").cast("long").as("flag"))
        .agg(count(lit(1)).as("n"))
    }),

    // Sessionization (SURVEY §7 ext; streaming twin in StreamingOps): 30-min
    // gap rule, per-station session counts.
    "w21_sessionize" -> ((s, dir) => {
      graft.ops.SeriesOps.sessionize(
          t(s, dir, "events").select(col("user_id"), col("ts")),
          Seq("user_id"), "ts", gapSeconds = 1800)
        .groupBy(col("user_id"))
        .agg(max(col("session_id")).cast("long").as("n_sessions"),
          count(lit(1)).as("n"))
    }),

    // Column gates end-to-end (`qaqc_wholestation.py:56-110` qaqc_eligible_vars,
    // `merge_clean_vars.py:21-97` filter_columns, dropna(axis=1)): eligibility
    // and all-null-drop are DATA-dependent (tdps is value<0 — never fires on
    // this corpus; rsds is literal null), pruning is schema-dependent; the
    // surviving column names are the query result.
    "p6_column_gates" -> ((s, dir) => {
      import s.implicits._
      val e = t(s, dir, "events").select(
        col("value").as("tas"),
        when(col("value") < 0, col("value")).as("tdps"),
        when(col("event_id") % 97 === 0, col("value")).as("pr"),
        lit(null).cast("double").as("rsds"))
      val eligible = graft.ops.ColumnGates.eligibleVariables(e,
        Seq("tas", "tdps", "pr", "rsds", "hurs"))
      val kept = graft.ops.ColumnGates.dropAllNullColumns(e,
        Seq("tas", "tdps", "pr", "rsds"))
      val pruned = graft.ops.ColumnGates.pruneColumns(kept,
        keepSubstrings = Seq("ta", "pr"), dropSubstrings = Seq("qc"))
      eligible.toDF("var").withColumn("kind", lit("eligible"))
        .unionByName(kept.columns.toSeq.toDF("var").withColumn("kind", lit("kept")))
        .unionByName(pruned.columns.toSeq.toDF("var")
          .withColumn("kind", lit("pruned")))
    }),

    // Station-concatenation mapping (`qaqc_concatenate_stations.py:87-133`
    // concatenation_check + the survivor rule): co-located (identical lat/lon)
    // stations map to their newest member; singletons map to themselves. The
    // uid%40/uid%25 lattice forces real collision groups.
    "s20_concat_mapping" -> ((s, dir) => {
      val stns = t(s, dir, "events").select(col("user_id").as("uid")).distinct()
        .select(concat(lit("NET_"), col("uid").cast("string")).as("id"),
          (col("uid") % 40).as("lat"), (col("uid") % 25).as("lon"),
          col("uid").as("rec"))
      graft.pipeline.ConcatStations.survivorMapping(stns, "id", "lat", "lon",
        col("rec"))
    }),

    // HDP station-id lookup (`asosawos_station_id_lookup.py:41-105`): the
    // case-insensitive city-substring path ("city7 municipal" hits exactly the
    // uid%50==7 class — the trailing context excludes CITY17/CITY27/…).
    "s17_station_lookup" -> ((s, dir) => {
      val e = t(s, dir, "events")
      val u = col("uid")
      val stations = e.select(col("user_id").as("uid")).distinct().select(
        concat(lit("ASOSAWOS_"), u.cast("string")).as("era_id"),
        concat(lit("K"), u.cast("string")).as("icao"),
        concat(lit("City"), (u % 50).cast("string"),
          lit(" Municipal Airport")).as("station_name"))
      StationLists.asosStationLookup(stations, city = Some("city7 municipal"))
    }),

    // Station-coverage map data (`station_coverage_figure.py:43-117`): the
    // figure's data half — Web-Mercator reprojection + the network colormap
    // broadcast join; NET4 is missing from the colormap (null color, the
    // reference would plot it grey).
    "s21_coverage_map" -> ((s, dir) => {
      val e = t(s, dir, "events")
      val u = col("uid")
      val stations = e.select(col("user_id").as("uid")).distinct().select(
        concat(lit("NET"), (u % 5).cast("string"), lit("_"),
          u.cast("string")).as("era_id"),
        concat(lit("NET"), (u % 5).cast("string")).as("network"),
        (lit(31.0) + (u % 90) / lit(10.0)).as("latitude"),
        (lit(-124.0) + (u % 120) / lit(12.0)).as("longitude"))
      val colors = s.createDataFrame(Seq(
        ("NET0", "1f77b4"), ("NET1", "ff7f0e"), ("NET2", "2ca02c"),
        ("NET3", "d62728"))).toDF("network", "color")
      StationLists.coverageMapData(stations, colors)
        .select(col("station_id"), col("network"),
          r4(col("x_merc")).as("x_merc"), r4(col("y_merc")).as("y_merc"),
          col("color"))
    }),

    // CW3E per-station multi-file combine (`CW3E_combine.py:137-216`): union of
    // per-file frames gated to ledger-cleaned CW3E stations (uid%4==0 is
    // uncleaned; the same ids appear cleaned under network OTHER and must stay
    // excluded — the network filter, not just the id match, is the gate).
    "s22_cw3e_combine" -> ((s, dir) => {
      val e = t(s, dir, "events")
      val uid = col("user_id")
      val parts = e.select(
        concat(lit("CW3E_"), uid.cast("string")).as("era_id"),
        concat(lit("raw_"), uid.cast("string"), lit("_"),
          (dayofmonth(col("ts")) % 4).cast("string"), lit(".nc")).as("file"),
        col("ts").as("time"), col("value"))
      val ids = e.select(uid.as("uid")).distinct()
      val u = col("uid")
      val ledger = ids.select(
          concat(lit("CW3E_"), u.cast("string")).as("era_id"),
          lit("CW3E").as("network"),
          when(u % 4 === 0, "N").otherwise("Y").as("cleaned"))
        .union(ids.filter(u % 4 === 0).select(
          concat(lit("CW3E_"), u.cast("string")).as("era_id"),
          lit("OTHER").as("network"), lit("Y").as("cleaned")))
      StationLists.combineStationFiles(parts, ledger, "CW3E")
        .groupBy(col("era_id"))
        .agg(countDistinct(col("file")).as("n_files"),
          count(lit(1)).as("n_rows"),
          unix_timestamp(min(col("time"))).as("t0_s"),
          unix_timestamp(max(col("time"))).as("t1_s"))
    })
  )

  def oracles: Map[String, String] = Map(
    "c7_cimis_clean" ->
      """WITH e AS (
           SELECT user_id, event_id, value,
                  date_trunc('hour', ts - INTERVAL 10 YEAR - INTERVAL 8 HOUR) AS pst_h
           FROM events),
         raw AS (
           SELECT CAST(user_id AS VARCHAR) AS sid, pst_h,
                  CASE WHEN event_id % 97 = 0 THEN -9998.0
                       ELSE value / 10 END AS tc,
                  CASE WHEN value > 400 THEN 'Y' END AS qc
           FROM e),
         std AS (
           SELECT DISTINCT 'CIMIS_' || sid AS station,
                  pst_h + INTERVAL 8 HOUR AS time_utc,
                  CASE WHEN tc IN (-9998.0, -9997.0, -6999.0, 6999.0, -8484.0)
                       THEN NULL ELSE tc + 273.15 END AS tas,
                  qc AS tas_qc
           FROM raw
           WHERE pst_h + INTERVAL 8 HOUR > TIMESTAMP '1979-12-31'
             AND pst_h + INTERVAL 8 HOUR < TIMESTAMP '2022-09-01')
         SELECT station, CAST(epoch(time_utc) AS BIGINT) AS time_s,
                ROUND(tas, 4) + 0 AS tas, tas_qc
         FROM std""",
    "c8_scansnotel_clean" ->
      """WITH raw AS (
           SELECT user_id,
                  date_trunc('second', ts - INTERVAL 10 YEAR) AS time_utc,
                  CASE WHEN event_id % 89 = 0 THEN NULL
                       ELSE value / 5 + 32 END AS tf,
                  CASE WHEN value > 450 THEN 'S' END AS fl,
                  29.0 + value / 1000 AS pres
           FROM events),
         std AS (
           SELECT DISTINCT 'SCANSNOTEL_' || CAST(user_id AS VARCHAR) AS station,
                  time_utc,
                  (tf - 32.0) * (5.0 / 9.0) + 273.15 AS tas,
                  fl AS tas_qc,
                  pres * 3386.39 AS psl
           FROM raw
           WHERE time_utc > TIMESTAMP '1979-12-31'
             AND time_utc < TIMESTAMP '2022-09-01')
         SELECT station, CAST(epoch(time_utc) AS BIGINT) AS time_s,
                ROUND(tas, 4) + 0 AS tas, tas_qc, ROUND(psl, 4) + 0 AS psl
         FROM std""",
    "c9_cw3e_clean" ->
      """WITH e AS (
           SELECT user_id, event_id, value,
                  date_trunc('minute', ts - INTERVAL 10 YEAR) AS tm
           FROM events),
         raw AS (
           SELECT 'CW3E_S' || CAST(user_id AS VARCHAR) AS station, tm,
                  CASE WHEN event_id % 97 = 0 THEN NULL ELSE value / 10 END AS tc,
                  950.0 + value / 100 AS pmb
           FROM e),
         std AS (
           SELECT DISTINCT station, tm,
                  tc + 273.15 AS tas, pmb * 100.0 AS psl
           FROM raw
           WHERE tm > TIMESTAMP '1979-12-31' AND tm < TIMESTAMP '2022-09-01')
         SELECT station, CAST(epoch(tm) AS BIGINT) AS time_s,
                ROUND(tas, 4) + 0 AS tas, ROUND(psl, 4) + 0 AS psl
         FROM std""",
    "c10_valleywater_clean" ->
      """WITH b0 AS (
           SELECT DISTINCT user_id,
                  CAST(floor(epoch(ts - INTERVAL 10 YEAR) / 900) AS BIGINT) AS b
           FROM events),
         raw AS (
           SELECT user_id, to_timestamp(b * 900) AS t15,
                  (b % 1000) / 100.0 AS vin,
                  CASE WHEN (b + user_id) % 89 = 0 THEN NULL
                       WHEN b % 2 = 0 THEN '1' ELSE '2' END AS apr
           FROM b0),
         kept AS (
           SELECT * FROM raw
           WHERE apr IS NOT NULL
             AND t15 > TIMESTAMP '1979-12-31' AND t15 < TIMESTAMP '2022-09-01'),
         grid AS (
           SELECT user_id,
                  unnest(generate_series(min(t15), max(t15), INTERVAL 15 MINUTE)) AS t15
           FROM kept GROUP BY user_id)
         SELECT 'VALLEYWATER_' || CAST(g.user_id AS VARCHAR) AS station,
                CAST(epoch(g.t15) AS BIGINT) AS time_s,
                ROUND(k.vin * 25.4, 4) + 0 AS pr_15min,
                k.apr AS raw_qc,
                CASE WHEN k.user_id IS NULL THEN 30 END AS infill_flag
         FROM grid g LEFT JOIN kept k
           ON g.user_id = k.user_id AND g.t15 = k.t15""",
    "c11_maritime_clean" ->
      """WITH e AS (
           SELECT user_id, event_id, value,
                  date_trunc('minute', ts - INTERVAL 10 YEAR) AS tm
           FROM events),
         raw AS (
           SELECT 'MARITIME_' || CAST(user_id AS VARCHAR) AS station, tm,
                  CASE WHEN event_id % 97 = 0 THEN NULL ELSE value / 20 END AS atmp,
                  CASE WHEN event_id % 89 = 0 THEN NULL
                       ELSE 950.0 + value / 100 END AS pres,
                  value / 50 AS wspd
           FROM e),
         std AS (
           SELECT DISTINCT station, tm,
                  atmp + 273.15 AS tas, pres * 100.0 AS ps, wspd AS sfcWind
           FROM raw
           WHERE tm > TIMESTAMP '1979-12-31' AND tm < TIMESTAMP '2022-09-01')
         SELECT station, CAST(epoch(tm) AS BIGINT) AS time_s,
                ROUND(tas, 4) + 0 AS tas, ROUND(ps, 4) + 0 AS ps,
                ROUND(sfcWind, 4) + 0 AS sfcWind
         FROM std""",
    "c12_madis_clean" ->
      """WITH e AS (
           SELECT user_id, event_id, value,
                  date_trunc('second', ts - INTERVAL 10 YEAR) AS tm
           FROM events),
         raw AS (
           SELECT 'MADIS_AP' || CAST(user_id AS VARCHAR) AS station, tm,
                  CASE WHEN event_id % 97 = 0 THEN NULL ELSE value / 10 END AS tc,
                  CASE WHEN value > 450 THEN '2;3'
                       WHEN value > 400 THEN '2' END AS qc,
                  96000.0 + value * 10 AS psv,
                  value / 50 AS wspd
           FROM e),
         std AS (
           SELECT DISTINCT station, tm,
                  tc + 273.15 AS tas, qc AS tas_qc, psv AS ps, wspd AS sfcWind
           FROM raw
           WHERE tm > TIMESTAMP '1979-12-31' AND tm < TIMESTAMP '2022-09-01')
         SELECT station, CAST(epoch(tm) AS BIGINT) AS time_s,
                ROUND(tas, 4) + 0 AS tas, tas_qc, ROUND(ps, 4) + 0 AS ps,
                ROUND(sfcWind, 4) + 0 AS sfcWind
         FROM std""",
    "c13_asos_clean" ->
      """WITH e AS (
           SELECT user_id, event_id,
                  CAST(abs(round(value)) AS BIGINT) AS d,
                  date_trunc('minute', ts - INTERVAL 10 YEAR) AS tm
           FROM events),
         parsed AS (
           SELECT 'ASOSAWOS_' || lpad(CAST(user_id AS VARCHAR), 11, '0') AS station,
                  tm,
                  d / 10.0 + 273.15 AS tas,
                  (95000 + d) * 10.0 AS psl,
                  CASE WHEN event_id % 3 = 0 THEN (9000 + d) * 10.0 END AS ps,
                  CASE WHEN event_id % 5 = 0 THEN d / 10.0 END AS pr,
                  d / 10.0 AS sfcWind
           FROM e
           WHERE tm > TIMESTAMP '1979-12-31' AND tm < TIMESTAMP '2022-09-01')
         SELECT station, CAST(epoch(tm) AS BIGINT) AS time_s,
                ROUND(tas, 4) + 0 AS tas, ROUND(psl, 4) + 0 AS psl,
                ROUND(ps, 4) + 0 AS ps, ROUND(pr, 4) + 0 AS pr,
                ROUND(sfcWind, 4) + 0 AS sfcWind
         FROM parsed""",
    "s13_stnlist_qaqc" -> stationLedgerSql(QaqcLedger),
    "s18_stnlist_merge" -> stationLedgerSql(MergeLedger),
    "s12_stnlist_status" -> stationLedgerSql(CleanLedger),
    "s23_stnlist_pull" ->
      """WITH u AS (SELECT DISTINCT user_id AS uid FROM events),
         st AS (SELECT 'ISD' || CAST(uid AS VARCHAR) AS isd_id,
                       GREATEST(1980, 1975 + uid % 10) AS sy,
                       1982 + uid % 7 AS ey
                FROM u),
         f AS (SELECT 'ISD' || CAST(uid AS VARCHAR) AS sid, t.y AS y
               FROM u, generate_series(1979, 1990) t(y)
               WHERE uid % 13 <> 0 AND (t.y + uid) % 3 <> 0),
         dl AS (SELECT DISTINCT sid FROM f),
         expected AS (SELECT st.isd_id, t.y AS year
                      FROM st, generate_series(1980, 1990) t(y)
                      WHERE t.y >= st.sy AND t.y <= st.ey),
         missing AS (SELECT e.isd_id, e.year
                     FROM expected e JOIN dl ON dl.sid = e.isd_id
                     LEFT JOIN f ON f.sid = e.isd_id AND f.y = e.year
                     WHERE f.sid IS NULL)
         SELECT year, isd_id || '-' || CAST(year AS VARCHAR) || '.gz' AS file_name
         FROM missing""",
    "s24_pull_missed" ->
      """WITH u AS (SELECT DISTINCT user_id AS uid FROM events)
         SELECT 'ISD' || CAST(uid AS VARCHAR) AS isd_id,
                lpad(CAST(uid % 99999 AS VARCHAR), 5, '0') AS wban
         FROM u WHERE uid % 13 = 0""",
    // The publish queries' oracles aggregate the parquet DIRECTLY — the Spark
    // side must reproduce these values through the full write→read format loop.
    "s26_zarr_publish" ->
      """SELECT 'Z' || lpad(CAST(user_id % 40 AS VARCHAR), 2, '0') AS station,
                COUNT(*) AS n,
                CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sval,
                CAST(SUM(event_id) AS BIGINT) AS sevt,
                MAX(epoch_us(ts)) AS max_us,
                COUNT(DISTINCT event_type) AS nflags
         FROM events GROUP BY 1""",
    "s27_nc_publish" ->
      """SELECT 'N' || lpad(CAST(user_id % 25 AS VARCHAR), 2, '0') AS station,
                COUNT(*) AS n,
                CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sval,
                CAST(SUM(event_id) AS BIGINT) AS sevt,
                MAX(epoch_us(date_trunc('second', ts))) AS max_us,
                COUNT(DISTINCT event_type) AS nflags
         FROM events GROUP BY 1""",
    "s25_dev_subset" ->
      """WITH u AS (SELECT DISTINCT user_id AS uid FROM events),
         st AS (SELECT 'NET_' || CAST(uid AS VARCHAR) AS era_id,
                       CASE WHEN uid % 41 = 0 THEN NULL
                            ELSE CAST(uid * 37 % 1000 - 100 AS DOUBLE) END AS elevation,
                       (uid * 13 % 400) / 10.0::DOUBLE AS bio5,
                       (uid * 7 % 250) / 5.0::DOUBLE AS wind
                FROM u),
         ve AS (SELECT era_id, elevation AS v FROM st WHERE elevation IS NOT NULL),
         me AS (SELECT min(v) AS mn, max(v) AS mx FROM ve),
         te AS (SELECT t.i AS ti,
                       mn + (t.i + 0.5::DOUBLE) / 25.0::DOUBLE * (mx - mn) AS tgt
                FROM me, generate_series(0, 24) t(i)),
         pe AS (SELECT era_id FROM (
                  SELECT ve.era_id,
                         row_number() OVER (PARTITION BY te.ti
                           ORDER BY abs(ve.v - te.tgt), ve.era_id) AS rn
                  FROM ve CROSS JOIN te) WHERE rn = 1),
         vb AS (SELECT era_id, bio5 AS v FROM st WHERE bio5 IS NOT NULL),
         mb AS (SELECT min(v) AS mn, max(v) AS mx FROM vb),
         tb AS (SELECT t.i AS ti,
                       mn + (t.i + 0.5::DOUBLE) / 25.0::DOUBLE * (mx - mn) AS tgt
                FROM mb, generate_series(0, 24) t(i)),
         pb AS (SELECT era_id FROM (
                  SELECT vb.era_id,
                         row_number() OVER (PARTITION BY tb.ti
                           ORDER BY abs(vb.v - tb.tgt), vb.era_id) AS rn
                  FROM vb CROSS JOIN tb) WHERE rn = 1),
         vw AS (SELECT era_id, wind AS v FROM st WHERE wind IS NOT NULL),
         mw AS (SELECT min(v) AS mn, max(v) AS mx FROM vw),
         tw AS (SELECT t.i AS ti,
                       mn + (t.i + 0.5::DOUBLE) / 25.0::DOUBLE * (mx - mn) AS tgt
                FROM mw, generate_series(0, 24) t(i)),
         pw AS (SELECT era_id FROM (
                  SELECT vw.era_id,
                         row_number() OVER (PARTITION BY tw.ti
                           ORDER BY abs(vw.v - tw.tgt), vw.era_id) AS rn
                  FROM vw CROSS JOIN tw) WHERE rn = 1)
         SELECT DISTINCT era_id, picked_for FROM (
           SELECT era_id, 'elevation' AS picked_for FROM pe
           UNION ALL SELECT era_id, 'bio5' FROM pb
           UNION ALL SELECT era_id, 'wind' FROM pw)""",
    "s14_stationlist_gen" ->
      """WITH base AS (
           SELECT user_id AS uid,
                  date_trunc('second', min(ts)) AS mn,
                  date_trunc('second', max(ts)) AS mx,
                  count(*) AS nobs
           FROM events GROUP BY user_id),
         a AS (SELECT 'CIMIS_' || CAST(uid AS VARCHAR) AS era_id,
                      uid % 10 + 32.5 AS lat,
                      -120.0 + (uid % 7) AS lon,
                      CAST(uid * 3 AS DOUBLE) AS elev,
                      mn AS start_d, mx AS end_d,
                      CASE WHEN uid % 4 = 0 THEN 'N' ELSE 'Y' END AS merged,
                      'CIMIS' AS network, nobs
               FROM base),
         b AS (SELECT 'MARITIME_' || CAST(uid AS VARCHAR),
                      30.0 + (uid % 5),
                      -125.0 + (uid % 9) / 2.0,
                      CAST(uid * 2 AS DOUBLE),
                      mn,
                      CASE WHEN uid % 3 = 0 THEN TIMESTAMP '2022-09-01 00:00:00'
                           ELSE mx END,
                      'Y', 'MARITIME', nobs
               FROM base WHERE uid % 2 = 0),
         c AS (SELECT DISTINCT 'CW3E_S' || CAST(user_id AS VARCHAR),
                      CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
                      CAST(user_id * 5 AS DOUBLE),
                      CAST(NULL AS TIMESTAMP), CAST(NULL AS TIMESTAMP),
                      CASE WHEN user_id % 2 = 0 THEN 'Y' ELSE 'N' END,
                      'CW3E', CAST(NULL AS BIGINT)
               FROM events WHERE user_id % 3 = 0),
         u AS (SELECT * FROM a UNION ALL SELECT * FROM b UNION ALL SELECT * FROM c)
         SELECT era_id, ROUND(lat, 4) + 0 AS lat, ROUND(lon, 4) + 0 AS lon,
                ROUND(elev, 4) + 0 AS elev,
                CAST(epoch(start_d) AS BIGINT) AS start_s,
                CAST(epoch(end_d) AS BIGINT) AS end_s,
                merged, network, nobs
         FROM u""",
    "s15_public_stationlist" ->
      """WITH base AS (
           SELECT user_id AS uid,
                  date_trunc('second', min(ts)) AS mn,
                  count(*) AS nobs
           FROM events GROUP BY user_id),
         m AS (SELECT uid,
                      CASE WHEN uid % 2 = 0
                           THEN 'ASOSAWOS_' || lpad(CAST(uid AS VARCHAR), 6, '0')
                           ELSE 'CIMIS_' || CAST(uid AS VARCHAR) END AS era_id,
                      CASE WHEN uid % 2 = 0 THEN 'ASOSAWOS' ELSE 'CIMIS' END AS network,
                      32.0 + (uid % 80) / 10.0 AS latitude,
                      -124.0 + (uid % 100) / 20.0 AS longitude,
                      CASE WHEN uid % 7 = 0 THEN NULL
                           WHEN uid % 11 = 0 THEN -30479.6952
                           ELSE CAST(uid AS DOUBLE) * 2 END AS elevation,
                      CASE WHEN uid % 13 = 0 THEN 'N' ELSE 'Y' END AS merged,
                      mn, nobs
               FROM base),
         fixed AS (
           SELECT m.*,
                  CASE WHEN network = 'ASOSAWOS'
                            AND (elevation IS NULL OR elevation = -30479.6952)
                            AND uid % 4 = 0
                       THEN CAST(uid AS DOUBLE) * 100 ELSE elevation END AS elev2,
                  CASE WHEN network = 'ASOSAWOS'
                       THEN CASE WHEN uid % 4 = 0 THEN 'K' || CAST(uid AS VARCHAR) END
                       ELSE CAST(uid AS VARCHAR) END AS source_id
           FROM m WHERE merged = 'Y')
         SELECT era_id, source_id, network,
                CASE WHEN latitude < 31.9 + 8.2 * (longitude + 118.9) / (-6.1)
                     THEN 'CA' ELSE 'NV' END AS state,
                ROUND(elev2, 4) + 0 AS elev,
                CAST(epoch(mn) AS BIGINT) AS start_s,
                nobs,
                'POINT (' || CAST(CAST(longitude AS DECIMAL(9,4)) AS VARCHAR) || ' ' ||
                  CAST(CAST(latitude AS DECIMAL(9,4)) AS VARCHAR) || ')' AS geometry
         FROM fixed""",
    "s16_count_compare" ->
      """WITH a AS (
           SELECT DISTINCT
                  CASE WHEN user_id % 2 = 0 THEN 'NETA' ELSE 'NETB' END AS network,
                  'S' || CAST(user_id AS VARCHAR) AS station
           FROM events),
         b AS (
           SELECT DISTINCT network, station FROM (
             SELECT CASE WHEN user_id % 2 = 0 THEN 'NETA' ELSE 'NETB' END AS network,
                    'S' || CAST(user_id AS VARCHAR) AS station
             FROM events WHERE user_id % 3 <> 0
             UNION ALL
             SELECT CASE WHEN user_id % 2 = 0 THEN 'NETA' ELSE 'NETB' END,
                    'T' || CAST(user_id AS VARCHAR)
             FROM events WHERE user_id % 7 = 0)),
         j AS (SELECT coalesce(a.network, b.network) AS network,
                      a.station AS sa, b.station AS sb
               FROM a FULL OUTER JOIN b
                 ON a.network = b.network AND a.station = b.station)
         SELECT network, count(sa) AS n_a, count(sb) AS n_b,
                CAST(SUM(CASE WHEN sb IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                  AS missing_in_b,
                CAST(SUM(CASE WHEN sa IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                  AS missing_in_a
         FROM j GROUP BY network""",
    "s17_station_lookup" ->
      """SELECT DISTINCT 'ASOSAWOS_' || CAST(user_id AS VARCHAR) AS era_id
         FROM events WHERE user_id % 50 = 7""",
    "s19_homr_flatten" ->
      """WITH base AS (SELECT user_id, count(*) AS n FROM events GROUP BY user_id),
         ex AS (SELECT user_id, n,
                       unnest(generate_series(0, user_id % 3)) AS i
                FROM base)
         SELECT user_id, CAST(user_id AS VARCHAR) AS ncdc_id,
                user_id % 50 AS code, n AS obs,
                CAST(i AS INTEGER) AS updates_idx,
                i AS updates_seq,
                user_id + i AS updates_note
         FROM ex""",
    "s20_concat_mapping" ->
      """WITH stns AS (SELECT DISTINCT user_id AS uid FROM events),
         s2 AS (SELECT 'NET_' || CAST(uid AS VARCHAR) AS id,
                       uid % 40 AS lat, uid % 25 AS lon, uid AS rec
                FROM stns)
         SELECT id AS member_id,
                arg_max(id, rec) OVER (PARTITION BY lat, lon) AS survivor_id
         FROM s2""",
    "s21_coverage_map" ->
      """WITH st AS (SELECT DISTINCT user_id AS uid FROM events),
         s2 AS (SELECT
                  'NET' || CAST(uid % 5 AS VARCHAR) || '_' ||
                    CAST(uid AS VARCHAR) AS station_id,
                  'NET' || CAST(uid % 5 AS VARCHAR) AS network,
                  31.0 + (uid % 90) / 10.0 AS lat,
                  -124.0 + (uid % 120) / 12.0 AS lon
                FROM st),
         colors(network, color) AS (VALUES
           ('NET0', '1f77b4'), ('NET1', 'ff7f0e'),
           ('NET2', '2ca02c'), ('NET3', 'd62728'))
         SELECT station_id, s2.network,
                ROUND(radians(lon) * 6378137, 4) + 0 AS x_merc,
                ROUND(ln(tan(pi() / 4 + radians(lat) / 2)) * 6378137, 4) + 0
                  AS y_merc,
                '#' || c.color AS color
         FROM s2 LEFT JOIN colors c ON s2.network = c.network""",
    "s22_cw3e_combine" ->
      """WITH ids AS (SELECT DISTINCT user_id AS uid FROM events),
         ledg AS (
           SELECT 'CW3E_' || CAST(uid AS VARCHAR) AS era_id, 'CW3E' AS network,
                  CASE WHEN uid % 4 = 0 THEN 'N' ELSE 'Y' END AS cleaned
           FROM ids
           UNION ALL
           SELECT 'CW3E_' || CAST(uid AS VARCHAR), 'OTHER', 'Y'
           FROM ids WHERE uid % 4 = 0),
         wanted AS (SELECT era_id FROM ledg
                    WHERE network = 'CW3E' AND cleaned = 'Y'),
         parts AS (SELECT 'CW3E_' || CAST(user_id AS VARCHAR) AS era_id,
                          'raw_' || CAST(user_id AS VARCHAR) || '_' ||
                            CAST(day(ts) % 4 AS VARCHAR) || '.nc' AS file,
                          ts
                   FROM events)
         SELECT p.era_id, COUNT(DISTINCT file) AS n_files, COUNT(*) AS n_rows,
                CAST(epoch(date_trunc('second', MIN(ts))) AS BIGINT) AS t0_s,
                CAST(epoch(date_trunc('second', MAX(ts))) AS BIGINT) AS t1_s
         FROM parts p JOIN wanted w ON p.era_id = w.era_id
         GROUP BY p.era_id""",
    "p6_column_gates" ->
      """WITH st AS (
           SELECT COUNT(value) AS tas_n,
                  COUNT(CASE WHEN value < 0 THEN value END) AS tdps_n,
                  COUNT(CASE WHEN event_id % 97 = 0 THEN value END) AS pr_n
           FROM events)
         SELECT 'tas' AS var, 'eligible' AS kind FROM st WHERE tas_n > 0
         UNION ALL SELECT 'tdps', 'eligible' FROM st WHERE tdps_n > 0
         UNION ALL SELECT 'pr', 'eligible' FROM st WHERE pr_n > 0
         UNION ALL SELECT 'tas', 'kept' FROM st WHERE tas_n > 0
         UNION ALL SELECT 'tdps', 'kept' FROM st WHERE tdps_n > 0
         UNION ALL SELECT 'pr', 'kept' FROM st WHERE pr_n > 0
         UNION ALL SELECT 'tas', 'pruned' FROM st WHERE tas_n > 0
         UNION ALL SELECT 'pr', 'pruned' FROM st WHERE pr_n > 0""",
    "c1_buoy_flags" ->
      """WITH obs AS (
           SELECT user_id AS uid, ts AS time,
                  CASE WHEN event_id % 50 = 0 THEN 11 END AS flag
           FROM events)
         SELECT CAST(CASE WHEN uid % 3 = 0
                            AND time >= TIMESTAMP '2024-01-15 00:00:00'
                            AND (uid % 9 <> 0
                                 OR time <= TIMESTAMP '2024-01-25 00:00:00')
                            AND flag IS NULL
                          THEN 2 ELSE flag END AS BIGINT) AS flag,
                COUNT(*) AS n
         FROM obs GROUP BY 1""",
    "c2_buoy_hours" ->
      """WITH obs AS (
           SELECT user_id AS uid, ts AS time,
                  CASE WHEN event_id % 50 = 0 THEN 11 END AS flag
           FROM events)
         SELECT CAST(CASE WHEN uid % 5 = 0
                            AND hour(time) BETWEEN 6 AND 20
                            AND flag IS NULL
                          THEN 1 ELSE flag END AS BIGINT) AS flag,
                COUNT(*) AS n
         FROM obs GROUP BY 1""",
    "w21_sessionize" ->
      """WITH x AS (
           SELECT user_id, CAST(FLOOR(epoch(ts)) AS BIGINT) AS tl,
                  LAG(CAST(FLOOR(epoch(ts)) AS BIGINT))
                    OVER (PARTITION BY user_id ORDER BY ts) AS prev
           FROM events),
         o AS (SELECT user_id,
                      CASE WHEN prev IS NULL OR tl - prev > 1800 THEN 1 ELSE 0 END
                        AS op
               FROM x)
         SELECT user_id, CAST(SUM(op) AS BIGINT) AS n_sessions, COUNT(*) AS n
         FROM o GROUP BY user_id"""
  )
}
