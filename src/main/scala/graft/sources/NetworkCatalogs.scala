package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.expr.Units
import graft.ops.{CleanOps, ColumnGates}

/** S4 (data half) — per-network clean catalogs: the reference's network-specific
  * column dictionaries, unit maps, sentinel codes, and local-time conventions,
  * re-expressed as DATA (one [[Catalog]] per network) driving ONE shared
  * standardization plan instead of five 300–800-line scripts.
  *
  * Reference scripts mirrored (each network's `clean_<NETWORK>` function):
  *  - CIMIS        `/root/reference/scripts/2_clean_data/CIMIS_clean.py:58-734`
  *  - SCAN/SNOTEL  `/root/reference/scripts/2_clean_data/SCANSNOTEL_clean.py:55-768`
  *  - CW3E         `/root/reference/scripts/2_clean_data/CW3E_clean.py:57-635`
  *  - VALLEYWATER  `/root/reference/scripts/2_clean_data/VALLEYWATER_clean.py:45-278`
  *  - MARITIME     `/root/reference/scripts/2_clean_data/MARITIME_clean.py:160-660`
  *
  * Scale shape: [[standardize]] is a single narrow projection + filter +
  * `dropDuplicates` — no shuffle beyond the dedup exchange, no per-station driver
  * loop (the reference iterates stations serially; here all stations of a network
  * are one DataFrame). The optional all-null column drop is the only extra job and
  * is off on query paths (schema must be static there anyway).
  */
object NetworkCatalogs {

  /** One canonical-variable mapping: raw column → canonical name, unit conversion,
    * and (optionally) the raw QC column that shadows it (kept as `<canonical>_qc`,
    * string-typed — network flag alphabets are strings, SURVEY §1.1). */
  final case class VarMap(raw: String, canonical: String,
                          convert: Column => Column = identity,
                          qcRaw: Option[String] = None)

  /** A network's clean catalog. `rawSchema` is the EXPLICIT read schema (numeric
    * columns may be StringType — raw network CSVs are stringly typed and parse-time
    * NA tokens like `"*"`/`"--"`/`"MM"` must not fail a cast); no schema inference
    * pass ever runs at scale. Time bounds are exclusive on both ends, exactly the
    * reference's `(time > "1979-12-31") & (time < "2022-09-01")`. */
  final case class Catalog(network: String,
                           rawSchema: StructType,
                           vars: Seq[VarMap],
                           naStrings: Seq[String] = Seq("nan", "NaN"),
                           sentinels: Seq[Double] = Seq.empty,
                           dropCols: Seq[String] = Seq.empty,
                           timeLoEx: String = "1979-12-31 00:00:00",
                           timeHiEx: String = "2022-09-01 00:00:00",
                           qcNorm: Column => Column = identity) {
    def stationId(raw: Column): Column = concat(lit(network + "_"), raw.cast("string"))
  }

  // ------------------------------------------------------------- shared plan

  /** Numeric observation column: NA tokens → null (string inputs only), cast to
    * double, sentinel codes → null (`CIMIS_clean.py:216,296-301`,
    * `MARITIME_clean.py:322-328`). Stays in whole-stage codegen — a literal
    * `when(isin)` chain, no join, no UDF. */
  private def obsCol(raw: DataFrame, cat: Catalog, name: String): Column = {
    val base = raw.schema.fields.find(_.name == name) match {
      case Some(f) if f.dataType == StringType =>
        val tr = trim(col(name))
        when(tr.isin(cat.naStrings: _*) || tr === "", lit(null)).otherwise(tr).cast("double")
      case _ => col(name).cast("double")
    }
    if (cat.sentinels.isEmpty) base
    else when(base.isin(cat.sentinels: _*), lit(null)).otherwise(base)
  }

  /** Raw-QC column: kept verbatim as string, catalog QC normalization applied
    * (e.g. MADIS's float-suffix strip), catalog + pandas NA tokens → null
    * (`SCANSNOTEL_clean.py:236-260` coerces flags to string;
    * `MADIS_clean.py:650-688` stringifies then strips the `.0` float residue). */
  private def qcCol(cat: Catalog, name: String): Column = {
    val tr = cat.qcNorm(trim(col(name).cast("string")))
    val na = (cat.naStrings ++ Seq("nan", "NaN", "")).distinct
    when(tr.isin(na: _*) || tr.isNull, lit(null)).otherwise(tr)
  }

  /** The shared standardization plan: project raw columns to canonical names with
    * unit conversion and sentinel/NA handling, stamp `(station, time)` keys, apply
    * the platform time filter, and drop exact duplicate rows
    * (`df_stat.sort_values.drop_duplicates()` — order is irrelevant to the set).
    *
    * `dropEmptyColumns` mirrors `df.dropna(axis=1, how="all")` (one extra count-agg
    * job, [[ColumnGates.dropAllNullColumns]]); leave it false on oracle/query paths
    * where the schema must be static.
    *
    * Vars missing from `raw` are skipped — the reference's `if col in ds.keys()`
    * per-variable guards (`CIMIS_clean.py:419-616`). */
  def standardize(raw: DataFrame, cat: Catalog, station: Column, time: Column,
                  dropEmptyColumns: Boolean = false): DataFrame = {
    val present = raw.columns.toSet -- cat.dropCols
    val canonical = cat.vars.filter(v => present(v.raw)).flatMap { v =>
      v.convert(obsCol(raw, cat, v.raw)).as(v.canonical) ::
        v.qcRaw.filter(present).map(q => qcCol(cat, q).as(v.canonical + "_qc")).toList
    }
    val projected = raw
      .select(station.as("station") +: time.as("time") +: canonical: _*)
      .filter(col("time") > lit(cat.timeLoEx).cast("timestamp") &&
        col("time") < lit(cat.timeHiEx).cast("timestamp"))
      .dropDuplicates()
    if (dropEmptyColumns)
      ColumnGates.dropAllNullColumns(projected, cat.vars.map(_.canonical))
    else projected
  }

  // ------------------------------------------------------------------ CIMIS

  /** CIMIS hourly CSV columns, post-June-2014 order (`CIMIS_clean.py:84-109`);
    * pre-2014 files interleave QC-before-value (`oldcols`, `:110-135`) — same
    * names, so [[standardize]]'s select-by-name covers both once parsed with the
    * right positional schema ([[cimisSchema]]). */
  private val cimisNewCols = Seq(
    "Station ID", "Date", "Hour (PST)", "Julian Date",
    "Reference ETo (mm)", "QC for Reference ETo",
    "Precipitation (mm)", "QC for Precipitation",
    "Solar Radiation (W/m²)", "QC for Solar Radiation",
    "Vapor Pressure (kPa)", "QC for Vapor Pressure",
    "Air Temperature (°C)", "QC for Air Temperature",
    "Relative Humidity (%)", "QC for Relative Humidity",
    "Dew Point (°C)", "QC for Dew Point",
    "Wind Speed (m/s)", "QC for Wind Speed",
    "Wind Direction (0-360)", "QC for Wind Direction",
    "Soil Temperature (°C)", "QC for Soil Temperature")

  private val cimisOldCols = Seq(
    "Station ID", "Date", "Hour (PST)", "Julian Date",
    "QC for Reference ETo", "Reference ETo (mm)",
    "QC for Precipitation", "Precipitation (mm)",
    "QC for Solar Radiation", "Solar Radiation (W/m²)",
    "QC for Vapor Pressure", "Vapor Pressure (kPa)",
    "QC for Air Temperature", "Air Temperature (°C)",
    "QC for Relative Humidity", "Relative Humidity (%)",
    "QC for Dew Point", "Dew Point (°C)",
    "QC for Wind Speed", "Wind Speed (m/s)",
    "QC for Wind Direction", "Wind Direction (0-360)",
    "QC for Soil Temperature", "Soil Temperature (°C)")

  /** Positional schema for a CIMIS file: files ≥ 2014 use the new column order,
    * older ones the old order (`CIMIS_clean.py:188-195`). All strings — NA tokens
    * `"*"`, `"--"`, `"#######"` appear in numeric positions. */
  def cimisSchema(pre2014: Boolean): StructType =
    StructType((if (pre2014) cimisOldCols else cimisNewCols)
      .map(StructField(_, StringType)))

  val cimis: Catalog = Catalog(
    network = "CIMIS",
    rawSchema = cimisSchema(pre2014 = false),
    vars = Seq(
      VarMap("Air Temperature (°C)", "tas", Units.degCtoK, Some("QC for Air Temperature")),
      VarMap("Dew Point (°C)", "tdps_derived", Units.degCtoK, Some("QC for Dew Point")),
      VarMap("Precipitation (mm)", "pr", qcRaw = Some("QC for Precipitation")),
      VarMap("Relative Humidity (%)", "hurs", qcRaw = Some("QC for Relative Humidity")),
      VarMap("Solar Radiation (W/m²)", "rsds", qcRaw = Some("QC for Solar Radiation")),
      VarMap("Wind Speed (m/s)", "sfcWind", qcRaw = Some("QC for Wind Speed")),
      VarMap("Wind Direction (0-360)", "sfcWind_dir", qcRaw = Some("QC for Wind Direction")),
      VarMap("Vapor Pressure (kPa)", "pvp_derived", Units.kpaToPa, Some("QC for Vapor Pressure"))),
    naStrings = Seq("*", "--", "#######", "nan"),
    sentinels = Seq(-9998.0, -9997.0, -6999.0, 6999.0, -8484.0),
    dropCols = Seq("Julian Date", "QC for Soil Temperature", "Soil Temperature (°C)",
      "Reference ETo (mm)", "QC for Reference ETo"))

  /** CIMIS local time → UTC (`CIMIS_clean.py:230-256`): `Hour (PST)` is 1–24
    * (HHMM integers, 100..2400); 2400 becomes 00:00 of the NEXT day; the naive
    * PST timestamp gets a fixed +8 h to UTC (CIMIS reports standard time
    * year-round — no DST branch, mirrored exactly).
    *
    * ONE string parse (the raw date) + integer/interval arithmetic — no
    * format-then-reparse round trip. That matters beyond style: Catalyst pushes
    * the downstream time-bounds filter into the scan with this expression
    * INLINED PER COMPARISON, so each string op here runs ~3× per row (measured:
    * the reparse form made `c7_cimis_clean` the slowest bench query at 3.3 s;
    * this form reads the same plan at a fraction of that). */
  def cimisTime(dateCol: Column, hourPst: Column,
                dateFormat: String = "M/d/yyyy"): Column = {
    val h = hourPst.cast("int")
    val midnight = h === 2400
    val d0 = to_date(dateCol, dateFormat)
    val d = when(midnight, date_add(d0, 1)).otherwise(d0)
    val hr = when(midnight, 0).otherwise((h / lit(100)).cast("int"))
    val mi = when(midnight, 0).otherwise(pmod(h, lit(100)))
    d.cast("timestamp") +
      make_dt_interval(lit(0), hr + lit(8), mi, lit(0.0)) // +8 h PST → UTC
  }

  /** CIMIS end-to-end read: zip-extracted annual CSVs (headerless) → canonical obs.
    * `pre2014` selects the positional column order of the files under `glob`. */
  def readCimis(spark: SparkSession, glob: String, pre2014: Boolean = false): DataFrame = {
    val raw = CsvSources.readBody(spark, glob, cimisSchema(pre2014), skipLines = 0)
    standardize(raw, cimis, cimis.stationId(col("Station ID")),
      cimisTime(col("Date"), col("Hour (PST)")), dropEmptyColumns = true)
  }

  // ------------------------------------------------------------ SCAN/SNOTEL

  /** SCAN/SNOTEL raw columns: `<VAR>_value` / `<VAR>_flag` / `<VAR>_time` triplets
    * (`SCANSNOTEL_clean.py:103-117`). The removed sub-variables (TAVG, RHUMV,
    * SRADV, SRADT, WDIRV, WSPDV) and every `<VAR>_time` column are dropped —
    * `<VAR>_time` columns must match `time` (the reference hard-exits on conflict,
    * `:185-196`; [[assertNoConflictingTimes]] is the spec-side guard). */
  private val scanVars = Seq(
    ("TOBS", "tas", (c: Column) => Units.degFtoK(c)),
    ("PRES", "psl", (c: Column) => Units.inHgToPa(c)),
    ("DPTP", "tdps", (c: Column) => Units.degFtoK(c)),
    ("PREC", "pr", (c: Column) => Units.inToMm(c)),
    ("PRCP", "pr_inc", (c: Column) => Units.inToMm(c)),
    ("PRCPSA", "pr_incsa", (c: Column) => Units.inToMm(c)),
    ("RHUM", "hurs", identity[Column] _),
    ("SRAD", "rsds", identity[Column] _),
    ("WSPD", "sfcWind", (c: Column) => Units.mphToMs(c)),
    ("WDIR", "sfcWind_dir", identity[Column] _),
    ("PVPV", "pvp", (c: Column) => Units.kpaToPa(c)),
    ("SVPV", "svp", (c: Column) => Units.kpaToPa(c)))

  private val scanRemoved = Seq("TAVG", "RHUMV", "SRADV", "SRADT", "WDIRV", "WSPDV")

  val scanSnotel: Catalog = Catalog(
    network = "SCANSNOTEL",
    rawSchema = StructType(StructField("time", StringType) +:
      scanVars.map(_._1).flatMap(v => Seq(
        StructField(s"${v}_value", StringType), StructField(s"${v}_flag", StringType),
        StructField(s"${v}_time", StringType)))),
    vars = scanVars.map { case (raw, canon, conv) =>
      VarMap(s"${raw}_value", canon, conv, Some(s"${raw}_flag")) },
    naStrings = Seq("NaN", "nan"),
    dropCols = scanRemoved.flatMap(v =>
      Seq(s"${v}_value", s"${v}_flag", s"${v}_time")) ++
      scanVars.map(v => s"${v._1}_time"))

  /** SCAN/SNOTEL local → UTC: station-local timestamps shifted by the station's
    * `stationDataTimeZone` hour offset (`SCANSNOTEL_clean.py:203-205` —
    * `time - Timedelta(hours=offset)`, e.g. PST = −8 → +8 h). Interval arithmetic,
    * not a double round-trip — epoch-scale seconds-as-double lose sub-microsecond
    * precision. */
  def scanTime(local: Column, tzOffsetHours: Column): Column =
    local.cast("timestamp") - make_dt_interval(
      lit(0), lit(0), lit(0), tzOffsetHours.cast("double") * 3600.0)

  /** Spec-side guard for the reference's `<VAR>_time` conflict hard-exit
    * (`SCANSNOTEL_clean.py:178-196`): after nulling values equal to `time`, any
    * survivor is a conflicting per-variable timestamp. One count-agg job. */
  def assertNoConflictingTimes(raw: DataFrame, timeCol: String = "time"): Unit = {
    val timeCols = raw.columns.filter(c => c.endsWith("_time") && c != timeCol)
    if (timeCols.isEmpty) return
    val conflicted = raw.select(timeCols.map(c =>
      sum(when(col(c).isNotNull && col(c) =!= col(timeCol), 1).otherwise(0)).as(c)): _*)
      .head()
    val bad = timeCols.zipWithIndex.filter { case (_, i) => conflicted.getLong(i) > 0 }
    require(bad.isEmpty, s"conflicting per-variable time columns: ${bad.map(_._1).mkString(", ")}")
  }

  /** SCAN/SNOTEL end-to-end read. `stations` carries
    * `(stationTriplet, stationDataTimeZone)`; broadcast — it is metadata-sized. */
  def readScanSnotel(spark: SparkSession, glob: String, stations: DataFrame): DataFrame = {
    val raw = CsvSources.readBody(spark, glob, scanSnotel.rawSchema, skipLines = 1)
      .withColumn("stationTriplet",
        regexp_extract(regexp_extract(col("file"), "([^/]+)\\.csv$", 1), "([^_]+)$", 1))
      .join(broadcast(stations), Seq("stationTriplet"), "left")
    assertNoConflictingTimes(raw)
    standardize(raw, scanSnotel,
      scanSnotel.stationId(substring_index(col("stationTriplet"), ":", 1)),
      scanTime(col("time"), col("stationDataTimeZone")), dropEmptyColumns = true)
  }

  // ------------------------------------------------------------------- CW3E

  /** CW3E default headerless column order (`CW3E_clean.py:108-133`); stations with
    * a `DataFormat.txt` sidecar supply their own order — pass it as `colNames`. */
  val cw3eDefaultCols: Seq[String] = Seq(
    "Datalogger ID", "Year (end time of average)", "Julian Day (end time of average)",
    "HoursMinutes (end time of average)", "Pressure (mb)", "Temperature (C)",
    "Relative Humidity (%)", "Scalar Wind Speed (m/s)", "Vector Wind Speed (m/s)",
    "Wind Direction (degrees)", "Wind Direction Standard Deviation (degrees)",
    "Solar Radiation (W/m^2)", "Battery Voltage (volts)", "Precipitation (mm)",
    "Maximum Wind Speed (m/s)",
    "Soil Temperature (C) 5cm", "Soil Temperature (C) 10cm", "Soil Temperature (C) 15cm",
    "Soil Temperature (C) 20cm", "Soil Temperature (C) 50cm", "Soil Temperature (C) 100cm",
    "Soil Reflectometer Output Period (usec) 5cm", "Soil Reflectometer Output Period (usec) 10cm",
    "Soil Reflectometer Output Period (usec) 15cm")

  val cw3e: Catalog = Catalog(
    network = "CW3E",
    rawSchema = StructType(cw3eDefaultCols.map(StructField(_, StringType))),
    vars = Seq(
      VarMap("Temperature (C)", "tas", Units.degCtoK),
      VarMap("Pressure (mb)", "psl", Units.hpaToPa),
      VarMap("Precipitation (mm)", "pr"),
      VarMap("Relative Humidity (%)", "hurs"),
      VarMap("Solar Radiation (W/m^2)", "rsds"),
      VarMap("Scalar Wind Speed (m/s)", "sfcWind"),
      VarMap("Wind Direction (degrees)", "sfcWind_dir")),
    naStrings = Seq("-99999", "nan"),
    sentinels = Seq(-99999.0),
    dropCols = Seq("Datalogger ID", "Wind Direction Standard Deviation (degrees)",
      "Vector Wind Speed (m/s)", "Battery Voltage (volts)", "Maximum Wind Speed (m/s)") ++
      cw3eDefaultCols.filter(c => c.startsWith("Soil ")))

  /** CW3E time: `%Y.%j.%H%M` from the year / julian-day / hours-minutes columns
    * (`CW3E_clean.py:139`); already UTC. */
  def cw3eTime(year: Column, jday: Column, hhmm: Column): Column = {
    val hm = lpad(hhmm.cast("int").cast("string"), 4, "0")
    val d = date_add(make_date(year.cast("int"), lit(1), lit(1)), jday.cast("int") - 1)
    to_timestamp(concat(d.cast("string"), lit(" "),
      substring(hm, 1, 2), lit(":"), substring(hm, 3, 2)))
  }

  /** CW3E end-to-end read (headerless `.m` files named `<station><yy><mm>m`). */
  def readCw3e(spark: SparkSession, glob: String,
               colNames: Seq[String] = cw3eDefaultCols): DataFrame = {
    val schema = StructType(colNames.map(StructField(_, StringType)))
    val raw = CsvSources.readBody(spark, glob, schema, skipLines = 0)
      .withColumn("stn", regexp_extract(col("file"), "([a-z]{3})[0-9]{4}[^/]*$", 1))
    standardize(raw, cw3e, cw3e.stationId(upper(col("stn"))),
      cw3eTime(col("Year (end time of average)"),
        col("Julian Day (end time of average)"),
        col("HoursMinutes (end time of average)")), dropEmptyColumns = true)
  }

  // ------------------------------------------------------------ VALLEYWATER

  /** VALLEYWATER 15-min precipitation (`VALLEYWATER_clean.py:45-278`): CSV body
    * after a 14-line preamble, columns `ISO 8601 UTC` / `Value` / `Approval Level`.
    * Flow: drop approval-null rows (stray NaNs inside gaps), snap to the 15-min
    * grid with flag-30 infill ([[CleanOps.infillFixedCadence]] — the same op the
    * oracle-green `c30_cadence_infill` pins), convert inches → mm into `pr_15min`,
    * keep `Approval Level` as `raw_qc`. */
  def standardizeValleywater(raw: DataFrame, stationId: Column): DataFrame = {
    val vw = Catalog("VALLEYWATER", valleywaterSchema, vars = Seq.empty)
    val typed = raw
      .filter(trim(col("Approval Level")) =!= "" && col("Approval Level").isNotNull)
      .select(stationId.as("station"),
        to_timestamp(col("ISO 8601 UTC")).as("time"),
        obsCol(raw, vw, "Value").as("v"),
        qcCol(vw, "Approval Level").as("raw_qc"))
      .filter(col("time") > lit(vw.timeLoEx).cast("timestamp") &&
        col("time") < lit(vw.timeHiEx).cast("timestamp"))
    CleanOps.infillFixedCadence(typed, Seq("station"), "time", "pr_15min_eraqc")
      .withColumn("pr_15min", Units.inToMm(col("v"))).drop("v")
  }

  val valleywaterSchema: StructType = StructType(Seq(
    StructField("ISO 8601 UTC", StringType), StructField("Value", StringType),
    StructField("Approval Level", StringType)))

  /** VALLEYWATER end-to-end read (station id from the
    * `Precip_Increm.Final@<id>.EntireRecord.csv` filename, `:146`). */
  def readValleywater(spark: SparkSession, glob: String): DataFrame = {
    val raw = CsvSources.readBody(spark, glob, valleywaterSchema, skipLines = 15)
      .withColumn("sid", regexp_extract(col("file"), "@([0-9]+)\\.", 1))
    standardizeValleywater(raw, concat(lit("VALLEYWATER_"), col("sid")))
  }

  // --------------------------------------------------------------- MARITIME

  /** NDBC standard meteorological columns (post-2007 header order,
    * `MARITIME_clean.py:224-316`); older files carry 2-digit years and `WD`/`BAR`
    * names — [[maritimeRenames]] maps them before [[standardize]]. The file's
    * `MM` (month) / `mm` (minute) pair is internally `MO`/`mi` — Spark resolves
    * column names case-insensitively, so the NDBC names would be ambiguous. */
  val maritimeCols: Seq[String] = Seq(
    "YYYY", "MO", "DD", "hh", "mi", "WDIR", "WSPD", "GST", "WVHT", "DPD",
    "APD", "MWD", "PRES", "ATMP", "WTMP", "DEWP", "VIS", "TIDE")

  val maritime: Catalog = Catalog(
    network = "MARITIME",
    rawSchema = StructType(maritimeCols.map(StructField(_, StringType))),
    vars = Seq(
      VarMap("WDIR", "sfcWind_dir"),
      VarMap("WSPD", "sfcWind"),
      VarMap("PRES", "ps", Units.hpaToPa),
      VarMap("ATMP", "tas", Units.degCtoK),
      VarMap("DEWP", "tdps", Units.degCtoK)),
    naStrings = Seq("MM", "nan"),
    // whole-frame replace of the NDBC missing codes (`MARITIME_clean.py:322-328`);
    // applied per kept variable, which is the same set restricted to kept columns
    sentinels = Seq(999.0, 99.0, 9999.0))

  /** Old-format NDBC column renames: `WD`→`WDIR`, `BAR`→`PRES`, 2-digit `YY` years
    * (80–99 → 19xx else 20xx), missing minute column → `"00"`
    * (`MARITIME_clean.py:231-261`). A frame holding both an old column and its new
    * name (a read over files of both layouts) keeps the new value where it is set.
    * Column membership checks are exact-case (the `columns` array), never
    * resolver-based — `MO` vs `mo` must not collide. */
  def maritimeRenames(df: DataFrame): DataFrame = {
    def has(c: String): Option[Column] = if (df.columns.contains(c)) Some(col(c)) else None
    val year = has("YY").map(yy =>
      when(yy.cast("int").between(80, 99), concat(lit("19"), yy)).otherwise(concat(lit("20"), yy)))
    Seq("WDIR" -> has("WD"), "PRES" -> has("BAR"), "YYYY" -> year, "mi" -> Some(lit("00")))
      .foldLeft(df) { case (d, (name, old)) =>
        old.fold(d)(o => d.withColumn(name, has(name).fold(o)(coalesce(_, o))))
      }
      .drop("WD", "BAR", "YY")
  }

  /** NDBC time: Y/M/D/h/m columns, already UTC (`MARITIME_clean.py:274-277`). */
  def maritimeTime(df: DataFrame): Column =
    make_timestamp(col("YYYY").cast("int"), col("MO").cast("int"), col("DD").cast("int"),
      col("hh").cast("int"), col("mi").cast("int"), lit(0))

  // ------------------------------------------------------------- MADIS/CWOP

  /** MADIS/CWOP essential columns (`MADIS_clean.py:349-381` `coltokeep`): Synoptic
    * `<var>_set_1[d]` value columns with `_qc` string shadows. Everything outside
    * this list is dropped and recorded as a removed variable (`:382-388`). */
  private val madisVarDefs: Seq[VarMap] = Seq(
    VarMap("air_temp_set_1", "tas", Units.degCtoK, Some("air_temp_set_1_qc")),
    VarMap("dew_point_temperature_set_1", "tdps", Units.degCtoK,
      Some("dew_point_temperature_set_1_qc")),
    VarMap("dew_point_temperature_set_1d", "tdps_derived", Units.degCtoK),
    VarMap("pressure_set_1", "ps", qcRaw = Some("pressure_set_1_qc")),
    VarMap("pressure_set_1d", "ps_derived"),
    VarMap("altimeter_set_1", "ps_altimeter", qcRaw = Some("altimeter_set_1_qc")),
    VarMap("relative_humidity_set_1", "hurs", qcRaw = Some("relative_humidity_set_1_qc")),
    VarMap("solar_radiation_set_1", "rsds", qcRaw = Some("solar_radiation_set_1_qc")),
    VarMap("wind_speed_set_1", "sfcWind", qcRaw = Some("wind_speed_set_1_qc")),
    VarMap("wind_direction_set_1", "sfcWind_dir", qcRaw = Some("wind_direction_set_1_qc")),
    VarMap("precip_accum_set_1", "pr", qcRaw = Some("precip_accum_set_1_qc")),
    VarMap("precip_accum_one_hour_set_1", "pr_1h",
      qcRaw = Some("precip_accum_one_hour_set_1_qc")),
    VarMap("precip_accum_five_minute_set_1", "pr_5min",
      qcRaw = Some("precip_accum_five_minute_set_1_qc")),
    VarMap("precip_accum_24_hour_set_1", "pr_24h",
      qcRaw = Some("precip_accum_24_hour_set_1_qc")),
    VarMap("precip_accum_since_local_midnight_set_1", "pr_localmid",
      qcRaw = Some("precip_accum_since_local_midnight_set_1_qc")))

  /** MADIS/CWOP clean catalog (`MADIS_clean.py:404-1702` rename block): Synoptic
    * units are already metric (the reference hard-exits on Fahrenheit, `:644-647`)
    * so temperatures are the only conversions (°C → K); pressures arrive in Pa,
    * wind in m/s, precip in mm. NA tokens: literal `"None"` (`:391`) plus the
    * pandas `"nan"` residue (`:688`). QC flags are `;`-separated lists whose
    * float-coerced `.0` suffixes the reference strips (`:650-662`) — mirrored as
    * [[Catalog.qcNorm]] so `"2.0;3.0"` → `"2;3"`. */
  val madis: Catalog = Catalog(
    network = "MADIS",
    rawSchema = StructType(StructField("Station_ID", StringType) +:
      StructField("Date_Time", StringType) +:
      madisVarDefs.flatMap(v => StructField(v.raw, StringType) +:
        v.qcRaw.map(StructField(_, StringType)).toList)),
    vars = madisVarDefs,
    naStrings = Seq("None", "nan", "NaN"),
    qcNorm = c => regexp_replace(c, "\\.0", ""))

  /** MADIS per-file header attributes (`parse_madis_headers`,
    * `MADIS_clean.py:113-235`): `KEY: value` lines before the CSV body. One row per
    * file: station id/name, lat/lon, elevation (ft → m, `:782`), state, and the
    * in-file column-header line (MADIS schemas vary per station). Fully distributed
    * — one task per file, no driver loop over stations. */
  def madisHeaders(spark: SparkSession, glob: String): DataFrame = {
    def meta(key: String): Column = {
      val line = element_at(filter(col("lines"), l => instr(l, key) > 0), 1)
      trim(regexp_replace(regexp_replace(line, "^[^:]*:\\s*", ""), "['\\]\\)]", ""))
    }
    CsvSources.perFileLines(spark, glob).select(
      col("file"),
      meta("STATION:").as("station_id"),
      meta("STATION NAME:").as("station_name"),
      meta("LATITUDE").cast("double").as("latitude"),
      meta("LONGITUDE").cast("double").as("longitude"),
      when(meta("ELEVATION") =!= "None",
        Units.ftToM(meta("ELEVATION").cast("double"))).as("elevation_m"),
      meta("STATE").as("state"),
      split(element_at(filter(col("lines"),
        l => l.startsWith("Station_ID")), 1), ",").as("columns"))
  }

  /** Cell `name` of a split data row, looked up in the file's own column names (the
    * first of a duplicated name). Null when the file has no such column or the row
    * is ragged (trailing sensors absent): element_at never sees an out-of-range
    * index (ANSI-safe). */
  private def namedCell(names: Column, cells: Column, name: String): Column = {
    val idx = array_position(names, name)
    when(idx > 0 && size(cells) >= idx, element_at(cells, idx.cast("int")))
  }

  /** MADIS/CWOP end-to-end read: header-sniffed station CSVs → canonical obs.
    *
    * Per-file schemas differ (stations carry different sensor sets, occasionally
    * DUPLICATED column names, `MADIS_clean.py:207-217`), so the body is parsed
    * positionally against the file's own header line: data rows are the lines
    * starting with the file's station id (exactly the reference's first-data-row
    * scan, `:196-199`), each wanted column is looked up with `array_position`
    * (first occurrence — the reference keeps the first of an identical duplicate
    * pair). All array ops, fully codegen'd, one task per file. */
  def readMadis(spark: SparkSession, glob: String): DataFrame = {
    val hdr = madisHeaders(spark, glob)
    val body = CsvSources.perFileLines(spark, glob)
      .join(broadcast(hdr), "file")
      .select(col("file"), col("station_id"), col("columns"),
        explode(filter(col("lines"),
          l => l.startsWith(concat(col("station_id"), lit(","))))).as("line"))
      .withColumn("cells", split(col("line"), ","))
    val rawCols = madis.rawSchema.fieldNames.filter(_ != "Station_ID").toSeq
    val raw = body.select(col("station_id").as("Station_ID") +:
      rawCols.map(c => namedCell(col("columns"), col("cells"), c).as(c)): _*)
    standardize(raw, madis, madis.stationId(col("Station_ID")),
      to_timestamp(col("Date_Time")), dropEmptyColumns = true)
  }

  /** MARITIME end-to-end read: whitespace-separated NDBC text (station id from the
    * `<id><yyyy>.txt`-style filename), one task per file. A post-2007 file (`#`
    * header lines) is parsed by position in [[maritimeCols]]. An older file opens with
    * an un-prefixed header line (`YYYY …` from 1999, `YY …` before, with `WD`/`BAR`
    * and no minute column): its columns are named by that line — NDBC's `MM`/`mm` as
    * `MO`/`mi` — and go through [[maritimeRenames]], as [[readMadis]] reads its
    * per-file header. */
  def readMaritime(spark: SparkSession, glob: String): DataFrame = {
    import org.apache.spark.sql.functions.{split => fsplit}
    val first = element_at(col("lines"), 1)
    val old = trim(first).startsWith("YY")
    val header = transform(fsplit(trim(first), "\\s+"),
      c => when(c === "MM", "MO").when(c === "mm", "mi").otherwise(c))
    val lines = CsvSources.perFileLines(spark, glob).select(
      col("file"),
      when(old, header).otherwise(typedlit(maritimeCols)).as("columns"),
      explode(filter(col("lines"), (l, i) =>
        !(old && i === 0) && !l.startsWith("#") && length(trim(l)) > 0)).as("line"))
    val cells = fsplit(trim(col("line")), "\\s+")
    val raw = maritimeRenames(lines.select(col("file") +: (maritimeCols ++ Seq("YY", "WD", "BAR"))
      .map(c => namedCell(col("columns"), cells, c).as(c)): _*))
    standardize(raw, maritime,
      maritime.stationId(upper(regexp_extract(col("file"), "([a-zA-Z0-9]+?)[0-9]{4}\\.[^/]*$", 1))),
      maritimeTime(raw))
  }
}
