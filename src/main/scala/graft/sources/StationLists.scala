package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** All-network station-list generation and the public-facing list cleanup
  * (`/root/reference/scripts/misc/stationlist_generator.py`,
  * `/root/reference/scripts/misc/public_facing_stationlist_cleanup.py`,
  * `/root/reference/scripts/misc/compare_zarr_counts.py`,
  * `/root/reference/data-access/asosawos_station_id_lookup.py`).
  *
  * Re-expressed Spark-first:
  *  - the reference's per-network pandas loop (read CSV → fuzzy-match columns →
  *    append) becomes a SCHEMA-driven projection per network — all fuzzy matching
  *    happens on `df.schema` column names at plan time, never on data — followed by
  *    one `union` + `dropDuplicates`; the only shuffle is the dedup;
  *  - the geopandas `sjoin(..., predicate="within")` state assignment becomes a
  *    codegen'd first-match `when` chain over the literal state polygons through
  *    [[graft.expr.PointInPolygon]] — states are a constant table, so this is
  *    broadcast-free and stays inside whole-stage codegen at any corpus size.
  *
  * Station lists are metadata-sized (tens of thousands of rows at full scale), so
  * every op here is cheap; the design still avoids driver-side iteration so the
  * same code serves a per-shard listing at 1000× the station count.
  */
object StationLists {

  /** Cleaned-variable coverage columns carried through every stage
    * (`stationlist_generator.py:41-59`, `CLEANED_VARS`). */
  val CleanedVars: Seq[String] = Seq(
    "tas_nobs", "tdps_nobs", "tdps_derived_nobs", "ps_nobs", "ps_derived_nobs",
    "psl_nobs", "ps_altimeter_nobs", "pr_nobs", "pr_5min_nobs", "pr_1h_nobs",
    "pr_24h_nobs", "pr_localmid_nobs", "hurs_nobs", "sfcwind_nobs",
    "sfcwind_dir_nobs", "rsds_nobs", "total_nobs")

  private val StageCols = Seq("pulled", "time_checked", "cleaned", "time_cleaned",
    "qaqc", "time_qaqc", "merged", "time_merge")

  /** Resolve the one source column for a harmonized field from a network list's
    * schema, mirroring the reference's fuzzy `in`-matching with its removal lists
    * (`stationlist_generator.py:205-311`). Returns None when no candidate exists
    * (the field becomes null); throws when ambiguity survives the removal rules,
    * like the reference's explicit break-and-fix contract (`:216-222`). */
  private def resolveOne(cols: Seq[String], network: String, field: String,
                         contains: Seq[String], remove: Set[String],
                         tiebreak: Seq[String] => Seq[String]): Option[String] = {
    var cand = cols.filter(c => contains.exists(c.contains))
    if (cand.size > 1) cand = cand.filterNot(remove)
    if (cand.size > 1) cand = tiebreak(cand)
    if (cand.size > 1)
      throw new IllegalArgumentException(
        s"network $network: ambiguous $field columns ${cand.mkString(",")} — " +
          "extend the removal list (stationlist_generator.py contract)")
    cand.headOption
  }

  /** Harmonize one network's station list to the all-network schema
    * (`retrieve_and_concat_stnlists`, `stationlist_generator.py:144-366`).
    *
    * Column matching (on lowercased names, `unnamed` index columns dropped):
    *  - id: stage "pull" → contains `name` minus `countyname`; else contains
    *    `era-id` (we emit `era_id` — engine-wide underscore convention);
    *  - latitude/longitude: contains `lat` / `lon`;
    *  - elevation: contains `elev` minus sensor heights (`elev(m)`,
    *    `barometer_elev`, `anemometer_elev`), then minus `elev_dem` (`:252-264`);
    *  - start-date: contains `begin`/`start`/`connect` minus `startdate`/
    *    `begindate`, prefer `start_time` over `begin`, drop `disconnect`
    *    (which matches via "connect", `:266-290`);
    *  - end-date: contains `end`/`disconnect` minus `enddate`, prefer `end_time`
    *    over `end` (`:293-311`);
    *  - stage/coverage columns (`pulled`…`time_merge`, [[CleanedVars]]): exact
    *    name, null when absent (`:313-362`).
    *
    * Dates parse with `to_timestamp` under the UTC session; an end-date equal to
    * the literal `"Active"` becomes `activeAsOf` (`:371-373` — the reference uses
    * wall-clock "today", which is not reproducible; callers pass the stamp). */
  def harmonizeStationList(df: DataFrame, network: String, stage: String,
                           activeAsOf: String): DataFrame = {
    val lower = df.columns.map(c => c -> c.toLowerCase).toMap
    val cols = df.columns.map(_.toLowerCase).filterNot(_.contains("unnamed")).toSeq
    def src(name: String): Column =
      col("`" + lower.collectFirst { case (orig, lc) if lc == name => orig }.get + "`")
    def pick(field: String, contains: Seq[String], remove: Set[String] = Set.empty,
             tiebreak: Seq[String] => Seq[String] = identity): Column =
      resolveOne(cols, network, field, contains, remove, tiebreak)
        .map(src).getOrElse(lit(null))

    val idCol =
      if (stage == "pull") pick("name", Seq("name"), Set("countyname")).cast("string")
      else pick("era-id", Seq("era-id")).cast("string")
    val startRaw = pick("start-date", Seq("begin", "start", "connect"),
      Set("startdate", "begindate"),
      c => c.filterNot(x => (x == "begin" && c.contains("start_time")) ||
        x == "disconnect")).cast("string")
    val endRaw = pick("end-date", Seq("end", "disconnect"), Set("enddate"),
      c => c.filterNot(x => x == "end" && c.contains("end_time"))).cast("string")

    val fixed = Seq(
      idCol.as(if (stage == "pull") "name" else "era_id"),
      pick("latitude", Seq("lat")).cast("double").as("latitude"),
      pick("longitude", Seq("lon")).cast("double").as("longitude"),
      pick("elevation", Seq("elev"),
        Set("elev(m)", "barometer_elev", "anemometer_elev"),
        c => if (c.contains("elev_dem")) c.filterNot(_ == "elev_dem") else c)
        .cast("double").as("elevation"),
      to_timestamp(startRaw).as("start_date"),
      to_timestamp(when(endRaw === "Active", lit(activeAsOf)).otherwise(endRaw))
        .as("end_date"))
    val stageCols = StageCols.map(c =>
      (if (cols.contains(c)) src(c) else lit(null)).cast("string").as(c))
    val coverage = CleanedVars.map(c =>
      (if (cols.contains(c)) src(c) else lit(null)).cast("double").as(c))
    df.select(fixed ++ stageCols ++ Seq(lit(network).as("network")) ++ coverage: _*)
  }

  /** Per-stage export column set (`stationlist_cols`,
    * `stationlist_generator.py:430-475`). */
  def stageColumns(stage: String): Seq[String] = {
    val pull = Seq("name", "latitude", "longitude", "elevation", "start_date",
      "end_date", "pulled", "time_checked", "network")
    val clean = pull.map(c => if (c == "name") "era_id" else c) ++
      Seq("cleaned", "time_cleaned") ++ CleanedVars
    stage match {
      case "pull"  => pull
      case "clean" => clean
      case "qaqc"  => clean ++ Seq("qaqc", "time_qaqc")
      case "merge" => clean ++ Seq("qaqc", "time_qaqc", "merged", "time_merge")
      case other   => throw new IllegalArgumentException(s"unknown stage $other")
    }
  }

  /** Generate the all-network station list for one stage
    * (`generate_stationlist`, `stationlist_generator.py:478-529`): harmonize each
    * network, concat, dedup on (id, latitude, longitude, network) (`:381-388`),
    * sort by network (`:391`), subset to the stage's columns.
    *
    * `dropDuplicates` keeps an arbitrary row per key when non-key columns differ
    * (the reference's pandas keep-first is frame-order-dependent, which a
    * distributed engine cannot reproduce); duplicate listings are whole-row
    * duplicates in practice, where both semantics coincide. */
  def generateStationList(perNetwork: Seq[(String, DataFrame)], stage: String,
                          activeAsOf: String): DataFrame = {
    val idCol = if (stage == "pull") "name" else "era_id"
    val harmonized = perNetwork.map { case (net, df) =>
      harmonizeStationList(df, net, stage, activeAsOf)
    }
    harmonized.reduce(_ union _)
      .dropDuplicates(idCol, "latitude", "longitude", "network")
      .orderBy("network")
      .select(stageColumns(stage).map(col): _*)
  }

  /** Assign each point row the first state whose polygon contains it — the
    * geopandas `sjoin(..., predicate="within")` of
    * `public_facing_stationlist_cleanup.py:95-104` as a codegen'd literal
    * `when` chain over [[graft.expr.PointInPolygon]]. States are a constant
    * ~50-polygon table: folding them into the plan beats a broadcast join (no
    * build side, no join node, stays in whole-stage codegen). Points in no
    * state get null, matching the reference's `how="left"`. */
  def assignState(df: DataFrame, lonCol: String, latCol: String,
                  states: Seq[(String, Seq[(Double, Double)])],
                  out: String = "state"): DataFrame = {
    val expr = states.foldRight(lit(null).cast("string")) { case ((name, poly), acc) =>
      when(graft.expr.PointInPolygon.expr(col(lonCol), col(latCol), poly),
        lit(name)).otherwise(acc)
    }
    df.withColumn(out, expr)
  }

  /** ASOSAWOS elevation sentinel (`public_facing_stationlist_cleanup.py:53`). */
  val BadElevation: Double = -30479.6952

  /** Public-facing station list (`public_facing_stationlist_cleanup.py:36-130`):
    * keep merged == "Y" rows; fix ASOSAWOS bad/missing elevations from the raw
    * ISD list (joined on the derived `ASOSAWOS_<ISD-ID sans dashes>` id, fixed
    * only when a correction row exists, `:60-68`); derive `source_id` by
    * stripping the `<network>_` prefix from the id except ASOSAWOS, which uses
    * the ICAO code (`:70-84`); emit a WKT `POINT (lon lat)` geometry (4-dp —
    * documented divergence from shapely's full-precision repr, for
    * cross-engine-stable formatting); assign the US state by point-in-polygon.
    *
    * @param mergeList merge-stage all-network list: `era_id`, `network`,
    *                  `latitude`, `longitude`, `elevation`, `start_date`,
    *                  `end_date`, `merged`, `total_nobs`
    * @param asosRaw   raw ISD ASOSAWOS list: `isd_id`, `icao`, `elevation`
    * @param states    `(state code, polygon)` rows of the states shapefile */
  def publicStationList(mergeList: DataFrame, asosRaw: DataFrame,
                        states: Seq[(String, Seq[(Double, Double)])]): DataFrame = {
    val asos = asosRaw.select(
      concat(lit("ASOSAWOS_"), regexp_replace(col("isd_id"), "-", ""))
        .as("_a_era_id"),
      col("elevation").cast("double").as("_a_elev"),
      col("icao").cast("string").as("_a_icao"))
    val badElev = col("network") === "ASOSAWOS" &&
      (col("elevation").isNull || col("elevation") === lit(BadElevation))
    val dec = (c: Column) => c.cast("decimal(9,4)").cast("string")
    val fixed = mergeList.filter(col("merged") === "Y")
      .join(broadcast(asos), col("era_id") === col("_a_era_id"), "left")
      .withColumn("elevation",
        when(badElev && col("_a_elev").isNotNull, col("_a_elev"))
          .otherwise(col("elevation")))
      .withColumn("source_id",
        when(col("network") === "ASOSAWOS", col("_a_icao"))
          .otherwise(expr("replace(era_id, concat(network, '_'), '')")))
      .withColumn("geometry", concat(lit("POINT ("), dec(col("longitude")),
        lit(" "), dec(col("latitude")), lit(")")))
      .drop("_a_era_id", "_a_elev", "_a_icao")
    assignState(fixed, "longitude", "latitude", states)
      .select("era_id", "source_id", "network", "latitude", "longitude", "state",
        "elevation", "start_date", "end_date", "total_nobs", "geometry")
  }

  /** Per-network station-count comparison between two published listings
    * (`compare_zarr_counts.py`): counts on each side plus how many stations of
    * one side are missing from the other. One full-outer join on the distinct
    * (network, station) pairs — listing-sized, a single small shuffle. */
  def compareStationCounts(a: DataFrame, b: DataFrame): DataFrame = {
    val da = a.select("network", "station").distinct().withColumn("_a", lit(1))
    val db = b.select("network", "station").distinct().withColumn("_b", lit(1))
    da.join(db, Seq("network", "station"), "full_outer")
      .groupBy("network")
      .agg(count(col("_a")).as("n_a"), count(col("_b")).as("n_b"),
        sum(when(col("_b").isNull, 1).otherwise(0)).as("missing_in_b"),
        sum(when(col("_a").isNull, 1).otherwise(0)).as("missing_in_a"))
  }

  /** Stations-over-time chart data (`notebooks/figure_utils.py:106-190`,
    * `get_station_chart`): per (network, month), the count of stations whose
    * [start_date, end_date] record covers the month. Start dates clamp up to
    * `floorDate`, end dates clamp down to `asOf` (the reference's "until
    * present" assumption for open records — null dates take the clamp bound,
    * matching its NaT comparison fallthrough); each station then explodes into
    * its month range (bounded: ≤ ~512 months for 1980–2022) and one groupBy
    * counts — the pandas `period_range`-per-row + pivot_table as a single
    * explode + agg. */
  def stationsOverTime(stnList: DataFrame, floorDate: String,
                       asOf: String): DataFrame = {
    val lo = to_date(lit(floorDate))
    val hi = to_date(lit(asOf))
    stnList
      .withColumn("_s",
        trunc(greatest(coalesce(col("start_date").cast("date"), lo), lo), "MONTH"))
      .withColumn("_e",
        trunc(least(coalesce(col("end_date").cast("date"), hi), hi), "MONTH"))
      .filter(col("_s") <= col("_e"))
      .select(col("network"),
        explode(sequence(col("_s"), col("_e"), expr("INTERVAL 1 MONTH")))
          .as("month"))
      .groupBy("network", "month")
      .agg(count(lit(1)).as("n_stations"))
  }

  /** HDP station-id lookup (`asosawos_station_id_lookup.py:41-105`): by exact
    * ICAO airport code, or by case-insensitive substring of the station name
    * (city or full airport name). Returns the matching rows — 0, 1, or many,
    * exactly the three cases the reference prints.
    *
    * @param stations merge-stage ASOSAWOS list: `era_id`, `icao`, `station_name` */
  def asosStationLookup(stations: DataFrame, code: Option[String] = None,
                        city: Option[String] = None): DataFrame =
    (code, city) match {
      case (Some(c), _) => stations.filter(col("icao") === c).select("era_id")
      case (_, Some(ct)) => stations
        .filter(upper(col("station_name")).contains(ct.toUpperCase))
        .select("era_id")
      case _ => throw new IllegalArgumentException("pass code= or city=")
    }

  /** Web-Mercator (EPSG:3857) x/y from WGS84 lon/lat — the
    * `to_crs(epsg=3857)` reprojection of `station_coverage_figure.py:70-80`
    * done as closed-form columns (spherical Mercator: x = R·λ,
    * y = R·ln(tan(π/4 + φ/2)), R = 6378137). Pure column arithmetic —
    * codegen'd, no GIS library, no shuffle. */
  def webMercator(lonCol: Column, latCol: Column): (Column, Column) = {
    val R = 6378137.0
    val x = radians(lonCol) * R
    val y = log(tan(lit(math.Pi / 4) + radians(latCol) / 2)) * R
    (x, y)
  }

  /** Station-coverage map data (`station_coverage_figure.py:43-117`): the
    * figure minus matplotlib — station points reprojected to Web Mercator with
    * each network's plot color attached from the colormap table (the
    * `network_colors.txt` two-column file). The colors table is
    * network-cardinality (tens of rows) — broadcast join. */
  def coverageMapData(stations: DataFrame, networkColors: DataFrame): DataFrame = {
    val (x, y) = webMercator(col("longitude"), col("latitude"))
    stations
      .select(col("era_id").as("station_id"), col("network"),
        x.as("x_merc"), y.as("y_merc"))
      .join(broadcast(networkColors
        .select(col("network"), concat(lit("#"), col("color")).as("color"))),
        Seq("network"), "left")
  }

  /** Per-station multi-file combine (`CW3E_combine.py:137-216`): the reference
    * loops stations, finds every NetCDF whose filename contains the station id,
    * concatenates along time, sorts chronologically, and writes one store. In
    * Spark the loop disappears: `parts` is the union of all per-file frames
    * (one `file` + `era_id` + `time` + payload), gated to ledger-cleaned
    * stations of the network by a broadcast semi-join, and "concat + sortby" is
    * a partition-local sort under station partitioning — the writer's
    * `sortWithinPartitions(station, time)` layout (Sinks.writeObs). Returns the
    * combined per-station record with file provenance retained.
    *
    * @param parts  rows from every candidate file: `file`, `era_id`, `time`, …
    * @param ledger clean-status station list: `era_id`, `network`, `cleaned` */
  def combineStationFiles(parts: DataFrame, ledger: DataFrame,
                          network: String): DataFrame = {
    val wanted = ledger
      .filter(col("network") === network && col("cleaned") === "Y")
      .select(col("era_id"))
    parts.join(broadcast(wanted), Seq("era_id"), "left_semi")
      .repartition(col("era_id"))
      .sortWithinPartitions(col("era_id"), col("time"))
  }

  /** QAQC dev-subset sampler (`/root/reference/scripts/3_qaqc_data/
    * create_qaqc_dev_subset.R`): pick a climatologically-spread training
    * subset of stations — for each covariate, lay `n` targets across its
    * observed [min, max] and take the station NEAREST each target
    * (`which.min(abs(v - transform_lhs(...)))`), then union the per-variable
    * picks. The reference spreads targets by 1-D maximin Latin hypercube
    * (`maximinLHS(250, 1)` — random but maximin-spread); here the targets are
    * the deterministic LHS stratum MIDPOINTS `mn + (i + 0.5)/n * (mx - mn)`,
    * the same marginal coverage with engine-portable determinism (documented
    * delta — the raster covariate EXTRACTION feeding the reference's columns
    * is GIS I/O out of engine scope; callers pass the covariates as columns).
    * Nearest-station ties resolve to the LOWEST station id (the reference's
    * `which.min` keeps the first frame row, which is ingestion-order;
    * documented determinism delta). Null covariate values never win (the
    * reference's `na.rm` + the erroneous-elevation filter are caller-side).
    *
    * Returns one row per (station, covariate) pick: `(idCol, picked_for)`
    * (distinct); the unique station set is the reference's `stns_lhs`.
    *
    * Scale shape: per covariate one min/max aggregate (scan-side partial), one
    * broadcast of `n` target rows against the station list, and one
    * argmin groupBy whose exchange carries `n` partial rows per task — the
    * station list is metadata-sized, but nothing here breaks at corpus scale
    * either. */
  def devSubset(stations: DataFrame, idCol: String, varCols: Seq[String],
                n: Int = 250): DataFrame = {
    val spark = stations.sparkSession
    varCols.map { v =>
      val valid = stations.select(col(idCol), col(v).cast("double").as("_v"))
        .filter(col("_v").isNotNull)
      val mm = valid.agg(min(col("_v")).as("mn"), max(col("_v")).as("mx"))
      val targets = spark.range(n.toLong)
        .select(col("id").cast("int").as("_ti"))
        .crossJoin(broadcast(mm))
        .select(col("_ti"),
          (col("mn") + (col("_ti") + lit(0.5)) / lit(n.toDouble) *
            (col("mx") - col("mn"))).as("_t"))
      valid.crossJoin(broadcast(targets))
        .groupBy(col("_ti"))
        .agg(min(struct(abs(col("_v") - col("_t")).as("d"),
          col(idCol).as("_id"))).as("_b"))
        .select(col("_b").getField("_id").as(idCol), lit(v).as("picked_for"))
    }.reduce(_ unionByName _).distinct()
  }
}
