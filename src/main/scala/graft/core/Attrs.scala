package graft.core

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Dataset/variable attribute metadata — the engine's equivalent of the reference's
  * xarray attrs, which it threads carefully from clean through merge
  * (`scripts/4_merge_data/MERGE_pipeline.py:299-377` re-assigns global + per-variable
  * attrs after every pandas round-trip; `scripts/2_clean_data/ASOSAWOS_clean.py:699-990`
  * sets `long_name` / `standard_name` / `units` / `ancillary_variables` per variable).
  *
  * Parquet has no first-class per-column attr dictionary that survives the DataFrame
  * API, so attrs travel as a SIDECAR: a tiny (scope, key, value) table written next to
  * the data under `_graft_attrs` — an underscore-prefixed directory, which Spark's
  * file-listing treats as hidden, so readers of the data path never see it; the attrs
  * are read back only by [[AttrsTable.read]] against the explicit sidecar path.
  *
  * Scale: attrs are O(variables × keys) — kilobytes regardless of data volume. The
  * sidecar write/read is a driver-side single-partition job by construction.
  */
case class AttrsTable(global: Map[String, String],
                      perVar: Map[String, Map[String, String]]) {

  /** Attrs for one variable (empty if unknown — mirrors xarray's empty attrs). */
  def forVar(name: String): Map[String, String] = perVar.getOrElse(name, Map.empty)

  /** Merge: `other` wins on key conflicts (the reference's `assign_attrs` semantic). */
  def ++(other: AttrsTable): AttrsTable = AttrsTable(
    global ++ other.global,
    (perVar.keySet ++ other.perVar.keySet).map { v =>
      v -> (perVar.getOrElse(v, Map.empty) ++ other.perVar.getOrElse(v, Map.empty))
    }.toMap)

  /** Flatten to the sidecar's (scope, key, value) rows; global rows use scope "". */
  def toRows: Seq[(String, String, String)] =
    global.toSeq.map { case (k, v) => ("", k, v) } ++
      perVar.toSeq.flatMap { case (vn, m) => m.toSeq.map { case (k, v) => (vn, k, v) } }

  /** Write the sidecar under `dataPath/_graft_attrs` (one tiny json file). */
  def write(spark: SparkSession, dataPath: String): Unit = {
    import spark.implicits._
    toRows.toDF("scope", "key", "value")
      .coalesce(1)
      .write.mode(SaveMode.Overwrite)
      .json(AttrsTable.sidecarPath(dataPath))
  }

  /** The reference's CSV metadata header (`data-access/zarr_to_csv.py:74-104`):
    * `#`-prefixed comment lines — station identity first, then global attrs, then
    * per-variable attrs as `# VAR <variable>.<key>: <value>`. */
  def csvHeaderLines(station: String, network: String): Seq[String] = {
    val id = Seq(s"# STATION: $station", s"# NETWORK: $network")
    val g = global.toSeq.sortBy(_._1).map { case (k, v) =>
      s"# ${k.toUpperCase}: $v"
    }
    val pv = perVar.toSeq.sortBy(_._1).flatMap { case (vn, m) =>
      m.toSeq.sortBy(_._1).map { case (k, v) => s"# VAR $vn.$k: $v" }
    }
    id ++ g ++ pv
  }
}

object AttrsTable {

  def sidecarPath(dataPath: String): String =
    dataPath.stripSuffix("/") + "/_graft_attrs"

  val empty: AttrsTable = AttrsTable(Map.empty, Map.empty)

  /** Read a sidecar written by [[AttrsTable.write]]; empty if none exists. */
  def read(spark: SparkSession, dataPath: String): AttrsTable =
    try {
      val rows = spark.read.json(sidecarPath(dataPath))
        .select(col("scope"), col("key"), col("value"))
        .collect()
      val (g, v) = rows.partition(_.getString(0).isEmpty)
      AttrsTable(
        g.map(r => r.getString(1) -> r.getString(2)).toMap,
        v.groupBy(_.getString(0)).map { case (vn, rs) =>
          vn -> rs.map(r => r.getString(1) -> r.getString(2)).toMap
        })
    } catch { case _: org.apache.spark.sql.AnalysisException => empty }

  /** The reference's standard per-variable attrs for the merged obs product —
    * `ASOSAWOS_clean.py:699-990` (one block per variable; representative keys), the
    * coordinate attrs from `MERGE_pipeline.py:358-370`. Networks add/override via
    * `++`. */
  val ObsDefaults: AttrsTable = AttrsTable(
    global = Map(
      "title" -> "Historical observations, cleaned + QA/QC + standardized",
      "institution" -> "graft engine"),
    perVar = Map(
      "time" -> Map("long_name" -> "time", "standard_name" -> "time"),
      "station" -> Map("long_name" -> "station_id"),
      "lat" -> Map("long_name" -> "latitude", "standard_name" -> "latitude",
        "units" -> "degrees_north"),
      "lon" -> Map("long_name" -> "longitude", "standard_name" -> "longitude",
        "units" -> "degrees_east"),
      "elevation" -> Map("long_name" -> "station_elevation",
        "standard_name" -> "height_above_mean_sea_level", "units" -> "meter",
        "positive" -> "up"),
      "tas" -> Map("long_name" -> "air_temperature",
        "standard_name" -> "air_temperature", "units" -> "degree_Kelvin",
        "ancillary_variables" -> "tas_eraqc"),
      "ps" -> Map("long_name" -> "station_air_pressure",
        "standard_name" -> "air_pressure", "units" -> "Pa",
        "ancillary_variables" -> "ps_eraqc"),
      "psl" -> Map("long_name" -> "sea_level_air_pressure",
        "standard_name" -> "air_pressure_at_mean_sea_level", "units" -> "Pa",
        "ancillary_variables" -> "psl_eraqc"),
      "tdps" -> Map("long_name" -> "dew_point_temperature",
        "standard_name" -> "dew_point_temperature", "units" -> "degree_Kelvin",
        "ancillary_variables" -> "tdps_eraqc"),
      "pr" -> Map("long_name" -> "precipitation_accumulation",
        "standard_name" -> "precipitation_amount", "units" -> "mm",
        "ancillary_variables" -> "pr_eraqc"),
      "hurs" -> Map("long_name" -> "average_relative_humidity",
        "standard_name" -> "relative_humidity", "units" -> "percent",
        "ancillary_variables" -> "hurs_eraqc"),
      "rsds" -> Map("long_name" -> "solar_radiation",
        "standard_name" -> "surface_downwelling_shortwave_flux_in_air",
        "units" -> "W m-2", "ancillary_variables" -> "rsds_eraqc"),
      "sfcWind" -> Map("long_name" -> "wind_speed", "standard_name" -> "wind_speed",
        "units" -> "m s-1", "ancillary_variables" -> "sfcWind_eraqc"),
      "sfcWind_dir" -> Map("long_name" -> "wind_direction",
        "standard_name" -> "wind_from_direction", "units" -> "degrees_clockwise_from_north",
        "ancillary_variables" -> "sfcWind_dir_eraqc")))
}
