package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** S3/S4 — the per-file line reader under the network CSV sources.
  *
  * S3 (MADIS header-sniffing CSV, `/root/reference/scripts/2_clean_data/
  * MADIS_clean.py:113-392`): each file opens with ~10 `key: value` metadata lines
  * (station, lat, lon, elevation, units) before the CSV body. Re-expressed
  * Spark-first: `wholetext` read → per-file line split; the network readers parse
  * the header lines ([[NetworkCatalogs.madisHeaders]]) and [[readBody]] explodes the
  * body lines and parses them with `from_csv(schema)`. Line order is exact (one
  * string per file), everything stays distributed — one task per file, no driver
  * loops. Suits the reference's many-small-station-files shape; files must fit an
  * executor (they do: station CSVs are MBs). Path globs do the file listing.
  */
object CsvSources {

  private[sources] def perFileLines(spark: SparkSession, globPath: String): DataFrame =
    spark.read.option("wholetext", "true").text(globPath)
      .select(input_file_name().as("file"),
        split(regexp_replace(col("value"), "\r\n", "\n"), "\n").as("lines"))

  /** Body rows: lines after the header (optionally one more for the CSV column
    * header), parsed with the explicit `schema` via `from_csv` and exploded. */
  def readBody(spark: SparkSession, globPath: String, schema: StructType,
               skipLines: Int, delimiter: String = ","): DataFrame = {
    val body = slice(col("lines"), lit(skipLines + 1), lit(Int.MaxValue))
    perFileLines(spark, globPath)
      .select(col("file"), explode(body).as("line"))
      .filter(length(trim(col("line"))) > 0)
      .select(col("file"),
        from_csv(col("line"), schema, Map("sep" -> delimiter)).as("row"))
      .select(col("file") +: schema.fieldNames.map(f => col(s"row.$f")): _*)
  }
}
