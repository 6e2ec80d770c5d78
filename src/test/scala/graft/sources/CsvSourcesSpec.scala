package graft.sources

import java.nio.file.Files
import org.apache.spark.sql.types._
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.pipeline.ConcatStations

class CsvSourcesSpec extends SparkSpec {
  import spark.implicits._

  private def writeMadisLike(): String = {
    val dir = Files.createTempDirectory("madis").toFile
    def write(name: String, station: String, lat: String, body: String): Unit = {
      val f = new java.io.File(dir, name)
      val w = new java.io.PrintWriter(f)
      w.print(s"""station: $station
lat: $lat
lon: -118.2
elevation: 120
units: degC
time,tas,tas_qc
$body""")
      w.close()
    }
    write("s1.csv", "AAA", "34.1", "2024-01-01T00:00:00,10.5,0\n2024-01-01T01:00:00,11.0,0")
    write("s2.csv", "BBB", "35.9", "2024-01-01T00:00:00,20.5,1")
    dir.getAbsolutePath
  }

  test("S3: body rows after the header lines parse with the explicit schema") {
    val dir = writeMadisLike()
    val schema = StructType(Seq(
      StructField("time", TimestampType), StructField("tas", DoubleType),
      StructField("tas_qc", StringType)))
    // five metadata lines plus the CSV column header
    val df = CsvSources.readBody(spark, s"$dir/*.csv", schema, skipLines = 6)
    assert(df.count() == 3)
    val aaa = df.filter(col("file").endsWith("/s1.csv"))
    assert(aaa.count() == 2)
    assert(aaa.agg(sum("tas")).head().getDouble(0) == 21.5)
  }

  test("§3.3 concat: co-located stations merge under the newest id, newest row wins") {
    val stations = Seq(
      ("OLD1", 34.0, -118.0, 1), ("NEW1", 34.0, -118.0, 2), // co-located pair
      ("LONE", 36.0, -120.0, 3))
      .toDF("station", "lat", "lon", "rec")
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val t1 = java.sql.Timestamp.valueOf("2024-01-01 01:00:00")
    val obs = Seq(
      ("OLD1", t0, 1.0), ("OLD1", t1, 2.0), // overlap at t1
      ("NEW1", t1, 99.0), ("LONE", t0, 5.0))
      .toDF("station", "t", "v")
    val got = ConcatStations.concatObs(obs, stations, "station", "lat", "lon", "t", col("rec"))
      .orderBy("station", "t").select("station", "v").as[(String, Double)].collect().toSeq
    // OLD1 rows re-keyed to NEW1; the t1 conflict keeps NEW1's 99.0
    assert(got == Seq(("LONE", 5.0), ("NEW1", 1.0), ("NEW1", 99.0)))
  }
}
