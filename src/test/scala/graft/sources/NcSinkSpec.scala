package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.core.AttrsTable

/** [[NcSink]] writes classic NetCDF-3 files that [[NcSource]] reads back
  * value-exactly, plus header-level format pins (magic, version, big-endian
  * offsets) checked against raw bytes rather than our own reader. */
class NcSinkSpec extends SparkSpec {

  private def ts(s: String): java.sql.Timestamp =
    java.sql.Timestamp.from(java.time.Instant.parse(s))

  private val schema = StructType(Seq(
    StructField("station", StringType, nullable = false),
    StructField("time", TimestampType, nullable = false),
    StructField("tas", DoubleType, nullable = true),
    StructField("pr_count", LongType, nullable = true),
    StructField("tas_eraqc", StringType, nullable = true)))

  private def fixture() = {
    val rows = Seq(
      Row("KSAC", ts("2020-06-01T00:00:00Z"), 295.15, 2L, null),
      Row("KSAC", ts("2020-06-01T01:00:00Z"), null, null, "23"),
      Row("KSAC", ts("2020-06-01T02:00:00Z"), 296.0, 11L, "9,10"),
      Row("KRDD", ts("2020-06-01T00:00:00Z"), 301.45, -5L, null),
      Row("KRDD", ts("2020-06-01T01:00:00Z"), 0.125, 0L, "31"))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
  }

  test("round-trip: writeNcFiles -> NcSource.readFiles is value-exact") {
    val dir = Files.createTempDirectory("nc-sink").toString
    val attrs = AttrsTable(Map("institution" -> "graft", "network" -> "ASOSAWOS"),
      Map("tas" -> Map("units" -> "K")))
    val ledger = NcSink.writeNcFiles(fixture(), dir, attrs)
      .orderBy("station").collect()
    assert(ledger.map(r => (r.getString(0), r.getLong(2))).toSeq ===
      Seq(("KRDD", 2L), ("KSAC", 3L)))

    val back = NcSource.readFiles(spark, Seq(s"$dir/KSAC.nc", s"$dir/KRDD.nc"))
      .select("station", "time", "tas", "pr_count", "tas_eraqc")
      .orderBy("station", "time")
    // NC_CHAR has no empty-vs-null distinction: nulls read back as null already
    assert(back.collect().toSeq === fixture().orderBy("station", "time").collect().toSeq)

    val d = NcSource.readStation(
      Files.readAllBytes(java.nio.file.Paths.get(dir, "KSAC.nc")), "KSAC.nc")
    assert(d.station === "KSAC")
    assert(d.attrs.global("institution") === "graft")
    assert(d.attrs.forVar("tas")("units") === "K")
    assert(d.attrs.forVar("time")("units").startsWith("seconds since 1970-01-01"))
  }

  test("on-disk format: CDF-2 magic, big-endian header, 4-byte alignment") {
    val dir = Files.createTempDirectory("nc-sink-fmt").toString
    NcSink.writeNcFiles(fixture().where(col("station") === "KSAC"), dir).collect()
    val bytes = Files.readAllBytes(java.nio.file.Paths.get(dir, "KSAC.nc"))
    assert(bytes(0) === 'C'.toByte && bytes(1) === 'D'.toByte &&
      bytes(2) === 'F'.toByte && bytes(3) === 2.toByte)
    assert(bytes.length % 4 === 0)
    val bb = java.nio.ByteBuffer.wrap(bytes)
    assert(bb.getInt(4) === 0) // numrecs
    assert(bb.getInt(8) === 0x0A) // NC_DIMENSION tag
    // time dim is first and holds the row count
    assert(bb.getInt(12) >= 1)
  }

  test("nulls, negatives and multi-byte strings survive; int range is enforced") {
    val dir = Files.createTempDirectory("nc-sink-edge").toString
    val rows = Seq(
      Row("S1", ts("2020-01-01T00:00:00Z"), -273.15, -2147483646L, "snø"),
      Row("S1", ts("2020-01-01T00:00:30Z"), null, 2147483647L, null))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
    NcSink.writeNcFiles(df, dir).collect()
    val d = NcSource.readStation(
      Files.readAllBytes(java.nio.file.Paths.get(dir, "S1.nc")), "S1.nc")
    val byName = d.cols.map(c => c.name -> ColumnValues(c)).toMap
    assert(byName("tas") === Seq(-273.15, null))
    assert(byName("pr_count") === Seq(-2147483646L, 2147483647L))
    assert(byName("tas_eraqc") === Seq("snø", null))
    assert(d.time.toSeq === Seq(1577836800000000L, 1577836830000000L))

    val tooBig = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row("S2", ts("2020-01-01T00:00:00Z"), 1.0, 4000000000L, null)), 1), schema)
    val err = intercept[org.apache.spark.SparkException] {
      NcSink.writeNcFiles(tooBig, dir).collect()
    }
    assert(err.getMessage.contains("NC_INT range") ||
      Option(err.getCause).exists(_.getMessage.contains("NC_INT range")))
  }
}
