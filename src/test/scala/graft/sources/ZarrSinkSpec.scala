package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.core.AttrsTable

/** [[ZarrSink]] writes consolidated zarr v2 stores that [[ZarrSource]] reads
  * back bit-exactly — the publish half of the S8 row. The spec also cracks the
  * written store open file-by-file to pin the on-disk format (consolidated
  * metadata keys, xarray `_ARRAY_DIMENSIONS`, zlib chunks, edge-chunk padding)
  * independently of our own reader. */
class ZarrSinkSpec extends SparkSpec {

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
      Row("STN_A", ts("2021-01-01T00:00:00Z"), 270.5, 3L, null),
      Row("STN_A", ts("2021-01-01T01:00:00Z"), null, null, "23"),
      Row("STN_A", ts("2021-01-01T02:00:00Z"), 271.25, 0L, "9,10"),
      Row("STN_B", ts("2021-01-01T00:30:00Z"), -12.75, 7L, null),
      Row("STN_B", ts("2021-01-01T01:30:00Z"), 0.0625, -4L, "31"))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 3), schema)
  }

  test("round-trip: writeZarrStores -> ZarrSource.readStores is value-exact") {
    val dir = Files.createTempDirectory("zarr-sink").toString
    val attrs = AttrsTable(Map("institution" -> "graft", "frequency" -> "1hr"),
      Map("tas" -> Map("units" -> "K", "long_name" -> "air temperature")))
    val ledger = ZarrSink.writeZarrStores(fixture(), dir, attrs, chunkRows = 2)
      .orderBy("station").collect()

    assert(ledger.map(r => (r.getString(0), r.getLong(2), r.getLong(3))).toSeq ===
      Seq(("STN_A", 3L, 2L), ("STN_B", 2L, 1L)))
    assert(ledger.forall(_.getLong(4) > 0))

    val back = ZarrSource.readStores(spark,
      Seq(s"$dir/STN_A.zarr", s"$dir/STN_B.zarr"))
      .select("station", "time", "tas", "pr_count", "tas_eraqc")
      .orderBy("station", "time")
    // vlen-utf8 has no null: null strings publish as "" (xarray parity)
    val expected = fixture()
      .withColumn("tas_eraqc", coalesce(col("tas_eraqc"), lit("")))
      .orderBy("station", "time")
    assert(back.collect().toSeq === expected.collect().toSeq)

    // attrs survive into the store and back out of readStore
    val d = ZarrSource.readStoreAt(s"$dir/STN_A.zarr",
      spark.sparkContext.hadoopConfiguration)
    assert(d.attrs.global("institution") === "graft")
    assert(d.attrs.forVar("tas")("units") === "K")
  }

  test("on-disk format: consolidated keys, dims, zlib chunks, edge padding") {
    val dir = Files.createTempDirectory("zarr-sink-fmt").toString
    ZarrSink.writeZarrStores(fixture().where(col("station") === "STN_A"), dir,
      chunkRows = 2).collect()
    val root = java.nio.file.Paths.get(dir, "STN_A.zarr")

    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val zmeta = mapper.readTree(Files.readAllBytes(root.resolve(".zmetadata")))
    assert(zmeta.path("zarr_consolidated_format").asInt() === 1)
    val keys = zmeta.path("metadata").fieldNames()
    val keySet = Iterator.continually(keys).takeWhile(_.hasNext).map(_.next()).toSet
    assert(keySet.contains(".zgroup") && keySet.contains("tas/.zarray") &&
      keySet.contains("time/.zattrs") && keySet.contains("station/.zarray"))

    // individual metadata files match their consolidated copies byte-for-byte
    for (rel <- Seq(".zgroup", "tas/.zarray", "time/.zattrs")) {
      val solo = mapper.readTree(Files.readAllBytes(root.resolve(rel)))
      assert(solo === zmeta.path("metadata").path(rel), rel)
    }

    val tasMeta = zmeta.path("metadata").path("tas/.zarray")
    assert(tasMeta.path("dtype").asText() === "<f8")
    assert(tasMeta.path("compressor").path("id").asText() === "zlib")
    assert(tasMeta.path("fill_value").asText() === "NaN")
    assert(zmeta.path("metadata").path("tas/.zattrs")
      .path("_ARRAY_DIMENSIONS").get(0).asText() === "time")

    // 3 rows at chunkRows=2 -> chunk files 0 and 1; edge chunk padded to FULL
    // chunk size (zarr spec) so both inflate to 2*8 bytes
    for (chunk <- Seq("0", "1")) {
      val raw = Files.readAllBytes(root.resolve("tas").resolve(chunk))
      val inf = new java.util.zip.Inflater()
      inf.setInput(raw)
      val out = new Array[Byte](64)
      val nOut = inf.inflate(out)
      inf.end()
      assert(nOut === 16, s"chunk $chunk")
    }
    // padded tail decodes as NaN -> null; valid region scatters over it
    val za = mapper.readTree(Files.readAllBytes(root.resolve("time").resolve(".zarray")))
    assert(za.path("dtype").asText() === "<M8[ns]")
  }

  test("many stations across partitions: every store lands, ledger is complete") {
    val dir = Files.createTempDirectory("zarr-sink-many").toString
    val n = 23
    val df = spark.range(n * 4).selectExpr(
      "concat('S', lpad(cast(id % 23 as string), 2, '0')) as station",
      "timestamp_seconds(1609459200 + cast(id as long) * 3600) as time",
      "cast(id as double) / 7 as v")
    val ledger = ZarrSink.writeZarrStores(df, dir, chunkRows = 65536)
    assert(ledger.count() === n)
    assert(ledger.agg(sum("rows")).head().getLong(0) === n * 4)
    val back = ZarrSource.readStores(spark,
      (0 until n).map(i => f"$dir/S$i%02d.zarr"))
    assert(back.count() === n * 4)
    assert(back.agg(sum("v")).head().getDouble(0) ===
      df.agg(sum("v")).head().getDouble(0))
  }
}
