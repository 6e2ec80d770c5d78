package graft.sources

import java.io.{ByteArrayOutputStream, DataOutputStream}
import java.nio.file.Files


import graft.SparkSpec
import graft.core.AttrsTable

/** NetCDF-3 classic reader round trip: the spec hand-writes classic-format bytes
  * (big-endian header + fixed/record data sections per the public spec) and the
  * reader must decode them back — station char var, CF time, fill→null, record
  * interleaving, global/var attrs, and the multi-file distributed read. */
class NcSourceSpec extends SparkSpec {

  /** Minimal classic-format writer (test-only): dims (time=record, station=1,
    * strlen=8); fixed char var `station`; record vars `time` (CF units, double),
    * `tas` (double, _FillValue −9999), `tas_qc` (char×8). */
  private def buildClassicNc(stationId: String, times: Seq[Double],
                             tas: Seq[Double], qc: Seq[String]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val o = new DataOutputStream(bos)
    def pad4(n: Int): Int = (n + 3) & ~3
    def name(s: String): Unit = {
      o.writeInt(s.length); o.writeBytes(s)
      (s.length until pad4(s.length)).foreach(_ => o.writeByte(0))
    }
    def charAttr(k: String, v: String): Unit = {
      name(k); o.writeInt(2); o.writeInt(v.length); o.writeBytes(v)
      (v.length until pad4(v.length)).foreach(_ => o.writeByte(0))
    }
    def doubleAttr(k: String, v: Double): Unit = {
      name(k); o.writeInt(6); o.writeInt(1); o.writeDouble(v)
    }

    // header is written twice: first pass with begin=0 to learn its size
    def writeHeader(beginStation: Int, beginTime: Int, beginTas: Int,
                    beginQc: Int): Unit = {
      o.writeBytes("CDF"); o.writeByte(1)
      o.writeInt(times.length)              // numrecs
      o.writeInt(0x0A); o.writeInt(3)       // dim list
      name("time"); o.writeInt(0)           // record dim
      name("station"); o.writeInt(1)
      name("strlen"); o.writeInt(8)
      o.writeInt(0x0C); o.writeInt(1)       // global attrs
      charAttr("title", "CIMIS cleaned")
      o.writeInt(0x0B); o.writeInt(4)       // var list
      // station(station, strlen) char, fixed
      name("station"); o.writeInt(2); o.writeInt(1); o.writeInt(2)
      o.writeInt(0); o.writeInt(0)          // no attrs
      o.writeInt(2); o.writeInt(8); o.writeInt(beginStation)
      // time(time) double, record
      name("time"); o.writeInt(1); o.writeInt(0)
      o.writeInt(0x0C); o.writeInt(1)
      charAttr("units", "hours since 2014-06-01 00:00:00")
      o.writeInt(6); o.writeInt(8); o.writeInt(beginTime)
      // tas(time) double, record, with _FillValue
      name("tas"); o.writeInt(1); o.writeInt(0)
      o.writeInt(0x0C); o.writeInt(2)
      doubleAttr("_FillValue", -9999.0)
      charAttr("units", "degree_Kelvin")
      o.writeInt(6); o.writeInt(8); o.writeInt(beginTas)
      // tas_qc(time, strlen) char, record
      name("tas_qc"); o.writeInt(2); o.writeInt(0); o.writeInt(2)
      o.writeInt(0); o.writeInt(0)
      o.writeInt(2); o.writeInt(8); o.writeInt(beginQc)
    }

    writeHeader(0, 0, 0, 0)
    val headerLen = bos.size()
    val beginStation = headerLen
    val beginTime = beginStation + 8      // char(1x8), already 4-aligned
    val beginTas = beginTime + 8          // record stride: 8 + 8 + 8
    val beginQc = beginTas + 8
    bos.reset()
    writeHeader(beginStation, beginTime, beginTas, beginQc)
    // fixed section: station chars, NUL-padded to strlen
    o.writeBytes(stationId.take(8).padTo(8, '\u0000').mkString)
    // record section: per record, each record var's chunk (all 8-byte, no padding needed)
    times.indices.foreach { i =>
      o.writeDouble(times(i))
      o.writeDouble(tas(i))
      o.writeBytes(qc(i).take(8).padTo(8, '\u0000').mkString)
    }
    o.flush()
    bos.toByteArray
  }

  test("classic round trip: header, CF time, fill->null, record interleave, attrs") {
    val bytes = buildClassicNc("CIMIS_2", Seq(0.0, 1.0, 2.0),
      Seq(293.15, -9999.0, 295.15), Seq("", "Y", ""))
    val d = NcSource.readStation(bytes, "CIMIS_2.nc")
    assert(d.station == "CIMIS_2")
    assert(d.time.toSeq == Seq(0L, 3600L * 1000000L, 7200L * 1000000L)
      .map(_ + java.time.Instant.parse("2014-06-01T00:00:00Z").getEpochSecond * 1000000L))
    val cols = d.cols.map(c => c.name -> ColumnValues(c)).toMap
    assert(cols("tas") == Seq(293.15, null, 295.15))
    assert(cols("tas_qc") == Seq(null, "Y", null))
    assert(d.attrs.global("title") == "CIMIS cleaned")
    assert(d.attrs.perVar("tas")("units") == "degree_Kelvin")
    // _FillValue is consumed, not carried as metadata
    assert(!d.attrs.perVar("tas").contains("_FillValue"))
  }

  test("direct classic parse still refuses HDF5 bytes; readStation dispatches them (r11)") {
    // parseHeader is the CLASSIC-format entry and keeps its actionable error;
    // the readStation/readFiles surface routes HDF5 to Hdf5Source instead
    // (Hdf5SourceSpec pins the full decode)
    val hdf5 = Array[Byte](0x89.toByte, 'H', 'D', 'F', '\r', '\n', 0x1a, '\n')
    val e = intercept[IllegalArgumentException](NcSource.parseHeader(hdf5))
    assert(e.getMessage.contains("NETCDF3_CLASSIC"))
    // a truncated HDF5 payload reaches the HDF5 reader, not the classic error
    val e2 = intercept[Exception](NcSource.readStation(hdf5, "x.nc"))
    assert(!e2.getMessage.contains("NETCDF3_CLASSIC"))
  }

  test("multi-file distributed read + ingest -> partitioned obs table") {
    val dir = Files.createTempDirectory("nc").toFile
    def put(n: String, b: Array[Byte]): Unit =
      Files.write(new java.io.File(dir, n).toPath, b)
    put("CIMIS_2.nc", buildClassicNc("CIMIS_2", Seq(0.0, 1.0),
      Seq(290.0, 291.0), Seq("", "")))
    put("CIMIS_7.nc", buildClassicNc("CIMIS_7", Seq(0.0, 1.0, 2.0),
      Seq(280.0, -9999.0, 282.0), Seq("M", "", "")))
    // no tas_qc, and an rh the first file does not have
    put("CIMIS_9.nc", NcSink.encodeStation(StationData("CIMIS_9", Array(0L, 3600000000L),
      Seq(StationColumn.Doubles("tas", Array(270.0, 271.0), Array(false, false)),
        StationColumn.Doubles("rh", Array(40.0, 41.0), Array(false, false))),
      AttrsTable(Map.empty, Map.empty))))
    val paths = Seq(s"$dir/CIMIS_2.nc", s"$dir/CIMIS_7.nc", s"$dir/CIMIS_9.nc")

    val df = NcSource.readFiles(spark, paths)
    assert(df.count() == 7)
    // schema from the first file: CIMIS_9's rh is dropped, its tas_qc is null
    assert(df.columns.toSeq == Seq("station", "time", "tas", "tas_qc"))
    import org.apache.spark.sql.functions._
    assert(df.filter(col("station") === "CIMIS_7" && col("tas").isNull).count() == 1)
    val nine = df.filter(col("station") === "CIMIS_9")
    assert(nine.filter(col("tas_qc").isNull && col("tas").isNotNull).count() == 2)

    val out = Files.createTempDirectory("ncout").toFile.getAbsolutePath + "/obs"
    NcSource.ingest(spark, paths, out, network = "CIMIS")
    val back = spark.read.parquet(out)
    assert(back.count() == 7)
    assert(back.select("network").distinct().head().getString(0) == "CIMIS")
    val attrs = Sinks.readAttrs(back, out)
    assert(attrs.global("title") == "CIMIS cleaned")
  }

  test("a missing or a 2 GiB .nc file is an error that names it") {
    val dir = Files.createTempDirectory("nc_err")
    val missing = s"$dir/CIMIS_404.nc"
    val e = intercept[java.io.FileNotFoundException](NcSource.readFiles(spark, Seq(missing)))
    assert(e.getMessage.contains(missing), e.getMessage)
    Files.write(dir.resolve("CIMIS_2.nc"),
      buildClassicNc("CIMIS_2", Seq(0.0), Seq(290.0), Seq("")))
    val huge = s"${TwoGiBFileSystem.Scheme}://$dir/CIMIS_2.nc"
    val e2 = intercept[IllegalArgumentException](
      NcSource.readFileAt(huge, TwoGiBFileSystem.conf))
    assert(e2.getMessage.contains("CIMIS_2.nc"), e2.getMessage)
  }
}
