package graft.sources

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.AttrsTable

/** Station-list generation / public-facing cleanup / count compare / lookup
  * (`stationlist_generator.py`, `public_facing_stationlist_cleanup.py`,
  * `compare_zarr_counts.py`, `asosawos_station_id_lookup.py`). */
class StationListsSpec extends SparkSpec {
  import spark.implicits._

  test("harmonize: fuzzy column resolution with the reference's removal rules") {
    // start_time preferred over begin; disconnect (matches via "connect") removed
    // from start candidates but is the end candidate; elev(m)/elev_dem decoys
    // removed; countyname never an id candidate at pull stage
    val df = Seq(
      ("CIMIS_1", 33.5, -120.0, 10.0, 11.0, 12.0,
        "2001-02-03 04:05:06", "1999-01-01 00:00:00", "2020-01-01 00:00:00", "Y")
    ).toDF("era-id", "lat", "lon", "elev(m)", "elevation", "elev_dem",
      "start_time", "begin", "disconnect", "merged")
    val h = StationLists.harmonizeStationList(df, "CIMIS", "merge",
      "2022-09-01 00:00:00")
    val r = h.select("era_id", "latitude", "longitude", "elevation", "merged",
      "network").as[(String, Double, Double, Double, String, String)].head()
    assert(r == (("CIMIS_1", 33.5, -120.0, 11.0, "Y", "CIMIS")))
    val dates = h.select(col("start_date").cast("string"),
      col("end_date").cast("string")).as[(String, String)].head()
    assert(dates == (("2001-02-03 04:05:06", "2020-01-01 00:00:00")))
  }

  test("harmonize: Active end date becomes the as-of stamp; absent fields null") {
    val df = Seq(("N_1", "Active")).toDF("era-id", "end")
    val h = StationLists.harmonizeStationList(df, "NET", "merge",
      "2022-09-01 00:00:00")
    val r = h.select(col("end_date").cast("string"), col("latitude"),
      col("start_date").cast("string"), col("total_nobs"))
      .as[(String, Option[Double], Option[String], Option[Double])].head()
    assert(r == (("2022-09-01 00:00:00", None, None, None)))
  }

  test("harmonize: surviving ambiguity throws (the reference's break contract)") {
    val df = Seq(("x", 1.0, 2.0)).toDF("era-id", "lat_a", "lat_b")
    val e = intercept[IllegalArgumentException] {
      StationLists.harmonizeStationList(df, "NET", "merge", "2022-09-01 00:00:00")
    }
    assert(e.getMessage.contains("latitude"))
  }

  test("generateStationList: union + dedup + per-stage columns") {
    val a = Seq(("A_1", 1.0, 2.0, "Y"), ("A_1", 1.0, 2.0, "Y"))
      .toDF("era-id", "lat", "lon", "merged")
    val b = Seq(("B_1", 3.0, 4.0, "N")).toDF("era-id", "latitude", "longitude", "merged")
    val out = StationLists.generateStationList(
      Seq("A" -> a, "B" -> b), "merge", "2022-09-01 00:00:00")
    assert(out.columns.toSeq == StationLists.stageColumns("merge"))
    val rows = out.select("era_id", "network", "merged").as[(String, String, String)]
      .collect().sorted
    assert(rows.toSeq == Seq(("A_1", "A", "Y"), ("B_1", "B", "N")))
  }

  test("publicStationList: elevation fix, source ids, WKT, state assignment") {
    val merge = Seq(
      // bad elevation with a correction row -> fixed; source id = ICAO
      ("ASOSAWOS_123456", "ASOSAWOS", 33.0, -122.0, StationLists.BadElevation, "Y", 10L),
      // null elevation without a correction row -> stays null; ICAO missing -> null
      ("ASOSAWOS_999999", "ASOSAWOS", 39.0, -123.5, Double.NaN, "Y", 20L),
      // non-ASOSAWOS: prefix strip, elevation untouched even when sentinel
      ("CIMIS_7", "CIMIS", 39.5, -120.0, StationLists.BadElevation, "Y", 30L),
      ("CIMIS_8", "CIMIS", 33.0, -120.0, 55.0, "N", 40L))
      .toDF("era_id", "network", "latitude", "longitude", "elevation", "merged",
        "total_nobs")
      .withColumn("elevation",
        when(isnan(col("elevation")), lit(null)).otherwise(col("elevation")))
      .withColumn("start_date", lit("2001-01-01 00:00:00").cast("timestamp"))
      .withColumn("end_date", lit("2020-01-01 00:00:00").cast("timestamp"))
    val asosRaw = Seq(("123-456", "KSAC", 8.2)).toDF("isd_id", "icao", "elevation")
    val states = Seq(
      "CA" -> Seq((-125.0, 31.9), (-118.9, 31.9), (-125.0, 40.1)),
      "NV" -> Seq((-118.9, 31.9), (-125.0, 40.1), (-118.9, 40.1)))
    val out = StationLists.publicStationList(merge, asosRaw, states)
      .select("era_id", "source_id", "state", "elevation", "geometry")
      .collect().map(r => (r.getString(0), Option(r.getString(1)), r.getString(2),
        Option(r.get(3)).map(_.asInstanceOf[Double]), r.getString(4)))
      .sortBy(_._1)
    assert(out.length == 3) // CIMIS_8 dropped (merged = N)
    assert(out(0) == (("ASOSAWOS_123456", Some("KSAC"), "CA", Some(8.2),
      "POINT (-122.0000 33.0000)")))
    assert(out(1) == (("ASOSAWOS_999999", None, "NV", None,
      "POINT (-123.5000 39.0000)")))
    assert(out(2) == (("CIMIS_7", Some("7"), "NV", Some(StationLists.BadElevation),
      "POINT (-120.0000 39.5000)")))
  }

  test("stationsOverTime: clamps, open records, per-month counts") {
    val d = (s: String) => java.sql.Date.valueOf(s)
    val stns = Seq(
      ("N1", Some(d("2020-01-15")), Some(d("2020-03-02"))), // Jan-Mar
      ("N1", Some(d("2019-06-01")), Some(d("2020-02-10"))), // clamped Jan-Feb
      ("N1", Some(d("2020-02-20")), None),                  // open end -> Feb-Apr
      ("N2", Some(d("2020-05-01")), Some(d("2020-06-01")))  // after asOf -> dropped
    ).toDF("era_id", "start_date", "end_date")
      .withColumnRenamed("era_id", "network")
    val r = StationLists.stationsOverTime(stns, "2020-01-01", "2020-04-10")
      .collect().map(x => (x.getString(0), x.getDate(1).toString, x.getLong(2)))
      .sortBy(t => (t._1, t._2))
    assert(r.toSeq == Seq(
      ("N1", "2020-01-01", 2L), ("N1", "2020-02-01", 3L),
      ("N1", "2020-03-01", 2L), ("N1", "2020-04-01", 1L)))
  }

  test("compareStationCounts: counts and missing stations in both directions") {
    val a = Seq(("N1", "s1"), ("N1", "s2"), ("N2", "s3")).toDF("network", "station")
    val b = Seq(("N1", "s1"), ("N1", "s9"), ("N2", "s3")).toDF("network", "station")
    val cmp = StationLists.compareStationCounts(a, b)
      .as[(String, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(cmp.toSeq == Seq(("N1", 2L, 2L, 1L, 1L), ("N2", 1L, 1L, 0L, 0L)))
  }

  test("asosStationLookup: exact code and case-insensitive city substring") {
    val st = Seq(
      ("ASOSAWOS_1", "KSAC", "Sacramento Executive Airport"),
      ("ASOSAWOS_2", "KSMF", "Sacramento International Airport"),
      ("ASOSAWOS_3", "KBOI", "Boise Airport"))
      .toDF("era_id", "icao", "station_name")
    assert(StationLists.asosStationLookup(st, code = Some("KBOI"))
      .as[String].collect().toSeq == Seq("ASOSAWOS_3"))
    assert(StationLists.asosStationLookup(st, city = Some("sacramento"))
      .as[String].collect().sorted.toSeq == Seq("ASOSAWOS_1", "ASOSAWOS_2"))
    assert(StationLists.asosStationLookup(st, code = Some("XXXX"))
      .count() == 0L)
  }

  test("webMercator matches the EPSG:3857 closed form at known points") {
    val df = Seq((0.0, 0.0), (180.0, 0.0), (-122.4194, 37.7749)).toDF("lon", "lat")
    val (x, y) = StationLists.webMercator(col("lon"), col("lat"))
    val rows = df.select(x.as("x"), y.as("y")).as[(Double, Double)].collect()
    assert(math.abs(rows(0)._1) < 1e-9 && math.abs(rows(0)._2) < 1e-9)
    assert(math.abs(rows(1)._1 - math.Pi * 6378137.0) < 1e-6)
    // San Francisco, the standard reprojection check values (proj/epsg.io)
    assert(math.abs(rows(2)._1 - -13627665.27) < 1.0)
    assert(math.abs(rows(2)._2 - 4547675.35) < 1.0)
  }

  test("coverageMapData: mercator columns + broadcast color join, missing network -> null") {
    val stations = Seq(("A_1", "A", 10.0, 40.0), ("B_1", "B", 20.0, 45.0))
      .toDF("era_id", "network", "longitude", "latitude")
    val colors = Seq(("A", "1f77b4")).toDF("network", "color")
    val out = StationLists.coverageMapData(stations, colors)
      .select("station_id", "color").as[(String, Option[String])].collect().toMap
    assert(out("A_1").contains("#1f77b4"))
    assert(out("B_1").isEmpty)
  }

  test("combineStationFiles gates on (network, cleaned) and keeps file provenance") {
    val parts = Seq(
      ("CW3E_1", "f1.nc", 2L, 10.0), ("CW3E_1", "f2.nc", 1L, 11.0),
      ("CW3E_2", "f3.nc", 5L, 12.0), // uncleaned under CW3E
      ("CW3E_3", "f4.nc", 7L, 13.0)) // not in the ledger at all
      .toDF("era_id", "file", "time", "value")
    val ledger = Seq(
      ("CW3E_1", "CW3E", "Y"), ("CW3E_2", "CW3E", "N"),
      ("CW3E_2", "OTHER", "Y")) // cleaned under ANOTHER network: must stay out
      .toDF("era_id", "network", "cleaned")
    val out = StationLists.combineStationFiles(parts, ledger, "CW3E")
    assert(out.select("era_id").distinct().as[String].collect().toSeq == Seq("CW3E_1"))
    // chronological within the station partition (the reference's sortby("time"))
    val times = out.select("time").as[Long].collect().toSeq
    assert(times == times.sorted)
  }
}
