package graft.sources

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Fixture-driven specs for the per-network clean catalogs (S4 data half) —
  * synthetic raw files in each network's actual on-disk format, parsed to
  * canonical obs rows and pinned against hand-computed expectations taken from
  * the reference scripts' semantics. */
class NetworkCatalogsSpec extends SparkSpec {

  private def tmpDir(prefix: String): java.io.File =
    Files.createTempDirectory(prefix).toFile

  private def write(dir: java.io.File, name: String, body: String): Unit = {
    val w = new java.io.PrintWriter(new java.io.File(dir, name))
    w.print(body); w.close()
  }

  // ------------------------------------------------------------------ CIMIS

  test("CIMIS: headerless new-format CSV -> canonical obs (units, sentinels, 24h roll, PST->UTC)") {
    val dir = tmpDir("cimis")
    // newcols order: sid,date,hour,jday,eto,eto_qc,pr,pr_qc,rsds,rsds_qc,pvp,pvp_qc,
    //                tas,tas_qc,hurs,hurs_qc,tdps,tdps_qc,wspd,wspd_qc,wdir,wdir_qc,soil,soil_qc
    write(dir, "hourlyStns2014.csv",
      """2,6/1/2014,100,152,0.1,,0.0, ,450.2, ,1.2, ,20.5, ,55.0, ,11.1, ,3.2, ,180.0, ,15.0,
        |2,6/1/2014,200,152,0.1,,-9998, ,*, ,1.3, ,-6999, ,56.0,Y,11.2, ,3.3, ,181.0, ,15.1,
        |2,6/1/2014,2400,152,0.1,,0.2, ,100.0, ,1.4, ,21.0, ,57.0, ,11.3, ,3.4, ,182.0, ,15.2,
        |2,6/1/2014,2400,152,0.1,,0.2, ,100.0, ,1.4, ,21.0, ,57.0, ,11.3, ,3.4, ,182.0, ,15.2,
        |""".stripMargin)
    val got = NetworkCatalogs.readCimis(spark, s"${dir.getAbsolutePath}/*.csv")
      .orderBy("time")
    // exact duplicate row dropped
    assert(got.count() == 3)
    val rows = got.collect()
    // station id carries the network prefix
    assert(rows.forall(_.getAs[String]("station") == "CIMIS_2"))
    // hour 0100 PST -> 09:00 UTC same day; 2400 -> next day 00:00 PST -> 08:00 UTC
    val times = rows.map(_.getAs[java.sql.Timestamp]("time").toString)
    assert(times(0) == "2014-06-01 09:00:00.0")
    assert(times(2) == "2014-06-02 08:00:00.0")
    // degC -> K; kPa -> Pa
    assert(approx(rows(0).getAs[Double]("tas"), 20.5 + 273.15))
    assert(approx(rows(0).getAs[Double]("pvp_derived"), 1200.0))
    // sentinel -9998 (pr) and -6999 (tas) -> null; "*" (rsds) -> null
    assert(rows(1).isNullAt(rows(1).fieldIndex("pr")))
    assert(rows(1).isNullAt(rows(1).fieldIndex("tas")))
    assert(rows(1).isNullAt(rows(1).fieldIndex("rsds")))
    // QC flag string survives; blank QC -> null
    assert(rows(1).getAs[String]("hurs_qc") == "Y")
    assert(rows(0).getAs[String]("hurs_qc") == null)
    // dropped reference columns never appear
    assert(!got.columns.exists(c => c.contains("Soil") || c.contains("ETo")))
  }

  test("CIMIS: pre-2014 column order (QC before value) parses to the same canonical shape") {
    val dir = tmpDir("cimisOld")
    // oldcols order: sid,date,hour,jday,eto_qc,eto,pr_qc,pr,rsds_qc,rsds,pvp_qc,pvp,
    //                tas_qc,tas,hurs_qc,hurs,tdps_qc,tdps,wspd_qc,wspd,wdir_qc,wdir,soil_qc,soil
    write(dir, "hourlyStns2010.csv",
      """7,1/15/2010,300, 15, ,0.1, ,0.5, ,300.0, ,1.0,M,18.0, ,60.0, ,9.9, ,2.0, ,90.0, ,12.0
        |""".stripMargin)
    val got = NetworkCatalogs.readCimis(spark, s"${dir.getAbsolutePath}/*.csv", pre2014 = true)
    val r = got.head()
    assert(r.getAs[String]("station") == "CIMIS_7")
    assert(approx(r.getAs[Double]("tas"), 18.0 + 273.15))
    assert(r.getAs[String]("tas_qc") == "M")
    assert(r.getAs[java.sql.Timestamp]("time").toString == "2010-01-15 11:00:00.0")
  }

  // ------------------------------------------------------------ SCAN/SNOTEL

  test("SCAN/SNOTEL: value/flag/time triplets -> canonical obs (F->K, inHg->Pa, mph->m/s, tz shift)") {
    val dir = tmpDir("scan")
    val header = ("time" +: NetworkCatalogs.scanSnotel.rawSchema.fieldNames.filterNot(_ == "time"))
      .mkString(",")
    // PST station (offset -8): local 2014-06-01 00:00 -> 08:00 UTC
    // (triplet colons are legal in S3 keys but not local Hadoop paths — the spec
    // fixture uses the bare numeric id, which the same filename regex extracts)
    write(dir, "raw_301.csv",
      header + "\n" +
        "2014-06-01 00:00:00," +
        "68.0,V,2014-06-01 00:00:00," + // TOBS 68F -> 293.15 K
        "29.92,,," +                    // PRES inHg -> 101321.19 Pa
        ",,," + ",,," + ",,," + ",,," + // DPTP PREC PRCP PRCPSA empty
        "NaN,,," +                      // RHUM = NaN token
        ",,," +                         // SRAD
        "10.0,,," +                     // WSPD 10 mph -> 4.47 m/s
        ",,," + ",,," + ",,\n")         // WDIR PVPV SVPV
    val stations = {
      import spark.implicits._
      Seq(("301", -8.0)).toDF("stationTriplet", "stationDataTimeZone")
    }
    val got = NetworkCatalogs.readScanSnotel(spark, s"${dir.getAbsolutePath}/*.csv", stations)
    val r = got.head()
    assert(r.getAs[String]("station") == "SCANSNOTEL_301")
    assert(r.getAs[java.sql.Timestamp]("time").toString == "2014-06-01 08:00:00.0")
    assert(approx(r.getAs[Double]("tas"), (68.0 - 32.0) * 5.0 / 9.0 + 273.15))
    assert(approx(r.getAs[Double]("psl"), 29.92 * 3386.39))
    assert(approx(r.getAs[Double]("sfcWind"), 10.0 / 2.237))
    assert(r.getAs[String]("tas_qc") == "V")
    // NaN token -> null; all-null canonical columns dropped by the ingest path
    assert(!got.columns.contains("pr"))
    // removed sub-variables never leak through
    assert(!got.columns.exists(_.contains("TAVG")))
  }

  test("SCAN/SNOTEL: conflicting <VAR>_time column raises (reference hard-exit)") {
    import spark.implicits._
    val raw = Seq(("2014-01-01 00:00:00", "50.0", "V", "2014-01-01 03:00:00"))
      .toDF("time", "TOBS_value", "TOBS_flag", "TOBS_time")
    val e = intercept[IllegalArgumentException] {
      NetworkCatalogs.assertNoConflictingTimes(raw)
    }
    assert(e.getMessage.contains("TOBS_time"))
  }

  // ------------------------------------------------------------------- CW3E

  test("CW3E: headerless .m file -> canonical obs (%Y.%j.%H%M time, mb->Pa, -99999 NA)") {
    val dir = tmpDir("cw3e")
    // default_cols order: logger,year,jday,hhmm,press,temp,rh,wspd,vwspd,wdir,wdirsd,
    //                     rsds,batt,pr,maxw,soil x6, refl x3
    write(dir, "bbd1406m",
      """210,2014,152,30,1013.2,15.5,70.0,3.1,3.0,200.0,5.0,800.0,12.5,0.0,4.0,10,10,10,10,10,10,1,1,1
        |210,2014,152,100,-99999,16.0,71.0,3.2,3.1,201.0,5.1,810.0,12.5,0.1,4.1,10,10,10,10,10,10,1,1,1
        |""".stripMargin)
    val got = NetworkCatalogs.readCw3e(spark, s"${dir.getAbsolutePath}/*m").orderBy("time")
    val rows = got.collect()
    assert(rows.length == 2)
    assert(rows(0).getAs[String]("station") == "CW3E_BBD")
    // jday 152 of 2014 = June 1; 0030 UTC
    assert(rows(0).getAs[java.sql.Timestamp]("time").toString == "2014-06-01 00:30:00.0")
    assert(approx(rows(0).getAs[Double]("tas"), 15.5 + 273.15))
    assert(approx(rows(0).getAs[Double]("psl"), 101320.0))
    // -99999 -> null
    assert(rows(1).isNullAt(rows(1).fieldIndex("psl")))
    // removecols (battery, soil, max wind) never appear
    assert(got.columns.toSet == Set("station", "time", "tas", "psl", "pr", "hurs",
      "rsds", "sfcWind", "sfcWind_dir"))
  }

  // ------------------------------------------------------------ VALLEYWATER

  test("VALLEYWATER: 15-min grid infill flag 30 + in->mm into pr_15min") {
    val dir = tmpDir("vw")
    val preamble = (1 to 14).map(i => s"# meta line $i").mkString("\n")
    write(dir, "Precip_Increm.Final@6001.EntireRecord.csv",
      preamble + "\nISO 8601 UTC,Value,Approval Level\n" +
        """2014-06-01T00:00:00Z,0.10,1
          |2014-06-01T00:15:00Z,,
          |2014-06-01T00:45:00Z,0.20,1
          |""".stripMargin)
    val got = NetworkCatalogs.readValleywater(spark, s"${dir.getAbsolutePath}/*.csv")
      .orderBy("time")
    val rows = got.collect()
    // approval-null row dropped, then grid 00:00..00:45 infilled -> 4 rows
    assert(rows.length == 4)
    assert(rows.forall(_.getAs[String]("station") == "VALLEYWATER_6001"))
    assert(approx(rows(0).getAs[Double]("pr_15min"), 0.10 * 25.4))
    // infilled rows: null obs + flag 30
    assert(rows(1).isNullAt(rows(1).fieldIndex("pr_15min")))
    assert(rows(1).getAs[Int]("pr_15min_eraqc") == 30)
    assert(rows(2).getAs[Int]("pr_15min_eraqc") == 30)
    assert(rows(3).isNullAt(rows(3).fieldIndex("pr_15min_eraqc")))
    assert(approx(rows(3).getAs[Double]("pr_15min"), 0.20 * 25.4))
  }

  // --------------------------------------------------------------- MARITIME

  test("MADIS/CWOP: header-sniffed per-file columns -> canonical obs (None NA, ;-flag .0 strip, C->K)") {
    val dir = tmpDir("madis")
    // real MADIS file shape (`MADIS_clean.py:113-235`): KEY: value header lines,
    // an in-file column-name row, a units row, then data rows keyed by station id.
    // The second air_temp_set_1 is an identical DUPLICATE column (`:207-217`) —
    // first occurrence wins.
    write(dir, "AP123.csv",
      """STATION: AP123
        |STATION NAME: TESTSITE)
        |LATITUDE: 37.5']
        |LONGITUDE: -121.25']
        |ELEVATION [ft]: 100']
        |STATE: CA']
        |Station_ID,Date_Time,air_temp_set_1,air_temp_set_1_qc,wind_speed_set_1,pressure_set_1,solar_radiation_set_1,air_temp_set_1
        |,,Celsius,QC_type,m/s,Pascals,W/m**2,Celsius
        |AP123,2014-06-01 10:00:00,20.5,2.0;3.0,3.1,98000,None,20.5
        |AP123,2014-06-01 11:00:00,None,,3.2,98100,None,None
        |AP123,2014-06-01 11:00:00,None,,3.2,98100,None,None
        |""".stripMargin)
    val got = NetworkCatalogs.readMadis(spark, s"${dir.getAbsolutePath}/*.csv")
      .orderBy("time")
    assert(got.count() == 2) // exact duplicate row dropped
    val rows = got.collect()
    assert(rows(0).getAs[String]("station") == "MADIS_AP123")
    assert(rows(0).getAs[java.sql.Timestamp]("time").toString == "2014-06-01 10:00:00.0")
    // Synoptic metric units: only the temperature converts (C -> K)
    assert(approx(rows(0).getAs[Double]("tas"), 20.5 + 273.15))
    assert(approx(rows(0).getAs[Double]("sfcWind"), 3.1))
    assert(approx(rows(0).getAs[Double]("ps"), 98000.0))
    // ;-separated float-coerced flags lose the .0 residue (`:650-662`)
    assert(rows(0).getAs[String]("tas_qc") == "2;3")
    // "None" NA token (`:391`); blank QC -> null
    assert(rows(1).isNullAt(rows(1).fieldIndex("tas")))
    assert(rows(1).getAs[String]("tas_qc") == null)
    // all-null rsds dropped (dropna(axis=1, how='all'), `:312`)
    assert(!got.columns.contains("rsds"))
    // header attributes: one row per file, elevation ft -> m (`:782`)
    val hdr = NetworkCatalogs.madisHeaders(spark, s"${dir.getAbsolutePath}/*.csv").head()
    assert(hdr.getAs[String]("station_id") == "AP123")
    assert(hdr.getAs[String]("station_name") == "TESTSITE")
    assert(approx(hdr.getAs[Double]("latitude"), 37.5))
    assert(approx(hdr.getAs[Double]("longitude"), -121.25))
    assert(approx(hdr.getAs[Double]("elevation_m"), 100 * 0.3048))
    assert(hdr.getAs[String]("state") == "CA")
  }

  // two NDBC observations in the post-2007 layout (`#` header and units lines)
  private val ndbc2007 =
    """#YY  MM DD hh mm WDIR WSPD GST  WVHT   DPD   APD MWD   PRES  ATMP  WTMP  DEWP  VIS  TIDE
      |#yr  mo dy hr mn degT m/s  m/s     m   sec   sec degT   hPa  degC  degC  degC  nmi    ft
      |2014 06 01 00 00 180  5.5  7.0  2.1  10.0   8.0 200 1013.5  15.0  14.0  12.0 99.0 99.00
      |2014 06 01 01 00 999 99.0  MM   MM   MM     MM  MM  9999.0 999.0  MM   999.0 99.0 99.00
      |""".stripMargin

  private def readNdbc(body: String): DataFrame = {
    val dir = tmpDir("ndbc")
    write(dir, "46042h2014.txt", body)
    NetworkCatalogs.readMaritime(spark, s"${dir.getAbsolutePath}/*.txt").orderBy("time")
  }

  test("MARITIME: NDBC whitespace text -> canonical obs (MM na, 999/99/9999 codes, hPa->Pa)") {
    val got = readNdbc(ndbc2007)
    val rows = got.collect()
    assert(rows.length == 2)
    assert(rows(0).getAs[String]("station") == "MARITIME_46042H")
    assert(rows(0).getAs[java.sql.Timestamp]("time").toString == "2014-06-01 00:00:00.0")
    assert(approx(rows(0).getAs[Double]("ps"), 101350.0))
    assert(approx(rows(0).getAs[Double]("tas"), 288.15))
    assert(approx(rows(0).getAs[Double]("sfcWind"), 5.5))
    // every NDBC missing code nulls out: 999 (dir), 99.0 (wind), 9999.0 (pres), 999.0 (temps), MM
    val r1 = rows(1)
    Seq("sfcWind_dir", "sfcWind", "ps", "tas", "tdps").foreach { c =>
      assert(r1.isNullAt(r1.fieldIndex(c)), s"$c should be null")
    }
    assert(got.columns.toSet == Set("station", "time", "sfcWind_dir", "sfcWind",
      "ps", "tas", "tdps"))
  }

  test("MARITIME: pre-2007 header lines (YYYY with WD/BAR, 2-digit YY) name the columns") {
    // the same observations in the 1999-2006 layout (un-prefixed header, no minute
    // column) and the pre-1999 one (2-digit year, no TIDE column)
    val ndbc1999 =
      """YYYY MM DD hh WD  WSPD GST  WVHT  DPD   APD  MWD  BAR    ATMP  WTMP  DEWP  VIS  TIDE
        |2014 06 01 00 180  5.5  7.0  2.1  10.0   8.0 200 1013.5  15.0  14.0  12.0 99.0 99.00
        |2014 06 01 01 999 99.0  MM   MM   MM     MM  MM  9999.0 999.0  MM   999.0 99.0 99.00
        |""".stripMargin
    val ndbcYY =
      """YY MM DD hh WD  WSPD GST  WVHT  DPD   APD  MWD  BAR    ATMP  WTMP  DEWP  VIS
        |14 06 01 00 180  5.5  7.0  2.1  10.0   8.0 200 1013.5  15.0  14.0  12.0 99.0
        |14 06 01 01 999 99.0  MM   MM   MM     MM  MM  9999.0 999.0  MM   999.0 99.0
        |""".stripMargin
    val want = readNdbc(ndbc2007).collect().toSeq
    assert(want.length == 2)
    for (body <- Seq(ndbc1999, ndbcYY)) {
      val got = readNdbc(body)
      assert(got.columns.toSeq == readNdbc(ndbc2007).columns.toSeq)
      assert(got.collect().toSeq == want, body.linesIterator.next())
    }
  }

  test("MARITIME: old-format renames (WD/BAR, 2-digit year, missing minute)") {
    import spark.implicits._
    val raw = Seq(("95", "06", "01", "12", "180", "4.0", "1010.0", "14.0", "11.0"))
      .toDF("YY", "MO", "DD", "hh", "WD", "WSPD", "BAR", "ATMP", "DEWP")
    val fixed = NetworkCatalogs.maritimeRenames(raw)
    assert(fixed.columns.contains("WDIR") && fixed.columns.contains("PRES"))
    assert(fixed.columns.contains("YYYY") && fixed.columns.contains("mi"))
    val got = NetworkCatalogs.standardize(fixed, NetworkCatalogs.maritime,
      lit("MARITIME_X"), NetworkCatalogs.maritimeTime(fixed))
    val r = got.head()
    assert(r.getAs[java.sql.Timestamp]("time").toString == "1995-06-01 12:00:00.0")
    assert(approx(r.getAs[Double]("ps"), 101000.0))
  }
}
