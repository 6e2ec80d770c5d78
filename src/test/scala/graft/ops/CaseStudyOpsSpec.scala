package graft.ops

import java.sql.Timestamp

import graft.SparkSpec

/** Case-study evaluation helpers (`notebooks/case_study_eval_utils.py`). */
class CaseStudyOpsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("eventWindow: named events and the alternative path") {
    assert(CaseStudyOps.eventWindow("mudslide") == (("2018-01-05", "2018-01-09")))
    assert(CaseStudyOps.eventWindow("alternative", Some("2020-01-01"),
      Some("2020-01-02")) == (("2020-01-01", "2020-01-02")))
    intercept[IllegalArgumentException](CaseStudyOps.eventWindow("nope"))
  }

  test("eventSubset: buffered midnight bounds, inclusive on both ends") {
    val df = Seq(
      ("a", ts("2018-01-02 00:00:00")), // exactly start - 3d -> kept
      ("b", ts("2018-01-01 23:59:59")), // one second early -> dropped
      ("c", ts("2018-01-07 12:00:00")), // inside -> kept
      ("d", ts("2018-01-12 00:00:00")), // exactly end + 3d midnight -> kept
      ("e", ts("2018-01-12 00:00:01"))  // past -> dropped
    ).toDF("id", "time")
    val kept = CaseStudyOps.eventSubset(df, "time", "mudslide", bufferDays = 3)
      .select("id").as[String].collect().sorted
    assert(kept.toSeq == Seq("a", "c", "d"))
  }

  test("flagsDuringEvent and idAllFlags: distinct values incl the null row") {
    val df = Seq((Some(25), Some(31)), (Some(25), None), (None, Some(31)))
      .toDF("tas_eraqc", "pr_eraqc")
    val tas = CaseStudyOps.flagsDuringEvent(df, "tas")
      .as[Option[Int]].collect().toSet
    assert(tas == Set(Some(25), None))
    val all = CaseStudyOps.idAllFlags(df)
      .as[(String, Option[String])].collect().toSet
    assert(all == Set(("tas_eraqc", Some("25")), ("tas_eraqc", None),
      ("pr_eraqc", Some("31")), ("pr_eraqc", None)))
    intercept[IllegalArgumentException](
      CaseStudyOps.idAllFlags(Seq(1).toDF("tas")))
  }

  test("findOtherEvents: record must cover the buffered window") {
    val stns = Seq(
      ("covers", ts("2016-12-01 00:00:00"), ts("2017-03-01 00:00:00")),
      ("starts_late", ts("2017-01-10 00:00:00"), ts("2017-03-01 00:00:00")),
      ("ends_early", ts("2016-12-01 00:00:00"), ts("2017-01-25 00:00:00")))
      .toDF("era_id", "start_date", "end_date")
    val r = CaseStudyOps.findOtherEvents(stns, "2017-01-16", "2017-01-20")
      .select("era_id").as[String].collect()
    assert(r.toSeq == Seq("covers"))
  }

  test("subsetEvalStns: event membership, notes exclusion, county PiP, md5 cap") {
    val stns = Seq(
      ("s1", 33.0, -122.0, "all", null),
      ("s2", 33.0, -122.0, "santa_ana_wind", null),
      ("s3", 33.0, -122.0, "AR", null), // wrong event
      ("s4", 33.0, -122.0, "all", "manual check on end date"), // excluded
      ("s5", 39.5, -120.0, "all", null) // NV side of the diagonal
    ).toDF("era_id", "latitude", "longitude", "event_type", "notes")
    val counties = Seq(
      "CA" -> Seq((-125.0, 31.9), (-118.9, 31.9), (-125.0, 40.1)),
      "NV" -> Seq((-118.9, 31.9), (-125.0, 40.1), (-118.9, 40.1)))
    val r = CaseStudyOps.subsetEvalStns(stns, "santa_ana_wind", counties, Seq("CA"))
      .select("era_id").as[String].collect().sorted
    assert(r.toSeq == Seq("s1", "s2"))
    // empty targetCounties = no spatial restriction (documented intent)
    val all = CaseStudyOps.subsetEvalStns(stns, "santa_ana_wind", counties, Nil)
      .select("era_id").as[String].collect().sorted
    assert(all.toSeq == Seq("s1", "s2", "s5"))
    // deterministic md5 cap
    val one = CaseStudyOps.subsetEvalStns(stns, "santa_ana_wind", counties, Nil,
      subsetN = Some(2))
    assert(one.count() == 2L)
    assert(one.columns.toSeq == stns.columns.toSeq)
    // specific-station path skips the spatial restriction, like the reference
    val sp = CaseStudyOps.subsetEvalStns(stns, "santa_ana_wind", counties,
      Seq("CA"), specificStation = Some("s5"))
    assert(sp.select("era_id").as[String].collect().toSeq == Seq("s5"))
  }

  test("stationConfidence: qc_percent ranks stations by flagged fraction") {
    import graft.pipeline.QaqcPipeline
    val obs = Seq(
      ("s1", Some(25), None), ("s1", None, None),       // 1 of 4 slots flagged
      ("s2", Some(25), Some(31)), ("s2", Some(10), None) // 3 of 4 slots flagged
    ).toDF("station", "tas_eraqc", "pr_eraqc")
    val counts = QaqcPipeline.flagCountReportByStation(
      obs, "station", Seq("tas_eraqc", "pr_eraqc"))
    // long-format counts: per (variable) no_flag + flag + total rows
    val s1tas = counts.filter($"station" === "s1" && $"variable" === "tas_eraqc")
      .select("flag", "cnt").as[(String, Long)].collect().toMap
    assert(s1tas == Map("25" -> 1L, "no_flag" -> 1L, "total_obs_count" -> 2L))
    val conf = QaqcPipeline.stationConfidence(counts)
      .select("station", "no_flag", "total_obs_count", "qc_percent")
      .as[(String, Long, Long, Double)].collect()
    // ordered worst-first: s2 (0.75) before s1 (0.25)
    assert(conf.toSeq == Seq(("s2", 1L, 4L, 0.75), ("s1", 3L, 4L, 0.25)))
    // per-variable rate table off the same counts
    val rates = QaqcPipeline.flagRateTable(counts)
      .select("station", "variable", "total_flag", "total_obs_count", "flag_rate")
      .as[(String, String, Long, Long, Double)].collect().toSet
    assert(rates == Set(
      ("s1", "tas_eraqc", 1L, 2L, 0.5), ("s1", "pr_eraqc", 0L, 2L, 0.0),
      ("s2", "tas_eraqc", 2L, 2L, 1.0), ("s2", "pr_eraqc", 1L, 2L, 0.5)))
  }

  test("stationsWithFlags: window filter, stacked columns, distinct flag sets") {
    val obs = Seq(
      ("s1", ts("2018-01-06 00:00:00"), Some(25), Some(31)),
      ("s1", ts("2018-01-07 00:00:00"), Some(25), None),
      ("s2", ts("2018-01-06 00:00:00"), None, None),          // no flags
      ("s3", ts("2018-02-01 00:00:00"), Some(10), None)       // outside window
    ).toDF("station", "time", "tas_eraqc", "pr_eraqc")
    val r = CaseStudyOps.stationsWithFlags(obs, "station",
        Seq("tas_eraqc", "pr_eraqc"), "time", "2018-01-05", "2018-01-09")
      .as[(String, Seq[String])].collect()
    assert(r.toSeq == Seq(("s1", Seq("25", "31"))))
  }

  test("sumFlagCounts: .0-strip, meanings outer join, fillna-0 parity") {
    import graft.pipeline.QaqcPipeline
    val counts = Seq(
      ("s1", "tas_eraqc", "25.0", 3L), ("s2", "tas_eraqc", "25", 2L),
      ("s1", "tas_eraqc", "no_flag", 7L),
      ("s1", "tas_eraqc", "total_obs_count", 10L))
      .toDF("station", "variable", "flag", "cnt")
    val meanings = Seq((25, "unusual_large"), (99, "never_fires"))
      .toDF("flag_value", "qaqc_function")
    val r = QaqcPipeline.sumFlagCounts(counts, meanings)
      .as[(String, Long, String)].collect()
    // numeric flags ascending first, string rows after; "25.0" merged into "25"
    assert(r.toSeq == Seq(
      ("25", 5L, "unusual_large"), ("99", 0L, "never_fires"),
      ("no_flag", 7L, "0"), ("total_obs_count", 10L, "0")))
  }
}
