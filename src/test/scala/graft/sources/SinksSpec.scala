package graft.sources

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.SparkSpec

class SinksSpec extends SparkSpec {
  import spark.implicits._

  test("S7: partitioned writer round-trips with partition pruning intact") {
    val dir = Files.createTempDirectory("obs").toFile.getAbsolutePath + "/obs"
    val df = Seq(
      ("ASOS", "s1", 1L, 10.0), ("ASOS", "s2", 2L, 11.0),
      ("MADIS", "s3", 1L, 12.0))
      .toDF("network", "station", "time", "tas")
    Sinks.writeObs(df, dir, filesPerPartition = 1)
    val back = spark.read.parquet(dir)
    assert(back.count() == 3)
    // partition pruning: only the ASOS directory is scanned
    val plan = back.filter(col("network") === "ASOS").queryExecution.executedPlan.toString
    assert(!plan.contains("MADIS"))
    assert(back.filter(col("network") === "ASOS").count() == 2)
    // dynamic overwrite replaces only the touched partition
    Sinks.writeObs(Seq(("ASOS", "s9", 3L, 13.0)).toDF("network", "station", "time", "tas"), dir)
    val after = spark.read.parquet(dir)
    assert(after.filter(col("network") === "MADIS").count() == 1) // untouched
    assert(after.filter(col("network") === "ASOS").count() == 1) // replaced
  }

  test("S7+attrs: sidecar round-trips and stays invisible to data readers") {
    import graft.core.AttrsTable
    val dir = Files.createTempDirectory("obsattrs").toFile.getAbsolutePath + "/obs"
    val df = Seq(("ASOS", "s1", 1L, 280.5)).toDF("network", "station", "time", "tas")
    val attrs = AttrsTable.ObsDefaults ++ AttrsTable(
      Map("comment" -> "test product"),
      Map("tas" -> Map("comment" -> "Converted from Celsius.")))
    Sinks.writeObs(df, dir, filesPerPartition = 1, attrs = Some(attrs))
    // data readers never see the sidecar (underscore path is hidden)
    val back = spark.read.parquet(dir)
    assert(back.columns.toSet == Set("network", "station", "time", "tas"))
    assert(back.count() == 1)
    // attrs restore: defaults + overrides both survive
    val at = Sinks.readAttrs(back, dir)
    assert(at.global("comment") == "test product")
    assert(at.forVar("tas")("units") == "degree_Kelvin")
    assert(at.forVar("tas")("comment") == "Converted from Celsius.")
    assert(at.forVar("tas")("ancillary_variables") == "tas_eraqc")
  }

  test("S11+attrs: station CSV export carries the #-comment metadata header") {
    import graft.core.AttrsTable
    import scala.jdk.CollectionConverters._
    val tmp = Files.createTempDirectory("csvattrs").toFile.getAbsolutePath
    val obs = Seq(("s1", 2L, 280.0), ("s1", 1L, 281.0), ("s2", 1L, 282.0))
      .toDF("station", "time", "tas")
    val attrs = AttrsTable(Map("disclaimer" -> "synthetic"),
      Map("tas" -> Map("units" -> "degree_Kelvin")))
    Sinks.exportStationCsv(obs, "s1", s"$tmp/s1", attrs = Some(attrs),
      network = "ASOS")
    val part = new java.io.File(s"$tmp/s1").listFiles()
      .find(_.getName.startsWith("part-")).get
    val lines = Files.readAllLines(part.toPath).asScala
    assert(lines.head == "# STATION: s1")
    assert(lines.contains("# NETWORK: ASOS"))
    assert(lines.contains("# DISCLAIMER: synthetic"))
    assert(lines.contains("# VAR tas.units: degree_Kelvin"))
    // data intact under the header: header row + 2 station rows, time-sorted
    val data = lines.dropWhile(_.startsWith("#"))
    assert(data.head == "station,time,tas")
    assert(data.tail.size == 2 && data.tail.head.split(",")(1) == "1")
    // a comment-aware reader (DuckDB/pandas skip '#') sees exactly the data
    val back = spark.read.option("header", "true").option("comment", "#")
      .csv(s"$tmp/s1")
    assert(back.count() == 2)
  }

  test("S7 bucketed: station-keyed agg and self-join read with ZERO shuffles") {
    val obs = Seq(
      ("s1", 1L, 1.0), ("s1", 2L, 2.0), ("s2", 1L, 3.0), ("s3", 5L, 4.0))
      .toDF("station", "time", "tas")
    Sinks.writeObsBucketed(obs, "obs_bucketed_spec", numBuckets = 4)
    try {
      val t = spark.table("obs_bucketed_spec")
      // groupBy on the bucket column: the scan's HashPartitioning(station)
      // satisfies the aggregate's distribution - no Exchange in the plan
      val agg = t.groupBy("station").agg(avg("tas").as("m"))
      assert(!agg.queryExecution.executedPlan.toString.contains("Exchange"),
        s"unexpected shuffle:\n${agg.queryExecution.executedPlan}")
      assert(agg.count() == 3)
      // equi-join of the table with itself on station: both sides pre-hashed,
      // sort-merge join with no exchange on either side
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val j = t.join(spark.table("obs_bucketed_spec").groupBy("station")
          .agg(max("tas").as("mx")), "station")
        assert(!j.queryExecution.executedPlan.toString.contains("Exchange"),
          s"unexpected shuffle:\n${j.queryExecution.executedPlan}")
        assert(j.count() == 4)
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
    } finally spark.sql("DROP TABLE IF EXISTS obs_bucketed_spec")
  }

  test("S11: per-station CSV export") {
    val tmp = Files.createTempDirectory("csv").toFile.getAbsolutePath
    val obs = Seq(("s1", 2L, 1.0), ("s1", 1L, 2.0), ("s2", 1L, 3.0))
      .toDF("station", "time", "tas")
    Sinks.exportStationCsv(obs, "s1", s"$tmp/s1")
    val back = spark.read.option("header", "true").csv(s"$tmp/s1")
    assert(back.count() == 2) // station filter applied
    assert(back.head().getString(1) == "1") // time-sorted
  }
}
