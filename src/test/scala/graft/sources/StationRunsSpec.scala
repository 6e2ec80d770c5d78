package graft.sources

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.SparkException
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._

import graft.{SparkEntry, SparkSpec}
import graft.core.AttrsTable
import graft.pipeline.QaqcPipeline

/** The station-container chassis is visible to the planner. Its scan is
  * key-grouped on `station`, so the s26/s27 read-back aggregates and a
  * `groupBy(station)` over 1,100 containers plan no exchange; its sink asks for its
  * input clustered and sorted by station, so a QAQC'd frame is written with the
  * chain's one exchange and one sort, and over a table bucketed on the station
  * with no exchange. A container that fails on an executor names its path. */
class StationRunsSpec extends SparkSpec {
  import spark.implicits._

  /** The final plan of `df` after running it. */
  private def finalPlan(df: DataFrame): SparkPlan = {
    df.collect()
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
  }

  private def exchanges(p: SparkPlan): Int = p.collect { case e: Exchange => e }.size

  private def occurrences(plan: String, s: String): Int = s.r.findAllIn(plan).length

  test("the s26 and s27 read-back aggregates plan no exchange") {
    for (q <- Seq("s26_zarr_publish", "s27_nc_publish")) {
      val plan = finalPlan(SparkEntry.queries(q)(spark, "/root/testdata/sf0.001"))
      assert(exchanges(plan) == 0, s"$q:\n$plan")
      assert(plan.toString.contains("StationScan"), s"$q:\n$plan")
    }
  }

  private def minute(i: Int): Timestamp =
    new Timestamp(Timestamp.valueOf("2024-01-01 00:00:00").getTime + i * 60000L)

  /** Two stations of 80 minutely points with a spike and a straight repeat,
    * read back from parquet. */
  private def obs: DataFrame = {
    val rows = for (st <- Seq("s1", "s2"); i <- 0 until 80) yield {
      val v = if (i == 20) 3100.0 else if (i >= 30 && i < 36) 77.0
        else 100.0 + 20.0 * math.sin(i.toDouble)
      (st, minute(i), v)
    }
    val dir = Files.createTempDirectory("station-sink").resolve("obs").toString
    rows.toDF("station", "time", "v").write.parquet(dir)
    spark.read.parquet(dir).withColumn("v_eraqc", lit(null).cast("int"))
  }

  private def qaqc(in: DataFrame): DataFrame =
    QaqcPipeline.singleVariable("station", "time", "v", lo = 0.0, hi = 5000.0,
      streakNValues = 5, streakNDays = 9999, streakMinSeqLen = 5)
      .foldLeft(in)((d, s) => QaqcPipeline.run(d, Seq(s)))

  test("a pipe1-shaped QAQC chain written through ZarrSink plans one exchange and one sort") {
    val dir = Files.createTempDirectory("station-sink-qaqc").toString
    val ledger = ZarrSink.writeZarrStores(qaqc(obs), dir, chunkRows = 32)
    val plan = finalPlan(ledger).toString
    assert(occurrences(plan, "Exchange ") == 1, s"one station exchange:\n$plan")
    assert(occurrences(plan, "\\bSort \\[") == 1, s"one sort:\n$plan")
    assert(plan.contains("StationSink"), plan)
    assert(ledger.orderBy("station").as[(String, String, Long, Long, Long)].collect()
      .map(r => (r._1, r._3, r._4)).toSeq == Seq(("s1", 80L, 3L), ("s2", 80L, 3L)))
    val back = ZarrSource.readStores(spark, Seq(s"$dir/s1.zarr", s"$dir/s2.zarr"))
    assert(back.where(col("v_eraqc").isNotNull).count() == 14)
    assert(back.count() == 160)
  }

  test("over a table bucketed on the station the chain is written with no exchange") {
    // a bucket count other than the shuffle partitions: a repartition on the station
    // would not match it, the sink's clustered distribution does
    val buckets = spark.conf.get("spark.sql.shuffle.partitions").toInt + 1
    Sinks.writeObsBucketed(obs.drop("v_eraqc"), "station_sink_bucketed", numBuckets = buckets)
    try {
      val in = spark.table("station_sink_bucketed").withColumn("v_eraqc", lit(null).cast("int"))
      val dir = Files.createTempDirectory("station-sink-bucketed").toString
      val ledger = NcSink.writeNcFiles(qaqc(in), dir)
      val plan = finalPlan(ledger).toString
      assert(!plan.contains("Exchange") && occurrences(plan, "\\bSort \\[") == 1, plan)
      assert(ledger.agg(sum("rows")).as[Long].head() == 160)
    } finally spark.sql("DROP TABLE IF EXISTS station_sink_bucketed")
  }

  test("raw input is shuffled and sorted once on its way into the sink") {
    val dir = Files.createTempDirectory("station-sink-raw").toString
    val plan = finalPlan(NcSink.writeNcFiles(obs, dir)).toString
    assert(occurrences(plan, "Exchange ") == 1 && occurrences(plan, "\\bSort \\[") == 1, plan)
    // a station that is not a string, or a column no encoder takes, is refused when
    // the write is defined
    intercept[IllegalArgumentException](
      NcSink.writeNcFiles(obs.withColumn("station", lit(7)), dir))
    intercept[IllegalArgumentException](
      ZarrSink.writeZarrStores(obs.withColumn("ok", lit(true)), dir))
  }

  test("1,100 one-row NetCDF files read back as 1,100 stations, grouped with no exchange") {
    val t0 = System.nanoTime()
    val n = 1100
    val dir = Files.createTempDirectory("station-scan-1100").toString
    val df = spark.range(n).selectExpr(
      "concat('ST', lpad(cast(id as string), 4, '0')) as station",
      "timestamp_seconds(1609459200 + id * 60) as time",
      "cast(id as double) / 8 as v")
    val paths = NcSink.writeNcFiles(df, dir).select("path").as[String].collect().toSeq
    assert(paths.size == n)
    val back = NcSource.readFiles(spark, paths)
    val grouped = back.groupBy("station").agg(count(lit(1)).as("n"), sum("v").as("v"))
    val plan = finalPlan(grouped)
    assert(exchanges(plan) == 0, plan)
    assert(grouped.count() == n && grouped.where(col("n") =!= 1).isEmpty)
    assert(grouped.agg(sum("v")).as[Double].head() == (0 until n).map(_ / 8.0).sum)
    info(f"1,100 containers written and read back in ${(System.nanoTime() - t0) / 1e9}%.1f s")
  }

  /** Writes `station`'s one-row `.nc` file under `dir` and returns its path. */
  private def ncFile(dir: String, station: String): String = {
    val df = Seq((station, minute(0), 1.5)).toDF("station", "time", "v")
    NcSink.writeNcFiles(df, dir).select("path").as[String].head()
  }

  private def messages(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" / ")

  test("a container that fails to decode on an executor is an error that names its path") {
    val dir = Files.createTempDirectory("station-scan-bad").toString
    val good = ncFile(dir, "GOOD")
    val bad = s"$dir/BAD.nc"
    Files.write(java.nio.file.Paths.get(bad), "not a netCDF file".getBytes("UTF-8"))
    val e = intercept[SparkException](NcSource.readFiles(spark, Seq(good, bad)).collect())
    assert(messages(e).contains(bad), messages(e))
  }

  test("a later zarr container whose column has another type fails, naming path and column") {
    val dir = Files.createTempDirectory("station-scan-types")
    def store(station: String, tas: StationColumn): String = {
      val root = dir.resolve(s"$station.zarr")
      ZarrSink.encodeStore(StationData(station, Array(0L, 60000000L), Seq(tas),
          AttrsTable(Map.empty, Map.empty)), chunkRows = 2, zlibLevel = 1).foreach {
        case (rel, bytes) =>
          Files.createDirectories(root.resolve(rel).getParent)
          Files.write(root.resolve(rel), bytes)
      }
      root.toString
    }
    val first = store("AAA", StationColumn.Doubles("tas", Array(1.5, 2.5), Array(false, false)))
    val longs = store("BBB", StationColumn.Longs("tas", Array(1L, 2L), Array(false, false)))
    // the type is checked per column, so an all-null column of another type fails too
    val nulls = store("CCC", StationColumn.Longs("tas", Array(0L, 0L), Array(true, true)))
    for (bad <- Seq(longs, nulls)) {
      val e = intercept[SparkException](ZarrSource.readStores(spark, Seq(first, bad)).collect())
      assert(messages(e).contains(bad) && messages(e).contains("column tas"), messages(e))
    }
  }

  test("a keyed read refuses a later container holding another station, naming it") {
    val dir = Files.createTempDirectory("station-scan-renamed").toString
    val good = ncFile(dir, "AAA")
    val other = ncFile(dir, "BBB")
    val renamed = s"$dir/CCC.nc"
    Files.copy(java.nio.file.Paths.get(other), java.nio.file.Paths.get(renamed))
    val e = intercept[SparkException](NcSource.readFiles(spark, Seq(good, renamed)).collect())
    assert(messages(e).contains(renamed) && messages(e).contains("BBB"), messages(e))
    // renamed first: no key is claimed, and every container reads as it is
    val back = NcSource.readFiles(spark, Seq(renamed, good)).select("station").as[String]
    assert(back.collect().sorted.toSeq == Seq("AAA", "BBB"))
  }
}
