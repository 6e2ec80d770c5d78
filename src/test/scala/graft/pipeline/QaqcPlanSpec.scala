package graft.pipeline

import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.core.Flags
import graft.kernels.Butterworth

/** The QAQC pass reads its input once: every stage is row-preserving, and the series
  * stages are series scans that share one station exchange and one sort, so the
  * single-variable pipeline plans one exchange, one sort, no window, no join and no
  * pinned intermediate (and no exchange over a table bucketed on the station), and
  * returns exactly its input rows. Interpolation and the Butterworth low-pass share
  * one exchange and one sort the same way. The flag-count report pins nothing: its
  * total reuses the counts' exchange. */
class QaqcPlanSpec extends SparkSpec {
  import spark.implicits._

  private def minute(i: Int): Timestamp =
    new Timestamp(Timestamp.valueOf("2024-01-01 00:00:00").getTime + i * 60000L)

  private def singleVariable(nValues: Long): Seq[QaqcPipeline.Stage] =
    QaqcPipeline.singleVariable("station", "time", "v", lo = 0.0, hi = 5000.0,
      streakNValues = nValues, streakNDays = 9999, streakMinSeqLen = nValues)

  /** Two stations of 80 minutely points: a noisy baseline, a +3000 spike at minute 20
    * and a 6-point straight repeat at minutes 30-35, read back from parquet. */
  private def obs: DataFrame = {
    val rows = for (st <- Seq("s1", "s2"); i <- 0 until 80) yield {
      val v = if (i == 20) 3100.0
        else if (i >= 30 && i < 36) 77.0
        else 100.0 + 20.0 * math.sin(i.toDouble)
      (st, minute(i), v)
    }
    val dir = java.nio.file.Files.createTempDirectory("qaqc-plan").resolve("obs").toString
    rows.toDF("station", "time", "v").write.parquet(dir)
    spark.read.parquet(dir).withColumn("v_eraqc", lit(null).cast("int"))
  }

  private def occurrences(plan: String, s: String): Int = s.r.findAllIn(plan).length

  test("the single-variable pipeline plans one station exchange, no join, no pin") {
    val out = QaqcPipeline.run(obs, singleVariable(5))
    val plan = out.queryExecution.executedPlan.toString
    assert(occurrences(plan, "Exchange hashpartitioning") == 1, s"one station shuffle:\n$plan")
    assert(!plan.contains("Join") && !plan.contains("BroadcastExchange"),
      s"no stage joins its flags back:\n$plan")
    assert(!plan.contains("InMemoryTableScan"), s"no stage pins its input:\n$plan")
    assert(occurrences(plan, "FileScan parquet") == 1, s"the source is read once:\n$plan")
    val flags = out.groupBy("v_eraqc").count().as[(Option[Int], Long)].collect().toMap
    assert(flags(Some(Flags.Spike)) == 2 && flags(Some(Flags.StraightStreak)) == 12, flags)
    assert(flags.values.sum == 160)
  }

  test("pipe1's chain, one stage per run call, plans 1 exchange, 1 sort, 0 windows") {
    // as perfbench and the pipe1 query apply it: each stage through its own run call,
    // then the flag-count report
    val out = singleVariable(5).foldLeft(obs)((d, s) => QaqcPipeline.run(d, Seq(s)))
    val chain = out.queryExecution.executedPlan.toString
    assert(occurrences(chain, "Exchange ") == 1, s"one station exchange:\n$chain")
    assert(occurrences(chain, "\\bSort \\[") == 1, s"one sort:\n$chain")
    assert(occurrences(chain, "SeriesScan") == 2, s"the spike and streak scans:\n$chain")
    assert(!chain.contains("Window") && !chain.contains("Join"), s"no window, no join:\n$chain")
    val report = QaqcPipeline.flagCountReport(out, "v_eraqc")
    report.collect()
    val fin = report.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan.toString
      case p => p.toString
    }
    assert(occurrences(fin, "hashpartitioning\\(station") == 1, s"one station exchange:\n$fin")
    assert(occurrences(fin, "\\bSort \\[") == 1 && !fin.contains("Window"), fin)
  }

  test("over a table bucketed on the station the pass plans no exchange") {
    val buckets = spark.conf.get("spark.sql.shuffle.partitions").toInt + 1
    graft.sources.Sinks.writeObsBucketed(obs.drop("v_eraqc"), "qaqc_bucketed_obs",
      numBuckets = buckets)
    try {
      val in = spark.table("qaqc_bucketed_obs").withColumn("v_eraqc", lit(null).cast("int"))
      val out = QaqcPipeline.run(in, singleVariable(5))
      val plan = out.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"the buckets are the station clustering:\n$plan")
      assert(occurrences(plan, "\\bSort \\[") == 1, s"one sort:\n$plan")
      val flags = out.groupBy("v_eraqc").count().as[(Option[Int], Long)].collect().toMap
      assert(flags(Some(Flags.Spike)) == 2 && flags(Some(Flags.StraightStreak)) == 12, flags)
    } finally spark.sql("DROP TABLE IF EXISTS qaqc_bucketed_obs")
  }

  test("interpolation then low-pass share one exchange and one sort") {
    implicit val s = spark
    val dir = java.nio.file.Files.createTempDirectory("interp-lp").resolve("h").toString
    (for (k <- Seq("a", "b"); i <- 0 until 48)
      yield (k, minute(60 * i), if (i % 5 == 2) None else Some(i.toDouble)))
      .toDF("k", "t", "v").write.parquet(dir)
    val interp = graft.ops.SeriesOps.interpolateLinear(spark.read.parquet(dir), Seq("k"),
        "t", "v", "vi")
      .withColumn("freq_s", lit(3600.0))
    val out = Butterworth.lowPass(interp, Seq("k"), "t", "vi", "freq_s", "lp")
    val plan = out.queryExecution.executedPlan.toString
    assert(occurrences(plan, "Exchange ") == 1, s"one series exchange:\n$plan")
    assert(occurrences(plan, "\\bSort \\[") == 1, s"one sort:\n$plan")
    assert(!plan.contains("Window") && !plan.contains("Join"), plan)
    assert(out.filter(col("lp").isNotNull).count() == 96)
  }

  test("a duplicated (station, time) in a streak does not multiply rows") {
    // 15 equal hourly values with hour 7 recorded twice: one 16-row streak
    val rows = (0 until 15).map(i => ("s1", minute(60 * i), 5.0)) :+ (("s1", minute(420), 5.0))
    val in = rows.toDF("station", "time", "v").withColumn("v_eraqc", lit(null).cast("int"))
    val out = QaqcPipeline.run(in, singleVariable(5))
    assert(out.count() == 16)
    assert(out.filter(col("v_eraqc") === Flags.StraightStreak).count() == 16)
  }

  test("Butterworth.lowPass plans one exchange and no join") {
    implicit val s = spark
    val df = Seq(("a", 0L, 1.0), ("a", 3600L, 2.0), ("b", 0L, 3.0)).toDF("k", "ts", "v")
      .withColumn("t", col("ts").cast("timestamp"))
      .withColumn("freq_s", lit(3600.0))
    val out = Butterworth.lowPass(df, Seq("k"), "t", "v", "freq_s", "lp")
    val plan = out.queryExecution.executedPlan.toString
    assert(occurrences(plan, "Exchange ") == 1, s"one series shuffle:\n$plan")
    assert(!plan.contains("Join"), s"the kernel output is not joined back:\n$plan")
    assert(out.columns.toSeq == Seq("k", "ts", "v", "t", "freq_s", "lp"))
    assert(out.count() == 3)
  }

  test("Butterworth.lowPass reuses the output on a repeated time and skips null frequencies") {
    implicit val s = spark
    val c = Butterworth.coeffs(Butterworth.OneMonthCutoffHz, 1.0 / 3600.0)
    val df = Seq[(Long, Double, Option[Double])](
        (0L, 1.0, Some(3600.0)), (3600L, 2.0, None), (3600L, 2.0, Some(3600.0)),
        (3600L, 2.0, Some(3600.0)), (7200L, 3.0, Some(3600.0)))
      .toDF("ts", "v", "freq_s")
      .withColumn("k", lit("a"))
      .withColumn("t", col("ts").cast("timestamp"))
    val got = Butterworth.lowPass(df, Seq("k"), "t", "v", "freq_s", "lp")
      .select("ts", "freq_s", "lp").as[(Long, Option[Double], Option[Double])].collect()
    val y0 = c.b0 * 1.0
    val y1 = c.b0 * 2.0 + c.b1 * 1.0 - c.a1 * y0
    // the state advanced once at 3600 s: the repeat and the null frequency did not
    val y2 = c.b0 * 3.0 + c.b1 * 2.0 - c.a1 * y1
    assert(got.filter(_._2.isEmpty).map(_._3).toSeq == Seq(None))
    assert(got.filter(_._2.nonEmpty).map(r => r._1 -> r._3).sortBy(_._1).toSeq ==
      Seq(0L -> Some(y0), 3600L -> Some(y1), 3600L -> Some(y1), 7200L -> Some(y2)))
  }

  test("flagCountReport reads its counts twice through one reused flag exchange") {
    val df = spark.range(0, 2000, 1, 4)
      .select(when(col("id") % 5 === 0, lit(Flags.WorldRecord)).as("v_eraqc"))
    val report = QaqcPipeline.flagCountReport(df, "v_eraqc")
    val rows = report.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows == Map("no_flag" -> 1600L, Flags.WorldRecord.toString -> 400L,
      "total_obs_count" -> 2000L), rows)
    val plan = report.queryExecution.executedPlan.toString
    assert(!plan.contains("InMemoryTableScan"), s"nothing is pinned:\n$plan")
    assert("ReusedExchange[^\n]*hashpartitioning\\(flag".r.findFirstIn(plan).nonEmpty,
      s"the total reuses the counts' flag exchange:\n$plan")
  }
}
