package graft.pipeline

import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.core.Flags
import graft.kernels.Butterworth

/** The QAQC pass reads its input once: every stage is row-preserving, so the
  * single-variable pipeline plans one station exchange, no join and no pinned
  * intermediate, and returns exactly its input rows. The Butterworth low-pass streams
  * every column through its kernel, so it plans one exchange and no join-back. */
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
}
