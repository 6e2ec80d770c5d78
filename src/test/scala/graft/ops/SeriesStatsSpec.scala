package graft.ops

import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** The per-group statistics of the spike, straight-streak and standardized-anomaly
  * operators (monthly spike IQR, streak run lengths, winsorized climatology) are
  * computed where the series already is — inside the spike and streak series-scan
  * kernels, as window aggregates for the anomaly: each operator's plan has one hash
  * exchange and no join. The caller-facing
  * contract is pinned alongside: output columns in order with their types, and the
  * null-key rule (spikes and anomaly drop null-key rows; straight repeats return
  * them unflagged). */
class SeriesStatsSpec extends SparkSpec {
  import spark.implicits._

  private def hr(h: Int): Timestamp =
    new Timestamp(Timestamp.valueOf("2024-01-01 00:00:00").getTime + h * 3600000L)

  /** 40 hourly points of a period-3 pattern (diff IQR 3, so crit = 18) with one
    * +100 spike at hour 20: a 1-point spike on exactly that row. */
  private def spikeSeries(k: Option[String]): Seq[(Timestamp, Option[String], Double)] =
    (0 until 40).map(i => (hr(i), k, (i % 3).toDouble + (if (i == 20) 100.0 else 0.0)))

  private def spikes: DataFrame =
    SpikeOps.detectSpikes(
      (spikeSeries(Some("a")) ++ spikeSeries(None)).toDF("t", "k", "v"),
      Seq("k"), "t", "v", minDatapoints = 10)

  /** Values 1..20 per group: p05/p95 = 1.95/19.05, clipped mean 10.5, IQR 9.5. */
  private def anomalies: DataFrame =
    AggOps.standardizedAnomaly(
      Seq(Some("a"), Some("b"), None)
        .flatMap(g => (1 to 20).map(i => (i.toDouble, g, hr(i))))
        .toDF("v", "g", "t"),
      Seq("g"), "v", "std")

  /** 15 equal hourly values per key: a run longer than nValues = 12. */
  private def repeats: DataFrame =
    StreakOps.straightRepeats(
      Seq(Some("a"), None).flatMap(k => (0 until 15).map(i => (hr(i), k, 5.0)))
        .toDF("t", "k", "v"),
      Seq("k"), "t", "v", nValues = 12, nDays = 100)

  private def shape(df: DataFrame): Seq[String] =
    df.schema.fields.toSeq.map(f => s"${f.name}:${f.dataType.simpleString}:${f.nullable}")

  private def assertOneShuffle(df: DataFrame): Unit = {
    val plan = df.queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(plan).length == 1,
      s"expected one series shuffle:\n$plan")
    assert(!plan.contains("BroadcastExchange") && !plan.contains("Join"),
      s"per-group statistics must not be joined back:\n$plan")
  }

  test("detectSpikes drops null-key rows and keeps its output columns") {
    val out = spikes
    assert(out.filter(col("k").isNull).count() == 0)
    assert(out.count() == 39) // the first row of the series has no time step
    assert(out.filter(col("spike")).select("t").as[Timestamp].collect().toSeq == Seq(hr(20)))
    assert(shape(out) == Seq("k:string:true", "t:timestamp:true", "v:double:false",
      "_d:double:false", "_dt_h:double:false", "_crit:double:true", "spike:boolean:false"))
  }

  test("standardizedAnomaly drops null-key rows and keeps its output columns") {
    val out = anomalies
    assert(out.filter(col("g").isNull).count() == 0)
    assert(out.count() == 40)
    val top = out.filter(col("v") === 20.0).select("std").as[Double].collect().toSeq
    assert(top.size == 2 && top.forall(approx(_, 1.0)))
    assert(shape(out) == Seq("g:string:true", "v:double:false", "t:timestamp:true",
      "std:double:true"))
  }

  test("straightRepeats returns a null-key row in a long run unflagged") {
    val out = repeats
    val byKey = out.select("k", "straight_streak").as[(Option[String], Boolean)]
      .collect().groupBy(_._1).map { case (k, rows) => k -> rows.map(_._2).toSeq }
    assert(byKey(None) == Seq.fill(15)(false))
    assert(byKey(Some("a")) == Seq.fill(15)(true))
    assert(shape(out) == Seq("k:string:true", "t:timestamp:true", "v:double:false",
      "straight_streak:boolean:false"))
  }

  test("detectSpikes skips a candidate at position 2 and in the last four positions") {
    // the series kept by the time-step filter starts at hour 1, so position 2 is hour 2
    // and the last four positions are hours 36-39 (`potential_spike_check`,
    // qaqc_unusual_large_jumps.py:171-173); hour 3 is a control the guard lets through
    def flagged(at: Int*): Seq[Timestamp] =
      SpikeOps.detectSpikes((0 until 40).map(i =>
          (hr(i), "a", (i % 3).toDouble + (if (at.contains(i)) 100.0 else 0.0)))
          .toDF("t", "k", "v"), Seq("k"), "t", "v", minDatapoints = 10)
        .filter(col("spike")).select("t").as[Timestamp].collect().toSeq
    assert(flagged(2, 36) == Nil)
    assert(flagged(3) == Seq(hr(3)))
  }

  test("detectSpikes plans one series shuffle and no join") {
    assertOneShuffle(spikes)
  }

  test("standardizedAnomaly plans one group shuffle and no join") {
    assertOneShuffle(anomalies)
  }

  test("straightRepeats plans one series shuffle and no join") {
    assertOneShuffle(repeats)
  }
}
