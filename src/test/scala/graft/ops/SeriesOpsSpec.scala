package graft.ops

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import graft.SparkSpec

class SeriesOpsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(h: Int, m: Int = 0): Timestamp =
    Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
  private def tsD(d: Int, h: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-$d%02d $h%02d:00:00")

  test("W15 hourlyFirst takes the first NON-null value per column") {
    val df = Seq(
      ("a", ts(0, 0), None: Option[Double], Some(10.0)),
      ("a", ts(0, 10), Some(1.5), Some(20.0)),
      ("a", ts(0, 20), Some(2.5), None: Option[Double]),
      ("a", ts(1, 0), None: Option[Double], None: Option[Double]))
      .toDF("k", "t", "x", "y")
    val got = SeriesOps.hourlyFirst(df, Seq("k"), "t", Seq("x", "y"), lit(0))
      .orderBy("hour_ts")
      .select("x", "y").collect()
    // hour 0: first non-null x is 1.5 (row 2), first non-null y is 10.0 (row 1)
    assert(got(0).getDouble(0) == 1.5 && got(0).getDouble(1) == 10.0)
    // hour 1: all null -> stays null
    assert(got(1).isNullAt(0) && got(1).isNullAt(1))
  }

  test("W12 interpolation: interior linear, leading null stays, trailing fills") {
    val df = Seq(
      ("a", ts(0), None: Option[Double]),
      ("a", ts(1), Some(10.0)),
      ("a", ts(2), None: Option[Double]),
      ("a", ts(3), None: Option[Double]),
      ("a", ts(4), Some(40.0)),
      ("a", ts(5), None: Option[Double]))
      .toDF("k", "t", "v")
    val got = SeriesOps.interpolateLinear(df, Seq("k"), "t", "v", "vi")
      .orderBy("t").select("vi").collect()
      .map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    assert(got(0).isEmpty) // leading null unfilled (pandas behavior)
    assert(got(1).contains(10.0))
    assert(got(2).contains(20.0) && got(3).contains(30.0)) // interior linear
    assert(got(4).contains(40.0))
    assert(got(5).contains(40.0)) // trailing forward-fill
  }

  test("W9 deaccumulate inverts cumulative sum away from resets") {
    val incs = Seq(5.0, 3.0, 7.0, 2.0, 4.0, 6.0)
    val accum = incs.scanLeft(0.0)(_ + _).tail // 5,8,15,17,21,27
    val df = accum.zipWithIndex.map { case (v, i) => ("a", ts(i), v) }.toDF("k", "t", "v")
    val got = SeriesOps.deaccumulate(df, Seq("k"), "t", "v", ringingThreshold = Some(1e9))
      .orderBy("t").select("deacc").as[Double].collect().toSeq
    // first diff is 0 by the reference's fillna(0); the rest reconstruct increments
    assert(got == 0.0 +: incs.tail)
  }

  test("W9 deaccumulate zeroes resets without flagging them") {
    val df = Seq(
      ("a", ts(0), 100.0), ("a", ts(1), 160.0), ("a", ts(2), 0.0), // reset: -160
      ("a", ts(3), 30.0))
      .toDF("k", "t", "v")
    val got = SeriesOps.deaccumulate(df, Seq("k"), "t", "v", resetThreshold = 50.0,
        ringingThreshold = Some(1e9))
      .orderBy("t").select("deacc", "deacc_flagged").collect()
    assert(got(2).getDouble(0) == 0.0 && !got(2).getBoolean(1)) // reset -> 0, unflagged
    assert(got(3).getDouble(0) == 30.0)
  }

  test("W8 ringing needs both oscillation and magnitude") {
    // diffs: +20, -20, +20, -20 ... oscillating with |d| large vs median
    val vals = Seq(0.0, 20.0, 0.0, 20.0, 0.0, 20.0, 0.0)
    val df = vals.zipWithIndex.map { case (v, i) => ("a", ts(i), v) }.toDF("k", "t", "v")
    val d = SeriesOps.withDiffs(df, Seq("k"), "t", "v")
    val flagged = SeriesOps.withRinging(d, Seq("k"), "t", "diff", threshold = Some(10.0))
      .filter(col("ringing")).count()
    assert(flagged > 0)
    // same oscillation but below the magnitude threshold -> nothing flagged
    val small = SeriesOps.withRinging(d, Seq("k"), "t", "diff", threshold = Some(100.0))
      .filter(col("ringing")).count()
    assert(small == 0)
  }

  test("W18 gap infill marks generated hours") {
    val hourly = Seq(("a", ts(0), 1.0), ("a", ts(3), 2.0)).toDF("k", "hour_ts", "v")
    val got = SeriesOps.gapInfill(hourly, Seq("k"), "hour_ts")
    assert(got.count() == 4)
    assert(got.filter(col("standardized_infill") === "y").count() == 2)
    // structural pin: the single-pass shape has no join and exactly one window —
    // the upstream plan is consumed once (the r9 rewrite's whole point)
    val plan = got.queryExecution.optimizedPlan.toString
    assert(!plan.contains("Join"), plan)
    assert(plan.split("Window").length == 2, plan)
  }

  test("W20 season key: December belongs to next winter") {
    val df = Seq(Timestamp.valueOf("2023-12-15 00:00:00"),
      Timestamp.valueOf("2024-01-15 00:00:00")).toDF("t")
    val got = df.select(SeriesOps.season($"t").as("s"), SeriesOps.seasonYear($"t").as("y"))
      .as[(String, Int)].collect().toSeq
    assert(got == Seq(("DJF", 2024), ("DJF", 2024)))
  }

  test("W7 constant-ahead range window") {
    val df = Seq(
      ("a", tsD(1, 0), 0.0), ("a", tsD(1, 1), 0.0), ("a", tsD(1, 2), 0.0),
      ("a", tsD(1, 3), 5.0))
      .toDF("k", "t", "dd")
    val got = SeriesOps.constantAheadFlag(df, Seq("k"), "t", "dd", 7200L, "f")
      .orderBy("t").select("f").as[Boolean].collect().toSeq
    // rows 0: window covers hours 0-2 (all 0) -> true; row 1: covers 1-3 (has 5) -> false
    assert(got == Seq(true, false, false, false))
  }

  test("sessionize: gaps above the threshold open new per-key sessions") {
    val df = Seq(
      ("a", ts(0, 0), 1.0), ("a", ts(0, 10), 1.0), ("a", ts(0, 25), 1.0),
      ("a", ts(2, 0), 1.0), ("a", ts(2, 20), 1.0),
      ("b", ts(0, 0), 1.0), ("b", ts(9, 0), 1.0))
      .toDF("k", "t", "v")
    val got = SeriesOps.sessionize(df, Seq("k"), "t", gapSeconds = 30 * 60)
      .select(col("k"), col("t"), col("session_id"))
      .as[(String, Timestamp, Long)].collect()
      .map { case (k, t, s) => (k, t.getTime / 1000 / 60 % (24 * 60) / 60.0, s) }.sorted
    assert(got.map { case (k, _, s) => (k, s) }.toSeq ==
      Seq(("a", 1L), ("a", 1L), ("a", 1L), ("a", 2L), ("a", 2L), ("b", 1L), ("b", 2L)))
  }
}
