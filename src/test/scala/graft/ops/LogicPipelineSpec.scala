package graft.ops

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.pipeline.{DeriveDag, QaqcPipeline}

class LogicPipelineSpec extends SparkSpec {
  import spark.implicits._

  private def ts(h: Int): Timestamp = Timestamp.valueOf(f"2024-01-01 $h%02d:00:00")

  test("flag 10: negative values among valid obs only") {
    val df = Seq((1, -5.0, None: Option[Int]), (2, -5.0, Some(11)), (3, 5.0, None))
      .toDF("id", "pr", "pr_eraqc")
    val got = LogicOps.flagNegative(df, "pr", "pr_eraqc")
      .orderBy("id").select("pr_eraqc").collect()
      .map(r => if (r.isNullAt(0)) None else Some(r.getInt(0)))
    assert(got.toSeq == Seq(Some(10), Some(11), None)) // row 2 keeps its earlier flag
  }

  test("flag 12: supersaturation flags only the dewpoint") {
    val df = Seq((1, 280.0, 285.0), (2, 280.0, 275.0))
      .toDF("id", "tas", "tdps")
      .withColumn("tdps_eraqc", lit(null).cast("int"))
      .withColumn("tas_eraqc", lit(null).cast("int"))
    val got = LogicOps.flagSupersaturation(df, "tdps", "tas", "tdps_eraqc", col("tas_eraqc"))
      .orderBy("id").select("tdps_eraqc").collect()
    assert(got(0).getInt(0) == 12 && got(1).isNullAt(0))
  }

  test("flags 14/15: calm-wind direction rules, including the 360 recode") {
    val df = Seq(
      (1, 0.0, 90.0), // calm but nonzero dir -> 14
      (2, 3.0, 0.0), // moving but dir 0 -> recode 360, flag 15
      (3, 3.0, 90.0)) // fine
      .toDF("id", "sfcWind", "sfcWind_dir")
      .withColumn("sfcWind_dir_eraqc", lit(null).cast("int"))
      .withColumn("sfcWind_eraqc", lit(null).cast("int"))
    val got = LogicOps.flagCalmWindDir(df, "sfcWind", "sfcWind_dir",
        "sfcWind_dir_eraqc", col("sfcWind_eraqc"))
      .orderBy("id").select("sfcWind_dir_eraqc", "sfcWind_dir").collect()
    assert(got(0).getInt(0) == 14)
    assert(got(1).getInt(0) == 15 && got(1).getDouble(1) == 360.0)
    assert(got(2).isNullAt(0))
  }

  test("flags 16/17: accumulation-window consistency") {
    val df = Seq((1, 10.0, 5.0), (2, 1.0, 5.0))
      .toDF("id", "pr_5min", "pr_1h")
      .withColumn("pr_5min_eraqc", lit(null).cast("int"))
      .withColumn("pr_1h_eraqc", lit(null).cast("int"))
    val got = LogicOps.flagAccumWindow(df, "pr_5min", "pr_1h", "pr_5min_eraqc",
        col("pr_5min_eraqc"), col("pr_1h_eraqc"), 16)
      .orderBy("id").select("pr_5min_eraqc").collect()
    assert(got(0).getInt(0) == 16 && got(1).isNullAt(0))
  }

  test("P6/P8 column gates: presence by non-null counts") {
    val df = Seq((1, Some(1.0), None: Option[Double]), (2, Some(2.0), None))
      .toDF("id", "tas", "pr")
    assert(ColumnGates.eligibleVariables(df, Seq("tas", "pr", "absent")) == Seq("tas"))
    val dropped = ColumnGates.dropAllNullColumns(df, Seq("tas", "pr"))
    assert(dropped.columns.toSeq == Seq("id", "tas"))
  }

  test("P7 prune keeps by substring then drops qc-ish") {
    val df = Seq((1, 1.0, "q", 2.0)).toDF("station", "tas", "tas_qc", "elevation")
    val got = ColumnGates.pruneColumns(df, Seq("station", "tas", "elevation"), Seq("_qc"))
    assert(got.columns.toSeq == Seq("station", "tas", "elevation"))
  }

  test("derive DAG: tdps_derived appears with synergistic flag 38") {
    val df = Seq((1, 290.0, 80.0, None: Option[Int]), (2, 290.0, 80.0, Some(11)))
      .toDF("id", "tas", "hurs", "tas_eraqc")
    val got = DeriveDag.deriveMissing(df).orderBy("id")
      .select("tdps_derived", "tdps_derived_eraqc").collect()
    assert(!got(0).isNullAt(0) && got(0).isNullAt(1))
    assert(got(1).getInt(1) == 38)
    // sanity: dewpoint below air temperature at 80% RH
    assert(got(0).getDouble(0) < 290.0 && got(0).getDouble(0) > 270.0)
  }

  test("QAQC pipeline: later stages skip rows flagged by earlier stages") {
    // value 999 is out of bounds -> flag 11; the identical-value run would be a streak,
    // but its members that are already red-flagged must stay 11
    val rows = Seq.tabulate(8)(i => ("s1", ts(i), if (i < 4) 999.0 else 100.0))
    val df = rows.toDF("station", "t", "v").withColumn("v_eraqc", lit(null).cast("int"))
    val out = QaqcPipeline.run(df,
      QaqcPipeline.singleVariable("station", "t", "v", lo = 0, hi = 500,
        streakNValues = 2, streakNDays = 9999, streakMinSeqLen = 2))
    val flags = out.orderBy("t").select("v_eraqc").collect()
      .map(r => if (r.isNullAt(0)) 0 else r.getInt(0)).toSeq
    assert(flags.take(4) == Seq(11, 11, 11, 11)) // world record wins
    assert(flags.drop(4) == Seq(28, 28, 28, 28)) // clean run of 4 -> streak flag
  }

  test("flagCountReport includes no_flag and total rows") {
    val df = Seq((1, Some(11)), (2, None: Option[Int]), (3, None)).toDF("id", "f")
    val got = QaqcPipeline.flagCountReport(df, "f")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got("11") == 1 && got("no_flag") == 2 && got("total_obs_count") == 3)
  }

  test("flagCountReport over empty input is one total row of 0") {
    val df = Seq.empty[(Int, Option[Int])].toDF("id", "f")
    val got = QaqcPipeline.flagCountReport(df, "f")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    assert(got == Seq("total_obs_count" -> 0L))
  }
}
