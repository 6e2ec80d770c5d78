package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** W14 / A9 / A12 — monthly-distribution gap checks and their bypass gates
  * (`/root/reference/scripts/3_qaqc_data/qaqc_unusual_gaps.py`,
  * `qaqc_utils.py:203-323`, `qaqc_climatological_outlier.py:463-588`).
  */
object GapOps {

  /** W14 — monthly-median IQR-bound flag, flag 21 (`qaqc_dist_gap_part1`,
    * `qaqc_unusual_gaps.py:113-212`): per (series, calendar month-of-year), the
    * climatological median and IQR over ALL years' values of that month give bounds
    * med ± `iqrThresh`×IQR; any (year, month) whose own median escapes them has its
    * whole month flagged.
    *
    * Note: the reference computes the bounds and per-year medians over the whole record
    * because of an apparent `df` / `monthly_df` mix-up at `qaqc_unusual_gaps.py:160`;
    * we implement the documented per-month intent (HadISD-style), which its own
    * docstring and plots describe.
    *
    * Returns rows with `out` = true where the row's (month, year) is flagged. */
  def monthlyMedianGapFlag(df: DataFrame, keys: Seq[String], timeCol: String,
                           valueCol: String, iqrThresh: Double = 5.0,
                           out: String = "month_gap"): DataFrame = {
    val kc = keys.map(col)
    val v = col(valueCol)
    val withParts = df
      .withColumn("_m", month(col(timeCol)))
      .withColumn("_y", year(col(timeCol)))
    val mkeys = kc :+ col("_m")
    val bounds = withParts.filter(v.isNotNull).groupBy(mkeys: _*).agg(
      expr(s"percentile($valueCol, 0.5)").as("_med"),
      (expr(s"percentile($valueCol, 0.75) - percentile($valueCol, 0.25)")).as("_iqr"))
    val ymKeys = kc ++ Seq(col("_m"), col("_y"))
    val yearMed = withParts.filter(v.isNotNull).groupBy(ymKeys: _*)
      .agg(expr(s"percentile($valueCol, 0.5)").as("_ymed"))
    val flaggedYm = yearMed.join(bounds, keys :+ "_m")
      .filter(col("_ymed") < col("_med") - lit(iqrThresh) * col("_iqr") ||
        col("_ymed") > col("_med") + lit(iqrThresh) * col("_iqr"))
      .select((ymKeys :+ lit(true).as("_bad")): _*)
    withParts.join(flaggedYm, keys ++ Seq("_m", "_y"), "left")
      .withColumn(out, coalesce(col("_bad"), lit(false)))
      .drop("_bad", "_m", "_y")
  }

  /** A9 — p95 daily-precip outlier flag, flag 32 (`qaqc_climatological_outlier_precip`,
    * `qaqc_climatological_outlier.py:463-588`): daily totals per series; per (series,
    * calendar month), the 95th percentile of NON-ZERO daily totals; a day is flagged
    * when its total exceeds `factor`×p95, capped at `recordCap` (the 442 mm CA record —
    * totals above the cap flag regardless). Returns flagged (series, date) rows. */
  def dailyPrecipOutlierDates(df: DataFrame, keys: Seq[String], timeCol: String,
                              valueCol: String, factor: Double = 9.0,
                              recordCap: Double = 442.0): DataFrame = {
    val kc = keys.map(col)
    val daily = df.filter(col(valueCol).isNotNull)
      .groupBy((kc :+ to_date(col(timeCol)).as("_date")): _*)
      .agg(sum(col(valueCol)).as("_total"))
      .withColumn("_m", month(col("_date")))
    val p95 = daily.filter(col("_total") > 0)
      .groupBy((kc :+ col("_m")): _*)
      .agg(expr("percentile(_total, 0.95)").as("_p95"))
    daily.join(p95, keys :+ "_m", "left")
      .filter(col("_total") > least(lit(recordCap), col("_p95") * factor))
      .select((kc ++ Seq(col("_date"), col("_total"))): _*)
  }

  /** A12a — per-variable record-length gate (`qaqc_var_length_bypass_check`,
    * `qaqc_utils.py:296-323`): per (series, month-of-year), the number of distinct years
    * with any row. One row per (series, month). */
  def varLengthByMonth(df: DataFrame, keys: Seq[String], timeCol: String): DataFrame =
    df.groupBy((keys.map(col) :+ month(col(timeCol)).as("month")): _*)
      .agg(countDistinct(year(col(timeCol))).as("n_years"))
}
