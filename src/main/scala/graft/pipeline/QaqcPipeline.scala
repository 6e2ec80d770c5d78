package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.{Flags, Lookups}
import graft.ops._

/** §3.1 — the ordered QA/QC pipeline (`run_qaqc_pipeline`,
  * `/root/reference/scripts/3_qaqc_data/QAQC_pipeline.py:510-984`).
  *
  * Order is SEMANTIC: later checks consume earlier flags through the `validObs`
  * predicate (`grab_valid_obs`, `qaqc_utils.py:326-378`), so stages compose as an
  * explicit `Seq[Stage]` fold — no reordering freedom — with each stage declaring the
  * flag codes it writes. The whole pipeline stays ONE lazy Spark plan that reads its
  * input once. Every stage is row-preserving: the windowed stages (spikes, straight
  * streaks) run their operator's body over all rows, with each of the reference's
  * filters as one more window partition key, and set their flag in place — no stage
  * filters, joins back or pins. The reference runs every check over one sorted
  * per-station frame; here one hash exchange on the station key serves both windowed
  * stages (the hash partitioning satisfies every window keyed on the station plus a
  * predicate), and each further window costs a local sort (SCALE.md).
  *
  * The reference's per-station SLURM process becomes `Window.partitionBy(station)`;
  * its hard station-abort gates (P4/P5) become semi-join filters.
  */
object QaqcPipeline {

  /** One pipeline stage: a named, row-preserving DataFrame transform declaring the
    * flags it writes. */
  final case class Stage(name: String, writesFlags: Seq[Int], transform: DataFrame => DataFrame)

  /** Fold the stages over `df`; the result is one lazy plan over the input. */
  def run(df: DataFrame, stages: Seq[Stage]): DataFrame =
    stages.foldLeft(df)((d, s) => s.transform(d))

  /** The canonical single-variable pipeline over an obs table
    * `(station, time, v, v_eraqc)` — the reference's Part 1b → Part 2 → Part 3 order
    * (`QAQC_pipeline.py:683-965`) instantiated for one observed variable:
    * world-record bounds → negative values → spike detection → straight streaks.
    * Each stage sees (and skips) rows flagged by its predecessors. */
  def singleVariable(station: String, timeCol: String, v: String,
                     lo: Double, hi: Double,
                     spikeIqrThresh: Double = 6.0,
                     streakNValues: Long = 20, streakNDays: Long = 7,
                     streakMinSeqLen: Long = 10): Seq[Stage] = {
    val flag = v + "_eraqc"
    // `body` flags only rows that pass `validObs`, so the flag lands on rows no
    // earlier stage has flagged
    def setFlag(df: DataFrame, body: DataFrame, code: Int): DataFrame =
      body.withColumn(flag, when(col("_flag"), lit(code)).otherwise(col(flag)))
        .select(df.columns.map(col): _*)
    val valid = CleanOps.validObs(col(flag))
    Seq(
      Stage("world_record", Seq(Flags.WorldRecord),
        df => CleanOps.flagOutOfBounds(df, v, flag, lo, hi)),
      Stage("negative_values", Seq(Flags.NegativePrecip),
        df => LogicOps.flagNegative(df, v, flag)),
      Stage("spikes", Seq(Flags.Spike), df =>
        setFlag(df, SpikeOps.body(df, Seq(station), timeCol, v, spikeIqrThresh,
          minDatapoints = 50, valid && col(v).isNotNull, "_flag"), Flags.Spike)),
      Stage("straight_streaks", Seq(Flags.StraightStreak), df =>
        setFlag(df, StreakOps.body(df, Seq(station), timeCol, v, streakNValues,
          streakNDays, None, streakMinSeqLen, valid, "_flag"), Flags.StraightStreak)))
  }

  /** Part 1b sensor-height gates (flags 6–9) as an optional LEADING stage. OFF by
    * default everywhere: the reference defines both checks but leaves them out of
    * its v2 stage list (`qaqc_wholestation.py:579-686` — "many networks do not
    * report sensor height"). Prepend to [[singleVariable]]'s stages when a corpus
    * carries `thermometer_height_m` / `anemometer_height_m`. */
  def sensorHeightStage(station: String = "station", timeCol: String = "time"): Stage =
    Stage("sensor_heights",
      Seq(Flags.ThermometerHeightMissing, Flags.ThermometerHeightNot2m,
        Flags.AnemometerHeightMissing, Flags.AnemometerHeightNot10m),
      df => CleanOps.sensorHeightFlags(df, station, timeCol))

  /** Part 1a buoy checks (flags 1/2) as a LEADING stage, network-gated by
    * construction: [[graft.core.Lookups.buoyCutoffsDf]] /
    * [[graft.core.Lookups.buoyIssueHoursDf]] list only MARITIME/NDBC stations, so
    * the broadcast left joins leave every other network's rows untouched
    * (`qaqc_buoy_check.py:25-160`; the reference reaches the same gating by only
    * calling `spurious_buoy_check` when the station id matches its hard-coded
    * lists). `windFlagCols` get the ferry-hours flag 1; `allFlagCols` get the
    * disestablishment/adrift flag 2. */
  def buoyCheckStage(allFlagCols: Seq[String], windFlagCols: Seq[String],
                     station: String = "station", timeCol: String = "time")
                    (implicit spark: org.apache.spark.sql.SparkSession): Stage =
    Stage("buoy_check", Seq(Flags.BuoyDrift, Flags.BuoyMissingPosition), { df =>
      val hours = CleanOps.flagKnownIssueHours(df, station, timeCol,
        windFlagCols, Lookups.buoyIssueHoursDf(spark))
      CleanOps.flagDisestablished(hours, station, timeCol,
        allFlagCols, Lookups.buoyCutoffsDf(spark))
    })

  /** A10 report off the pipeline output: flag value counts per variable, including the
    * `no_flag` and `total_obs_count` rows (`merge_eraqc_counts.py:22-84`). */
  def flagCountReport(df: DataFrame, flagColName: String): DataFrame = {
    // r15 optimization round: the total derives from the aggregated counts,
    // NOT a second pass over `df` — every row lands in exactly one coalesced
    // flag group, so sum(cnt) IS count(*) (the rule
    // [[flagCountReportByStation]] already followed). The counts table is
    // PERSISTED because the union references it twice (its own rows + the
    // total), and unpinned each reference re-evaluates the caller's whole
    // upstream — in pipe1 that is the whole QAQC chain running twice. The
    // cache is flag-cardinality (tiny at any corpus size); the bench harness
    // clearCache releases it, library callers unpersist. coalesce keeps the
    // empty-input total at 0 (and the column non-nullable), exactly as count()
    // was.
    val counted = df
      .withColumn("flag", coalesce(col(flagColName).cast("string"), lit("no_flag")))
      .groupBy(col("flag")).agg(count(lit(1)).as("cnt"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // eager population (the mm10 lesson): the union's two branches are
    // independent AQE stages submitted concurrently — a lazy cache would let
    // both re-run the upstream; one count() pins it with one pass
    counted.count()
    val total = counted.agg(coalesce(sum(col("cnt")), lit(0L)).as("cnt"))
      .withColumn("flag", lit("total_obs_count"))
      .select(col("flag"), col("cnt"))
    counted.unionByName(total)
  }

  /** A10 hourly variant: comma-joined flag strings are exploded first
    * (`merge_eraqc_counts.py:87-157`). */
  def hourlyFlagCountReport(df: DataFrame, flagsColName: String): DataFrame =
    df.withColumn("flag", explode(split(col(flagsColName), ",")))
      .filter(col("flag") =!= "nan")
      .groupBy(col("flag")).agg(count(lit(1)).as("cnt"))

  /** Per-station long-format flag counts across all flag columns — the corpus-wide
    * generalization of [[flagCountReport]] that feeds [[stationConfidence]]:
    * (station, variable, flag, cnt) rows including each variable's `no_flag` and
    * `total_obs_count` rows. One stacked pass over the obs table, two partial-agg
    * groupBys — where the reference writes one `eraqc_counts` CSV per station
    * (`merge_eraqc_counts.py` called per SLURM task). */
  def flagCountReportByStation(df: DataFrame, stationCol: String,
                               flagCols: Seq[String]): DataFrame = {
    val stacked = df.select(col(stationCol).as("station"),
      explode(array(flagCols.map(v => struct(lit(v).as("variable"),
        coalesce(col(v).cast("string"), lit("no_flag")).as("flag"))): _*)).as("vf"))
      .select(col("station"), col("vf.variable").as("variable"),
        col("vf.flag").as("flag"))
    val counts = stacked.groupBy("station", "variable", "flag")
      .agg(count(lit(1)).as("cnt"))
    // totals derive from the aggregated counts, NOT a second pass over the obs
    // stack — the scan + explode runs once
    val totals = counts.groupBy("station", "variable")
      .agg(sum(col("cnt")).as("cnt"))
      .withColumn("flag", lit("total_obs_count"))
      .select("station", "variable", "flag", "cnt")
    counts.unionByName(totals)
  }

  /** Flag-rate table (`qaqc_generate_flag_rates.py:46-230`,
    * `_pairwise_rate`/`station_rates_table`/`network_rates_table`): per
    * (station, variable), `flag_rate = Σ real-flag counts / total_obs_count` plus
    * the total-obs column. The reference loops per-station CSVs (~37 min native,
    * ~24 min hourly per its own logged timings); over the long-format counts this
    * is one groupBy. Output stays long-format — the reference's variable-pivoted
    * CSV is a presentation detail (`writeReport` + pivot serves it). The same op
    * keyed on a `network` station column is the network table. */
  def flagRateTable(flagCounts: DataFrame): DataFrame =
    flagCounts.groupBy("station", "variable").agg(
        sum(when(col("flag") =!= "no_flag" && col("flag") =!= "total_obs_count",
          col("cnt")).otherwise(0L)).as("total_flag"),
        sum(when(col("flag") === "total_obs_count", col("cnt")).otherwise(0L))
          .as("total_obs_count"))
      .withColumn("flag_rate", col("total_flag") / col("total_obs_count"))

  /** Network/total flag-count roll-up (`qaqc_success_report_tables.py:49-270`,
    * `_pairwise_sum`/`_format_table`/`network_sum_flag_counts`): sum the
    * long-format per-station counts per flag (the reference's pairwise-concat
    * loop as one groupBy), normalize float-string flag labels (`"25.0"` → `"25"`,
    * the `:108-111` strip), and FULL-OUTER join the flag-meanings catalog so
    * never-fired flags surface with count 0; absent meanings fill with `"0"`
    * exactly like the reference's `fillna(0)`. The special `no_flag` /
    * `total_obs_count` rows ride through as string-labeled rows. Both join
    * sides are flag-taxonomy-sized (≤ ~40 rows — the per-flag sums, not the
    * obs), so the FULL OUTER join (which cannot broadcast) shuffles only
    * catalog-scale rows. */
  def sumFlagCounts(flagCounts: DataFrame, meanings: DataFrame): DataFrame = {
    val summed = flagCounts
      .withColumn("flag", regexp_replace(col("flag"), "\\.0$", ""))
      .groupBy("flag").agg(sum(col("cnt")).as("cnt"))
    val m = meanings
      .select(col("flag_value").cast("string").as("m_flag"),
        col("qaqc_function"))
    summed.join(m, summed("flag") === m("m_flag"), "full_outer")
      .select(coalesce(col("flag"), col("m_flag")).as("flag"),
        coalesce(col("cnt"), lit(0L)).as("cnt"),
        coalesce(col("qaqc_function"), lit("0")).as("qaqc_function"))
      .orderBy(expr("try_cast(flag AS int)").asc_nulls_last, col("flag"))
  }

  /** Data-confidence ranking (`notebooks/data_confidence_calculation.ipynb`,
    * `_pairwise_count`/`station_counts_table`): per station, sum the `no_flag` and
    * `total_obs_count` rows across variables and rank by
    * `qc_percent = 1 − no_flag / total_obs_count` (high = heavily flagged). The
    * reference loops ~15k per-station CSVs through pandas in ~30 minutes; over the
    * long-format counts table this is ONE groupBy. */
  def stationConfidence(flagCounts: DataFrame): DataFrame =
    flagCounts.groupBy("station").agg(
        sum(when(col("flag") === "no_flag", col("cnt")).otherwise(0L))
          .as("no_flag"),
        sum(when(col("flag") === "total_obs_count", col("cnt")).otherwise(0L))
          .as("total_obs_count"))
      .withColumn("qc_percent",
        lit(1.0) - col("no_flag") / col("total_obs_count"))
      .orderBy(col("qc_percent").desc)
}
