package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.SparkEntry
import graft.dedup.DedupOps
import graft.kernels.{Butterworth, GaussGapScan}
import graft.multimodal.MultimodalOps
import graft.multimodal.MultimodalOps.MediaRow
import graft.ops.{AggOps, CleanOps, SeriesOps}
import graft.pipeline.{CurationPipeline, DeriveDag, MergePipeline, QaqcPipeline}
import graft.sources.{NcSink, NcSource, ZarrSink, ZarrSource}

/** State of one pass: the session, the generated input directory, a scratch
  * directory for publish outputs, the audio fixture (curation only), and
  * frames that a later step or the report reuses. `io` remembers, per sources layer, the directory it wrote or read. */
final class Ctx(val spark: SparkSession, val dataDir: String, val outRoot: File,
                val audio: Option[DataFrame]) {
  val stash = mutable.Map.empty[String, DataFrame]
  val io = mutable.Map.empty[String, String]
  private var n = 0
  def freshDir(tag: String): String = {
    n += 1
    val d = new File(outRoot, s"$tag-$n")
    d.mkdirs()
    d.getPath
  }
  def events: DataFrame = SparkEntry.loadTable(spark, dataDir, "events")
  def documents: DataFrame = SparkEntry.loadTable(spark, dataDir, "documents")
}

/** One layer call. `flagCol`: the flag column the call writes, so the traced
  * run can count the rows it newly flagged. */
final case class Step(layer: String, run: (Ctx, DataFrame) => DataFrame,
                      flagCol: Option[String] = None)

/** One checked report: `source` builds the input frame, `steps` are the layer
  * calls in order, `finish` reduces the last frame to the small report that
  * the DuckDB replica `oracle` recomputes from the same input (None: no
  * replica exists; the report is checked for pass-to-pass stability only).
  * `candidates` counts the LSH/band candidate pairs behind the report's pair
  * step, for the traced run's yield ratios. */
final case class Report(name: String, oracle: Option[String], source: Ctx => DataFrame,
                        steps: Seq[Step], finish: (Ctx, DataFrame) => DataFrame,
                        candidates: Option[Ctx => Long] = None)

/** The two workloads, each composed only from the library's public layer
  * functions. Every report mirrors one of the library's pipeline queries
  * (named in `oracle`) step for step, so that query's DuckDB oracle SQL is the
  * replica its output is checked against. */
object Workloads {

  private def r4(c: Column): Column = round(c, 4)
  private def pin(df: DataFrame): DataFrame = df.persist(StorageLevel.MEMORY_AND_DISK)
  private def oracle(name: String): Option[String] = Some(SparkEntry.oracleSql(name))

  /** Σ C(n, 2) over band buckets of 2..cap members: the pairs a banded
    * candidate generator compares. */
  private def bucketPairs(bands: DataFrame, cap: Int): Long = {
    val r = bands.groupBy(col("_band")).agg(count(lit(1)).as("_n"))
      .filter(col("_n").between(2, cap))
      .agg(sum(col("_n") * (col("_n") - 1) / 2).cast("long")).head()
    if (r.isNullAt(0)) 0L else r.getLong(0)
  }

  private def hammingCandidates(df: DataFrame, hi: String, lo: String): Long =
    bucketPairs(df.select(explode(DedupOps.hamming64BandKeys(col(hi), col(lo))).as("_band")), 2000)

  // ---- platform path: clean -> concat -> QAQC -> merge -> publish ----------

  /** `pipe4_platform_slice`: two per-network cleans, station concat with
    * keep-first dedup, world-record flag, hourly standardization. */
  val pipe4: Report = Report("pipe4_platform_slice", oracle("pipe4_platform_slice"),
    ctx => ctx.events,
    Seq(
      Step("clean", (_, e) => {
        val rawA = e.select(
          concat(lit("CIMIS_"), col("user_id").cast("string")).as("station"),
          date_trunc("MINUTE", col("ts")).as("time"),
          when(col("event_id") % 97 === 0, lit(null).cast("double"))
            .otherwise(col("value") / 10 + 273.15).as("tas"),
          col("event_id").as("rec"))
        val rawB = e.filter(col("user_id") % 2 === 0).select(
          concat(lit("SNOTEL_"), col("user_id").cast("string")).as("station"),
          date_trunc("MINUTE", col("ts")).as("time"),
          (((col("value") / 5 + 32) - 32) * 5 / 9 + 273.15).as("tas"),
          (col("event_id") + 10000000L).as("rec"))
        rawA.unionByName(rawB)
      }),
      Step("concat", (_, u) =>
        CleanOps.dedupKeepFirst(u.repartition(col("station")),
          Seq("station", "time"), Seq(col("rec")))
          .withColumn("tas_eraqc", lit(null).cast("int"))),
      Step("qaqc.world_record", (_, d) =>
        CleanOps.flagOutOfBounds(d, "tas", "tas_eraqc", 250.0, 320.0), Some("tas_eraqc")),
      Step("merge.hourly", (_, f) =>
        MergePipeline.hourlyStandardize(f, Seq("station"), "time",
          instantCols = Seq("tas"), sumCols = Nil, flagCols = Seq("tas_eraqc"),
          constCols = Nil, tiebreak = col("rec")))),
    (_, hourly) => hourly.groupBy(split(col("station"), "_").getItem(0).as("network"))
      .agg(count(lit(1)).as("n_hours"),
        countDistinct(col("station")).as("n_stations"),
        sum(when(col("tas_eraqc") =!= "nan", 1L).otherwise(0L)).as("n_flagged_hours"),
        sum(round(col("tas"), 4).cast("decimal(18,4)")).cast("double").as("tas_sum")))

  /** `pipe1_qaqc_e2e`: the four single-variable QAQC stages, each run through
    * `QaqcPipeline.run`, then the flag-count report. */
  val pipe1: Report = {
    val stages = QaqcPipeline.singleVariable("user_id", "ts", "v",
      lo = 25.0, hi = 5000.0, streakNValues = 2, streakNDays = 9999, streakMinSeqLen = 2)
    Report("pipe1_qaqc_e2e", oracle("pipe1_qaqc_e2e"),
      ctx => ctx.events
        .withColumn("v",
          floor(col("value") / 50) * 50 +
            when(pmod(col("event_id"), lit(199)) === 0, 3000.0).otherwise(0.0))
        .withColumn("v_eraqc", lit(null).cast("int")),
      stages.map(s => Step("qaqc." + s.name, (_, d) => QaqcPipeline.run(d, Seq(s)), Some("v_eraqc"))),
      (_, out) => QaqcPipeline.flagCountReport(out, "v_eraqc"))
  }

  private def roundTripReport(c: DataFrame): DataFrame =
    c.groupBy(col("station")).agg(
      count(lit(1)).as("n"),
      sum(col("val").cast("decimal(18,2)")).cast("double").as("sval"),
      sum(col("evt")).as("sevt"),
      max(unix_micros(col("time"))).as("max_us"),
      countDistinct(col("flag")).as("nflags"))

  /** `s27_nc_publish`: publish per-station NetCDF files, read them back. */
  val s27: Report = Report("s27_nc_publish", oracle("s27_nc_publish"),
    ctx => ctx.events.select(
      concat(lit("N"), lpad((col("user_id") % 25).cast("string"), 2, "0")).as("station"),
      date_trunc("second", col("ts")).as("time"), col("value").as("val"),
      col("event_type").as("flag"), col("event_id").as("evt")),
    Seq(
      Step("sources.nc_write", (ctx, obs) => {
        val out = ctx.freshDir("nc")
        ctx.io("sources.nc_write") = out
        NcSink.writeNcFiles(obs, out)
      }),
      Step("sources.nc_read", (ctx, ledger) => {
        ctx.io("sources.nc_read") = ctx.io("sources.nc_write")
        NcSource.readFiles(ctx.spark, ledger.select("path").collect().map(_.getString(0)).toSeq)
      })),
    (_, c) => roundTripReport(c))

  /** `s26_zarr_publish`: publish multi-chunk per-station zarr stores, ingest
    * them back. */
  val s26: Report = Report("s26_zarr_publish", oracle("s26_zarr_publish"),
    ctx => ctx.events.select(
      concat(lit("Z"), lpad((col("user_id") % 40).cast("string"), 2, "0")).as("station"),
      col("ts").as("time"), col("value").as("val"),
      col("event_type").as("flag"), col("event_id").as("evt")),
    Seq(
      Step("sources.zarr_write", (ctx, obs) => {
        val out = ctx.freshDir("zarr")
        ctx.io("sources.zarr_write") = out
        ZarrSink.writeZarrStores(obs, out, chunkRows = 512)
      }),
      Step("sources.zarr_read", (ctx, ledger) => {
        ctx.io("sources.zarr_read") = ctx.io("sources.zarr_write")
        ZarrSource.readStores(ctx.spark, ledger.select("path").collect().map(_.getString(0)).toSeq)
      })),
    (_, c) => roundTripReport(c))

  /** `clim1_outlier_chain`: hourly means with a late level shift, standardized
    * anomaly, linear interpolation, Butterworth low-pass, Gaussian gap scan.
    * The gap scan calls libm `exp`, so no DuckDB replica exists. */
  val clim1: Report = Report("clim1_outlier_chain", None,
    ctx => pin(ctx.events
      .withColumn("value",
        col("value") + when(col("event_type") === "click" &&
          col("ts") >= "2024-01-26", 5000.0).otherwise(0.0))
      .groupBy(col("event_type"), date_trunc("HOUR", col("ts")).as("tsh"))
      .agg(avg(col("value")).as("v"))
      .withColumn("hr", hour(col("tsh")))),
    Seq(
      Step("series.interpolate", (_, e) => {
        e.count()
        val std = AggOps.standardizedAnomaly(e, Seq("event_type", "hr"), "v", "std_anom")
        SeriesOps.interpolateLinear(std, Seq("event_type"), "tsh", "std_anom", "std_i")
          .withColumn("freq_s", lit(3600.0))
      }),
      Step("kernels.butterworth", (ctx, interp) => {
        val lp = pin(Butterworth.lowPass(interp, Seq("event_type"), "tsh",
          "std_i", "freq_s", "lp")(ctx.spark))
        lp.count()
        lp
      }),
      Step("kernels.gauss_gap", (ctx, lp) =>
        GaussGapScan.flagged(lp, Seq("event_type", "hr"), "tsh", "lp")(ctx.spark))),
    (_, f) => f.groupBy(col("event_type"), col("hr")).agg(count(lit(1)).as("n_flagged")))

  /** `d8_derive_dag`, reduced to an exact fingerprint row (its per-row output
    * is corpus-sized); the replica applies the same reduction to the oracle. */
  val d8: Report = {
    def fingerprint(d: DataFrame): DataFrame = d.agg(
      count(lit(1)).as("n_rows"),
      sum(col("event_id")).as("id_sum"),
      sum(col("tdps_derived").cast("decimal(18,4)")).cast("double").as("tdps_sum"),
      count(col("syn_flag")).as("n_syn"))
    Report("d8_derive_dag",
      oracle("d8_derive_dag").map(sql =>
        s"""SELECT COUNT(*) AS n_rows, CAST(SUM(event_id) AS BIGINT) AS id_sum,
              CAST(SUM(CAST(tdps_derived AS DECIMAL(18,4))) AS DOUBLE) AS tdps_sum,
              COUNT(syn_flag) AS n_syn
            FROM ($sql) q"""),
      ctx => ctx.events
        .withColumn("tas", lit(280.0) + col("value") / 10)
        .withColumn("hurs", lit(50.0) + col("value") / 20)
        .withColumn("tas_eraqc", when(col("value") > 400, 11).cast("int")),
      Seq(Step("merge.derive", (_, obs) => DeriveDag.deriveMissing(obs))),
      (_, d) => fingerprint(d.select(col("event_id"), r4(col("tdps_derived")).as("tdps_derived"),
        col("tdps_derived_eraqc").cast("long").as("syn_flag"))))
  }

  // ---- curation: text ------------------------------------------------------

  /** The marker sets and sampling rates of the library's `pipe2_curation`. */
  private val curationCfg = CurationPipeline.Config(
    minQuality = 0.7,
    markers = Map(
      "alpha" -> Seq("spark", "sql", "batch", "stream"),
      "beta" -> Seq("data", "table", "row", "column"),
      "gamma" -> Seq("sort", "hash", "scan", "merge")),
    rates = Map("alpha" -> 0.9, "beta" -> 0.5, "gamma" -> 0.25), defaultRate = 0.1)

  /** `pipe2_curation`: quality/language/dedup/sample annotation and funnel. */
  val pipe2: Report = Report("pipe2_curation", oracle("pipe2_curation"),
    ctx => ctx.documents,
    Seq(Step("text.annotate", (_, d) => CurationPipeline.annotate(d, "doc_id", "text", curationCfg))),
    (_, a) => CurationPipeline.funnel(a))

  /** `pipe3_near_dedup`: MinHash LSH pairs, star-contraction components,
    * keep one document per cluster, survivor stats per source. */
  val pipe3: Report = Report("pipe3_near_dedup", oracle("pipe3_near_dedup"),
    ctx => { val d = ctx.documents; ctx.stash("docs") = d; d },
    Seq(
      Step("dedup.minhash_pairs", (_, docs) =>
        DedupOps.minhashNearDups(docs, "doc_id", "text",
          threshold = 0.4, shingleN = 3, k = 32, bands = 8).select(col("id1"), col("id2"))),
      Step("dedup.components", (_, pairs) =>
        DedupOps.connectedComponentsStar(pairs)
          .filter(col("id") =!= col("cluster")).select(col("id").as("doc_id")))),
    (ctx, dropped) => ctx.stash("docs").join(dropped, Seq("doc_id"), "left_anti")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_survivors"), sum(col("n_chars")).as("chars_kept")),
    candidates = Some(ctx => {
      val h32 = array_distinct(transform(DedupOps.shingles(col("text"), 3),
        s => pmod(DedupOps.shingleHash(s), lit(1L << 32))))
      bucketPairs(ctx.stash("docs")
        .select(explode(DedupOps.lshBandKeys(DedupOps.minhashSignatureFromHashes(h32, 32), 8, 4))
          .as("_band")), 500)
    }))

  // ---- curation: media -----------------------------------------------------

  /** The audio fixture: one WAV item per document id, synthesized into
    * `path` (set-up work, outside the timed passes). */
  def synthesizeAudio(spark: SparkSession, dataDir: String, path: String): DataFrame = {
    import spark.implicits._
    SparkEntry.loadTable(spark, dataDir, "documents")
      .select(col("doc_id").cast("long").as("id")).as[Long]
      .map(d => MediaRow(d, "audio", MultimodalOps.mm7FixtureWav(d), Map.empty))
      .write.mode("overwrite").parquet(path)
    spark.read.parquet(path)
  }

  /** `pipe8_audio_curation`: WAV decode to windowed energy hashes, Hamming
    * near-dup drop, low-energy gate, ledger row. */
  val pipe8: Report = Report("pipe8_audio_curation", oracle("pipe8_audio_curation"),
    ctx => ctx.audio.get,
    Seq(
      Step("multimodal.decode", (ctx, _) => {
        import ctx.spark.implicits._
        val feats = pin(MultimodalOps.audioFrameFeatures(ctx.audio.get.as[MediaRow],
            windowSamples = 256)(ctx.spark).toDF()
          .select(col("id"), col("rms"), MultimodalOps.energyHash64(col("windowRms")).as("_eh"))
          .select(col("id"), col("rms"), col("_eh.hi").as("hi"), col("_eh.lo").as("lo")))
        feats.count()
        ctx.stash("decoded") = feats
        feats
      }),
      Step("dedup.hamming_pairs", (_, feats) => DedupOps.hamming64Pairs(feats, "id", "hi", "lo"))),
    (ctx, pairs) => {
      val feats = ctx.stash("decoded")
      val dropped = pairs.select(col("id2").as("id")).distinct()
      val survivors = feats.join(dropped, Seq("id"), "left_anti")
      feats.agg(count(lit(1)).as("n_input"))
        .crossJoin(dropped.agg(count(lit(1)).as("n_dup_dropped")))
        .crossJoin(survivors.agg(
          count(when(col("rms") < 17000.0, lit(1))).as("n_low_energy"),
          count(when(col("rms") >= 17000.0, lit(1))).as("n_kept")))
        .crossJoin(DedupOps.hamming64CapStats(feats, "id", "hi", "lo"))
    },
    candidates = Some(ctx => hammingCandidates(ctx.stash("decoded"), "hi", "lo")))

  // ---- calibration (self-test only) ---------------------------------------

  /** Busy-loops until the calling thread has used `cpuS` seconds of CPU. */
  private def spin(cpuS: Double): Unit = {
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
    val end = mx.getCurrentThreadCpuTime + (cpuS * 1e9).toLong
    while (mx.getCurrentThreadCpuTime < end) {}
  }

  /** Two layers of known cost over four one-row partitions: `calib.light`
    * uses 0.5 s of CPU per row, `calib.heavy` 1 s. The traced run must
    * attribute 2 s and 4 s of executor CPU to them; tests/test_perfbench.py
    * checks that. */
  val calibration: Report = {
    def costs(c: String, cpuS: Double): Step = Step(c, (_, d) => {
      val f = udf((x: Long) => { spin(cpuS); x }).asNondeterministic()
      d.withColumn(c, f(col("id")))
    })
    Report("calibration", None,
      ctx => ctx.spark.range(0, 4, 1, 4).toDF(),
      Seq(costs("calib.light", 0.5), costs("calib.heavy", 1.0)),
      (_, d) => d.agg(sum(col("`calib.light`") + col("`calib.heavy`")).as("total")))
  }

  val all: Map[String, Seq[Report]] = Map(
    "platform" -> Seq(pipe4, pipe1, s26, s27, clim1, d8),
    "curation" -> Seq(pipe2, pipe3, pipe8),
    "calibration" -> Seq(calibration))
}
