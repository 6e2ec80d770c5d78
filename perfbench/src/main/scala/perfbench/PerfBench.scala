package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfBenchBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.util.QueryExecutionListener
import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, parse, render}

/** Task counters summed since the last `snapshot`. One instance is registered
  * for the whole run; it only adds numbers on the listener thread. */
final class TaskCounters extends SparkListener {
  @volatile var cpuNs = 0L
  @volatile var shuffleBytes = 0L
  @volatile var spillBytes = 0L
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) synchronized {
      cpuNs += m.executorCpuTime
      shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
      spillBytes += m.diskBytesSpilled
    }
  }
  def snapshot(): (Long, Long, Long) = synchronized { (cpuNs, shuffleBytes, spillBytes) }
}

/** Traced runs only: per finished query, the Exchange count of its final
  * (adaptive) plan and the output rows of its top operator. */
final class PlanCounters extends QueryExecutionListener {
  @volatile var exchanges = 0L
  @volatile var lastRows = -1L
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = synchronized {
    val plan = qe.executedPlan
    exchanges += PerfBench.countExchanges(plan)
    lastRows = PerfBench.topRows(plan)
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  def snapshot(): (Long, Long) = synchronized { (exchanges, lastRows) }
}

/** Counters of one measured span. */
final case class Span(wallS: Double, cpuS: Double, shuffleMb: Double, spillMb: Double,
                      exchanges: Long, rowsOut: Long)

/** The benchmark's JVM side. Usage:
  * {{{
  * perfbench.PerfBench <workload> <trace 0|1> <seconds> <out.json> <work dir> <data dir> <small data dir>
  * }}}
  * Set-up: session bring-up, audio fixture synthesis from the generated
  * inputs, one warm-up pass over the small input. Then
  * the timed passes run back to back on one thread until they have measured
  * `seconds` (at least `MinPasses`). With trace 1 the run instead measures
  * every layer as cumulative prefixes (see `traceRun`), then the fixed cost
  * as full passes over the small input.
  * Results go to `out.json` for run.py to check and summarize. */
object PerfBench {

  def countExchanges(p: SparkPlan): Long = p match {
    case a: AdaptiveSparkPlanExec => countExchanges(a.executedPlan)
    case q: QueryStageExec => countExchanges(q.plan)
    case other =>
      (if (other.isInstanceOf[Exchange]) 1L else 0L) +
        other.children.map(countExchanges).sum + other.subqueries.map(countExchanges).sum
  }

  /** Output rows of the first operator (top down) that counts them. */
  def topRows(p: SparkPlan): Long = p match {
    case a: AdaptiveSparkPlanExec => topRows(a.executedPlan)
    case q: QueryStageExec => topRows(q.plan)
    case other => other.metrics.get("numOutputRows") match {
      case Some(m) => m.value
      case None => other.children.headOption.map(topRows).getOrElse(-1L)
    }
  }

  private def jnum(d: Double): JValue = if (d.isNaN || d.isInfinite) JNull else JDouble(d)

  private def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  private def dirStats(path: String): (Long, Long) = {
    val root = Paths.get(path)
    if (!Files.exists(root)) (0L, 0L)
    else {
      val s = Files.walk(root)
      try {
        val files = s.iterator().asScala.filter(Files.isRegularFile(_)).toSeq
        (files.size.toLong, files.map(Files.size).sum)
      } finally s.close()
    }
  }

  private def threadCpuNs(): Long = ManagementFactory.getThreadMXBean.getCurrentThreadCpuTime

  def main(args: Array[String]): Unit = {
    val Array(workload, traceArg, secondsArg, outPath, workDir, dataDir, smallDir) = args
    val reports = Workloads.all.getOrElse(workload, sys.error(s"unknown workload $workload"))
    val trace = traceArg == "1"
    val seconds = secondsArg.toDouble
    val cores = Runtime.getRuntime.availableProcessors()
    val work = new File(workDir)

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.expr.GraftExtensions")
      // a pass generates ~330 classes; with the default 100-entry cache every
      // pass compiled all of them again and ran them interpreted, which made
      // pass times drift by a quarter. One pass over a large input compiles
      // each class once, as every pass does with this cache.
      .config("spark.sql.codegen.cache.maxEntries", "4000")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val counters = new TaskCounters
    spark.sparkContext.addSparkListener(counters)
    val sessionS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

    val out = mutable.ArrayBuffer.empty[JField]
    out += "session_s" -> jnum(sessionS)
    out += "env" -> JObject(
      "cores" -> JInt(cores),
      "max_heap_mb" -> jnum(Runtime.getRuntime.maxMemory / 1048576.0),
      "spark_version" -> JString(spark.version),
      "spark_conf" -> JObject(spark.conf.getAll.toList.sorted
        .filter { case (k, _) => k.startsWith("spark.sql.") || k == "spark.master" }
        .map { case (k, v) => k -> JString(v) }))
    out += "oracles" -> JObject(reports.toList.map(r => r.name -> r.oracle.map(JString(_)).getOrElse(JNull)))

    // ---- one pass ----
    def buildPrefix(ctx: Ctx, r: Report, k: Int): DataFrame =
      r.steps.take(k).foldLeft(r.source(ctx))((d, s) => s.run(ctx, d))

    def runReport(ctx: Ctx, r: Report): Array[Row] =
      r.finish(ctx, buildPrefix(ctx, r, r.steps.size)).collect()

    def cleanup(ctx: Ctx): Unit = {
      spark.catalog.clearCache()
      ctx.stash.clear()
      ctx.io.clear()
      Option(ctx.outRoot.listFiles()).foreach(_.foreach(deleteTree))
    }

    /** One full pass: wall, executor+driver CPU, and every report's rows. */
    def pass(ctx: Ctx): (Double, Double, Seq[(String, Array[Row])]) = {
      PerfBenchBus.drain(spark.sparkContext)
      val (c0, _, _) = counters.snapshot()
      val d0 = threadCpuNs()
      val t0 = System.nanoTime()
      val rows = reports.map(r => r.name -> runReport(ctx, r))
      val wall = (System.nanoTime() - t0) / 1e9
      val driver = threadCpuNs() - d0
      PerfBenchBus.drain(spark.sparkContext)
      val (c1, _, _) = counters.snapshot()
      cleanup(ctx)
      (wall, (c1 - c0 + driver) / 1e9, rows)
    }

    def passJson(p: (Double, Double, Seq[(String, Array[Row])])): JValue = JObject(
      "wall_s" -> jnum(p._1), "cpu_s" -> jnum(p._2),
      "outputs" -> JObject(p._3.toList.map { case (n, rs) => n -> JArray(rs.toList.map(r => parse(r.json))) }))

    // ---- set-up: the audio fixture, then the warm-up passes ----
    def context(dir: String, tag: String): Ctx = {
      val outRoot = new File(work, s"out-$tag")
      outRoot.mkdirs()
      val audio =
        if (workload == "curation") Some(Workloads.synthesizeAudio(spark, dir, new File(work, s"audio-$tag").getPath))
        else None
      new Ctx(spark, dir, outRoot, audio)
    }
    val t0 = System.nanoTime()
    val ctx = context(dataDir, "main")
    out += "fixtures_s" -> jnum((System.nanoTime() - t0) / 1e9)
    val t1 = System.nanoTime()
    val small = context(smallDir, "small")
    val warmup = pass(small)
    out += "warmup_s" -> jnum((System.nanoTime() - t1) / 1e9)
    out += "warmups" -> JArray(List(passJson(warmup)))

    if (!trace) {
      // ---- timed passes ----
      val rssReset = try {
        Files.write(Paths.get("/proc/self/clear_refs"), "5".getBytes); true
      } catch { case _: Throwable => false }
      val passes = mutable.ArrayBuffer.empty[JValue]
      var measured = 0.0
      while (passes.size < MinPasses || measured < seconds) {
        // start every timed pass on a collected heap, so a full collection
        // left over from the previous pass does not land in this one
        System.gc()
        val p = pass(ctx)
        measured += p._1
        passes += passJson(p)
      }
      out += "passes" -> JArray(passes.toList)
      out += "peak_rss_mb" -> jnum(vmHwmMb())
      out += "rss_reset" -> JBool(rssReset)
    } else {
      traceRun(spark, ctx, reports, counters, out, buildPrefix, runReport, pass, passJson, cleanup)
      // the same passes over a small input of the same shape: their time is
      // the workload's fixed per-query cost (planning, code generation, job
      // scheduling), the rest of a full pass is data-dependent work
      out += "fixed_cost_passes" -> JArray((1 to FullPasses).toList.map(_ => passJson(pass(small))))
    }

    val pw = new PrintWriter(outPath)
    try pw.write(compact(render(JObject(out.toList)))) finally pw.close()
    spark.stop()
  }

  /** Timed passes per run, at least. Passes still speed up by a tenth or so
    * after the warm-up (JIT), so the median of two or more is steadier than
    * one. */
  private val MinPasses = 2

  private def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)

  /** Per-layer measurement. For every report, each prefix `source, +step1,
    * …, +stepN` runs once into a `noop` sink and the full report runs as a
    * collect. A layer's self numbers are its prefix minus the previous
    * prefix, so the self numbers of one report sum to its full run. One
    * untraced full pass warms the JVM before the sweep; after it `FullPasses`
    * traced and untraced full passes alternate, and their median difference
    * is the tracing overhead. Counts of useful work
    * (rows newly flagged, pair yields, files and bytes, declined decodes) are
    * taken after the sweep, outside every span. One prefix run each keeps a
    * traced run inside its 180 s limit on a loaded 4-core host. */
  private val FullPasses = 2

  private def traceRun(spark: SparkSession, ctx: Ctx, reports: Seq[Report], counters: TaskCounters,
                       out: mutable.ArrayBuffer[JField],
                       buildPrefix: (Ctx, Report, Int) => DataFrame,
                       runReport: (Ctx, Report) => Array[Row],
                       pass: Ctx => (Double, Double, Seq[(String, Array[Row])]),
                       passJson: ((Double, Double, Seq[(String, Array[Row])])) => JValue,
                       cleanup: Ctx => Unit): Unit = {
    val gc0 = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    pass(ctx)
    val plans = new PlanCounters
    spark.listenerManager.register(plans)

    def span(body: => Unit): Span = {
      PerfBenchBus.drain(spark.sparkContext)
      val (c0, s0, sp0) = counters.snapshot()
      val (e0, _) = plans.snapshot()
      val d0 = threadCpuNs()
      val t0 = System.nanoTime()
      body
      val wall = (System.nanoTime() - t0) / 1e9
      val driver = threadCpuNs() - d0
      PerfBenchBus.drain(spark.sparkContext)
      val (c1, s1, sp1) = counters.snapshot()
      val (e1, rows) = plans.snapshot()
      Span(wall, (c1 - c0 + driver) / 1e9, (s1 - s0) / 1048576.0, (sp1 - sp0) / 1048576.0,
        e1 - e0, rows)
    }

    // (report, layer, cumulative span) for every prefix, in order
    val prefixes = mutable.ArrayBuffer.empty[(String, String, Span)]
    val counts = mutable.LinkedHashMap.empty[String, Double]
    def addCount(k: String, v: Double): Unit = counts(k) = counts.getOrElse(k, 0.0) + v

    reports.foreach { r =>
      val layers = "scan" +: r.steps.map(_.layer) :+ "report"
      layers.zipWithIndex.foreach { case (layer, k) =>
        val s = span {
          if (k <= r.steps.size)
            buildPrefix(ctx, r, k).write.format("noop").mode("overwrite").save()
          else runReport(ctx, r)
        }
        // the full report's publish outputs stay for the file counts below
        if (k < layers.size - 1) cleanup(ctx)
        prefixes += ((r.name, s"${r.name}/$layer", s))
      }
      // useful-work counts, from the state the last (full) prefix left behind
      val flaggedAt = mutable.Map.empty[Int, Long]
      r.steps.zipWithIndex.foreach { case (st, i) =>
        if (st.layer.startsWith("sources.")) ctx.io.get(st.layer).foreach { d =>
          val (files, bytes) = dirStats(d)
          addCount(s"${st.layer}.files", files.toDouble)
          addCount(s"${st.layer}.bytes", bytes.toDouble)
        }
        st.flagCol.foreach { fc =>
          def flagged(k: Int): Long = flaggedAt.getOrElseUpdate(k, {
            val d = buildPrefix(ctx, r, k)
            if (d.columns.contains(fc)) d.filter(d(fc).isNotNull).count() else 0L
          })
          addCount(s"${st.layer}.flagged", (flagged(i + 1) - flagged(i)).toDouble)
        }
      }
      r.steps.find(_.layer == "kernels.gauss_gap").foreach { _ =>
        addCount("kernels.gauss_gap.flagged", buildPrefix(ctx, r, r.steps.size).count().toDouble)
      }
      r.candidates.foreach { f =>
        val pairStep = r.steps.indexWhere(_.layer.endsWith("_pairs"))
        val layer = r.steps(pairStep).layer
        addCount(s"$layer.kept", buildPrefix(ctx, r, pairStep + 1).count().toDouble)
        addCount(s"$layer.candidates", f(ctx).toDouble)
      }
      if (r.steps.exists(_.layer == "multimodal.decode")) {
        val decoded = buildPrefix(ctx, r, 1).select("id").distinct().count()
        addCount("multimodal.decode.declined", (r.source(ctx).count() - decoded).toDouble)
      }
      cleanup(ctx)
    }

    val (traced, untraced) = (1 to FullPasses).map { _ =>
      val t = pass(ctx)
      spark.listenerManager.unregister(plans)
      val u = pass(ctx)
      spark.listenerManager.register(plans)
      (t, u)
    }.unzip
    spark.listenerManager.unregister(plans)

    // self numbers: prefix minus previous prefix of the same report
    val self = mutable.ArrayBuffer.empty[(String, Span)]
    prefixes.groupBy(_._1).values.foreach { ps =>
      ps.zipWithIndex.foreach { case ((_, id, s), i) =>
        val prev = if (i == 0) Span(0, 0, 0, 0, 0, 0) else ps(i - 1)._3
        self += id -> Span(s.wallS - prev.wallS, s.cpuS - prev.cpuS, s.shuffleMb - prev.shuffleMb,
          s.spillMb - prev.spillMb, s.exchanges - prev.exchanges, s.rowsOut)
      }
    }
    def spanJson(s: Span): JValue = JObject("wall_s" -> jnum(s.wallS), "cpu_s" -> jnum(s.cpuS),
      "shuffle_mb" -> jnum(s.shuffleMb), "spill_mb" -> jnum(s.spillMb),
      "exchanges" -> JInt(s.exchanges), "rows_out" -> JInt(s.rowsOut))
    val order = prefixes.map(_._2)
    out += "prefix_spans" -> JObject(prefixes.toList.map { case (_, id, s) => id -> spanJson(s) })
    out += "self_spans" -> JObject(self.toList.sortBy(x => order.indexOf(x._1)).map { case (id, s) => id -> spanJson(s) })
    out += "counts" -> JObject(counts.toList.map { case (k, v) => k -> jnum(v) })
    out += "untraced_pass_s" -> JArray(untraced.toList.map(p => jnum(p._1)))
    out += "traced_pass_s" -> JArray(traced.toList.map(p => jnum(p._1)))
    out += "passes" -> JArray((untraced ++ traced).toList.map(passJson))
    val gc1 = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    out += "jvm_gc_s" -> jnum((gc1 - gc0) / 1000.0)
    out += "jvm_peak_heap_mb" -> jnum(ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0)
  }
}
