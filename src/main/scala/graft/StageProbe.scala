package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Dev probe (r16): per-STAGE metrics (runtime, tasks, input/shuffle bytes,
  * GC, spill) of a named query — job-level timing (T20Probe) showed e10's 100×
  * cost concentrated in two jobs; this shows which stage and which resource. */
object StageProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/tmp/scale100")
    val qname = args.headOption.getOrElse("e10_bm25")
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000).selectExpr("sum(id)").collect()
    @volatile var rows = List.empty[String]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val m = si.taskMetrics
        val wall = (for { s <- si.submissionTime; c <- si.completionTime } yield c - s).getOrElse(-1L)
        // run = task elapsed (inflated by host steal/oversubscription);
        // cpu = executorCpuTime (thread CPU — the A/B-stable signal on this
        // oscillating container)
        rows = f"stage ${si.stageId}%4d tasks ${si.numTasks}%5d wall ${wall / 1e3}%8.2fs run ${m.executorRunTime / 1e3}%9.1fs cpu ${m.executorCpuTime / 1e9}%9.1fs gc ${m.jvmGCTime / 1e3}%7.1fs in ${m.inputMetrics.bytesRead / 1e6}%9.1fMB sr ${m.shuffleReadMetrics.totalBytesRead / 1e6}%9.1fMB sw ${m.shuffleWriteMetrics.bytesWritten / 1e6}%9.1fMB spill ${m.diskBytesSpilled / 1e6}%7.1fMB  ${si.name.take(60)}" :: rows
      }
    })
    val reps = sys.env.getOrElse("STAGE_PROBE_REPS", "2").toInt
    (1 to reps).foreach { rep =>
      rows = Nil
      val t0 = System.nanoTime()
      SparkEntry.queries(qname)(spark, sfDir).count()
      val total = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      Thread.sleep(300)
      println(f"[stage] rep $rep $qname total $total%.2f s")
      rows.reverse.foreach(r => println("[stage] " + r))
    }
    spark.stop()
  }
}
