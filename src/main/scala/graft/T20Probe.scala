package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Dev probe (r15 optimization round): per-JOB wall-clock of a named query
  * (default t20) — an iterative query's cost can hide in per-round job and
  * planning overhead rather than data passes; the job log shows which. */
object T20Probe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val qname = args.headOption.getOrElse("t20_linear_classifier")
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000).selectExpr("sum(id)").collect()
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    @volatile var log = List.empty[(Int, Double, Int)]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        starts.put(j.jobId, System.nanoTime())
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        val t0 = Option(starts.get(j.jobId)).getOrElse(0L)
        log = (j.jobId, (System.nanoTime() - t0) / 1e9, 0) :: log
      }
    })
    val reps = sys.env.getOrElse("T20_PROBE_REPS", "3").toInt
    (1 to reps).foreach { rep =>
      log = Nil
      val t0 = System.nanoTime()
      SparkEntry.queries(qname)(spark, sfDir).count()
      val total = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      Thread.sleep(200) // let listener drain
      val jobs = log.sortBy(_._1)
      val jobSum = jobs.map(_._2).sum
      println(f"[probe] rep $rep total ${total}%.3f s, ${jobs.size} jobs, job-sum ${jobSum}%.3f s, gap ${total - jobSum}%.3f s")
      println(jobs.map { case (id, s, _) => f"j$id:${s}%.2f" }.mkString("  "))
    }
    spark.stop()
  }
}
