package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Dev probe (r16, VERDICT r15 item 5): A/B the r15 two-pass mm10 decode
  * (videoGrayRasters + videoAudioFeatures, each walking every container)
  * against the r16 single-walk videoAvRasters shape, alternating in one
  * session. Reports wall AND total task-CPU per rep — CPU is the stable
  * signal on this host (documented 1.5-3x load oscillation + steal). */
object Mm10Ab {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/tmp/scale100")
    val spark = GraftSession.builder().getOrCreate()
    implicit val sp: SparkSession = spark
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000).selectExpr("sum(id)").collect()
    val cpuNs = new java.util.concurrent.atomic.AtomicLong()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        cpuNs.addAndGet(sc.stageInfo.taskMetrics.executorCpuTime)
    })

    import graft.multimodal.MultimodalOps
    def rows = {
      // same fixture parquet the query reads (materialized by the warmup rep)
      val prefix = s"graft_mm10_av_v1_${math.abs(sfDir.hashCode)}_"
      val tmp = new java.io.File(sys.props("java.io.tmpdir"))
      val f = Option(tmp.listFiles()).getOrElse(Array.empty[java.io.File])
        .find(_.getName.startsWith(prefix))
        .getOrElse(sys.error(s"no mm10 fixture $prefix* under $tmp"))
      spark.read.parquet(f.getAbsolutePath)
        .as[MultimodalOps.MediaRow](org.apache.spark.sql.Encoders.product[MultimodalOps.MediaRow])
    }
    def oldMm10(): DataFrame = {
      val vh = MultimodalOps.videoHash64(
          MultimodalOps.videoKeyframeHashes(
            MultimodalOps.videoGrayRasters(rows)))
        .select(col("id"), col("hi"), col("lo"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      vh.count()
      val eh = MultimodalOps.videoAudioFeatures(rows).toDF()
        .select(col("id"), MultimodalOps.energyHash64(col("windowRms")).as("_eh"))
        .select(col("id"), col("_eh.hi").as("hi"), col("_eh.lo").as("lo"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      eh.count()
      MultimodalOps.avNearDups(vh, eh)
    }
    def newMm10(): DataFrame =
      SparkEntry.queries("mm10_av_neardups")(spark, sfDir)

    def rep(label: String)(mk: () => DataFrame): Unit = {
      cpuNs.set(0)
      val t0 = System.nanoTime()
      val n = mk().count()
      val s = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      Thread.sleep(300)
      println(f"[ab] $label wall $s%.2f s cpu ${cpuNs.get / 1e9}%.1f s rows $n")
    }
    rep("warmup")(() => newMm10())
    for (i <- 1 to 3) {
      rep(s"old_$i")(() => oldMm10())
      rep(s"new_$i")(() => newMm10())
    }
    spark.stop()
  }
}
