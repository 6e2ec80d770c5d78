package graft.multimodal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Stage decomposition for mm5's 100× wall-clock (r13): where do the ~23 s
  * go — parquet payload scan, AVI container walk, JPEG decode + raster,
  * dHash, or the keyframe window? Run SOLO:
  * `SPARK_GRAFT_SF_DIR=/tmp/scale100 sbt "Test/runMain graft.multimodal.Mm5Probe"`.
  * Findings land in SCALE.md. */
object Mm5Probe {
  def main(args: Array[String]): Unit = {
    implicit val spark: SparkSession = graft.GraftSession.builder()
      .config("spark.driver.memory", sys.env.getOrElse("SPARK_DRIVER_MEM", "8g"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val dir = sys.env("SPARK_GRAFT_SF_DIR")
    // same cache file the mm5 query uses (must already exist from a bench run)
    val digest = {
      val r = graft.SparkEntry.loadTable(spark, dir, "documents").agg(
        count(lit(1)),
        coalesce(sum(col("doc_id").cast("long")), lit(0L)),
        coalesce(min(col("doc_id").cast("long")), lit(0L)),
        coalesce(max(col("doc_id").cast("long")), lit(0L))).head()
      s"${r.getLong(0)}_${java.lang.Long.toHexString(r.getLong(1))}" +
        s"_${r.getLong(2)}_${r.getLong(3)}"
    }
    val cache = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_mm5_avi_v1_${math.abs(dir.hashCode)}_$digest.parquet")
    require(cache.exists(), s"run the mm5 bench once first: $cache")

    def rows = spark.read.parquet(cache.getAbsolutePath)
      .as[MultimodalOps.MediaRow]
    def frames = VideoReference.sampleVideoFrames(rows)
      .map { case (id, idx, f) => MultimodalOps.MediaRow(id * 16 + idx, "image", f, Map.empty) }
    def gray = MultimodalOps.imageGrayRaster(frames)

    def t(label: String)(f: => Long): Unit = {
      val t0 = System.nanoTime(); val n1 = f
      val t1 = System.nanoTime(); val n2 = f
      val t2 = System.nanoTime()
      println(f"$label%-28s cold ${(t1 - t0) / 1e9}%7.2f s  warm ${(t2 - t1) / 1e9}%7.2f s  (n=$n1,$n2)")
    }
    t("scan payloads (count)")(rows.count() + rows.count() - rows.count())
    t("scan payloads (sum len)")(
      rows.toDF().select(sum(length(col("payload")))).head().getLong(0))
    t("+ container walk (frames)")(frames.count())
    t("+ jpeg decode + raster")(
      gray.select(sum(element_at(col("gray"), 1))).head().getLong(0))
    t("+ dHash")(
      gray.select(MultimodalOps.dHash(col("gray")).as("d"))
        .select(sum(col("d.lo"))).head().getLong(0))
    t("full mm5 (keyframes)")(
      graft.QueriesLlm.queries("mm5_video_keyframes")(spark, dir)
        .agg(sum(col("is_keyframe"))).head().getLong(0))
    spark.stop()
  }
}
