package graft
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.text.TextOps

/** Dev probe (r16, VERDICT r15 item 6): pipe5's r15 chunk-corpus persist was
  * never cleanly A/B'd (the claimed 1.80 s appears in no committed artifact;
  * both committed post-opt suites showed pipe5 SLOWER). Alternates the three
  * candidate shapes solo: no persist (r14), lazy persist, persist + eager
  * count (current), at whatever $SPARK_GRAFT_SF_DIR points to. */
object Pipe5Ab {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/tmp/scale100")
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000).selectExpr("sum(id)").collect()

    def pipe5(mode: String): DataFrame = {
      val docs = SparkEntry.loadTableFanout(spark, sfDir, "documents")
      val chunks0 = TextOps.chunkBySentences(
          docs.withColumn("text2",
            regexp_replace(col("text"), "\\btable\\b", "table.")),
          "doc_id", "text2", maxTokens = 32)
        .select(concat(col("doc_id").cast("string"), lit("#"),
          col("chunk_id").cast("string")).as("cid"), col("chunk_text"))
      val chunks = mode match {
        case "nopersist" => chunks0
        case "lazy" =>
          chunks0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        case "eager" =>
          val c = chunks0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          c.count(); c
      }
      val qs = docs.filter(col("doc_id") % 100 === 0 && col("doc_id") < 5000)
        .select(col("doc_id").as("qid"),
          concat_ws(" ",
            slice(TextOps.tokens(lower(col("text"))), 7, 5)).as("qtext"))
      TextOps.bm25Retrieve(chunks, "cid", "chunk_text", qs, "qid", "qtext", k = 3)
    }
    def rep(label: String)(mk: () => DataFrame): Unit = {
      val t0 = System.nanoTime()
      mk().count()
      val s = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      println(f"[ab] $label $s%.2f s")
    }
    rep("warmup")(() => pipe5("eager"))
    for (i <- 1 to 3) {
      rep(s"nopersist_$i")(() => pipe5("nopersist"))
      rep(s"lazy______$i")(() => pipe5("lazy"))
      rep(s"eager_____$i")(() => pipe5("eager"))
    }
    spark.stop()
  }
}
