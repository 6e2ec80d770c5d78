package graft
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev probe (r16 optimization round, VERDICT r15 item 1): e10_bm25 regressed
  * 16.3 → 35-50 s at 100× between r14 and r15. This A/Bs the EXACT r14 query
  * shape against the current one in a single session (alternating reps), so
  * environment drift cancels and the responsible code delta can be bisected. */
object E10Ab {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/tmp/scale100")
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000).selectExpr("sum(id)").collect()

    import graft.text.TextOps.{tokens, tokenCount}
    val k = 3; val k1 = 1.2; val b = 0.75
    def docs = SparkEntry.loadTableFanout(spark, sfDir, "documents")
    def qs = docs.filter(col("doc_id") % 100 === 0 && col("doc_id") < 5000)
      .select(col("doc_id").as("qid"),
        concat_ws(" ", slice(tokens(lower(col("text"))), 1, 6)).as("qtext"))

    // parameterized r14→current shape: each delta toggleable for bisection
    def e10(eagerCount: Boolean, regexStats: Boolean, preContrib: Boolean): DataFrame = {
      val idCol = "doc_id"; val qidCol = "qid"
      val tk = tokens(lower(col("text")))
      val stats =
        (if (regexStats) docs.select(tokenCount(col("text")).cast("long").as("dl"))
         else docs.select(size(tk).cast("long").as("dl")))
          .filter(col("dl") > 0)
          .agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl"))
      val qterms = qs.select(col(qidCol),
        explode(array_distinct(tokens(lower(col("qtext"))))).as("term"))
      val pruned = docs.select(col(idCol), tk.as("_tk"))
        .select(col(idCol), size(col("_tk")).cast("long").as("dl"),
          explode(col("_tk")).as("term"))
        .join(broadcast(qterms.select(col("term")).distinct()), "term")
        .groupBy(col(idCol), col("dl"), col("term")).agg(count(lit(1)).as("tf"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      if (eagerCount) pruned.count()
      val dfreq = pruned.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col(qidCol)).orderBy(col("score").desc, col(idCol))
      val scored =
        if (preContrib) {
          val idf = dfreq.crossJoin(broadcast(stats))
            .withColumn("_idf",
              round(log(lit(1.0) +
                (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)), 6))
            .select(col("term"), col("_idf"), col("avgdl"))
          pruned.join(broadcast(idf), "term")
            .withColumn("_contrib",
              round(col("_idf") * col("tf") /
                (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("avgdl"))), 6)
                .cast("decimal(14,6)"))
            .select(col("term"), col(idCol), col("_contrib"))
            .join(broadcast(qterms), "term")
        } else {
          pruned.join(broadcast(qterms), "term")
            .join(broadcast(dfreq), "term")
            .crossJoin(broadcast(stats))
            .withColumn("_idf",
              round(log(lit(1.0) +
                (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)), 6))
            .withColumn("_contrib",
              round(col("_idf") * col("tf") /
                (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("avgdl"))), 6)
                .cast("decimal(14,6)"))
        }
      scored
        .groupBy(col(qidCol), col(idCol))
        .agg(sum(col("_contrib")).as("_s"))
        .withColumn("score", round(col("_s").cast("double"), 4))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .select(col(qidCol), col(idCol), col("score"), col("rank"))
    }

    def rep(label: String)(mk: () => DataFrame): Unit = {
      val t0 = System.nanoTime()
      mk().count()
      val s = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      println(f"[ab] $label $s%.2f s")
    }
    // warm the JVM on one throwaway pass, then alternate variants
    rep("warmup")(() => e10(false, false, false))
    for (i <- 1 to 3) {
      rep(s"old________$i")(() => e10(false, false, false))
      rep(s"eagerCount_$i")(() => e10(true, false, false))
      rep(s"regexStats_$i")(() => e10(false, true, false))
      rep(s"preContrib_$i")(() => e10(false, false, true))
      rep(s"allthree___$i")(() => e10(true, true, true))
    }
    spark.stop()
  }
}
