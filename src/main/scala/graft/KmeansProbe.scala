package graft

import org.apache.spark.sql.functions._

/** k-means trainer probe (dev tool, the SCALE.md evidence for VERDICT r14
  * #3): times ONE training iteration of the literal-centroid
  * [[graft.ann.AnnOps.kmeansTrain]] against the table-form
  * [[graft.ann.AnnOps.kmeansTrainTable]] at a given (n, dim, k), and reports
  * the literal plan's serialized-literal footprint (k x dim doubles embedded
  * per stage) vs the table form's broadcast — the quantity that kills plan
  * analysis at SemDeDup's k = ceil(sqrt(n)) policy long before data does.
  * Usage: runMain graft.KmeansProbe [k] [n] [dim] [skipLiteral] */
object KmeansProbe {
  def main(args: Array[String]): Unit = {
    val k = args.headOption.map(_.toInt).getOrElse(4500)
    val n = args.lift(1).map(_.toInt).getOrElse(20000)
    val dim = args.lift(2).map(_.toInt).getOrElse(32)
    val skipLiteral = args.lift(3).contains("skipLiteral")
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    // deterministic synthetic corpus (md5-derived, aperiodic)
    val vecs = spark.range(n).select(col("id"),
        transform(sequence(lit(0), lit(dim - 1)), j =>
          conv(substring(md5(concat(col("id"), lit(":"), j)), 1, 6), 16, 10)
            .cast("double") / 1e7).as("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    vecs.count()
    val initDf = vecs.filter(col("id") < k)
      .select(col("id").cast("int").as("cid"), col("v").as("centroid"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    initDf.count()
    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1e9)
    }
    val (_, tTab) = time {
      graft.ann.AnnOps.kmeansTrainTable(vecs, "id", "v", initDf, dim, iters = 1)
        .agg(sum(element_at(col("centroid"), 1))).head
    }
    println(f"table:   k=$k n=$n dim=$dim 1 iter = $tTab%.1f s " +
      s"(centroids ride ONE ${k * dim * 8 / 1024} KiB broadcast)")
    if (!skipLiteral) {
      val init = initDf.orderBy("cid").collect().map(_.getSeq[Double](1).toSeq).toSeq
      val (_, tLit) = time {
        graft.ann.AnnOps.kmeansTrain(vecs, "v", init, iters = 1)
      }
      println(f"literal: k=$k n=$n dim=$dim 1 iter = $tLit%.1f s " +
        s"(${k * dim * 8 / 1024} KiB of literals re-analyzed and shipped per stage)")
    }
    spark.stop()
  }
}
