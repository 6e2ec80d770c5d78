package graft


/** Dev utility: print formatted physical plans for selected queries so the
  * shuffle/broadcast/pushdown shape can be audited (`runMain graft.Explain q1 q2 …`;
  * no args = a representative set). */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (args.nonEmpty) args.toSeq
      else Seq("j1_revenue_by_nation", "p2_time_filter", "w6_spikes", "d2_minhash_neardups")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
