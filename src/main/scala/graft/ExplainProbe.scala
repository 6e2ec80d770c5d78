package graft

/** Plan-audit probe (dev tool, the SCALE.md plan-shape evidence): prints the
  * executed plan's exchange/join profile for the named queries (args; default
  * = the r14 multimodal additions) at sf0.001, so a shuffle that doesn't
  * belong — an un-broadcast small side, a lost cache reuse — is visible
  * without reading full explain output. */
object ExplainProbe {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // data dir: SPARK_GRAFT_SF_DIR or a leading arg that IS a directory
    // (ADVICE r14: a '/'-heuristic misrouted relative dirs like 'testdata'
    // into the query list — an actual isDirectory check can't)
    val (dir, qArgs) = args.toSeq match {
      case head +: tail if new java.io.File(head).isDirectory => (head, tail)
      case other =>
        (sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001"), other)
    }
    val qs = if (qArgs.nonEmpty) qArgs
      else Seq("mm6_video_neardups", "pipe7_video_curation", "mm7_audio_neardups")
    qs.foreach { q =>
      val df = SparkEntry.queries(q)(spark, dir)
      val plan = df.queryExecution.executedPlan.toString
      val exchanges = "Exchange".r.findAllIn(plan).length
      val bhj = "BroadcastHashJoin".r.findAllIn(plan).length
      val smj = "SortMergeJoin".r.findAllIn(plan).length
      println(s"=== $q: exchanges=$exchanges broadcastJoins=$bhj sortMergeJoins=$smj")
      println(plan.split("\n").filter(l =>
        l.contains("Exchange") || l.contains("Join")).mkString("\n"))
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
