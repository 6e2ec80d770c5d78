package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.cpus
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // untimed warm-up: session bring-up, codegen and parquet-footer costs otherwise
    // land on whichever query sorts first and distort its number
    try {
      spark.range(1000).selectExpr("sum(id)").collect()
      spark.read.parquet(s"$sfDir/nation.parquet").count()
    } catch { case _: Throwable => () }
    // (name, seconds, errorOrNull): failures are REPORTED, never silently folded
    // into the total as fast runs (round-1 bug: 9 crashed queries looked like 0.1s wins).
    // args, when given, select a query subset (scale smokes bench the heavy tail only).
    val selected =
      if (args.isEmpty) SparkEntry.queries
      else {
        val unknown = args.toSet -- SparkEntry.queries.keySet
        require(unknown.isEmpty, s"unknown queries: $unknown")
        SparkEntry.queries.view.filterKeys(args.toSet).toMap
      }
    // Repeat protocol (r7): each query runs `reps` times in-process with the Spark
    // cache cleared between runs, so rep 1 is "cold" (fresh plans + parquet footers,
    // but a warmed JVM) and later reps are "warm" (JIT + OS page cache). The headline
    // per-query number and total are the MIN across reps: a transient container-load
    // spike (r5's 142 s total, r6's d2x at 30 s — both untouched code) inflates one
    // rep, not all, so min-of-reps is the stable plan-cost signal, and the cold/warm
    // pair in the output makes noise adjudication mechanical instead of forensic.
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "2").toInt max 1
    val results = selected.toSeq.sortBy(_._1).map { case (name, fn) =>
      val runs = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        val err =
          try { fn(spark, sfDir).count(); None }
          catch { case e: Throwable => Some(e.getClass.getSimpleName) }
        val sec = (System.nanoTime() - t0) / 1e9
        // queries that pin intermediates (LSH signature tables, pipeline stages) must
        // not hold memory against later queries — each rep is timed self-contained
        spark.catalog.clearCache()
        (sec, err)
      }
      // min over SUCCESSFUL reps only: a rep that throws records its (short)
      // time-to-exception, which must not become the headline min for a query
      // that still counts as failed (ADVICE r7).
      val okMin = runs.filter(_._2.isEmpty).map(_._1).minOption.getOrElse(runs.map(_._1).min)
      (name, okMin, runs.head._1, runs.flatMap(_._2).headOption)
    }
    def jmap(kv: Seq[(String, Double)]): String =
      kv.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }.mkString("{", ",", "}")
    val qs = jmap(results.map { case (k, v, _, _) => k -> v })
    val cold = jmap(results.map { case (k, _, c, _) => k -> c })
    val errs = results.collect { case (k, _, _, Some(e)) => "\"" + k + "\":\"" + e + "\"" }
      .mkString("{", ",", "}")
    val nFailed = results.count(_._4.isDefined)
    val total = results.map(_._2).sum
    val totalCold = results.map(_._3).sum
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"cold":$cold,"total_cold":$totalCold,"reps":$reps,"errors":$errs,"failed":$nFailed,"sf":"$sfDir"}"""
    println(line)
    // r16 measurement-contract hardening (VERDICT r15 items 3/5, additions only —
    // the timing protocol above is untouched): the full line is ~6 KB at 198
    // queries and the driver's stdout-tail capture front-truncated it in BOTH
    // r14 and r15 (PERF_r15 "parsed": null despite rc=0). A second, compact
    // totals-only line fits any 4 KB tail so the headline survives truncation.
    println(s"""{"metric":"total","value":$total,"unit":"sec","reps":$reps,"failed":$nFailed,"n":${results.size},"cpus":$cpus,"sf":"$sfDir"}""")
    // ALSO persist the full per-query map: the driver's captured stdout tail has
    // truncated mid-JSON before (BENCH_r10 parsed: null), which made round-over-
    // round per-query diffs depend on BASELINE.md prose instead of an artifact.
    // r16: default filename is keyed on the core count so the driver's 32-core
    // and 8-core runs no longer overwrite each other (bench_last.json kept as a
    // compat copy; SPARK_GRAFT_BENCH_OUT still overrides).
    def writeOut(path: String): Unit =
      try {
        java.nio.file.Files.write(java.nio.file.Paths.get(path),
          line.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      } catch { case e: Exception => System.err.println(s"$path write failed: $e") }
    sys.env.get("SPARK_GRAFT_BENCH_OUT") match {
      case Some(out) => writeOut(out)
      case None => writeOut(s"bench_${cpus}c.json"); writeOut("bench_last.json")
    }
    spark.stop()
    if (nFailed > 0) sys.exit(1)
  }
}
