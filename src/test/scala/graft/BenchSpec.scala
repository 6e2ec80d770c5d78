package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.broadcast

/** `Bench.run` at sf0.001: the per-query record is filled from the rep it
  * belongs to, counts the plan behind a cached relation once and the station
  * containers a query wrote and read, and a query that throws is reported as
  * failed. */
class BenchSpec extends SparkSpec {
  private type Query = (SparkSession, String) => DataFrame

  // One rep each, in name order, so `k_one_job` runs right after j1. The slow
  // listener holds back every later event on the shared listener queue: a
  // record taken without waiting for the queue would put j1's late events in
  // k_one_job's rep.
  private lazy val results: Map[String, Bench.Result] = {
    val slow = new SparkListener {
      override def onJobEnd(e: SparkListenerJobEnd): Unit = Thread.sleep(100)
    }
    spark.sparkContext.addSparkListener(slow)
    try Bench.run(spark, "/root/testdata/sf0.001",
      Map[String, Query](
        "j1_revenue_by_nation" -> SparkEntry.queries("j1_revenue_by_nation"),
        "k_one_job" -> ((s, _) => s.range(0, 5, 1, 1).toDF()),
        "p_pinned_join" -> ((s, _) => {
          val joined = s.range(0, 100).toDF("k")
            .join(broadcast(s.range(0, 50).toDF("k")), "k").persist()
          joined.union(joined)
        }),
        "s27_nc_publish" -> SparkEntry.queries("s27_nc_publish"),
        "z_throws" -> ((_, _) => throw new IllegalStateException("injected"))),
      reps = 1).map(r => r.name -> r).toMap
    finally spark.sparkContext.removeSparkListener(slow)
  }

  test("j1's record counts its CPU, jobs, stages, exchanges and broadcast joins") {
    val j1 = results("j1_revenue_by_nation")
    assert(j1.error.isEmpty)
    val d = j1.detail
    assert(d.cpuS > 0 && d.jobs >= 1 && d.stages >= 1 && d.exchanges >= 1 && d.bhj >= 1, d)
    assert(j1.plan.contains("BroadcastHashJoin"), j1.plan)
  }

  test("a query that throws is reported as an error, not as a fast success") {
    val z = results("z_throws")
    assert(z.error.contains("IllegalStateException"))
    assert(z.plan.startsWith("(failed"), z.plan)
  }

  test("a rep's record holds no events of the rep before it") {
    val k = results("k_one_job")
    assert(k.error.isEmpty)
    val d = k.detail
    assert(d.jobs == 1 && d.stages == 1 && d.exchanges == 0 && d.bhj == 0 && d.smj == 0, d)
  }

  test("a cached join read twice is counted once") {
    val p = results("p_pinned_join")
    assert(p.error.isEmpty)
    assert(p.detail.bhj == 1, p.detail)
    assert(p.plan.contains("InMemoryTableScan"), p.plan)
  }

  test("s27's record counts its station sink and scan with their metrics") {
    val s27 = results("s27_nc_publish")
    assert(s27.error.isEmpty)
    val d = s27.detail
    assert(d.containerSinks == 1 && d.containerScans == 1, d)
    // the events source's round-robin split and the sink's station shuffle; the
    // key-grouped read-back, the rep's last plan, adds none
    assert(d.exchanges == 2, d)
    assert(s27.plan.contains("StationScan") && !s27.plan.contains("Exchange"), s27.plan)
    val m = d.containerMetrics
    assert(m("containersWritten") > 0 && m("containersRead") == m("containersWritten"), m)
    assert(m("bytesWritten") > 0 && m("bytesRead") == m("bytesWritten"), m)
    assert(m("encodeNs") > 0 && m("decodeNs") > 0, m)
    // the scan decodes a container on its first row, after Spark takes the task's
    // input-bytes baseline, so the record's input counts the container bytes
    assert(d.inputMb > 0 && d.inputMb * 1048576 >= m("bytesRead"), (d.inputMb, m))
  }

  test("the per-query map goes to stdout in queries_part lines of at most 1.5 KB") {
    import org.json4s._
    import org.json4s.jackson.JsonMethods.parse
    val queries = (1 to 199).map(i =>
      f"q$i%03d_${"x" * (i % 37)}" -> (JDecimal(BigDecimal(i) / 7): JValue))
    val lines = Bench.queryParts(queries)
    assert(lines.size > 1)
    lines.foreach(l => assert(l.getBytes("UTF-8").length <= 1536, l))
    val parsed = lines.map(parse(_))
    assert(parsed.map(p => (p \ "metric", p \ "i", p \ "of")) ==
      lines.indices.map(i => (JString("queries_part"), JInt(i + 1), JInt(lines.size))))
    val merged = parsed.flatMap(p => (p \ "queries").asInstanceOf[JObject].obj)
    assert(merged.map(_._1) == queries.map(_._1))
    assert(merged.map(_._2.values.toString.toDouble) ==
      queries.map(_._2.values.toString.toDouble))
    assert(Bench.queryParts(Nil) == Seq("""{"metric":"queries_part","i":1,"of":1,"queries":{}}"""))
  }
}
