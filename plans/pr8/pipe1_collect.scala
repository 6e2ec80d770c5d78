// Final plan of pipe1 as a caller runs it: the report collected, not counted.
// Bench's timed count() lets column pruning reshape the union's total branch,
// so its plan dump does not show the reused flag exchange. Run with
//   SPARK_GRAFT_SF_DIR=<sf0.1 dir> PROBE_OUT=<out.txt> \
//     spark-shell --master local[4] --driver-class-path target/scala-2.13/classes -i pipe1_collect.scala
val s = graft.GraftSession.builder().getOrCreate()
val df = graft.SparkEntry.queries("pipe1_qaqc_e2e")(s, sys.env("SPARK_GRAFT_SF_DIR"))
df.collect()
val plan = df.queryExecution.executedPlan match {
  case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan.treeString
  case p => p.treeString
}
java.nio.file.Files.write(java.nio.file.Paths.get(sys.env("PROBE_OUT")), plan.getBytes("UTF-8"))
s.stop()
sys.exit(0)
