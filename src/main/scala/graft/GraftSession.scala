package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft `SparkSession` is configured. Every entry point
  * (`Bench`, `Verify`, the test session) starts from
  * [[builder]], adds only what is its own, and calls `getOrCreate()`. */
object GraftSession {

  /** Local core count: `SPARK_GRAFT_CPUS`, default 4. */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  /** A local session on [[cpus]] cores with one shuffle partition per core,
    * UTC session time, ANSI off (the oracle conventions assume non-ANSI casts)
    * with the non-legacy `size(null) = null`,
    * AQE on, nanosecond parquet timestamps read as longs (normalized by
    * [[SparkEntry.loadTable]]), the native [[graft.expr.GraftExtensions]]
    * functions, and no UI. */
  def builder(): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      // ANSI off would otherwise also bring back the legacy size(null) = -1;
      // the ops (and the test suite) assume size(null) = null
      .config("spark.sql.legacy.sizeOfNull", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.expr.GraftExtensions")
      .config("spark.ui.enabled", "false")
}
