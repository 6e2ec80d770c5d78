package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM, built once). */
object TestSession {
  lazy val spark: SparkSession = {
    val wh = java.nio.file.Files.createTempDirectory("graft-warehouse").toString
    val s = GraftSession.builder()
      // bucketed-table tests saveAsTable; keep the warehouse + metastore out of
      // the repo working tree
      .config("spark.sql.warehouse.dir", wh)
      .config("javax.jdo.option.ConnectionURL",
        s"jdbc:derby:;databaseName=$wh/metastore_db;create=true")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark
  def approx(a: Double, b: Double, tol: Double = 1e-9): Boolean = math.abs(a - b) <= tol
}
