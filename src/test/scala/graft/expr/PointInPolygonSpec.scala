package graft.expr

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.ops.CleanOps

class PointInPolygonSpec extends SparkSpec {
  import spark.implicits._

  // non-convex "arrow" polygon: membership depends on the crossing count, so a
  // bbox-only implementation would fail these cases
  private val arrow = Seq((0.0, 0.0), (4.0, 0.0), (4.0, 4.0), (0.0, 4.0), (2.0, 2.0))

  /** Ray-casting membership (`qaqc_wholestation.py:231-267`) as a plain Scala
    * predicate: the parity reference for the native expression. */
  private def pointInPolygon(poly: Seq[(Double, Double)]): (Double, Double) => Boolean = {
    val xs = poly.map(_._1).toArray
    val ys = poly.map(_._2).toArray
    (px: Double, py: Double) => {
      var inside = false
      var j = xs.length - 1
      var i = 0
      while (i < xs.length) {
        if ((ys(i) > py) != (ys(j) > py) &&
          px < (xs(j) - xs(i)) * (py - ys(i)) / (ys(j) - ys(i)) + xs(i)) inside = !inside
        j = i; i += 1
      }
      inside
    }
  }

  test("native expression agrees with the scalar kernel on a non-convex polygon") {
    val pts = for (xi <- -4 to 20; yi <- -4 to 20) yield (xi * 0.25, yi * 0.25)
    val truth = pointInPolygon(arrow)
    val got = pts.toDF("x", "y")
      .withColumn("in", PointInPolygon.expr(col("x"), col("y"), arrow))
      .as[(Double, Double, Boolean)].collect()
    got.foreach { case (x, y, in) =>
      assert(in == truth(x, y), s"($x,$y): native=$in kernel=${truth(x, y)}")
    }
    // sanity anchors: notch points excluded, wing points included
    val m = got.map { case (x, y, in) => (x, y) -> in }.toMap
    assert(!m((1.0, 2.0)))  // inside the notch
    assert(m((0.5, 3.75)))  // upper wing
    assert(m((3.0, 2.0)))   // body
  }

  test("null inputs yield null (nullIntolerant)") {
    val df = Seq((Some(1.0), Some(1.0)), (None, Some(1.0)), (Some(1.0), None))
      .toDF("x", "y")
      .select(PointInPolygon.expr(col("x"), col("y"), arrow).as("in"))
    assert(df.collect().map(r => Option(r.get(0))).toSeq ==
      Seq(Some(true), None, None))
  }

  test("SQL function is registered by GraftExtensions and folds literal vertices") {
    val out = spark.sql(
      """SELECT graft_point_in_polygon(x, y,
        |         array(0.0D, 4.0D, 4.0D, 0.0D, 2.0D),
        |         array(0.0D, 0.0D, 4.0D, 4.0D, 2.0D)) AS isin
        |FROM VALUES (3.0D, 2.0D), (1.0D, 2.0D), (9.0D, 9.0D) AS t(x, y)
        |""".stripMargin).as[Boolean].collect().toSeq
    assert(out == Seq(true, false, false))
  }

  test("filterInPolygon composes bbox prefilter with the native expression") {
    val df = Seq((3.0, 2.0), (1.0, 2.0), (99.0, 99.0)).toDF("lon", "lat")
    val kept = CleanOps.filterInPolygon(df, "lon", "lat", arrow)
      .as[(Double, Double)].collect().toSeq
    assert(kept == Seq((3.0, 2.0)))
  }
}
