package graft.expr

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** §2.7 derived variables against the reference formulas and fixture values
  * (mirrors `/root/reference/scripts/tests/test_derived_variables.py:1-149`). */
class DeriveSpec extends SparkSpec {
  import spark.implicits._

  // fixture rows: (temp_k, dewpoint_temp_k, hurs, u10, v10, psl_pa, alt_pa, elev_m, vapor_pres_pa)
  private val rows = Seq(
    (309.15, 295.0, 1.5, 5.5, 5.5, 101325.0, 100000.0, 100.0, 320.0),
    (279.15, 271.0, 91.0, -1.6, -4.0, 101300.0, 78000.0, 0.5, 180.0))

  private def df = rows.toDF("tas", "tdps", "hurs", "u", "v", "psl", "alt", "elev", "evap")

  private def es(t: Double) = 0.611 * math.exp(5423.0 * (1.0 / 273.0 - 1.0 / t))

  test("dewpoint from tas+hurs (opt1)") {
    val got = df.select(Derive.dewpointFromTasHurs($"tas", $"hurs").as("x")).as[Double].collect()
    val want = rows.map { r =>
      val e = es(r._1) * r._3 / 100.0
      1.0 / (1.0 / 273.0 - 0.0001844 * math.log(e / 0.611))
    }
    got.zip(want).foreach { case (a, b) => assert(approx(a, b, 1e-9)) }
  }

  test("dewpoint from vapor pressure (opt2)") {
    val got = df.select(Derive.dewpointFromVaporPressure($"evap").as("x")).as[Double].collect()
    val want = rows.map(r => 1.0 / (1.0 / 273.0 - 0.0001844 * math.log(r._9 / 0.611)))
    got.zip(want).foreach { case (a, b) => assert(approx(a, b, 1e-9)) }
  }

  test("relative humidity from tas+tdps") {
    val got = df.select(Derive.relhumid($"tas", $"tdps").as("x")).as[Double].collect()
    val want = rows.map(r => 100.0 * es(r._2) / es(r._1))
    got.zip(want).foreach { case (a, b) => assert(approx(a, b, 1e-9)) }
  }

  test("relhumid and dewpoint are mutually consistent") {
    // tdps(tas, relhumid(tas, tdps)) ≈ tdps — round trip within formula error
    val got = df.select(
      Derive.dewpointFromTasHurs($"tas", Derive.relhumid($"tas", $"tdps")).as("x"))
      .as[Double].collect()
    got.zip(rows.map(_._2)).foreach { case (a, b) => assert(approx(a, b, 0.5)) }
  }

  test("station pressure from sea-level pressure") {
    val got = df.select(Derive.psFromPsl($"psl", $"elev", $"tas").as("x")).as[Double].collect()
    val want = rows.map(r =>
      r._6 / math.pow(1.0 - (0.0065 * r._8) / (r._1 + 0.0065 * r._8), -5.257))
    got.zip(want).foreach { case (a, b) => assert(approx(a, b, 1e-6)) }
  }

  test("station pressure from altimeter") {
    val got = df.select(Derive.psFromAltimeter($"alt", $"elev").as("x")).as[Double].collect()
    val want = rows.map { r =>
      val altInHg = r._7 / 3386.39
      altInHg * math.pow((288.0 - 0.0065 * r._8) / 288.0, 5.2561) * 3386.39
    }
    got.zip(want).foreach { case (a, b) => assert(approx(a, b, 1e-6)) }
  }

  test("synergistic flag 38 iff any input flagged") {
    val d = Seq((Some(11), None: Option[Int]), (None, Some(20)), (None, None))
      .toDF("f1", "f2")
    val got = d.select(Derive.synergisticFlag($"f1", $"f2").as("x"))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getInt(0)))
    assert(got.toSeq == Seq(Some(38), Some(38), None))
  }
}
