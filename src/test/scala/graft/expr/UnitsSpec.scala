package graft.expr

import graft.SparkSpec

/** §2.7 unit conversions against the reference's fixture values
  * (`/root/reference/data/test_dataset.csv` rows 1-2, mirrored from
  * `/root/reference/scripts/tests/test_unit_conversions.py:1-247`). */
class UnitsSpec extends SparkSpec {
  import spark.implicits._

  // (temp_c, temp_f, precip_in, wind_kts, wind_mph, press_hpa, press_kpa,
  //  press_inhg, moisture_gkg, elev_feet) — first two fixture rows
  private val rows = Seq(
    (36.0, 65.0, 15.0, 5.0, 1.0, 800.0, 0.01, 29.92, 15.0, 1500.0),
    (6.0, 89.0, 4.0, 15.0, 5.1, 1013.0, 0.5, 30.0, 9.0, -15.0))

  private def eval(c: org.apache.spark.sql.Column): Seq[Double] =
    rows.toDF("c", "f", "in", "kts", "mph", "hpa", "kpa", "inhg", "gkg", "ft")
      .select(c.as("x")).as[Double].collect().toSeq

  test("degC to K: +273.15") {
    assert(eval(Units.degCtoK($"c")) == rows.map(_._1 + 273.15))
  }
  test("degF to K: (5/9)(F-32)+273.15") {
    eval(Units.degFtoK($"f")).zip(rows.map(r => (5.0 / 9.0) * (r._2 - 32) + 273.15))
      .foreach { case (a, b) => assert(approx(a, b)) }
  }
  test("inches to mm: x25.4") {
    assert(eval(Units.inToMm($"in")) == rows.map(_._3 * 25.4))
  }
  test("mph to m/s: /2.237") {
    assert(eval(Units.mphToMs($"mph")) == rows.map(_._5 / 2.237))
  }
  test("hPa to Pa: x100") {
    assert(eval(Units.hpaToPa($"hpa")) == rows.map(_._6 * 100))
  }
  test("kPa to Pa: x1000") {
    assert(eval(Units.kpaToPa($"kpa")) == rows.map(_._7 * 1000))
  }
  test("inHg to Pa: x3386.39") {
    assert(eval(Units.inHgToPa($"inhg")) == rows.map(_._8 * 3386.39))
  }
  test("feet to m: x0.3048") {
    assert(eval(Units.ftToM($"ft")) == rows.map(_._10 * 0.3048))
  }
}
