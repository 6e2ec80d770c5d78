package graft.kernels

import graft.SparkSpec

class KernelsSpec extends SparkSpec {

  test("Butterworth coefficients match scipy.signal.butter(1, fc, 'lp', fs)") {
    // pinned from the bilinear-transform closed form at the reference's frequencies:
    // fs = 1/3600 Hz (hourly), fc = 1/(3600*24*365/30) Hz (one month)
    val c = Butterworth.coeffs(Butterworth.OneMonthCutoffHz, 1.0 / 3600.0)
    assert(approx(c.b0, 0.010644763949835436, 1e-15))
    assert(approx(c.b1, 0.010644763949835436, 1e-15))
    assert(approx(c.a1, -0.97871047210032913, 1e-15))
  }

  // one series through Butterworth.lowPass: hourly-spaced times, sampling
  // frequency 1 / freqS Hz, outputs in time order
  private def lowPassSeries(xs: Seq[Double], freqS: Double, cutFreq: Double): Seq[Double] = {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    implicit val s = spark
    val df = xs.zipWithIndex.map { case (v, i) => (i.toLong * 3600, v) }.toDF("tsec", "v")
      .withColumn("k", lit("s"))
      .withColumn("t", col("tsec").cast("timestamp"))
      .withColumn("freq_s", lit(freqS))
    Butterworth.lowPass(df, Seq("k"), "t", "v", "freq_s", "lp", cutFreq)
      .orderBy("tsec").select("lp").as[Double].collect().toSeq
  }

  test("Butterworth filter matches pinned sosfilt output") {
    val xs = (0 until 20).map(i => math.sin(i * 0.7) + i * 0.1)
    val want = Seq(0.0, 0.007922021608, 0.028294219666, 0.052692770769, 0.071776831052,
      0.079660888888, 0.076662463498, 0.069132854463, 0.066450534051, 0.076591227919,
      0.102358135603, 0.140045268368, 0.181162549045, 0.21641132417, 0.240040534832,
      0.252534763087, 0.260369915942, 0.272951444947, 0.298175097122, 0.338698038154)
    val got = lowPassSeries(xs, 3600.0, Butterworth.OneMonthCutoffHz)
    assert(got.length == want.length)
    got.zip(want).foreach { case (a, b) => assert(approx(a, b, 1e-9)) }
  }

  test("Butterworth low-pass attenuates high frequency, passes DC") {
    // fc = 0.01 Hz at fs = 1 Hz, well below Nyquist
    val dc = lowPassSeries(Seq.fill(2000)(1.0), 1.0, 0.01).last
    assert(approx(dc, 1.0, 1e-3)) // DC gain ~1
    val hf = (0 until 2000).map(i => if (i % 2 == 0) 1.0 else -1.0)
    val hfOut = lowPassSeries(hf, 1.0, 0.01).drop(1000)
    assert(hfOut.length == 1000)
    assert(hfOut.forall(v => math.abs(v) < 0.05)) // Nyquist-rate signal killed
  }

  test("Butterworth.lowPass streams per-series state independently") {
    import spark.implicits._
    implicit val s = spark
    val base = (0 until 50).flatMap { i =>
      Seq(("a", i.toLong * 3600, 1.0), ("b", i.toLong * 3600, -1.0))
    }
    val df = base.toDF("k", "tsec", "v")
      .withColumn("t", org.apache.spark.sql.functions.col("tsec").cast("timestamp"))
      .withColumn("freq_s", org.apache.spark.sql.functions.lit(3600.0))
    val out = Butterworth.lowPass(df, Seq("k"), "t", "v", "freq_s", "lp")
    val byKey = out.groupBy("k").agg(org.apache.spark.sql.functions.max("lp").as("mx"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(byKey("a") > 0 && byKey("b") < 0) // no state bleed between groups
    assert(out.count() == 100)
  }

  test("GaussGapScan flags left-tail values beyond a distribution gap") {
    // tight cluster at 0 plus far outliers at +8/-8 with an empty gap between
    val vals = (Array.fill(200)(0.1) ++ Array.fill(200)(-0.1) ++
      Array(8.0, 8.1, -8.0)).map(_ * 1.0)
    val idx = GaussGapScan.flagOutliers(vals, binSize = 0.25)
    val flaggedVals = idx.map(vals).toSet
    // left tail: red threshold is max(red bins) = the INNERMOST left red bin, so
    // everything at or below it is flagged
    assert(flaggedVals.contains(-8.0))
    // right tail: the reference compares against right_bad_bins.max() — the OUTERMOST
    // red bin (qaqc_climatological_outlier.py:289-291) — so right-tail values below the
    // outermost bin edge escape the red rule. Reference-faithful, asymmetric.
    assert(!flaggedVals.contains(8.0) && !flaggedVals.contains(8.1))
    assert(!flaggedVals.contains(0.1) && !flaggedVals.contains(-0.1))
  }

  test("GaussGapScan yellow-flags right-tail values before the gap") {
    // a contiguous non-empty tail outside the central region stays yellow (flag 0)
    // until the first empty bin; series >= min(yellow bins) is flagged 26
    val cluster = Array.fill(400)(0.0) ++ Array.fill(200)(0.3) ++ Array.fill(200)(-0.3)
    val tail = (2 to 12).flatMap(i => Array.fill(2)(i * 0.25)).toArray // 0.5 .. 3.0 contiguous
    val vals = cluster ++ tail
    val idx = GaussGapScan.flagOutliers(vals, binSize = 0.25)
    val flaggedVals = idx.map(vals).toSet
    assert(flaggedVals.contains(3.0))
    assert(!flaggedVals.contains(0.0))
  }

  test("GaussGapScan bypasses tiny groups") {
    assert(GaussGapScan.flagOutliers(Array(1.0, 2.0, 50.0), binSize = 0.25).isEmpty)
  }

  test("Butterworth passes null values through with a null output") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    implicit val sp = spark
    val df = Seq(
      ("a", 1L, Some(1.0), 3600.0), ("a", 2L, None, 3600.0), ("a", 3L, Some(2.0), 3600.0))
      .toDF("k", "t", "v", "freq_s")
      .withColumn("t", col("t").cast("timestamp"))
    val out = Butterworth.lowPass(df, Seq("k"), "t", "v", "freq_s", "lp")
    assert(out.count() == 3)
    val nullRow = out.filter(col("v").isNull).select("lp").collect()
    assert(nullRow.length == 1 && nullRow.head.isNullAt(0))
    // the kernel state skips the null row: filtered series is (1.0, 2.0)
    assert(out.filter(col("lp").isNotNull).count() == 2)
  }
}
