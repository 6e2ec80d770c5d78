package graft.ops

import java.sql.Timestamp
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, Row}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSpec
import graft.kernels.Butterworth

/** The series-scan kernels against the window forms they replace
  * ([[WindowSeriesReference]]): over seeded ScalaCheck-generated stations, every
  * output row and column is equal, doubles bit for bit. The stations mix null keys,
  * null values and times, rows already flagged invalid, gaps over 12 h, sparse months
  * (at or below `minDatapoints`), spikes next to the series ends and across month
  * boundaries, exact duplicate rows, `minValue` holes inside streaks, leading and
  * trailing nulls, and rows that share a time. */
class SeriesScanParitySpec extends SparkSpec {
  import spark.implicits._
  import SeriesScanParitySpec.Obs

  private val Seeds = Seq(11L, 12L, 13L)
  private val t0 = Timestamp.valueOf("2024-01-31 00:00:00").getTime

  private val gap: Gen[Long] = Gen.frequency(
    60 -> Gen.const(1L), 8 -> Gen.const(0L), 10 -> Gen.choose(2L, 12L),
    8 -> Gen.choose(13L, 60L), 4 -> Gen.choose(300L, 800L))

  /** One station: hourly-ish times from a start before a month end, a value shape
    * (noise, spikes, streaks) and per-row nulls and flags. A zero gap repeats the
    * previous row exactly unless `ties`, where it is a new row at the same time. */
  private def station(i: Int, ties: Boolean): Gen[Seq[Obs]] = for {
    key <- Gen.frequency(9 -> Gen.const(Some(s"s$i")), 1 -> Gen.const(None))
    n <- Gen.choose(0, 180)
    start <- Gen.choose(0L, 400L)
    gaps <- Gen.listOfN(n, gap)
    shape <- Gen.oneOf("noise", "spikes", "streaks")
    base <- Gen.listOfN(n, Gen.choose(0, 4))
    jumps <- Gen.listOfN(n, Gen.frequency(92 -> Gen.const(0.0),
      8 -> Gen.oneOf(-3000.0, -150.0, 120.0, 900.0)))
    runs <- Gen.listOfN(n, Gen.frequency(80 -> Gen.const(false), 20 -> Gen.const(true)))
    nulls <- Gen.listOfN(n, Gen.frequency(90 -> Gen.const(0), 4 -> Gen.const(1),
      3 -> Gen.const(2), 3 -> Gen.const(3)))
    flags <- Gen.listOfN(n, Gen.frequency(88 -> Gen.const(None),
      8 -> Gen.const(Some(23)), 4 -> Gen.const(Some(19))))
  } yield {
    var hour = -start
    var streak = 0.0
    val rows = scala.collection.mutable.ArrayBuffer.empty[Obs]
    (0 until n).foreach { j =>
      hour += gaps(j)
      if (gaps(j) == 0L && rows.nonEmpty && !ties) rows += rows.last
      else {
        if (runs(j)) streak = base(j).toDouble
        val v = shape match {
          case "noise" => base(j).toDouble
          case "spikes" => base(j).toDouble + jumps(j)
          case _ => streak
        }
        val time = Some(new Timestamp(t0 + hour * 3600000L))
        rows += (nulls(j) match {
          case 1 => Obs(key, time, None, flags(j), Some(3600.0))
          case 2 => Obs(key, None, Some(v), flags(j), Some(3600.0))
          case 3 => Obs(key, time, Some(v), flags(j), None)
          case _ => Obs(key, time, Some(v), flags(j), Some(3600.0))
        })
      }
    }
    rows.toSeq
  }

  /** Leading/trailing/interior null runs for interpolation, with shared times. */
  private def gappy(i: Int): Gen[Seq[Obs]] = for {
    n <- Gen.choose(0, 60)
    gaps <- Gen.listOfN(n, Gen.frequency(70 -> Gen.choose(1L, 3L), 15 -> Gen.const(0L),
      15 -> Gen.choose(5L, 48L)))
    vals <- Gen.listOfN(n, Gen.frequency(50 -> Gen.choose(-50.0, 50.0).map(Option(_)),
      50 -> Gen.const(Option.empty[Double])))
    nullTime <- Gen.listOfN(n, Gen.frequency(95 -> Gen.const(false), 5 -> Gen.const(true)))
  } yield {
    var hour = 0L
    (0 until n).map { j =>
      hour += gaps(j)
      Obs(Some(s"g$i"), if (nullTime(j)) None else Some(new Timestamp(t0 + hour * 3600000L)),
        vals(j), None, Some(3600.0))
    }
  }

  private def corpus(seed: Long, ties: Boolean): DataFrame = {
    val gen = Gen.sequence[Seq[Seq[Obs]], Seq[Obs]]((0 until 40).map(station(_, ties)) ++
      (0 until 20).map(gappy))
    val rows = gen.pureApply(Gen.Parameters.default, Seed(seed)).flatten
    rows.toDF().withColumnRenamed("flag", "v_eraqc")
  }

  /** Rows as comparable values, doubles by their bits; sorted, so the order of the
    * two plans does not matter. */
  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toSeq.map {
      case d: Double => java.lang.Double.doubleToLongBits(d).toString
      case null => "null"
      case x => x.toString
    }.mkString("|")).sorted

  private def assertSame(got: DataFrame, want: DataFrame, what: String): Unit = {
    assert(got.columns.toSeq == want.columns.toSeq, what)
    val (g, w) = (rowsOf(got), rowsOf(want))
    assert(g.size == w.size, s"$what: ${g.size} rows vs ${w.size}")
    val diff = g.diff(w)
    assert(diff.isEmpty, s"$what: ${diff.size} rows differ, e.g.\n" +
      diff.take(5).mkString("\n") + "\nwant e.g.\n" + w.diff(g).take(5).mkString("\n"))
  }

  test("spike kernel == window body, with the QAQC validity predicate and without") {
    Seeds.foreach { seed =>
      val df = corpus(seed, ties = false)
      Seq(5L, 20L).foreach { minDp =>
        val valid = CleanOps.validObs(col("v_eraqc")) && col("v").isNotNull
        assertSame(
          SpikeOps.body(df, Seq("station"), "time", "v", 6.0, minDp, valid, "_flag"),
          WindowSeriesReference.spikeBody(df, Seq("station"), "time", "v", 6.0, minDp,
            valid, "_flag"), s"body seed=$seed minDp=$minDp")
        val pub = SpikeOps.detectSpikes(df, Seq("station"), "time", "v", 6.0, minDp)
        val ref = WindowSeriesReference.spikeBody(df, Seq("station"), "time", "v", 6.0,
            minDp, lit(true), "spike")
          .filter(col("_kept"))
          .select((SeriesOps.keysFirst(df, Seq("station")) ++
            Seq(col("_d"), col("_dt_h"), col("_crit"), col("spike"))): _*)
        assertSame(pub, ref, s"detectSpikes seed=$seed minDp=$minDp")
        assert(pub.filter(col("spike")).count() > 0, "the corpus has spikes")
      }
    }
  }

  test("straight-streak kernel == window body, with and without minValue holes") {
    Seeds.foreach { seed =>
      val df = corpus(seed, ties = false)
      Seq((3L, 9999L, None, 3L), (6L, 0L, Some(1.0), 2L), (20L, 1L, Some(2.5), 4L))
        .foreach { case (nValues, nDays, minValue, minSeq) =>
          val valid = CleanOps.validObs(col("v_eraqc"))
          val what = s"seed=$seed n=$nValues d=$nDays m=$minValue s=$minSeq"
          assertSame(
            StreakOps.body(df, Seq("station"), "time", "v", nValues, nDays, minValue,
              minSeq, valid, "_flag"),
            WindowSeriesReference.streakBody(df, Seq("station"), "time", "v", nValues,
              nDays, minValue, minSeq, valid, "_flag"), s"body $what")
          val pub = StreakOps.straightRepeats(df, Seq("station"), "time", "v", nValues,
            nDays, minValue, minSeq)
          val ref = WindowSeriesReference.streakBody(df, Seq("station"), "time", "v",
              nValues, nDays, minValue, minSeq, lit(true), "straight_streak")
            .filter(col("_kept"))
            .select((SeriesOps.keysFirst(df, Seq("station")) :+ col("straight_streak")): _*)
          assertSame(pub, ref, s"straightRepeats $what")
          assert(pub.filter(col("straight_streak")).count() > 0, s"streaks flagged: $what")
        }
    }
  }

  test("interpolation and low-pass kernels == window / mapPartitions forms, ties included") {
    implicit val s = spark
    Seeds.foreach { seed =>
      val df = corpus(seed, ties = true).withColumnRenamed("freq", "freq_s")
      assertSame(SeriesOps.interpolateLinear(df, Seq("station"), "time", "v", "vi"),
        WindowSeriesReference.interpolateLinear(df, Seq("station"), "time", "v", "vi"),
        s"interpolateLinear seed=$seed")
      assertSame(Butterworth.lowPass(df, Seq("station"), "time", "v", "freq_s", "lp"),
        WindowSeriesReference.lowPass(df, Seq("station"), "time", "v", "freq_s", "lp"),
        s"lowPass seed=$seed")
    }
  }

  test("a 200k-row stuck sensor spills through the streak kernel and is flagged") {
    val spilled = new java.util.concurrent.atomic.AtomicLong
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m => spilled.addAndGet(m.memoryBytesSpilled))
    }
    val keys = Seq("spark.sql.windowExec.buffer.in.memory.threshold",
      "spark.sql.windowExec.buffer.spill.threshold")
    val before = keys.map(k => spark.conf.getOption(k))
    spark.conf.set(keys(0), "1024")
    spark.conf.set(keys(1), "4096")
    spark.sparkContext.addSparkListener(listener)
    try {
      val df = spark.range(0, 200000).select(lit("stuck").as("station"),
        (col("id") * 60).cast("timestamp").as("time"), lit(7.0).as("v"))
      val flagged = StreakOps.straightRepeats(df, Seq("station"), "time", "v",
          nValues = 20, nDays = 7)
        .filter(col("straight_streak")).count()
      assert(flagged == 200000L)
      GraftSqlBridge.drainListenerBus(spark.sparkContext)
      assert(spilled.get() > 0L, "the held streak spilled")
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      keys.zip(before).foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }
}

object SeriesScanParitySpec {
  final case class Obs(station: Option[String], time: Option[Timestamp], v: Option[Double],
                       flag: Option[Int], freq: Option[Double])
}
