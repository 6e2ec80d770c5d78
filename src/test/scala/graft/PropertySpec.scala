package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import graft.ops.{AggOps, CleanOps, SeriesOps}
import graft.dedup.DedupOps

/** SURVEY §5 property layer: order-insensitive invariants checked over generated
  * inputs — the properties the reference's regression-pinned pytest layer never had. */
class PropertySpec extends SparkSpec {
  // hand-rolled seeded property harness (scalatestplus isn't in the offline cache):
  // each property runs over `Trials` deterministic generated cases
  private val Trials = 5
  private def forAllSeeded[A](gen: scala.util.Random => A)(check: A => Unit): Unit =
    (0 until Trials).foreach { i => check(gen(new scala.util.Random(1000 + i))) }

  import spark.implicits._

  private def ts(i: Int): Timestamp = new Timestamp(1700000000000L + i * 60000L)

  private def seriesGen(rng: scala.util.Random): List[Double] =
    List.fill(5 + rng.nextInt(36))(rng.nextInt(6).toDouble)

  test("property: deaccumulate inverts running sums of non-negative increments") {
    forAllSeeded(r => List.fill(3 + r.nextInt(23))(r.nextDouble() * 20)) { incs =>
      val accum = incs.scanLeft(0.0)(_ + _).tail
      val df = accum.zipWithIndex.map { case (v, i) => ("k", ts(i), v) }.toDF("k", "t", "v")
      val got = SeriesOps.deaccumulate(df, Seq("k"), "t", "v",
          ringingThreshold = Some(Double.MaxValue))
        .orderBy("t").select("deacc").as[Double].collect().toList
      // first diff is 0 (reference fillna); the rest reproduce the increments
      got.zip(0.0 +: incs.tail).foreach { case (a, b) => assert(approx(a, b, 1e-9)) }
    }
  }

  test("property: exact dedup is idempotent and never increases rows") {
    val pool = Vector("a b c", "x y", "a  B c", "q r s t")
    forAllSeeded(r => List.fill(2 + r.nextInt(19))(pool(r.nextInt(pool.size)))) { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
      val once = DedupOps.exactDedup(df, "id", "text")
      val twice = DedupOps.exactDedup(once, "id", "text")
      assert(once.count() <= df.count())
      assert(twice.count() == once.count())
      // all surviving fingerprints are distinct
      val fps = once.select(graft.text.TextOps.fingerprint(col("text"))).as[String].collect()
      assert(fps.distinct.length == fps.length)
    }
  }

  test("property: histogram bin counts always sum to the row count") {
    forAllSeeded(seriesGen) { vals =>
      val df = vals.map(v => ("k", v)).toDF("k", "v")
      val hist = AggOps.histogram(df, Seq("k"), "v", origin = 0.0, width = 0.5)
      assert(hist.agg(sum("count")).head().getLong(0) == vals.length)
    }
  }

  test("property: interpolation preserves non-null values and fills only between them") {
    forAllSeeded(r => List.fill(4 + r.nextInt(22))(
      if (r.nextBoolean()) Some(r.nextDouble() * 100 - 50) else None)) { vals =>
      val df = vals.zipWithIndex.map { case (v, i) => ("k", ts(i), v) }.toDF("k", "t", "v")
      val got = SeriesOps.interpolateLinear(df, Seq("k"), "t", "v", "vi")
        .orderBy("t").select("vi").collect()
        .map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0))).toList
      vals.zip(got).foreach { case (orig, interp) =>
        orig.foreach(o => assert(interp.contains(o))) // originals untouched
      }
      val firstIdx = vals.indexWhere(_.isDefined)
      if (firstIdx > 0) assert(got.take(firstIdx).forall(_.isEmpty)) // leading nulls stay
      // interior values bounded by neighboring observed extremes
      val obs = vals.flatten
      if (obs.nonEmpty) got.flatten.foreach { v =>
        assert(v >= obs.min - 1e-9 && v <= obs.max + 1e-9)
      }
    }
  }

  test("property: validObs keeps yellow flags, drops red, keeps null") {
    val codes = Vector(10, 11, 19, 20, 23)
    forAllSeeded(r => List.fill(30)(
      if (r.nextBoolean()) Some(codes(r.nextInt(codes.size))) else None)) { flags =>
      val df = flags.zipWithIndex.map { case (f, i) => (i, f) }.toDF("id", "f")
      val kept = df.filter(CleanOps.validObs(col("f"))).select("id").as[Int].collect().toSet
      flags.zipWithIndex.foreach { case (f, i) =>
        val expectKeep = f.isEmpty || f.contains(19) || f.contains(20)
        assert(kept.contains(i) == expectKeep)
      }
    }
  }

  test("property: connected components match a driver-side union-find") {
    forAllSeeded { rnd =>
      val n = 2 + rnd.nextInt(29)
      val m = 1 + rnd.nextInt(40)
      (0 until m).map { _ =>
        val a = rnd.nextLong(n); var b = rnd.nextLong(n)
        while (b == a) b = rnd.nextLong(n)
        (a, b)
      }
    } { edges =>
      // reference: naive union-find with min-id roots (root == component minimum)
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = parent.keys.map(x => x -> find(x)).toMap
      val df = edges.toDF("id1", "id2")
      for (cc <- Seq(graft.dedup.DedupOps.connectedComponentsStar(df),
          graft.dedup.LabelPropagation.connectedComponents(df, maxIter = 40)))
        assert(cc.as[(Long, Long)].collect().toMap == expected)
    }
  }

  test("property: flag-33 sorted-neighbor min-gap == the reference's all-pairs rule") {
    // the op replaces an O(n^2) pairwise |difference| matrix with one sorted
    // window; this pins the equivalence on generated daily-total sets, including
    // duplicates and a planted far value
    forAllSeeded { rnd =>
      val n = 2 + rnd.nextInt(26) // <= 29 days, all inside one calendar month
      List.fill(n)((rnd.nextInt(12) * 4).toDouble) ++
        (if (rnd.nextBoolean()) List(500.0) else Nil) ++
        (if (rnd.nextInt(4) == 0) List(500.0) else Nil) // sometimes a twin far value
    } { totals =>
      val threshold = 200.0
      // reference semantics: day i flagged iff |v_i - v_j| > t for ALL j != i
      val brute = totals.zipWithIndex.collect { case (v, i)
        if totals.zipWithIndex.forall { case (o, j) => j == i || math.abs(v - o) > threshold } => i
      }.toSet
      val df = totals.zipWithIndex.map { case (v, i) =>
        // one obs per consecutive January day carries the total (grid = the days)
        ("s", Timestamp.valueOf(f"2024-01-${i + 1}%02d 06:00:00"), v)
      }.toDF("station", "time", "pr")
        .withColumn("pr_eraqc", org.apache.spark.sql.functions.lit(null).cast("int"))
      val got = AggOps.unusualGapsPrecipFlag(df, Seq("station"), "time", "pr", "pr_eraqc",
          threshold = threshold)
        .filter(col("pr_eraqc").isNotNull)
        .select("time").as[Timestamp].collect()
        .map(t => t.toLocalDateTime.getDayOfMonth - 1).toSet
      assert(got == brute, s"totals=$totals got=$got brute=$brute")
    }
  }

  test("property: flag-31 run detection == brute nonzero-sequence grouping") {
    // generated daily totals with deliberate repeats/zeros; brute model mirrors the
    // reference's shift-cumsum run grouping over the NONZERO-day subsequence
    forAllSeeded { rnd =>
      List.fill(2 + rnd.nextInt(27))(
        Seq(0.0, 2.0, 20.0, 20.0, 25.0)(rnd.nextInt(5)))
    } { totals =>
      val (mod, dayT) = (18.0, 3)
      val nz = totals.zipWithIndex.filter(_._1 > 0)
      val brute = scala.collection.mutable.Set.empty[Int]
      var i = 0
      while (i < nz.length) {
        var j = i
        while (j < nz.length && nz(j)._1 == nz(i)._1) j += 1
        if (j - i >= dayT && nz(i)._1 > mod) nz.slice(i, j).foreach(b => brute += b._2)
        i = j
      }
      val df = totals.zipWithIndex.map { case (v, d) =>
        ("s", Timestamp.valueOf(f"2024-01-${d + 1}%02d 06:00:00"), v)
      }.toDF("station", "time", "pr")
        .withColumn("pr_eraqc", org.apache.spark.sql.functions.lit(null).cast("int"))
      val got = AggOps.frequentPrecipFlag(df, Seq("station"), "time", "pr", "pr_eraqc",
          moderateThresh = mod, dayThresh = dayT)
        .filter(col("pr_eraqc").isNotNull)
        .select("time").as[Timestamp].collect()
        .map(_.toLocalDateTime.getDayOfMonth - 1).toSet
      assert(got == brute.toSet, s"totals=$totals got=$got brute=$brute")
    }
  }

  test("property: URL canonicalization is idempotent over generated messy URLs") {
    forAllSeeded { rnd =>
      (0 until 20).map { i =>
        val scheme = Seq("http", "HTTP", "https", "HTTPS")(rnd.nextInt(4))
        val www = if (rnd.nextBoolean()) "www." else ""
        val host = s"Host${rnd.nextInt(5)}.Example.com"
        val port = Seq("", ":80", ":443", ":8080")(rnd.nextInt(4))
        val path = Seq("", "/a", "/a/b", "/a/b/", "/a//")(rnd.nextInt(5))
        val params = scala.util.Random.shuffle(Seq("a=1", "b=2", "utm_source=x",
          "fbclid=y", "z=9").take(rnd.nextInt(5))).mkString("&")
        val query = if (params.isEmpty) "" else s"?$params"
        val frag = if (rnd.nextBoolean()) "#frag" else ""
        (i.toLong, s"$scheme://$www$host$port$path$query$frag")
      }
    } { urls =>
      val df = urls.toDF("id", "url")
      val once = df.select(col("id"),
        graft.text.TextOps.canonicalizeUrl(col("url")).as("c1"))
      val twice = once.select(col("id"),
        col("c1"), graft.text.TextOps.canonicalizeUrl(col("c1")).as("c2"))
        .as[(Long, String, String)].collect()
      // canonical form is a fixed point: re-canonicalizing changes nothing
      twice.foreach { case (id, c1, c2) => assert(c1 == c2, s"id=$id: $c1 != $c2") }
      // and never retains tracking params, fragments, or a www prefix (a non-
      // default port like https://h:80 is legitimately kept, so no port check)
      twice.foreach { case (_, c1, _) =>
        assert(!c1.contains("utm_") && !c1.contains("fbclid") && !c1.contains("#"))
        assert(!c1.contains("://www."))
      }
    }
  }

  test("property: single-pass gapInfill equals the grid/left-join model") {
    forAllSeeded { rng =>
      // 2 keys, sparse hour indices with gaps of 0-5 hours
      (for (k <- Seq("a", "b")) yield {
        var h = rng.nextInt(3)
        val hours = List.fill(2 + rng.nextInt(10)) { val cur = h; h += 1 + rng.nextInt(5); cur }
        hours.map(i => (k, new Timestamp(1700000000000L + i * 3600000L), rng.nextDouble()))
      }).flatten
    } { rows =>
      val hourly = rows.toDF("k", "hour_ts", "v")
      val got = SeriesOps.gapInfill(hourly, Seq("k"), "hour_ts")
        .select("k", "hour_ts", "v", "standardized_infill")
        .as[(String, Timestamp, Option[Double], String)].collect().toSet
      // brute model: full grid per key, left join back
      val obs = rows.map(r => (r._1, r._2) -> r._3).toMap
      val want = rows.groupBy(_._1).flatMap { case (k, rs) =>
        val lo = rs.map(_._2.getTime).min; val hi = rs.map(_._2.getTime).max
        (lo to hi by 3600000L).map { t =>
          val ts0 = new Timestamp(t)
          obs.get((k, ts0)) match {
            case Some(v) => (k, ts0, Some(v), "n")
            case None    => (k, ts0, None, "y")
          }
        }
      }.toSet
      assert(got == want)
    }
  }

  test("property: stationsOverTime equals the per-station clamped month model") {
    val floorD = java.time.LocalDate.parse("2020-01-01")
    val asOfD = java.time.LocalDate.parse("2020-11-20")
    forAllSeeded { rng =>
      (0 until (3 + rng.nextInt(8))).map { i =>
        val net = if (rng.nextBoolean()) "N1" else "N2"
        val start = java.time.LocalDate.parse("2019-06-01").plusDays(rng.nextInt(500))
        val end = start.plusDays(rng.nextInt(400))
        (net, java.sql.Date.valueOf(start),
          if (rng.nextInt(5) == 0) null else java.sql.Date.valueOf(end))
      }
    } { stns =>
      val df = stns.toDF("network", "start_date", "end_date")
      val got = graft.sources.StationLists
        .stationsOverTime(df, "2020-01-01", "2020-11-20")
        .as[(String, java.sql.Date, Long)].collect()
        .map(r => (r._1, r._2.toString) -> r._3).toMap
      val want = stns.flatMap { case (net, sd, ed) =>
        val s0 = Seq(sd.toLocalDate, floorD).max.withDayOfMonth(1)
        val e0 = Seq(Option(ed).map(_.toLocalDate).getOrElse(asOfD), asOfD)
          .min.withDayOfMonth(1)
        Iterator.iterate(s0)(_.plusMonths(1)).takeWhile(!_.isAfter(e0))
          .map(m => (net, m.toString))
      }.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      assert(got == want)
    }
  }

  test("property: line-frequency dedup equals the brute-force line model") {
    val lineDict = Vector("alpha beta", "gamma delta", "epsilon", "zeta eta", " ", "theta")
    forAllSeeded { rng =>
      (1 to 8).map(i =>
        (i.toLong, List.fill(1 + rng.nextInt(5))(lineDict(rng.nextInt(lineDict.size)))
          .mkString("\n")))
    } { docs =>
      val out = DedupOps.dedupLinesByFrequency(docs.toDF("id", "text"), "id", "text",
          minDocFreq = 2)
        .select("id", "text").as[(Long, String)].collect().toMap
      // brute-force model: normalized doc frequency per non-blank line
      def norm(l: String) = l.trim.toLowerCase.split("\\s+").filter(_.nonEmpty).mkString(" ")
      val docFreq = docs.flatMap { case (id, t) =>
        t.split("\n", -1).filter(_.trim.nonEmpty).map(l => (norm(l), id)).distinct
      }.groupBy(_._1).map { case (k, v) => k -> v.size }
      docs.foreach { case (id, t) =>
        val want = t.split("\n", -1)
          .filter(l => l.trim.isEmpty || docFreq(norm(l)) < 2).mkString("\n")
        assert(out(id) == want, s"doc $id")
      }
    }
  }

  test("property: c4Clean page verdict is consistent with its own kept-line count") {
    val lineDict = Vector(
      "A proper sentence with at least five words.",
      "short one.", "no terminal punctuation words here at all",
      "Uses javascript for the page to render today.",
      "Another proper sentence with enough words present.")
    forAllSeeded { rng =>
      (1 to 6).map(i =>
        (i.toLong, List.fill(1 + rng.nextInt(6))(lineDict(rng.nextInt(lineDict.size)))
          .mkString("\n")))
    } { docs =>
      val out = graft.text.TextOps.c4Clean(docs.toDF("id", "text"), "id", "text")
        .collect().map(r => r.getLong(0) ->
          ((r.getString(1), r.getLong(2), r.getBoolean(3)))).toMap
      docs.foreach { case (id, t) =>
        val (clean, nKept, pageKept) = out(id)
        val keptLines = if (clean.isEmpty) Nil else clean.split("\n", -1).toList
        assert(keptLines.length.toLong == nKept || (clean.isEmpty && nKept == 0L))
        // every kept line passes the three line rules
        keptLines.foreach { l =>
          assert(l.trim.matches(".*[.!?\"”']$"))
          assert(l.trim.split("\\s+").count(_.nonEmpty) >= 5)
          assert(!l.toLowerCase.contains("javascript"))
        }
        // the page gate is exactly (enough lines && no lorem && no brace)
        assert(pageKept == (nKept >= 3 &&
          !t.toLowerCase.contains("lorem ipsum") && !t.contains("{")))
      }
    }
  }
}
