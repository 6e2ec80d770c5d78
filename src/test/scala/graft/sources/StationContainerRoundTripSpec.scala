package graft.sources

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.core.AttrsTable

/** Encode and decode share one [[StationData]], so a container survives its
  * round trip as the same value: over seeded ScalaCheck stations with nulls in
  * every column type, `readStore(encodeStore(d)) == d` for zarr at chunk sizes of
  * 1, one that does not divide the row count, and 65536, and
  * `readStation(encodeStation(d)) == d` for NetCDF-3, up to the formats'
  * documented boundaries (see [[StationContainerRoundTripSpec.station]]). */
class StationContainerRoundTripSpec extends AnyFunSuite {
  import StationContainerRoundTripSpec._

  private val Seeds = Seq(21L, 22L, 23L)

  private def samples(nc: Boolean, seed: Long): Seq[StationData] =
    Gen.listOfN(25, station(nc)).pureApply(Gen.Parameters.default, Seed(seed))

  test("zarr: readStore(encodeStore(d)) == d at chunkRows 1, a non-divisor of n, and 65536") {
    for (seed <- Seeds; d <- samples(nc = false, seed)) {
      val n = d.time.length
      val nonDivisor = Iterator.from(2).find(n % _ != 0).get
      for (chunkRows <- Seq(1, nonDivisor, 65536)) {
        val files = ZarrSink.encodeStore(d, chunkRows, zlibLevel = 1).toMap
        val back = ZarrSource.readStore(files.get, s"${d.station}.zarr")
        assert(norm(back) == norm(asZarrReads(d)), s"seed $seed, chunkRows $chunkRows")
      }
    }
  }

  test("NetCDF-3: readStation(encodeStation(d)) == d, longs at the NC_INT limits") {
    for (seed <- Seeds; d <- samples(nc = true, seed)) {
      val back = NcSource.readStation(NcSink.encodeStation(d), s"${d.station}.nc")
      assert(norm(back) == norm(asNcReads(d)), s"seed $seed")
    }
  }
}

object StationContainerRoundTripSpec {
  /** Letters, digits and non-ASCII code points (two-byte, three-byte and a
    * surrogate pair in UTF-16); no whitespace or NUL. */
  private val codePoints = Seq("a", "Z", "7", "_", "-", "ø", "é", "東", "京", "😀")

  private def text(min: Int, max: Int): Gen[String] =
    Gen.choose(min, max).flatMap(Gen.listOfN(_, Gen.oneOf(codePoints))).map(_.mkString)

  private val NcFillInt = -2147483647L

  /** Each element null with probability `p`. */
  private def nullMask(n: Int): Gen[Array[Boolean]] =
    Gen.oneOf(0.0, 0.25, 1.0).flatMap(p =>
      Gen.listOfN(n, Gen.choose(0.0, 1.0).map(_ < p)).map(_.toArray))

  /** A station container as both encoders take it. The formats' documented
    * boundaries (ZarrSink, NcSink) are kept out of the values or mapped by
    * [[asZarrReads]] and [[asNcReads]]:
    *  - a null double is written as NaN, which reads back as null, so no double
    *    here is NaN;
    *  - zarr writes a null string as "" and reads it as "", and NetCDF-3 reads ""
    *    (so also a null) as null: strings here may be null or "";
    *  - NetCDF-3 trims strings and ends them at NUL: strings here have no
    *    whitespace or NUL;
    *  - a zarr long equal to its fill, Long.MinValue, reads as null, so none is;
    *  - NetCDF-3 longs are NC_INT: `nc` longs lie in [Int.MinValue, Int.MaxValue]
    *    less the NC_INT fill -2147483647, both limits included;
    *  - NetCDF-3 time is CF double seconds: `nc` times are whole seconds, zarr
    *    times any microsecond.
    * Columns come in name order, as zarr lists them; every variable has an attrs
    * entry, as both readers give one, and NetCDF-3's time units are the ones it
    * writes. */
  def station(nc: Boolean): Gen[StationData] = for {
    id <- text(1, 8)
    n <- Gen.frequency(3 -> Gen.choose(1, 40), 1 -> Gen.choose(41, 300))
    start <- Gen.choose(-1000000000L, 2000000000L)
    steps <- Gen.listOfN(n, Gen.frequency(1 -> Gen.const(0L), 8 -> Gen.choose(1L, 86400L)))
    micros <- Gen.listOfN(n, if (nc) Gen.const(0L) else Gen.choose(0L, 999999L))
    extra <- Gen.choose(0, 2)
    kinds = Seq("d", "l", "s") ++ Seq.fill(extra)("")
    cols <- Gen.sequence[Seq[StationColumn], StationColumn](kinds.zipWithIndex.map {
      case (k, j) => column(f"c$j%02d", k, n, nc)
    })
    global <- attrs
    perVar <- Gen.listOfN(cols.size + 2, attrs)
  } yield {
    val seconds = steps.scanLeft(start)(_ + _).tail
    val time = seconds.zip(micros).map { case (s, us) => s * 1000000L + us }.toArray
    val names = Seq("station", "time") ++ cols.map(_.name)
    val varAttrs = names.zip(perVar).toMap.updated("time",
      perVar(1) + ("units" -> "seconds since 1970-01-01 00:00:00"))
    StationData(id, time, cols, AttrsTable(global, varAttrs))
  }

  private val attrs: Gen[Map[String, String]] = Gen.choose(0, 3).flatMap(k =>
    Gen.listOfN(k, text(0, 6)).map(_.zipWithIndex.map { case (v, i) => s"a$i" -> v }.toMap))

  /** A column of `kind` d(oubles), l(ongs), s(trings), or any of them for "". */
  private def column(name: String, kind: String, n: Int, nc: Boolean): Gen[StationColumn] = {
    val double = Gen.frequency(6 -> Gen.choose(-1e6, 1e6), 1 -> Gen.oneOf(0.0, -0.0, 1e300,
      Double.MinPositiveValue, Double.PositiveInfinity, Double.NegativeInfinity))
    val long =
      if (nc) Gen.frequency(6 -> Gen.choose(Int.MinValue.toLong, Int.MaxValue.toLong),
        2 -> Gen.oneOf(Int.MinValue.toLong, Int.MaxValue.toLong, NcFillInt + 1))
          .suchThat(_ != NcFillInt)
      else Gen.frequency(6 -> Gen.choose(Long.MinValue + 1, Long.MaxValue),
        1 -> Gen.oneOf(Long.MinValue + 1, Long.MaxValue, 0L))
    val string = Gen.frequency(8 -> text(1, 6), 1 -> Gen.const(""))
    (if (kind.nonEmpty) Gen.const(kind) else Gen.oneOf("d", "l", "s")).flatMap {
      case "d" => for (vs <- Gen.listOfN(n, double); nulls <- nullMask(n))
        yield StationColumn.Doubles(name, vs.toArray, nulls)
      case "l" => for (vs <- Gen.listOfN(n, long); nulls <- nullMask(n))
        yield StationColumn.Longs(name, vs.toArray, nulls)
      case _ => for (vs <- Gen.listOfN(n, string); nulls <- nullMask(n))
        yield StationColumn.Strings(name, vs.zip(nulls).map { case (v, z) =>
          if (z) null else v }.toArray)
    }
  }

  /** `d` as a zarr read gives it back: a null string reads as "". */
  def asZarrReads(d: StationData): StationData = d.copy(cols = d.cols.map {
    case StationColumn.Strings(nm, vs) => StationColumn.Strings(nm, vs.map(v => if (v == null) "" else v))
    case c => c
  })

  /** `d` as a NetCDF-3 read gives it back: "" reads as null. */
  def asNcReads(d: StationData): StationData = d.copy(cols = d.cols.map {
    case StationColumn.Strings(nm, vs) => StationColumn.Strings(nm, vs.map(v => if (v == "") null else v))
    case c => c
  })

  /** A container as comparable values: doubles by their bits, so -0.0 is not 0.0,
    * and nothing of a null slot but its null. */
  def norm(d: StationData): Any = (d.station, d.time.toSeq,
    d.cols.map(c => (c.name, c.dataType, ColumnValues(c).map {
      case x: Double => java.lang.Double.doubleToLongBits(x)
      case v => v
    })), d.attrs)
}
