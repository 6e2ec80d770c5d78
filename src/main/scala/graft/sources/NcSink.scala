package graft.sources

import java.io.ByteArrayOutputStream
import java.nio.ByteBuffer

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import graft.core.AttrsTable

/** NetCDF-3 CLASSIC (CDF-2, 64-bit offset) WRITER — the netCDF half of the S8
  * publish row (`/root/reference/scripts/2_clean_data/ASOSAWOS_clean.py:~750-1106`
  * writes one per-station `.nc` at the end of the clean stage; [[NcSource]] is
  * the matching reader). Together with [[ZarrSink]] this closes the S8 cut:
  * every format the reference pipeline reads OR writes now round-trips through
  * the engine.
  *
  * Emits the public classic file format (big-endian header with dim/attr/var
  * lists, fixed-size vars at absolute 64-bit offsets, data padded to 4-byte
  * boundaries) that any netCDF tool reads. Encodings, chosen so
  * [[NcSource.readStation]] round-trips values exactly:
  *   - time    → NC_DOUBLE, CF `units = "seconds since 1970-01-01 00:00:00"`;
  *     integral-second timestamps round-trip exactly (micros are written as
  *     fractional seconds — a double keeps them exact to ±2^53 µs ≈ ±285 yr,
  *     the read-back multiply may differ by 1 µs at most)
  *   - station → NC_CHAR `[station_strlen]` (the id survives a file rename)
  *   - doubles → NC_DOUBLE, nulls → NaN (the reader's null on read)
  *   - longs   → NC_INT, nulls → the netcdf.h NC_FILL_INT default; values must
  *     fit int32 and avoid the fill (obs counts/codes always do)
  *   - strings → NC_CHAR `[time, <name>_strlen]`, null ↔ "" (NC_CHAR cannot
  *     distinguish them — same boundary xarray has)
  * All attrs are written as NC_CHAR text, matching the string-typed
  * [[AttrsTable]] the readers produce.
  *
  * Scale: same [[StationRuns]] chassis as the zarr sink — one station shuffle,
  * one `.nc` per station written executor-side, ledger DataFrame back. */
object NcSink {

  private val NcChar = 2; private val NcInt = 4; private val NcDouble = 6
  private val FillInt = -2147483647

  private def pad4(n: Int): Int = (n + 3) & ~3

  private final class Writer(val out: ByteArrayOutputStream = new ByteArrayOutputStream()) {
    def int(v: Int): Unit = out.write(ByteBuffer.allocate(4).putInt(v).array())
    def long(v: Long): Unit = out.write(ByteBuffer.allocate(8).putLong(v).array())
    def double(v: Double): Unit = out.write(ByteBuffer.allocate(8).putDouble(v).array())
    def bytes(b: Array[Byte]): Unit = out.write(b)
    def padTo4(): Unit = while (out.size() % 4 != 0) out.write(0)
    def name(s: String): Unit = {
      val b = s.getBytes("UTF-8")
      int(b.length); bytes(b); padTo4()
    }
  }

  private def attrList(w: Writer, attrs: Seq[(String, String)]): Unit = {
    if (attrs.isEmpty) { w.int(0); w.int(0) } // ABSENT
    else {
      w.int(0x0C); w.int(attrs.size)
      attrs.foreach { case (k, v) =>
        w.name(k)
        val b = v.getBytes("UTF-8")
        w.int(NcChar); w.int(b.length); w.bytes(b); w.padTo4()
      }
    }
  }

  private def sorted(m: Map[String, String]): Seq[(String, String)] = m.toSeq.sortBy(_._1)

  /** Encode one station to classic CDF-2 bytes. `time` is epoch micros
    * ascending; `cols` carry Double/Long/String arrays with nulls. */
  private[sources] def encodeStation(
      station: String, time: Array[Long],
      cols: Seq[(String, DataType, Array[Any])], attrs: AttrsTable): Array[Byte] = {
    val n = time.length
    val stationBytes = station.getBytes("UTF-8")
    require(stationBytes.nonEmpty, "empty station id")

    // dims: time first, then one strlen dim per char variable
    final case class VarSpec(name: String, ncType: Int, dimIds: Seq[Int],
                             vattrs: Seq[(String, String)], vsize: Int,
                             write: Writer => Unit)
    val dims = scala.collection.mutable.ArrayBuffer[(String, Int)]("time" -> n)
    def addDim(nm: String, len: Int): Int = { dims += nm -> len; dims.length - 1 }

    val strCols = cols.collect { case (nm, StringType, vals) =>
      nm -> math.max(1, vals.map {
        case null => 0
        case s => s.toString.getBytes("UTF-8").length
      }.foldLeft(0)(math.max))
    }.toMap

    val stationDim = addDim("station_strlen", stationBytes.length)
    val strDims = strCols.map { case (nm, len) => nm -> addDim(s"${nm}_strlen", len) }

    val timeVar = VarSpec("time", NcDouble, Seq(0),
      ("units" -> "seconds since 1970-01-01 00:00:00") +:
        sorted(attrs.forVar("time") - "units"),
      pad4(n * 8), w => time.foreach(t => w.double(t / 1e6)))
    val stationVar = VarSpec("station", NcChar, Seq(stationDim),
      sorted(attrs.forVar("station")), pad4(stationBytes.length),
      w => { w.bytes(stationBytes); w.padTo4() })
    val dataVars = cols.map {
      case (nm, DoubleType, vals) =>
        VarSpec(nm, NcDouble, Seq(0), sorted(attrs.forVar(nm)), pad4(n * 8),
          w => vals.foreach {
            case null => w.double(Double.NaN)
            case d => w.double(d.asInstanceOf[java.lang.Double].doubleValue())
          })
      case (nm, LongType, vals) =>
        VarSpec(nm, NcInt, Seq(0), sorted(attrs.forVar(nm)), pad4(n * 4),
          w => { vals.foreach {
            case null => w.int(FillInt)
            case l =>
              val v = l.asInstanceOf[java.lang.Long].longValue()
              require(v >= Int.MinValue && v <= Int.MaxValue && v != FillInt,
                s"$nm: $v outside NC_INT range")
              w.int(v.toInt)
          }; w.padTo4() })
      case (nm, StringType, vals) =>
        val len = strCols(nm)
        VarSpec(nm, NcChar, Seq(0, strDims(nm)), sorted(attrs.forVar(nm)),
          pad4(n * len),
          w => { vals.foreach { v =>
            val b = if (v == null) Array.emptyByteArray
                    else v.toString.getBytes("UTF-8")
            w.bytes(b); (b.length until len).foreach(_ => w.out.write(0))
          }; w.padTo4() })
      case (nm, dt, _) => sys.error(s"$nm: unsupported nc write type $dt")
    }
    val vars = Seq(timeVar, stationVar) ++ dataVars

    // pass 1: header without begins to learn its size (begins are fixed 8B each)
    def writeHeader(w: Writer, begins: Seq[Long]): Unit = {
      w.bytes(Array('C'.toByte, 'D'.toByte, 'F'.toByte, 2.toByte))
      w.int(0) // numrecs (no record vars)
      w.int(0x0A); w.int(dims.size)
      dims.foreach { case (nm, len) => w.name(nm); w.int(len) }
      attrList(w, sorted(attrs.global))
      w.int(0x0B); w.int(vars.size)
      vars.zip(begins).foreach { case (v, begin) =>
        w.name(v.name)
        w.int(v.dimIds.size); v.dimIds.foreach(w.int)
        attrList(w, v.vattrs)
        w.int(v.ncType); w.int(v.vsize); w.long(begin)
      }
    }
    val probe = new Writer()
    writeHeader(probe, vars.map(_ => 0L))
    val headerSize = probe.out.size()
    val begins = vars.scanLeft(headerSize.toLong) { case (off, v) => off + v.vsize }.init

    val w = new Writer()
    writeHeader(w, begins)
    vars.foreach { v =>
      val before = w.out.size()
      v.write(w)
      require(w.out.size() - before == v.vsize,
        s"${v.name}: wrote ${w.out.size() - before} of ${v.vsize} bytes")
    }
    w.out.toByteArray
  }

  /** Publish an obs DataFrame (station, time, data vars…) as one classic
    * `outDir/<station>.nc` per station; ledger DataFrame back (chunks = 1). */
  def writeNcFiles(df: DataFrame, outDir: String,
                   attrs: AttrsTable = AttrsTable(Map.empty, Map.empty)): DataFrame = {
    val attrsB = df.sparkSession.sparkContext.broadcast(attrs)
    StationRuns.mapStations(df) { (station, times, cols, conf) =>
      val bytes = StationRuns.writeFiles(outDir, conf,
        Seq(s"$station.nc" -> encodeStation(station, times, cols, attrsB.value)))
      Row(station, s"$outDir/$station.nc", times.length.toLong, 1L, bytes)
    }
  }
}
