package graft.sources

import java.io.{ByteArrayOutputStream, DataOutputStream}

import org.apache.spark.sql.DataFrame

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
  * boundaries) that any netCDF tool reads, from one [[StationData]]. Encodings,
  * chosen so [[NcSource.readStation]] decodes the same value back:
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
  * Scale: same [[StationRuns]] sink as the zarr sink — a plan node that needs
  * one station shuffle and sort on raw input and none on input a series scan
  * keyed on station has clustered and sorted; one `.nc` per station written
  * executor-side from its [[StationData]], ledger DataFrame back. */
object NcSink {

  private val NcChar = 2; private val NcInt = 4; private val NcDouble = 6
  private val FillInt = -2147483647

  private def pad4(n: Int): Int = (n + 3) & ~3

  /** Big-endian, as the classic format is (`DataOutputStream` writes through to
    * `out` unbuffered, so `out.size()` is always current). */
  private final class Writer(val out: ByteArrayOutputStream = new ByteArrayOutputStream()) {
    private val data = new DataOutputStream(out)
    def int(v: Int): Unit = data.writeInt(v)
    def long(v: Long): Unit = data.writeLong(v)
    def double(v: Double): Unit = data.writeDouble(v)
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

  /** Encode one station (time ascending) to classic CDF-2 bytes. */
  private[sources] def encodeStation(d: StationData): Array[Byte] = {
    val StationData(station, time, cols, attrs) = d
    val n = time.length
    val stationBytes = station.getBytes("UTF-8")
    require(stationBytes.nonEmpty, "empty station id")

    // dims: time first, then one strlen dim per char variable, in variable order
    final case class VarSpec(name: String, ncType: Int, dimIds: Seq[Int],
                             vattrs: Seq[(String, String)], vsize: Int,
                             write: Writer => Unit)
    val dims = scala.collection.mutable.ArrayBuffer[(String, Int)]("time" -> n)
    def addDim(nm: String, len: Int): Int = { dims += nm -> len; dims.length - 1 }

    val stationDim = addDim("station_strlen", stationBytes.length)

    val timeVar = VarSpec("time", NcDouble, Seq(0),
      ("units" -> "seconds since 1970-01-01 00:00:00") +:
        sorted(attrs.forVar("time") - "units"),
      pad4(n * 8), w => time.foreach(t => w.double(t / 1e6)))
    val stationVar = VarSpec("station", NcChar, Seq(stationDim),
      sorted(attrs.forVar("station")), pad4(stationBytes.length),
      w => { w.bytes(stationBytes); w.padTo4() })
    val dataVars = cols.map {
      case StationColumn.Doubles(nm, vals, nulls) =>
        VarSpec(nm, NcDouble, Seq(0), sorted(attrs.forVar(nm)), pad4(n * 8),
          w => vals.indices.foreach(i => w.double(if (nulls(i)) Double.NaN else vals(i))))
      case StationColumn.Longs(nm, vals, nulls) =>
        VarSpec(nm, NcInt, Seq(0), sorted(attrs.forVar(nm)), pad4(n * 4),
          w => { vals.indices.foreach { i =>
            if (nulls(i)) w.int(FillInt)
            else {
              val v = vals(i)
              require(v >= Int.MinValue && v <= Int.MaxValue && v != FillInt,
                s"$nm: $v outside NC_INT range")
              w.int(v.toInt)
            }
          }; w.padTo4() })
      case StationColumn.Strings(nm, vals) =>
        // each string encoded once, padded to its column's widest value (at least 1)
        val enc = vals.map(v => if (v == null) Array.emptyByteArray else v.getBytes("UTF-8"))
        val len = math.max(1, enc.foldLeft(0)((m, b) => math.max(m, b.length)))
        VarSpec(nm, NcChar, Seq(0, addDim(s"${nm}_strlen", len)), sorted(attrs.forVar(nm)),
          pad4(n * len),
          w => { enc.foreach { b =>
            w.bytes(b); (b.length until len).foreach(_ => w.out.write(0))
          }; w.padTo4() })
      case c => throw new IllegalArgumentException(s"${c.name}: no NetCDF-3 ${c.dataType}")
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
    * `outDir/<station>.nc` per station through the [[StationRuns]] sink (one
    * station shuffle and sort, none for input already clustered and sorted that
    * way); ledger DataFrame back (chunks = 1), each action on it writes the
    * files. */
  def writeNcFiles(df: DataFrame, outDir: String,
                   attrs: AttrsTable = AttrsTable(Map.empty, Map.empty)): DataFrame =
    StationRuns.mapStations(df, outDir, attrs) { d =>
      val file = s"${d.station}.nc"
      Container(file, Seq(file -> encodeStation(d)), 1L)
    }
}
