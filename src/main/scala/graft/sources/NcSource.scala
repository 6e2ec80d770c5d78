package graft.sources

import java.io.FileNotFoundException
import java.nio.{ByteBuffer, ByteOrder}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** S5 (netCDF half) — a from-scratch NetCDF-3 CLASSIC (CDF-1/CDF-2) reader for the
  * QAQC stage's `.nc` on-ramp (`/root/reference/scripts/3_qaqc_data/
  * QAQC_pipeline.py:1058-1065`, the `open_dataset` branch the zarr reader doesn't
  * cover). One `.nc` file = one station = one executor task. This module only
  * parses bytes: it decodes each variable into an unboxed column, and the
  * variables become a [[StationData]] through [[StationRuns.fromNetcdf]] (the
  * rules it shares with [[Hdf5Source]]); the distributed read (a scan key-grouped
  * on `station`), file access and ingest are the [[StationRuns]] chassis.
  *
  * Implements the public classic file format (magic `CDF\x01`/`CDF\x02`,
  * big-endian header with dim/attr/var lists, fixed vars at absolute offsets,
  * record vars interleaved per record with the single-record-var no-padding rule).
  * NetCDF-4/HDF5 files dispatch to [[Hdf5Source]] (r11) — `readStation` and the
  * distributed entries accept BOTH container formats, so a mixed clean-stage
  * corpus (xarray default NetCDF-4 next to classic re-saves) reads uniformly.
  */
object NcSource {

  // nc_type codes (public classic spec)
  private val NcByte = 1; private val NcChar = 2; private val NcShort = 3
  private val NcInt = 4; private val NcFloat = 5; private val NcDouble = 6

  // default fill values per type (netcdf.h NC_FILL_*)
  private val FillDouble = 9.969209968386869e+36
  private val FillFloat = 9.9692099683868690e+36f.toDouble
  private val FillInt = -2147483647L
  private val FillShort = -32767L
  private val FillByte = -127L

  final case class NcDim(name: String, length: Int) // length 0 = record dim
  final case class NcVar(name: String, dimIds: Seq[Int], ncType: Int,
                         attrs: Map[String, String], begin: Long) {
    def isRecord(dims: Seq[NcDim]): Boolean =
      dimIds.headOption.exists(dims(_).length == 0)
  }
  final case class NcFile(dims: Seq[NcDim], numRecs: Int,
                          gattrs: Map[String, String], vars: Seq[NcVar])

  // ------------------------------------------------------------------ header

  private final class Reader(bytes: Array[Byte]) {
    val bb: ByteBuffer = ByteBuffer.wrap(bytes).order(ByteOrder.BIG_ENDIAN)
    def int(): Int = bb.getInt()
    def long(): Long = bb.getLong()
    def name(): String = {
      val n = int()
      val s = new String(bytes, bb.position(), n, "UTF-8")
      bb.position(bb.position() + pad4(n))
      s
    }
    def skip(n: Int): Unit = bb.position(bb.position() + n)
  }

  private def pad4(n: Int): Int = (n + 3) & ~3

  private def typeSize(t: Int): Int = t match {
    case NcByte | NcChar => 1
    case NcShort => 2
    case NcInt | NcFloat => 4
    case NcDouble => 8
    case other => sys.error(s"unsupported nc_type $other")
  }

  private def readAttrValues(r: Reader, t: Int, n: Int): String = t match {
    case NcChar =>
      val s = new String(r.bb.array(), r.bb.position(), n, "UTF-8")
      r.skip(pad4(n)); s
    case _ =>
      val vals = (0 until n).map { _ =>
        t match {
          case NcByte => r.bb.get().toString
          case NcShort => r.bb.getShort().toString
          case NcInt => r.int().toString
          case NcFloat => r.bb.getFloat().toString
          case NcDouble => r.bb.getDouble().toString
        }
      }
      r.skip(pad4(n * typeSize(t)) - n * typeSize(t))
      vals.mkString(" ")
  }

  private def readAttrList(r: Reader): Map[String, String] = {
    val tag = r.int(); val n = r.int()
    require(tag == 0x0C || (tag == 0 && n == 0), s"bad attribute list tag $tag")
    (0 until n).map { _ =>
      val nm = r.name(); val t = r.int(); val ne = r.int()
      nm -> readAttrValues(r, t, ne)
    }.toMap
  }

  /** Parse the header of a classic file. */
  def parseHeader(bytes: Array[Byte]): NcFile = {
    require(bytes.length >= 8 && bytes(0) == 'C' && bytes(1) == 'D' && bytes(2) == 'F',
      if (bytes.length >= 4 && bytes(1) == 'H' && bytes(2) == 'D' && bytes(3) == 'F')
        "netCDF-4/HDF5 file — only NetCDF-3 classic is supported (re-save with format='NETCDF3_CLASSIC' or publish zarr)"
      else "not a netCDF classic file (bad magic)")
    val version = bytes(3).toInt
    require(version == 1 || version == 2,
      s"netCDF classic version $version unsupported (CDF-1/CDF-2 only)")
    val r = new Reader(bytes)
    r.skip(4)
    val numRecs = r.int() // -1 = STREAMING, resolved later from file size
    val dimTag = r.int(); val nDims = r.int()
    require(dimTag == 0x0A || (dimTag == 0 && nDims == 0), s"bad dimension list tag $dimTag")
    val dims = (0 until nDims).map(_ => NcDim(r.name(), r.int()))
    val gattrs = readAttrList(r)
    val varTag = r.int(); val nVars = r.int()
    require(varTag == 0x0B || (varTag == 0 && nVars == 0), s"bad variable list tag $varTag")
    val vars = (0 until nVars).map { _ =>
      val nm = r.name()
      val nd = r.int()
      val dimIds = (0 until nd).map(_ => r.int())
      val attrs = readAttrList(r)
      val t = r.int()
      r.int() // vsize (recomputed below — spec says ignore for large files)
      val begin = if (version == 1) r.int().toLong else r.long()
      NcVar(nm, dimIds, t, attrs, begin)
    }
    NcFile(dims, numRecs, gattrs, vars)
  }

  // -------------------------------------------------------------------- data

  /** Per-record byte size of a record variable (product of non-record dims). */
  private def recordChunk(nc: NcFile, v: NcVar): Int =
    v.dimIds.drop(1).map(nc.dims(_).length).product * typeSize(v.ncType)

  /** Total record stride: padded per-record chunks, EXCEPT when there is exactly
    * one record variable (classic-format special case: no padding). */
  private def recordStride(nc: NcFile): Int = {
    val rec = nc.vars.filter(_.isRecord(nc.dims))
    if (rec.size == 1) recordChunk(nc, rec.head)
    else rec.map(v => pad4(recordChunk(nc, v))).sum
  }

  private def resolveNumRecs(nc: NcFile, fileLen: Long): Int =
    if (nc.numRecs != -1) nc.numRecs
    else {
      val rec = nc.vars.filter(_.isRecord(nc.dims))
      if (rec.isEmpty) 0
      else ((fileLen - rec.map(_.begin).min) / recordStride(nc)).toInt
    }

  /** Read a variable's values flattened in row-major order into its column; its
    * fill (the `_FillValue` attr, else the netcdf.h default of its type, parsed
    * once) and NaNs read as null; char variables decode their trailing string
    * dimension per element, an empty one as null. */
  def readValues(bytes: Array[Byte], nc: NcFile, v: NcVar): StationColumn = {
    val numRecs = resolveNumRecs(nc, bytes.length.toLong)
    val isRec = v.isRecord(nc.dims)
    val shape = v.dimIds.map(d => if (nc.dims(d).length == 0) numRecs else nc.dims(d).length)
    val strLen = if (v.ncType == NcChar && v.dimIds.nonEmpty)
      nc.dims(v.dimIds.last).length max 1 else 1
    val nElems =
      if (v.ncType == NcChar) (shape.product / strLen) max (if (shape.isEmpty) 1 else 0)
      else shape.product
    val out = StationColumn.allocate(v.name, sparkType(v), nElems)
    val fill = v.attrs.get("_FillValue")
    lazy val fillD = fill.fold(if (v.ncType == NcFloat) FillFloat else FillDouble)(_.toDouble)
    lazy val fillL = fill.fold(v.ncType match {
      case NcByte => FillByte
      case NcShort => FillShort
      case _ => FillInt
    })(_.toLong)
    var k = 0 // next output cell

    def decodeRun(bb: ByteBuffer, n: Int): Unit = {
      val end = k + n
      out match {
        case StationColumn.Strings(_, vs) =>
          while (k < end) {
            val raw = new Array[Byte](strLen)
            bb.get(raw)
            val s = new String(raw, "UTF-8").takeWhile(_ != '\u0000').trim
            vs(k) = if (s.isEmpty) null else s
            k += 1
          }
        case StationColumn.Doubles(_, vs, nulls) =>
          val f = fillD
          while (k < end) {
            vs(k) = if (v.ncType == NcFloat) bb.getFloat().toDouble else bb.getDouble()
            nulls(k) = vs(k) == f || vs(k).isNaN
            k += 1
          }
        case StationColumn.Longs(_, vs, nulls) =>
          val f = fillL
          while (k < end) {
            vs(k) = if (v.ncType == NcByte) bb.get().toLong
              else if (v.ncType == NcShort) bb.getShort().toLong else bb.getInt().toLong
            nulls(k) = vs(k) == f
            k += 1
          }
        case c => sys.error(s"${c.dataType} netCDF variable")
      }
    }
    if (!isRec) {
      val bb = ByteBuffer.wrap(bytes).order(ByteOrder.BIG_ENDIAN)
      bb.position(v.begin.toInt)
      decodeRun(bb, nElems)
    } else {
      val stride = recordStride(nc)
      val perRec = if (v.ncType == NcChar) (shape.drop(1).product / strLen) max 1
        else shape.drop(1).product max 1
      var rec = 0
      while (rec < numRecs) {
        val bb = ByteBuffer.wrap(bytes).order(ByteOrder.BIG_ENDIAN)
        bb.position((v.begin + rec.toLong * stride).toInt)
        decodeRun(bb, perRec)
        rec += 1
      }
    }
    out
  }

  private def sparkType(v: NcVar): DataType = v.ncType match {
    case NcChar => StringType
    case NcFloat | NcDouble => DoubleType
    case _ => LongType
  }

  // --------------------------------------------------------------- station read

  /** Decode one `.nc` file (classic here, HDF5 in [[Hdf5Source]]) into station
    * data, driver- or executor-side; bounded by one station's bytes. */
  def readStation(bytes: Array[Byte], fileName: String): StationData =
    if (Hdf5Source.isHdf5(bytes)) Hdf5Source.readStation(bytes, fileName)
    else {
      val nc = parseHeader(bytes)
      StationRuns.fromNetcdf(nc.vars.map(v =>
        StationRuns.Variable(readValues(bytes, nc, v), v.attrs)),
        nc.gattrs, fileName)
    }

  /** Read the `.nc` file at `path` through [[StationRuns.readFile]]; a missing
    * file is an error that names it. */
  private[sources] def readFileAt(path: String, conf: Configuration): StationData = {
    val p = new Path(path)
    readStation(StationRuns.readFile(p.getFileSystem(conf), p)
      .getOrElse(throw new FileNotFoundException(s"$path: no such .nc file")), p.getName)
  }

  /** Read many `.nc` files distributed, one input partition per file, keyed by
    * the station id of its `<station>.nc` name ([[StationRuns.readStations]]:
    * schema from the first file, columns aligned by name). */
  def readFiles(spark: SparkSession, paths: Seq[String]): DataFrame =
    StationRuns.readStations(spark, paths, ".nc")(readFileAt)

  /** `.nc` corpus → the engine's partitioned obs table ([[StationRuns.ingest]]). */
  def ingest(spark: SparkSession, paths: Seq[String], outPath: String,
             network: String): Unit =
    StationRuns.ingest(spark, paths, ".nc", outPath, network)(readFileAt)
}
