package graft.sources

import java.nio.{ByteBuffer, ByteOrder}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

import graft.core.AttrsTable

/** Pure-JVM reader for consolidated zarr v2 stores — the on-ramp from the reference's
  * published corpus (one store per station, `MERGE_pipeline.py:413-468`: `ds.to_zarr(
  * s3://…/{NETWORK}/{station}.zarr, consolidated=True)`, read back at
  * `QAQC_pipeline.py:1058-1065`) into the engine's partitioned Parquet obs table.
  *
  * Format scope (what xarray/zarr 2.18 actually writes, `environment.yml:1-31`):
  *  - consolidated metadata only (`.zmetadata`; the reference always consolidates);
  *  - C-order chunks, any dimensionality with singleton leading dims (the
  *    reference's arrays are `(station=1, time)` or `(time,)`);
  *  - compressors: `null`, `zlib`, `gzip`, and **blosc with cname=lz4/zlib/zstd/
  *    memcpy** — lz4 is zarr's DEFAULT (`Blosc(cname='lz4', shuffle=SHUFFLE)`);
  *    byte-shuffle and block-split are undone exactly as c-blosc 1.x emits them
  *    (inner codecs via the lz4-java / zstd-jni Spark already ships for shuffle
  *    compression). cname=blosclz is rejected with a clear error (no JVM decoder);
  *  - filters: none or `vlen-utf8` (xarray's string-coordinate encoding);
  *  - dtypes: `f8/f4`, `i8/i4/i2/i1`, `u1`, `b1`, fixed-width `S`/`U`, `M8[ns]`;
  *    either endianness;
  *  - CF time decode: `M8[ns]` directly, or integer/float + `units = "<step> since
  *    <epoch>"` attrs (seconds/minutes/hours/days — the encodings xarray emits).
  *
  * Scale shape: one store = one station = ONE task (the reference's own parallelism
  * unit — a whole station fits in memory by construction, `QAQC_pipeline.py:463-465`).
  * This module only decodes a store's chunks straight into the unboxed columns of
  * a [[StationData]] (each array's fill parsed once); the distributed read (a
  * scan key-grouped on `station`), the file access, the row schema and the ingest
  * are the [[StationRuns]] chassis, shared with the NetCDF readers.
  */
object ZarrSource {

  /** Parsed `.zarray` metadata for one variable. */
  final case class ZArrayMeta(shape: Seq[Int], chunks: Seq[Int], dtype: String,
                              compressor: Option[(String, String)], // (id, cname)
                              fillValue: Option[String], dims: Seq[String],
                              vlenUtf8: Boolean)

  // zarr v2 spec encodes NaN/Infinity fill values as STRINGS ("NaN"), but Python
  // json tooling also emits them as bare tokens — accept both
  private val mapper = new ObjectMapper().enable(
    com.fasterxml.jackson.core.json.JsonReadFeature.ALLOW_NON_NUMERIC_NUMBERS.mappedFeature())

  // ---------------------------------------------------------------- metadata

  /** Parse consolidated `.zmetadata` into (key -> node) where keys are e.g.
    * ".zattrs", "tas/.zarray", "tas/.zattrs". */
  def readConsolidated(readFile: String => Option[Array[Byte]]): Map[String, JsonNode] = {
    val bytes = readFile(".zmetadata").getOrElse(
      sys.error("no .zmetadata — only consolidated zarr v2 stores are supported"))
    val root = mapper.readTree(bytes)
    require(root.path("zarr_consolidated_format").asInt(1) == 1,
      "unsupported zarr_consolidated_format")
    root.path("metadata").properties().asScala
      .map(e => e.getKey -> e.getValue).toMap
  }

  private def attrsOf(meta: Map[String, JsonNode], key: String): Map[String, String] =
    meta.get(key).map(_.properties().asScala.map { e =>
      val v = e.getValue
      e.getKey -> (if (v.isTextual) v.asText() else v.toString)
    }.toMap).getOrElse(Map.empty)

  private def parseZArray(meta: Map[String, JsonNode], name: String): ZArrayMeta = {
    val za = meta(s"$name/.zarray")
    require(za.path("zarr_format").asInt() == 2, s"$name: not zarr v2")
    require(za.path("order").asText("C") == "C", s"$name: only C-order supported")
    val filters = za.path("filters")
    val vlen = filters.isArray && filters.size() == 1 &&
      filters.get(0).path("id").asText() == "vlen-utf8"
    require(filters.isNull || filters.isMissingNode || filters.size() == 0 || vlen,
      s"$name: unsupported filters ${filters}")
    val comp = za.path("compressor") match {
      case c if c.isNull || c.isMissingNode => None
      case c => Some((c.path("id").asText(), c.path("cname").asText("")))
    }
    val fv = za.path("fill_value") match {
      case f if f.isNull || f.isMissingNode => None
      // asText, not toString: jackson re-serializes a non-finite DoubleNode (bare
      // NaN token) WITH quotes; asText yields the plain "NaN" either way
      case f => Some(if (f.isValueNode) f.asText() else f.toString)
    }
    ZArrayMeta(
      shape = za.path("shape").elements().asScala.map(_.asInt()).toSeq,
      chunks = za.path("chunks").elements().asScala.map(_.asInt()).toSeq,
      dtype = za.path("dtype").asText(),
      compressor = comp, fillValue = fv,
      dims = meta.get(s"$name/.zattrs")
        .map(_.path("_ARRAY_DIMENSIONS").elements().asScala.map(_.asText()).toSeq)
        .getOrElse(Seq.empty),
      vlenUtf8 = vlen)
  }

  // ---------------------------------------------------------------- chunk decode

  /** Decompress one raw chunk file to its uncompressed bytes. */
  def decodeChunk(raw: Array[Byte], compressor: Option[(String, String)]): Array[Byte] =
    compressor match {
      case None => raw
      case Some(("zlib", _)) =>
        val inf = new java.util.zip.Inflater()
        inf.setInput(raw)
        val out = new java.io.ByteArrayOutputStream(raw.length * 4)
        val buf = new Array[Byte](8192)
        while (!inf.finished()) {
          val n = inf.inflate(buf)
          // inflate also yields 0 for a preset-dictionary stream — error rather
          // than spin (zarr zlib chunks never use dictionaries)
          if (n == 0 && (inf.needsInput() || inf.needsDictionary()))
            sys.error("truncated or dictionary-requiring zlib chunk")
          out.write(buf, 0, n)
        }
        inf.end(); out.toByteArray
      case Some(("gzip", _)) =>
        val in = new java.util.zip.GZIPInputStream(new java.io.ByteArrayInputStream(raw))
        val out = new java.io.ByteArrayOutputStream(raw.length * 4)
        val buf = new Array[Byte](8192)
        var n = in.read(buf)
        while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
        out.toByteArray
      case Some(("blosc", _)) => bloscDecode(raw)
      case Some((id, _)) => sys.error(s"unsupported zarr compressor '$id'")
    }

  /** Decode a c-blosc 1.x frame (the zarr default compressor). Supports memcpy mode
    * and lz4/zlib/zstd-coded blocks with optional byte-shuffle and (lz4-only)
    * block-split — what `Blosc(cname='lz4'|'zlib'|'zstd', shuffle=SHUFFLE)` emits.
    * Layout per c-blosc `blosc.c`:
    * 16-byte header (version, versionlz, flags, typesize, nbytes, blocksize, cbytes,
    * all LE), then `nblocks` int32 block offsets, then per block `nsplits` streams of
    * [int32 csize][payload], where csize == stream size means a stored (uncompressed)
    * stream and csize == 0 means all zeros. Blocks split into `typesize` streams when
    * typesize <= 16 and blocksize/typesize >= 128 (c-blosc's FORWARD_COMPAT rule for
    * blosclz/lz4); byte-shuffle is undone per block. */
  def bloscDecode(src: Array[Byte]): Array[Byte] = {
    val bb = ByteBuffer.wrap(src).order(ByteOrder.LITTLE_ENDIAN)
    val flags = src(2) & 0xff
    val typesize = src(3) & 0xff
    val nbytes = bb.getInt(4)
    val blocksize = bb.getInt(8)
    val out = new Array[Byte](nbytes)
    if ((flags & 0x2) != 0) { // memcpy mode: raw payload after the header
      System.arraycopy(src, 16, out, 0, nbytes)
      return out
    }
    val codec = (flags >> 5) & 0x7 // 0=blosclz 1=lz4/lz4hc 2=snappy 3=zlib 4=zstd
    require(codec == 1 || codec == 3 || codec == 4,
      s"blosc inner codec id $codec unsupported (lz4/zlib/zstd only; blosclz has " +
        "no JVM decoder — re-encode the store with cname='lz4')")
    require((flags & 0x4) == 0, "blosc bit-shuffle unsupported (byte-shuffle only)")
    val byteShuffle = (flags & 0x1) != 0 && typesize > 1
    val nblocks = (nbytes + blocksize - 1) / blocksize
    // NOTE: c-blosc's FORWARD_COMPAT split rule applies to blosclz/lz4 only — zlib
    // and zstd streams are never split (one stream per block)
    val doSplit = codec == 1 && typesize > 1 && typesize <= 16 &&
      blocksize / typesize >= 128
    val lz4 = net.jpountz.lz4.LZ4Factory.fastestJavaInstance().safeDecompressor()
    def inflate(srcArr: Array[Byte], off: Int, len: Int,
                dst: Array[Byte], dstOff: Int, dstLen: Int): Int = codec match {
      case 1 => lz4.decompress(srcArr, off, len, dst, dstOff, dstLen)
      case 3 =>
        val inf = new java.util.zip.Inflater()
        inf.setInput(srcArr, off, len)
        var done = 0
        while (!inf.finished() && done < dstLen) {
          val n = inf.inflate(dst, dstOff + done, dstLen - done)
          // truncation guard (ADVICE r7): a corrupt stream that yields 0 bytes while
          // demanding more input would otherwise spin forever
          if (n == 0 && (inf.needsInput() || inf.needsDictionary()))
            throw new IllegalArgumentException(
              s"blosc inner zlib stream truncated after $done of $dstLen bytes")
          done += n
        }
        inf.end(); done
      case 4 => com.github.luben.zstd.Zstd.decompressByteArray(
        dst, dstOff, dstLen, srcArr, off, len).toInt
    }
    var b = 0
    while (b < nblocks) {
      val bsize = math.min(blocksize, nbytes - b * blocksize)
      val block = new Array[Byte](bsize)
      val nsplits = if (doSplit) typesize else 1
      val neblock = bsize / nsplits
      var off = bb.getInt(16 + 4 * b)
      var s = 0
      while (s < nsplits) {
        val csize = bb.getInt(off); off += 4
        if (csize == 0) () // all-zero stream; array is zero-initialized
        else if (csize == neblock) {
          System.arraycopy(src, off, block, s * neblock, neblock); off += csize
        } else {
          val n = inflate(src, off, csize, block, s * neblock, neblock)
          require(n == neblock, s"blosc stream decoded $n of $neblock bytes")
          off += csize
        }
        s += 1
      }
      if (byteShuffle) { // undo per-block byte transpose: plane-major -> item-major
        val items = bsize / typesize
        var j = 0
        while (j < typesize) {
          var i = 0
          while (i < items) {
            out(b * blocksize + i * typesize + j) = block(j * items + i)
            i += 1
          }
          j += 1
        }
      } else System.arraycopy(block, 0, out, b * blocksize, bsize)
      b += 1
    }
    out
  }

  // ---------------------------------------------------------------- value decode

  /** numpy dtype string -> (Spark type, element byte width). Width 0 marks
    * vlen-utf8 (decoded separately). */
  private def dtypeInfo(dtype: String, vlen: Boolean): (DataType, Int) = {
    if (vlen) return (StringType, 0)
    val kind = dtype(1)
    val width = if (dtype.startsWith("<M8") || dtype.startsWith(">M8")) 8
                else dtype.drop(2).takeWhile(_.isDigit).toInt
    kind match {
      case 'f' => (DoubleType, width)
      case 'i' | 'u' => (LongType, width)
      case 'b' => (BooleanType, 1)
      case 'S' => (StringType, width)
      case 'U' => (StringType, width * 4) // numpy U = UTF-32 code units
      case 'M' => (LongType, 8) // datetime64[ns] as nanos
      case k => sys.error(s"unsupported zarr dtype $dtype (kind $k)")
    }
  }

  private def byteOrderOf(dtype: String): ByteOrder =
    if (dtype.startsWith(">")) ByteOrder.BIG_ENDIAN else ByteOrder.LITTLE_ENDIAN

  /** The decoder of `za`'s chunks into `out`: it writes chunk element `i` of the
    * uncompressed bytes to cell `dst(i)` of `out`, or nowhere when that is -1. The
    * fill, parsed here once, reads as null; so does a NaN when the fill is NaN. */
  private def chunkDecoder(za: ZArrayMeta,
                           out: StationColumn): (Array[Byte], Array[Int]) => Unit = {
    val (kind, width, fill) = (za.dtype(1), dtypeInfo(za.dtype, za.vlenUtf8)._2, za.fillValue)
    val nanFill = fill.exists(f => f == "NaN" || f == "nan")
    lazy val fillD = if (nanFill) Double.NaN else fill.fold(Double.NaN)(_.toDouble)
    lazy val fillL = fill.map(_.toLong)
    (bytes, dst) => {
      val bb = ByteBuffer.wrap(bytes).order(byteOrderOf(za.dtype))
      var i = 0
      out match {
        case StationColumn.Strings(_, vs) if za.vlenUtf8 =>
          // numcodecs VLenUTF8 (little-endian): [uint32 nitems][per item: uint32 len + utf8]
          val items = math.min(bb.getInt(), dst.length)
          while (i < items) {
            val s = new Array[Byte](bb.getInt()); bb.get(s)
            if (dst(i) >= 0) vs(dst(i)) = new String(s, "UTF-8")
            i += 1
          }
        case StationColumn.Strings(_, vs) =>
          while (i < dst.length) {
            if (dst(i) >= 0) vs(dst(i)) =
              if (kind == 'S') new String(bytes, i * width, width, "US-ASCII").takeWhile(_ != 0)
              else { // fixed-width UTF-32 code points
              val cps = (0 until width / 4).map(j => bb.getInt(i * width + j * 4)).takeWhile(_ != 0)
              new String(cps.toArray, 0, cps.length)
            }
            i += 1
          }
        case StationColumn.Doubles(_, vs, nulls) =>
          val (fd, nf) = (fillD, nanFill)
          while (i < dst.length) {
            if (dst(i) >= 0) {
              val d = if (width == 4) bb.getFloat(i * 4).toDouble else bb.getDouble(i * 8)
              vs(dst(i)) = d
              nulls(dst(i)) = if (d.isNaN) nf else d == fd
            }
            i += 1
          }
        case StationColumn.Longs(_, vs, nulls) =>
          val (hasFill, fl, unsigned) = (fillL.isDefined, fillL.getOrElse(0L), kind == 'u')
          while (i < dst.length) {
            if (dst(i) >= 0) {
              val l = width match {
                case 1 => if (unsigned) (bb.get(i) & 0xff).toLong else bb.get(i).toLong
                case 2 => if (unsigned) (bb.getShort(i * 2) & 0xffff).toLong
                          else bb.getShort(i * 2).toLong
                case 4 => if (unsigned) bb.getInt(i * 4) & 0xffffffffL else bb.getInt(i * 4).toLong
                case _ => bb.getLong(i * 8)
              }
              vs(dst(i)) = l
              nulls(dst(i)) = hasFill && l == fl
            }
            i += 1
          }
        case StationColumn.Booleans(_, vs, _) =>
          while (i < dst.length) { if (dst(i) >= 0) vs(dst(i)) = bb.get(i) != 0; i += 1 }
      }
    }
  }

  /** Read one variable's full flat array (C-order) by walking its chunk grid,
    * each chunk decoded straight into its cells. Missing chunk files are
    * fill-valued per zarr semantics, so null. */
  def readArray(readFile: String => Option[Array[Byte]], name: String,
                za: ZArrayMeta): StationColumn = {
    val total = za.shape.product
    val out = StationColumn.allocate(name, dtypeInfo(za.dtype, za.vlenUtf8)._1, total)
    if (total == 0) return out
    val decode = chunkDecoder(za, out)
    val gridDims = za.shape.zip(za.chunks).map { case (s, c) => (s + c - 1) / c }
    val nd = za.shape.size
    def walkGrid(idx: Array[Int], d: Int): Unit =
      if (d == nd) readChunk(idx.toSeq)
      else (0 until gridDims(d)).foreach { i => idx(d) = i; walkGrid(idx, d + 1) }
    def readChunk(ci: Seq[Int]): Unit = {
      val key = if (nd == 0) "0" else ci.mkString(".")
      val valid = za.shape.indices.map(d =>
        math.min(za.chunks(d), za.shape(d) - ci(d) * za.chunks(d)))
      // each chunk element's cell in the flat C-order output; -1 past the edge
      val dst = Array.fill(za.chunks.product)(-1)
      def scatter(pos: Array[Int], d: Int): Unit =
        if (d == nd) {
          var src = 0; var cell = 0
          za.shape.indices.foreach { k =>
            src = src * za.chunks(k) + pos(k)
            cell = cell * za.shape(k) + (ci(k) * za.chunks(k) + pos(k))
          }
          dst(src) = cell
        } else (0 until valid(d)).foreach { i => pos(d) = i; scatter(pos, d + 1) }
      scatter(new Array[Int](nd), 0)
      readFile(s"$name/$key") match {
        case Some(raw) => decode(decodeChunk(raw, za.compressor), dst)
        case None => dst.foreach(cell => if (cell >= 0) out.setNull(cell))
      }
    }
    walkGrid(new Array[Int](nd), 0)
    out
  }

  // ---------------------------------------------------------------- store read

  /** Read one consolidated store into flat station data (driver- or executor-side;
    * bounded by one station's size — the reference's own task granularity). */
  def readStore(readFile: String => Option[Array[Byte]],
                storeName: String): StationData = {
    val meta = readConsolidated(readFile)
    val varNames = meta.keys.filter(_.endsWith("/.zarray")).map(_.dropRight(8)).toSeq.sorted
    val zas = varNames.map(v => v -> parseZArray(meta, v)).toMap
    // the coordinate variable is NAMED AFTER its dimension (xarray convention);
    // fall back to the unique 1-D time var carrying CF units (a plain "time"-dim
    // DATA var must not win — any flag/obs column has dims ["time"] too)
    val timeVar = varNames.find(_ == "time")
      .orElse(varNames.find(v => zas(v).dims == Seq("time") &&
        attrsOf(meta, s"$v/.zattrs").get("units").exists(_.contains(" since "))))
      .getOrElse(sys.error("no time coordinate variable"))
    val timeAttrs = attrsOf(meta, s"$timeVar/.zattrs")
    val time = StationRuns.timeToMicros(readArray(readFile, timeVar, zas(timeVar)),
      zas(timeVar).dtype, timeAttrs)
    // exact name first (ADVICE r7): another station-dim variable sorting earlier
    // (e.g. "elevation") must not silently become the station id
    val station = varNames.find(_ == "station")
      .orElse(varNames.find(v => zas(v).dims == Seq("station")))
      .map(v => readArray(readFile, v, zas(v)) match {
        case StationColumn.Strings(_, vs) => vs(0)
        case StationColumn.Doubles(_, vs, _) => vs(0).toString
        case StationColumn.Longs(_, vs, _) => vs(0).toString
        case StationColumn.Booleans(_, vs, _) => vs(0).toString
      })
      .getOrElse(storeName.stripSuffix(".zarr"))
    val dataVars = varNames.filterNot(v => v == timeVar || zas(v).dims == Seq("station"))
      .filter(v => zas(v).dims.contains("time") || zas(v).shape.product == time.length)
    val cols = dataVars.map { v =>
      val vals = readArray(readFile, v, zas(v))
      require(vals.length == time.length,
        s"$v: ${vals.length} values vs ${time.length} times (non-time dims must be singleton)")
      vals
    }
    val attrs = AttrsTable(attrsOf(meta, ".zattrs"),
      varNames.map(v => v -> (attrsOf(meta, s"$v/.zattrs") - "_ARRAY_DIMENSIONS")).toMap)
    StationData(station, time, cols, attrs)
  }

  /** Read the store at `storePath` through [[StationRuns.readFile]]; a chunk file
    * that is absent reads as fill, as zarr allows. */
  private[sources] def readStoreAt(storePath: String, conf: Configuration): StationData = {
    val root = new Path(storePath)
    val fs = root.getFileSystem(conf)
    readStore(rel => StationRuns.readFile(fs, new Path(root, rel)), root.getName)
  }

  /** Read many stores distributed, one input partition per store, keyed by the
    * station id of its `<station>.zarr` name ([[StationRuns.readStations]]:
    * schema from the first store, columns aligned by name). */
  def readStores(spark: SparkSession, storePaths: Seq[String]): DataFrame =
    StationRuns.readStations(spark, storePaths, ".zarr")(readStoreAt)

  /** zarr corpus -> the engine's partitioned obs table ([[StationRuns.ingest]]):
    * the complete on-ramp for a reference user's published data. */
  def ingest(spark: SparkSession, storePaths: Seq[String], outPath: String,
             network: String): Unit =
    StationRuns.ingest(spark, storePaths, ".zarr", outPath, network)(readStoreAt)
}
