package graft.sources

import java.io.ByteArrayOutputStream
import java.net.URI
import java.nio.file.{Files, Path}
import java.nio.{ByteBuffer, ByteOrder}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, RawLocalFileSystem, Path => HPath}

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Round-trips synthetic consolidated zarr v2 stores — written by this spec in the
  * exact on-disk format xarray/zarr 2.18 emits (c-blosc lz4 frames with byte-shuffle
  * and block-split, zlib/gzip chunks, vlen-utf8 strings, CF time units) — through
  * [[ZarrSource]] into DataFrames and the partitioned obs layout. */
class ZarrSourceSpec extends SparkSpec {

  // ------------------------------------------------------------ fixture writers

  private def intLE(out: ByteArrayOutputStream, v: Int): Unit =
    out.write(ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN).putInt(v).array())

  /** c-blosc 1.x frame with byte-shuffle and the inner `codec` (1=lz4 with
    * FORWARD_COMPAT block split, 3=zlib, 4=zstd — unsplit, as c-blosc emits them) —
    * byte-compatible with what `Blosc(cname=..., shuffle=SHUFFLE)` writes. */
  private def bloscFrame(data: Array[Byte], typesize: Int, blocksize: Int,
                         codec: Int = 1): Array[Byte] = {
    require(blocksize % typesize == 0)
    val nbytes = data.length
    val nblocks = (nbytes + blocksize - 1) / blocksize
    val doSplit = codec == 1 && typesize > 1 && typesize <= 16 &&
      blocksize / typesize >= 128
    val lz4 = net.jpountz.lz4.LZ4Factory.fastestJavaInstance().fastCompressor()
    def deflate(src: Array[Byte], off: Int, len: Int): Array[Byte] = codec match {
      case 1 =>
        val comp = new Array[Byte](lz4.maxCompressedLength(len))
        val n = lz4.compress(src, off, len, comp, 0, comp.length)
        java.util.Arrays.copyOf(comp, n)
      case 3 =>
        val d = new java.util.zip.Deflater()
        d.setInput(src, off, len); d.finish()
        val bos = new ByteArrayOutputStream()
        val buf = new Array[Byte](8192)
        while (!d.finished()) bos.write(buf, 0, d.deflate(buf))
        d.end(); bos.toByteArray
      case 4 => com.github.luben.zstd.Zstd.compress(
        java.util.Arrays.copyOfRange(src, off, off + len), 3)
    }
    val blocks = (0 until nblocks).map { b =>
      val bsize = math.min(blocksize, nbytes - b * blocksize)
      val items = bsize / typesize
      val shuffled = new Array[Byte](bsize)
      for (i <- 0 until items; j <- 0 until typesize)
        shuffled(j * items + i) = data(b * blocksize + i * typesize + j)
      val nsplits = if (doSplit) typesize else 1
      val neblock = bsize / nsplits
      val bout = new ByteArrayOutputStream()
      for (s <- 0 until nsplits) {
        val comp = deflate(shuffled, s * neblock, neblock)
        if (comp.length >= neblock) {
          intLE(bout, neblock); bout.write(shuffled, s * neblock, neblock)
        } else { intLE(bout, comp.length); bout.write(comp) }
      }
      bout.toByteArray
    }
    val out = new ByteArrayOutputStream()
    out.write(2) // BLOSC_VERSION_FORMAT
    out.write(1) // versionlz
    out.write(0x1 | (codec << 5)) // flags: byte-shuffle + inner codec id
    out.write(typesize)
    intLE(out, nbytes); intLE(out, blocksize)
    val headerLen = 16 + 4 * nblocks
    intLE(out, headerLen + blocks.map(_.length).sum) // cbytes
    var off = headerLen
    blocks.foreach { blk => intLE(out, off); off += blk.length }
    blocks.foreach(out.write)
    out.toByteArray
  }

  private def zlib(data: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater()
    d.setInput(data); d.finish()
    val out = new ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end(); out.toByteArray
  }

  private def gzip(data: Array[Byte]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val g = new java.util.zip.GZIPOutputStream(bos)
    g.write(data); g.close(); bos.toByteArray
  }

  private def doublesLE(vs: Seq[Double]): Array[Byte] = {
    val bb = ByteBuffer.allocate(vs.size * 8).order(ByteOrder.LITTLE_ENDIAN)
    vs.foreach(bb.putDouble); bb.array()
  }
  private def floatsLE(vs: Seq[Float]): Array[Byte] = {
    val bb = ByteBuffer.allocate(vs.size * 4).order(ByteOrder.LITTLE_ENDIAN)
    vs.foreach(bb.putFloat); bb.array()
  }
  private def longsLE(vs: Seq[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(vs.size * 8).order(ByteOrder.LITTLE_ENDIAN)
    vs.foreach(bb.putLong); bb.array()
  }
  private def utf32LE(s: String, width: Int): Array[Byte] = {
    val bb = ByteBuffer.allocate(width * 4).order(ByteOrder.LITTLE_ENDIAN)
    s.codePoints().toArray.take(width).foreach(bb.putInt)
    bb.array()
  }
  private def vlenUtf8(vs: Seq[String]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    intLE(out, vs.size)
    vs.foreach { s => val b = s.getBytes("UTF-8"); intLE(out, b.length); out.write(b) }
    out.toByteArray
  }

  /** Write a consolidated single-station store mirroring the reference's layout:
    * station(U12), time(i8 + CF hours), tas(f8 2-D (1,time) blosc-lz4), pr(f4 gzip,
    * NaN fill), flag(i4, -9999 fill, one missing chunk), src(vlen-utf8 zlib), and
    * with `withRh` an uncompressed rh(f8). */
  private def writeStore(dir: Path, station: String, n: Int,
                         withPr: Boolean = true, withRh: Boolean = false): Unit = {
    def arr(shape: String, chunks: String, dtype: String, comp: String,
            fill: String, dims: String) =
      (s"""{"chunks":$chunks,"compressor":$comp,"dtype":"$dtype","fill_value":$fill,
          |"filters":null,"order":"C","shape":$shape,"zarr_format":2}""".stripMargin,
        s"""{"_ARRAY_DIMENSIONS":$dims}""")
    val blosc = """{"id":"blosc","cname":"lz4","clevel":5,"shuffle":1}"""
    val entries = scala.collection.mutable.LinkedHashMap[String, String](
      ".zgroup" -> """{"zarr_format":2}""",
      ".zattrs" -> s"""{"title":"graft zarr fixture","station_name":"$station"}""")
    def put(name: String, za: (String, String)): Unit = {
      entries(s"$name/.zarray") = za._1; entries(s"$name/.zattrs") = za._2
    }
    put("station", arr("[1]", "[1]", "<U12", "null", "null", """["station"]"""))
    put("time", arr(s"[$n]", "[5]", "<i8", "null",
      "null", """["time"]""").copy(_2 =
      """{"_ARRAY_DIMENSIONS":["time"],"units":"hours since 2000-01-01","calendar":"proleptic_gregorian"}"""))
    put("tas", arr(s"[1,$n]", s"[1,$n]", "<f8", blosc, "NaN", """["station","time"]"""))
    if (withPr)
      put("pr", arr(s"[$n]", "[4]", "<f4", """{"id":"gzip","level":1}""", "NaN", """["time"]"""))
    put("flag", arr(s"[$n]", "[5]", "<i4", "null", "-9999", """["time"]"""))
    if (withRh) put("rh", arr(s"[$n]", s"[$n]", "<f8", "null", "NaN", """["time"]"""))
    put("src", arr(s"[$n]", s"[$n]", "|O", """{"id":"zlib","level":1}""",
      "null", """["time"]""").copy(_1 =
      s"""{"chunks":[$n],"compressor":{"id":"zlib","level":1},"dtype":"|O","fill_value":null,
         |"filters":[{"id":"vlen-utf8"}],"order":"C","shape":[$n],"zarr_format":2}""".stripMargin))
    val meta = entries.map { case (k, v) =>
      "\"" + k + "\":" + v.replaceAll("\n", "")
    }.mkString("{\"metadata\":{", ",", "},\"zarr_consolidated_format\":1}")
    Files.createDirectories(dir)
    Files.write(dir.resolve(".zmetadata"), meta.getBytes("UTF-8"))
    def chunk(name: String, key: String, bytes: Array[Byte]): Unit = {
      Files.createDirectories(dir.resolve(name))
      Files.write(dir.resolve(name).resolve(key), bytes)
    }
    chunk("station", "0", utf32LE(station, 12))
    (0 until n by 5).foreach { c =>
      chunk("time", (c / 5).toString, longsLE((0 until 5).map(i => (c + i).toLong)))
    }
    // tas: one whole-time blosc chunk (the reference's single-time-chunk layout),
    // value i*0.5 with a NaN (fill) at index 3
    val tas = (0 until n).map(i => if (i == 3) Double.NaN else i * 0.5)
    chunk("tas", "0.0", bloscFrame(doublesLE(tas), 8, 1024))
    if (withPr)
      (0 until n by 4).foreach { c =>
        chunk("pr", (c / 4).toString,
          gzip(floatsLE((0 until 4).map(i => (c + i).toFloat / 10f))))
      }
    // flag: chunk 0 present (values 100..104 with a -9999 fill at idx 2), chunk 1+ MISSING
    chunk("flag", "0", ByteBuffer.allocate(20).order(ByteOrder.LITTLE_ENDIAN)
      .putInt(100).putInt(101).putInt(-9999).putInt(103).putInt(104).array())
    chunk("src", "0", zlib(vlenUtf8((0 until n).map(i => s"net$i"))))
    if (withRh) chunk("rh", "0", doublesLE((0 until n).map(i => 50.0 + i)))
  }

  // ------------------------------------------------------------------- tests

  test("blosc-lz4 frame: shuffle + split + partial last block round-trips") {
    val vals = (0 until 300).map(i => math.sin(i) * 100)
    val raw = doublesLE(vals)
    // blocksize 2048 -> 256 items/block: split active (2048/8 >= 128), last block partial
    val frame = bloscFrame(raw, typesize = 8, blocksize = 2048)
    assert(ZarrSource.bloscDecode(frame).toSeq == raw.toSeq)
    // zlib and zstd inner codecs (unsplit streams, shuffle still applies)
    assert(ZarrSource.bloscDecode(
      bloscFrame(raw, typesize = 8, blocksize = 2048, codec = 3)).toSeq == raw.toSeq)
    assert(ZarrSource.bloscDecode(
      bloscFrame(raw, typesize = 8, blocksize = 2048, codec = 4)).toSeq == raw.toSeq)
    // memcpy-mode frame (flags bit 1)
    val mem = new ByteArrayOutputStream()
    mem.write(2); mem.write(1); mem.write(0x2); mem.write(8)
    intLE(mem, raw.length); intLE(mem, raw.length); intLE(mem, raw.length + 16)
    mem.write(raw)
    assert(ZarrSource.bloscDecode(mem.toByteArray).toSeq == raw.toSeq)
  }

  test("CF units parse: seconds/hours/days since epoch") {
    assert(StationRuns.parseCfUnits("hours since 2000-01-01") ==
      (3600000000L, 946684800000000L))
    assert(StationRuns.parseCfUnits("seconds since 1970-01-01 00:00:00") == (1000000L, 0L))
    assert(StationRuns.parseCfUnits("days since 1980-01-01T00:00:00") ==
      (86400000000L, 315532800000000L))
  }

  test("S5: consolidated store reads with true dtypes, fills, and CF time") {
    val dir = Files.createTempDirectory("zarr_store")
    writeStore(dir.resolve("TEST_001.zarr"), "TEST_001", n = 10)
    val d = ZarrSource.readStoreAt(dir.resolve("TEST_001.zarr").toString,
      spark.sparkContext.hadoopConfiguration)
    assert(d.station == "TEST_001")
    assert(d.time.head == 946684800000000L && d.time(1) - d.time(0) == 3600000000L)
    val cols = d.cols.map(c => c.name -> ColumnValues(c)).toMap
    assert(cols("tas")(0) == 0.0 && cols("tas")(4) == 2.0 && cols("tas")(3) == null)
    assert(approx(cols("pr")(5).asInstanceOf[Double], 0.5, 1e-6))
    assert(cols("flag")(0) == 100L && cols("flag")(2) == null)
    assert(cols("flag")(7) == null, "missing chunk must read as fill -> null")
    assert(cols("src")(9) == "net9")
    assert(d.attrs.global("title") == "graft zarr fixture")
    assert(d.attrs.forVar("time")("units") == "hours since 2000-01-01")
  }

  test("chunk-grid scatter: 2-D (1,N) array across multiple chunks with partial tail") {
    // shape [1,10], chunks [1,4] -> grid (1,3), last chunk holds 2 valid of 4 slots
    val za = ZarrSource.ZArrayMeta(shape = Seq(1, 10), chunks = Seq(1, 4),
      dtype = "<f8", compressor = None, fillValue = None,
      dims = Seq("station", "time"), vlenUtf8 = false)
    val files = (0 until 3).map { c =>
      // chunk files are FULL chunk size; positions past the shape edge are padding
      s"v/0.$c" -> doublesLE((0 until 4).map(i => (c * 4 + i) * 1.0))
    }.toMap
    val got = ColumnValues(ZarrSource.readArray(files.get(_), "v", za))
    assert(got == (0 until 10).map(_.toDouble))
    // missing middle chunk -> fill (null) for exactly its span
    val got2 = ColumnValues(ZarrSource.readArray((files - "v/0.1").get(_), "v", za))
    assert(got2.slice(4, 8).forall(_ == null) &&
      got2(3) == 3.0 && got2(8) == 8.0)
  }

  test("S5: datetime64[ns] time axis and big-endian dtypes decode") {
    val dir = Files.createTempDirectory("zarr_m8").resolve("M8.zarr")
    Files.createDirectories(dir)
    val meta =
      """{"metadata":{".zgroup":{"zarr_format":2},".zattrs":{},
        |"station/.zarray":{"chunks":[1],"compressor":null,"dtype":"<U4","fill_value":null,"filters":null,"order":"C","shape":[1],"zarr_format":2},
        |"station/.zattrs":{"_ARRAY_DIMENSIONS":["station"]},
        |"time/.zarray":{"chunks":[4],"compressor":null,"dtype":"<M8[ns]","fill_value":null,"filters":null,"order":"C","shape":[4],"zarr_format":2},
        |"time/.zattrs":{"_ARRAY_DIMENSIONS":["time"]},
        |"bar/.zarray":{"chunks":[4],"compressor":null,"dtype":">f8","fill_value":null,"filters":null,"order":"C","shape":[4],"zarr_format":2},
        |"bar/.zattrs":{"_ARRAY_DIMENSIONS":["time"]}},
        |"zarr_consolidated_format":1}""".stripMargin.replaceAll("\n", "")
    Files.write(dir.resolve(".zmetadata"), meta.getBytes("UTF-8"))
    Files.createDirectories(dir.resolve("station"))
    Files.write(dir.resolve("station").resolve("0"), utf32LE("M8ST", 4))
    // nanos since epoch: 2020-01-01T00 + i hours
    val base = 1577836800L * 1000000000L
    Files.createDirectories(dir.resolve("time"))
    Files.write(dir.resolve("time").resolve("0"),
      longsLE((0 until 4).map(i => base + i * 3600L * 1000000000L)))
    val beBytes = ByteBuffer.allocate(32).order(ByteOrder.BIG_ENDIAN)
    Seq(1.5, -2.25, 0.0, 99.75).foreach(beBytes.putDouble)
    Files.createDirectories(dir.resolve("bar"))
    Files.write(dir.resolve("bar").resolve("0"), beBytes.array())
    val d = ZarrSource.readStoreAt(dir.toString, spark.sparkContext.hadoopConfiguration)
    assert(d.station == "M8ST")
    assert(d.time.toSeq == (0 until 4).map(i => 1577836800000000L + i * 3600000000L))
    assert(ColumnValues(d.cols.find(_.name == "bar").get) == Seq(1.5, -2.25, 0.0, 99.75))
  }

  test("S5: multi-store distributed read + ingest round-trip to the obs layout") {
    val dir = Files.createTempDirectory("zarr_corpus")
    writeStore(dir.resolve("ST_A.zarr"), "ST_A", n = 10)
    writeStore(dir.resolve("ST_B.zarr"), "ST_B", n = 10, withPr = false, withRh = true)
    val paths = Seq(dir.resolve("ST_A.zarr").toString, dir.resolve("ST_B.zarr").toString)
    val df = ZarrSource.readStores(spark, paths)
    assert(df.count() == 20)
    // ST_B's extra rh is dropped (schema from the first store)
    assert(df.columns.toSeq == Seq("station", "time", "flag", "pr", "src", "tas"))
    // ST_B has no pr: its rows are null there
    assert(df.filter(col("station") === "ST_B" && col("pr").isNotNull).count() == 0)
    assert(df.filter(col("station") === "ST_B" && col("tas").isNotNull).count() == 9)
    assert(df.filter(col("station") === "ST_A" && col("pr").isNotNull).count() == 10)
    val out = Files.createTempDirectory("zarr_obs").toString + "/obs"
    ZarrSource.ingest(spark, paths, out, network = "TESTNET")
    val back = spark.read.parquet(out)
    assert(back.count() == 20)
    assert(back.filter(col("network") === "TESTNET").count() == 20)
    assert(approx(back.filter(col("station") === "ST_A")
      .agg(sum(col("tas"))).first().getDouble(0), 21.0)) // 0.5*sum(0..9 minus idx 3)
    val attrs = Sinks.readAttrs(back, out)
    assert(attrs.global("title") == "graft zarr fixture")
  }

  test("a file of 2 GiB or more is refused naming its path; an absent chunk is None") {
    val dir = Files.createTempDirectory("zarr_huge")
    writeStore(dir.resolve("BIG.zarr"), "BIG", n = 10)
    val conf = TwoGiBFileSystem.conf
    val store = s"${TwoGiBFileSystem.Scheme}://${dir.resolve("BIG.zarr")}"
    val e = intercept[IllegalArgumentException](ZarrSource.readStoreAt(store, conf))
    assert(e.getMessage.contains("BIG.zarr/.zmetadata"), e.getMessage)
    // flag's chunk 1 is not written: zarr reads it as fill
    val chunk = new HPath(s"$store/flag/1")
    assert(StationRuns.readFile(chunk.getFileSystem(conf), chunk).isEmpty)
  }
}

/** A local file system under the `twogib:` scheme that reports every file as
  * 2 GiB long, so the read guard is reached without writing such a file. */
class TwoGiBFileSystem extends RawLocalFileSystem {
  override def getUri: URI = URI.create(s"${TwoGiBFileSystem.Scheme}:///")
  override def getFileStatus(p: HPath): FileStatus = {
    val s = super.getFileStatus(p)
    new FileStatus(1L << 31, s.isDirectory, 1, s.getBlockSize, s.getModificationTime, p)
  }
}

object TwoGiBFileSystem {
  val Scheme = "twogib"

  def conf: Configuration = {
    val c = new Configuration(false)
    c.set(s"fs.$Scheme.impl", classOf[TwoGiBFileSystem].getName)
    c.setBoolean(s"fs.$Scheme.impl.disable.cache", true)
    c
  }
}
