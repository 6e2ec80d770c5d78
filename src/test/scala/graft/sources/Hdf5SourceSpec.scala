package graft.sources

import java.nio.{ByteBuffer, ByteOrder}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.types._

import graft.SparkSpec

/** HDF5 / netCDF-4 reader round trip: the spec hand-writes HDF5-format bytes
  * per the public spec (the [[NcSourceSpec]] / ZarrSourceSpec validation
  * model — no libhdf5 in this environment) and pins the decode:
  *  - profile A: superblock v0, v1 object headers (+ a continuation block),
  *    symbol-table root group, contiguous and chunked+shuffle+deflate
  *    datasets, fill values, BE integers, a phony netCDF dimension dataset;
  *  - profile B: superblock v3, OHDR v2 root with Link messages, a
  *    variable-length string in the global heap;
  *  - profile C: the netcdf-c "dense" profile — root group with >8 links in
  *    DENSE storage (fractal heap root direct block + name B-tree v2 depth
  *    0) and a variable with >8 attributes in DENSE storage (fractal heap
  *    root INDIRECT block over 3 direct blocks + name B-tree v2 depth 1),
  *    creation-order-tracked OHDR v2 headers, Jenkins-lookup3 name hashes
  *    and structure checksums.
  */
class Hdf5SourceSpec extends SparkSpec {

  private val UNDEF = -1L

  /** Little-endian append buffer with absolute patching. */
  private final class W {
    val buf = new ArrayBuffer[Byte]()
    def pos: Int = buf.size
    def u8(v: Int): Unit = buf += v.toByte
    def u16(v: Int): Unit = { buf += v.toByte; buf += (v >> 8).toByte }
    def u32(v: Long): Unit = (0 until 4).foreach(i => buf += (v >> (8 * i)).toByte)
    def u64(v: Long): Unit = (0 until 8).foreach(i => buf += (v >> (8 * i)).toByte)
    def raw(b: Array[Byte]): Unit = buf ++= b
    def ascii(s: String): Unit = raw(s.getBytes("ASCII"))
    def zeros(n: Int): Unit = (0 until n).foreach(_ => buf += 0)
    def align8(): Unit = while (pos % 8 != 0) buf += 0
    def patchU64(at: Int, v: Long): Unit =
      (0 until 8).foreach(i => buf(at + i) = (v >> (8 * i)).toByte)
    def bytes: Array[Byte] = buf.toArray
  }

  private def le64(v: Long): Array[Byte] = {
    val b = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN); b.putLong(v); b.array
  }
  private def leD(v: Double): Array[Byte] = {
    val b = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN); b.putDouble(v); b.array
  }

  // ----------------------------------------------------------- messages

  /** One v1 header message: type, then 8-aligned body. */
  private def msg(typ: Int, body: Array[Byte]): Array[Byte] = {
    val padded = body ++ new Array[Byte]((8 - body.length % 8) % 8)
    val out = ByteBuffer.allocate(8 + padded.length).order(ByteOrder.LITTLE_ENDIAN)
    out.putShort(typ.toShort); out.putShort(padded.length.toShort)
    out.put(0.toByte); out.put(new Array[Byte](3)); out.put(padded)
    out.array
  }

  private def dataspace(dims: Seq[Long]): Array[Byte] = {
    val b = ByteBuffer.allocate(8 + dims.size * 8).order(ByteOrder.LITTLE_ENDIAN)
    b.put(1.toByte); b.put(dims.size.toByte); b.put(0.toByte); b.put(new Array[Byte](5))
    dims.foreach(b.putLong)
    b.array
  }

  private def dtFixed(size: Int, signed: Boolean, be: Boolean): Array[Byte] = {
    val b = ByteBuffer.allocate(12).order(ByteOrder.LITTLE_ENDIAN)
    b.put(0x10.toByte) // version 1, class 0
    b.put((((if (signed) 0x08 else 0) | (if (be) 0x01 else 0))).toByte)
    b.put(0.toByte); b.put(0.toByte)
    b.putInt(size)
    b.putShort(0.toShort); b.putShort((size * 8).toShort)
    b.array
  }

  private def dtFloat64: Array[Byte] = {
    val b = ByteBuffer.allocate(20).order(ByteOrder.LITTLE_ENDIAN)
    b.put(0x11.toByte) // version 1, class 1
    b.put(0x20.toByte); b.put(0x3f.toByte); b.put(0.toByte) // IEEE LE bit fields
    b.putInt(8)
    b.putShort(0.toShort); b.putShort(64.toShort)
    b.put(52.toByte); b.put(11.toByte); b.put(0.toByte); b.put(52.toByte)
    b.putInt(1023)
    b.array
  }

  private def dtString(size: Int): Array[Byte] = {
    val b = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
    b.put(0x13.toByte); b.put(0.toByte); b.put(0.toByte); b.put(0.toByte)
    b.putInt(size)
    b.array
  }

  private def dtVlenStr: Array[Byte] = {
    // class 9 version 1, type=string(1); base type = 1-byte string
    val base = dtString(1)
    val b = ByteBuffer.allocate(8 + base.length).order(ByteOrder.LITTLE_ENDIAN)
    b.put(0x19.toByte); b.put(0x01.toByte); b.put(0.toByte); b.put(0.toByte)
    b.putInt(16)
    b.put(base)
    b.array
  }

  private def fillV3(value: Option[Array[Byte]]): Array[Byte] = value match {
    case Some(v) =>
      val b = ByteBuffer.allocate(6 + v.length).order(ByteOrder.LITTLE_ENDIAN)
      b.put(3.toByte); b.put(0x20.toByte); b.putInt(v.length); b.put(v)
      b.array
    case None => Array[Byte](3, 0)
  }

  private def layoutContiguous(addr: Long, size: Long): Array[Byte] = {
    val b = ByteBuffer.allocate(18).order(ByteOrder.LITTLE_ENDIAN)
    b.put(3.toByte); b.put(1.toByte); b.putLong(addr); b.putLong(size)
    b.array
  }

  private def layoutChunked(btreeAddr: Long, chunkDims: Seq[Int],
                            elemSize: Int): Array[Byte] = {
    val nd = chunkDims.size + 1
    val b = ByteBuffer.allocate(3 + 8 + 4 * nd).order(ByteOrder.LITTLE_ENDIAN)
    b.put(3.toByte); b.put(2.toByte); b.put(nd.toByte); b.putLong(btreeAddr)
    chunkDims.foreach(d => b.putInt(d)); b.putInt(elemSize)
    b.array
  }

  private def filterPipelineV1(filters: Seq[(Int, Seq[Long])]): Array[Byte] = {
    val parts = filters.map { case (id, vals) =>
      val b = ByteBuffer.allocate(8 + vals.size * 4 + (if (vals.size % 2 == 1) 4 else 0))
        .order(ByteOrder.LITTLE_ENDIAN)
      b.putShort(id.toShort); b.putShort(0.toShort); b.putShort(0.toShort)
      b.putShort(vals.size.toShort)
      vals.foreach(v => b.putInt(v.toInt))
      if (vals.size % 2 == 1) b.putInt(0)
      b.array
    }
    val head = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
    head.put(1.toByte); head.put(filters.size.toByte); head.put(new Array[Byte](6))
    head.array ++ parts.flatten
  }

  private def attrV1(name: String, dt: Array[Byte], ds: Array[Byte],
                     data: Array[Byte]): Array[Byte] = {
    def pad8(a: Array[Byte]): Array[Byte] = a ++ new Array[Byte]((8 - a.length % 8) % 8)
    val nameB = name.getBytes("ASCII") ++ Array[Byte](0)
    val b = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
    b.put(1.toByte); b.put(0.toByte)
    b.putShort(nameB.length.toShort); b.putShort(dt.length.toShort)
    b.putShort(ds.length.toShort)
    b.array ++ pad8(nameB) ++ pad8(dt) ++ pad8(ds) ++ data
  }

  private def strAttr(name: String, value: String): Array[Byte] = {
    val v = value.getBytes("ASCII") ++ Array[Byte](0)
    attrV1(name, dtString(v.length), dataspace(Seq.empty), v)
  }

  /** v1 object header from messages; returns bytes (caller appends at an
    * 8-aligned position). `contFrom` splits the tail messages into a
    * continuation block appended AFTER the main header. */
  private def objectHeaderV1(w: W, messages: Seq[Array[Byte]],
                             contSplit: Int = Int.MaxValue): Int = {
    w.align8()
    val addr = w.pos
    val (main, cont) = messages.splitAt(contSplit)
    val contMsgBytes = cont.flatten.toArray
    val contMsg = if (cont.isEmpty) None else Some(new Array[Byte](8 + 16)) // placeholder
    val mainSize = main.map(_.length).sum + (if (cont.isEmpty) 0 else 24)
    w.u8(1); w.u8(0)
    w.u16(messages.size + (if (cont.isEmpty) 0 else 1))
    w.u32(1) // ref count
    w.u32(mainSize)
    w.zeros(4)
    main.foreach(m => w.raw(m))
    var contPatch = -1
    if (cont.nonEmpty) {
      // continuation message: type 0x0010, body = offset(8) + length(8)
      w.u16(0x0010); w.u16(16); w.u8(0); w.zeros(3)
      contPatch = w.pos
      w.u64(0); w.u64(contMsgBytes.length.toLong)
    }
    if (cont.nonEmpty) {
      w.align8()
      val contAddr = w.pos
      w.raw(contMsgBytes)
      w.patchU64(contPatch, contAddr.toLong)
    }
    addr
  }

  // ------------------------------------------------ profile A fixture

  /** Old-style file: superblock v0 + symbol-table root group. */
  private def buildProfileA(): Array[Byte] = {
    val w = new W
    // ---- superblock v0
    w.raw(Array(0x89.toByte, 'H'.toByte, 'D'.toByte, 'F'.toByte,
      0x0d.toByte, 0x0a.toByte, 0x1a.toByte, 0x0a.toByte))
    w.u8(0); w.u8(0); w.u8(0); w.u8(0) // versions
    w.u8(0); w.u8(8); w.u8(8); w.u8(0) // shared ver, offsets, lengths, reserved
    w.u16(4); w.u16(16) // leaf k, internal k
    w.u32(0) // consistency flags
    w.u64(0); w.u64(UNDEF); w.u64(UNDEF); w.u64(UNDEF) // base, fs, EOF, driver
    // root symbol table entry
    w.u64(0) // link name offset
    val rootOhPatch = w.pos; w.u64(0)
    w.u32(1); w.u32(0) // cached stab
    val stabBtreePatch = w.pos; w.u64(0)
    val stabHeapPatch = w.pos; w.u64(0)

    // ---- datasets
    val timeVals = Array(0.0, 1.0, 2.0, 3.0, 4.0, 5.0)
    val nT = timeVals.length
    // time: f8 contiguous with CF units attrs
    w.align8(); val timeDataAddr = w.pos
    timeVals.foreach(v => w.raw(leD(v)))
    val timeOh = objectHeaderV1(w, Seq(
      msg(0x0001, dataspace(Seq(nT.toLong))),
      msg(0x0003, dtFloat64),
      msg(0x0008, layoutContiguous(timeDataAddr.toLong, nT * 8L)),
      msg(0x000C, strAttr("units", "hours since 1990-01-01")),
      msg(0x000C, strAttr("calendar", "proleptic_gregorian"))))

    // tas: f8 CHUNKED (chunk 4) + shuffle + deflate + fill, attrs in a
    // continuation block; value 3 is the fill, value 4 is NaN
    val fill = 9.96921e36
    val tasVals = Array(10.5, 11.5, 12.5, fill, Double.NaN, 15.5)
    val chunkSz = 4
    val chunkAddrs = tasVals.grouped(chunkSz).zipWithIndex.map { case (chunk, ci) =>
      val raw = chunk.flatMap(leD).toArray
      val padded = raw ++ new Array[Byte]((chunkSz - chunk.length) * 8) // full chunk
      val shuffled = {
        val n = padded.length / 8
        val out = new Array[Byte](padded.length)
        for (j <- 0 until 8; i <- 0 until n) out(j * n + i) = padded(i * 8 + j)
        out
      }
      val defl = {
        val d = new java.util.zip.Deflater()
        d.setInput(shuffled); d.finish()
        val tmp = new Array[Byte](shuffled.length * 2 + 64)
        val k = d.deflate(tmp); d.end()
        java.util.Arrays.copyOf(tmp, k)
      }
      w.align8(); val a = w.pos; w.raw(defl)
      (ci * chunkSz, defl.length, a)
    }.toSeq
    w.align8(); val tasBtree = w.pos
    w.ascii("TREE"); w.u8(1); w.u8(0); w.u16(chunkAddrs.size)
    w.u64(UNDEF); w.u64(UNDEF)
    chunkAddrs.foreach { case (off, sz, addr) =>
      w.u32(sz.toLong); w.u32(0); w.u64(off.toLong); w.u64(0) // key
      w.u64(addr.toLong) // child
    }
    w.u32(0); w.u32(0); w.u64(nT.toLong); w.u64(0) // final key
    val tasOh = objectHeaderV1(w, Seq(
      msg(0x0001, dataspace(Seq(nT.toLong))),
      msg(0x0003, dtFloat64),
      msg(0x0005, fillV3(Some(leD(fill)))),
      msg(0x000B, filterPipelineV1(Seq(2 -> Seq(8L), 1 -> Seq(6L)))),
      msg(0x0008, layoutChunked(tasBtree.toLong, Seq(chunkSz), 8)),
      msg(0x000C, strAttr("long_name", "air temperature")),
      msg(0x000C, attrV1("_FillValue", dtFloat64, dataspace(Seq.empty), leD(fill)))),
      contSplit = 5) // long_name + _FillValue land in a continuation block

    // qc: big-endian int16 contiguous, fill = -999 -> null
    val qcVals = Array[Short](1, 2, -999, 4, 5, 6)
    w.align8(); val qcDataAddr = w.pos
    qcVals.foreach { v => w.u8((v >> 8) & 0xff); w.u8(v & 0xff) } // BE on disk
    val qcOh = objectHeaderV1(w, Seq(
      msg(0x0001, dataspace(Seq(nT.toLong))),
      msg(0x0003, dtFixed(2, signed = true, be = true)),
      msg(0x0005, fillV3(Some(Array(0xFC.toByte, 0x19.toByte)))), // -999 BE
      msg(0x0008, layoutContiguous(qcDataAddr.toLong, nT * 2L))))

    // station: fixed string scalar
    val st = "KSEA-01\u0000".getBytes("ASCII")
    w.align8(); val stDataAddr = w.pos; w.raw(st)
    val stOh = objectHeaderV1(w, Seq(
      msg(0x0001, dataspace(Seq.empty)),
      msg(0x0003, dtString(st.length)),
      msg(0x0008, layoutContiguous(stDataAddr.toLong, st.length.toLong))))

    // phony netCDF dimension dataset (must be dropped)
    w.align8(); val phonyDataAddr = w.pos
    timeVals.foreach(v => w.raw(leD(v)))
    val phonyOh = objectHeaderV1(w, Seq(
      msg(0x0001, dataspace(Seq(nT.toLong))),
      msg(0x0003, dtFloat64),
      msg(0x0008, layoutContiguous(phonyDataAddr.toLong, nT * 8L)),
      msg(0x000C, strAttr("NAME",
        "This is a netCDF dimension but not a netCDF variable."))))

    // root group object header: symbol table message
    w.align8()
    val rootOh = w.pos
    w.u8(1); w.u8(0); w.u16(1); w.u32(1); w.u32(24); w.zeros(4)
    w.u16(0x0011); w.u16(16); w.u8(0); w.zeros(3)
    val rootStabBtreePatch = w.pos; w.u64(0)
    val rootStabHeapPatch = w.pos; w.u64(0)

    // local heap: names
    val names = Seq("phony_dim", "qc", "station", "tas", "time")
    w.align8(); val heapHdr = w.pos
    w.ascii("HEAP"); w.u8(0); w.zeros(3)
    val heapSizePatch = w.pos; w.u64(0)
    w.u64(UNDEF) // free list
    val heapDataPatch = w.pos; w.u64(0)
    w.align8(); val heapData = w.pos
    w.u64(0) // offset 0 reserved (empty root link name)
    val nameOffsets = names.map { n =>
      val off = w.pos - heapData
      w.ascii(n); w.u8(0); w.align8()
      n -> off.toLong
    }.toMap
    w.patchU64(heapSizePatch, (w.pos - heapData).toLong)
    w.patchU64(heapDataPatch, heapData.toLong)

    // SNOD with the five entries (sorted by name)
    w.align8(); val snod = w.pos
    w.ascii("SNOD"); w.u8(1); w.u8(0); w.u16(names.size)
    val ohOf = Map("time" -> timeOh, "tas" -> tasOh, "qc" -> qcOh,
      "station" -> stOh, "phony_dim" -> phonyOh)
    names.foreach { n =>
      w.u64(nameOffsets(n)); w.u64(ohOf(n).toLong)
      w.u32(0); w.u32(0); w.zeros(16)
    }

    // B-tree leaf for the group
    w.align8(); val btree = w.pos
    w.ascii("TREE"); w.u8(0); w.u8(0); w.u16(1)
    w.u64(UNDEF); w.u64(UNDEF)
    w.u64(0) // key 0
    w.u64(snod.toLong)
    w.u64(nameOffsets(names.last)) // key 1

    w.patchU64(rootOhPatch, rootOh.toLong)
    w.patchU64(stabBtreePatch, btree.toLong)
    w.patchU64(stabHeapPatch, heapHdr.toLong)
    w.patchU64(rootStabBtreePatch, btree.toLong)
    w.patchU64(rootStabHeapPatch, heapHdr.toLong)
    w.bytes
  }

  // ------------------------------------------------ profile B fixture

  /** New-style file: superblock v3, OHDR v2 root group with Link messages,
    * vlen-string station in the global heap. */
  private def buildProfileB(): Array[Byte] = {
    val w = new W
    w.raw(Array(0x89.toByte, 'H'.toByte, 'D'.toByte, 'F'.toByte,
      0x0d.toByte, 0x0a.toByte, 0x1a.toByte, 0x0a.toByte))
    w.u8(3); w.u8(8); w.u8(8); w.u8(0)
    w.u64(0); w.u64(UNDEF)
    val eofPatch = w.pos; w.u64(0)
    val rootPatch = w.pos; w.u64(0)
    w.u32(0) // checksum (not verified by the reader)

    val timeVals = Array(0.0, 1.0, 2.0)
    val nT = timeVals.length
    w.align8(); val timeDataAddr = w.pos
    timeVals.foreach(v => w.raw(leD(v)))
    val timeOh = objectHeaderV1(w, Seq(
      msg(0x0001, dataspace(Seq(nT.toLong))),
      msg(0x0003, dtFloat64),
      msg(0x0008, layoutContiguous(timeDataAddr.toLong, nT * 8L)),
      msg(0x000C, strAttr("units", "days since 2000-01-01"))))

    val pr = Array(1.5, 2.5, 3.5)
    w.align8(); val prDataAddr = w.pos
    pr.foreach(v => w.raw(leD(v)))
    val prOh = objectHeaderV1(w, Seq(
      msg(0x0001, dataspace(Seq(nT.toLong))),
      msg(0x0003, dtFloat64),
      msg(0x0008, layoutContiguous(prDataAddr.toLong, nT * 8L))))

    // global heap with the station string
    val stStr = "B-STATION-9".getBytes("ASCII")
    w.align8(); val gheap = w.pos
    w.ascii("GCOL"); w.u8(1); w.zeros(3)
    val heapLen = 16 + 16 + ((stStr.length + 7) & ~7)
    w.u64(heapLen.toLong)
    w.u16(1); w.u16(1); w.zeros(4); w.u64(stStr.length.toLong)
    w.raw(stStr); w.align8()
    // vlen descriptor dataset (scalar)
    w.align8(); val stDataAddr = w.pos
    w.u32(stStr.length.toLong); w.u64(gheap.toLong); w.u32(1)
    val stOh = objectHeaderV1(w, Seq(
      msg(0x0001, dataspace(Seq.empty)),
      msg(0x0003, dtVlenStr),
      msg(0x0008, layoutContiguous(stDataAddr.toLong, 16L))))

    // root OHDR v2 with link messages
    def linkMsg(name: String, target: Long): Array[Byte] = {
      val nb = name.getBytes("ASCII")
      val b = ByteBuffer.allocate(2 + 1 + nb.length + 8).order(ByteOrder.LITTLE_ENDIAN)
      b.put(1.toByte); b.put(0.toByte) // version, flags: 1-byte name length
      b.put(nb.length.toByte); b.put(nb); b.putLong(target)
      b.array
    }
    val links = Seq(linkMsg("pr", prOh.toLong), linkMsg("station", stOh.toLong),
      linkMsg("time", timeOh.toLong))
    // v2 messages: type(1), size(2), flags(1), data — no creation-order tracking
    val v2msgs = links.map { l =>
      val b = ByteBuffer.allocate(4 + l.length).order(ByteOrder.LITTLE_ENDIAN)
      b.put(0x06.toByte); b.putShort(l.length.toShort); b.put(0.toByte); b.put(l)
      b.array
    }
    val chunk0 = v2msgs.map(_.length).sum + 4 // + checksum
    w.align8(); val rootOh = w.pos
    w.ascii("OHDR"); w.u8(2); w.u8(0x01) // flags: 2-byte chunk0 size
    w.u16(chunk0)
    v2msgs.foreach(m => w.raw(m))
    w.u32(0) // checksum (not verified)

    w.patchU64(rootPatch, rootOh.toLong)
    w.patchU64(eofPatch, w.pos.toLong)
    w.bytes
  }

  // ------------------------------------------------ profile C fixture

  /** Jenkins lookup3 `hashlittle` — HDF5's name hash and metadata checksum
    * (public-domain algorithm; the HDF5 spec's "Hash of Name" fields). */
  private def lookup3(data: Array[Byte], init: Int = 0): Int = {
    def rot(x: Int, k: Int): Int = (x << k) | (x >>> (32 - k))
    var a = 0xdeadbeef + data.length + init
    var b = a; var c = a
    var i = 0; var len = data.length
    while (len > 12) {
      a += (data(i) & 0xff) | ((data(i + 1) & 0xff) << 8) |
        ((data(i + 2) & 0xff) << 16) | ((data(i + 3) & 0xff) << 24)
      b += (data(i + 4) & 0xff) | ((data(i + 5) & 0xff) << 8) |
        ((data(i + 6) & 0xff) << 16) | ((data(i + 7) & 0xff) << 24)
      c += (data(i + 8) & 0xff) | ((data(i + 9) & 0xff) << 8) |
        ((data(i + 10) & 0xff) << 16) | ((data(i + 11) & 0xff) << 24)
      a -= c; a ^= rot(c, 4); c += b
      b -= a; b ^= rot(a, 6); a += c
      c -= b; c ^= rot(b, 8); b += a
      a -= c; a ^= rot(c, 16); c += b
      b -= a; b ^= rot(a, 19); a += c
      c -= b; c ^= rot(b, 4); b += a
      i += 12; len -= 12
    }
    if (len == 0) return c
    var k = 0
    while (k < len) {
      val v = (data(i + k) & 0xff) << ((k % 4) * 8)
      if (k < 4) a += v else if (k < 8) b += v else c += v
      k += 1
    }
    c ^= b; c -= rot(b, 14)
    a ^= c; a -= rot(c, 11)
    b ^= a; b -= rot(a, 25)
    c ^= b; c -= rot(b, 16)
    a ^= c; a -= rot(c, 4)
    b ^= a; b -= rot(a, 14)
    c ^= b; c -= rot(b, 24)
    c
  }

  /** deferred (start, ckPos) checksum slots: lookup3 over [start, ckPos). */
  private def fixChecksums(w: W, slots: Seq[(Int, Int)]): Unit = slots.foreach {
    case (start, ckPos) =>
      val ck = lookup3(w.buf.slice(start, ckPos).toArray)
      (0 until 4).foreach(i => w.buf(ckPos + i) = (ck >> (8 * i)).toByte)
  }

  /** OHDR v2 header; `tracked` = creation-order tracking (2-byte creation
    * order after each message header, header flag 0x04). */
  private def objectHeaderV2(w: W, msgs: Seq[(Int, Array[Byte])], tracked: Boolean,
                             cks: ArrayBuffer[(Int, Int)]): Int = {
    val body = new ArrayBuffer[Byte]()
    msgs.zipWithIndex.foreach { case ((typ, data), i) =>
      body += typ.toByte
      body += data.length.toByte; body += (data.length >> 8).toByte
      body += 0 // message flags
      if (tracked) { body += i.toByte; body += 0 } // creation order
      body ++= data
    }
    val chunk0 = body.length + 4 // + checksum
    w.align8(); val addr = w.pos
    w.ascii("OHDR"); w.u8(2); w.u8(0x01 | (if (tracked) 0x04 else 0))
    w.u16(chunk0)
    w.raw(body.toArray)
    val ckPos = w.pos; w.u32(0)
    cks += ((addr, ckPos))
    addr
  }

  /** Managed fractal heap: objects packed into `startSize` direct blocks; a
    * single root direct block, or (several blocks) a root indirect block of
    * row-0 children. Returns (headerAddr, heap ID bytes per object) with the
    * spec's managed-ID shape: flag byte, offset (4 = ceil(32-bit max heap
    * size / 8)), length (idLen - 5). */
  private def writeFractalHeap(w: W, objects: Seq[Array[Byte]], idLen: Int,
                               maxObjSize: Long, startSize: Long,
                               cks: ArrayBuffer[(Int, Int)],
                               rootSize: Long = 0L): (Long, Seq[Array[Byte]]) = {
    val offSz = 4 // max heap size 32 bits
    val lenSz = idLen - 1 - offSz
    val width = 4
    val hdrSz = 4 + 1 + 8 + offSz + 4 // FHDB with checksummed blocks (flags 0x02)
    // rootSize > startSize models a writer that DOUBLED the root direct block
    // before ever converting to an indirect root (allocated-managed-space is
    // then the only header field carrying the true block size — ADVICE r12)
    val blockSize = if (rootSize > 0) rootSize else startSize
    // pack objects into blocks + compute their heap-linear offsets
    val blockObjs = ArrayBuffer(ArrayBuffer.empty[Array[Byte]])
    var room = blockSize - hdrSz
    val ids = objects.map { o =>
      require(o.length <= maxObjSize && o.length <= blockSize - hdrSz)
      if (o.length > room) { blockObjs += ArrayBuffer.empty; room = blockSize - hdrSz }
      val heapOff = (blockObjs.size - 1) * blockSize + (blockSize - room)
      blockObjs.last += o; room -= o.length
      val id = new Array[Byte](idLen)
      id(0) = 0 // version 0, managed
      (0 until offSz).foreach(i => id(1 + i) = (heapOff >> (8 * i)).toByte)
      (0 until lenSz).foreach(i => id(1 + offSz + i) = (o.length >> (8 * i)).toByte)
      id
    }
    require(rootSize == 0 || blockObjs.size == 1,
      "fixture: a doubled root must stay a single direct block")
    require(blockObjs.size <= width, "fixture: one indirect row max")
    val heapHdrPatches = ArrayBuffer.empty[Int]
    val blockAddrs = blockObjs.zipWithIndex.map { case (objs, bi) =>
      w.align8(); val a = w.pos
      w.ascii("FHDB"); w.u8(0)
      heapHdrPatches += w.pos; w.u64(0)
      val boff = bi * blockSize
      (0 until offSz).foreach(i => w.u8(((boff >> (8 * i)) & 0xff).toInt))
      val ckPos = w.pos; w.u32(0)
      cks += ((a, ckPos))
      objs.foreach(o => w.raw(o))
      w.zeros((blockSize - hdrSz - objs.map(_.length).sum).toInt) // full-size block
      a
    }
    val (rootAddr, curRows) =
      if (blockAddrs.size == 1) (blockAddrs.head, 0)
      else {
        w.align8(); val a = w.pos
        w.ascii("FHIB"); w.u8(0)
        heapHdrPatches += w.pos; w.u64(0)
        (0 until offSz).foreach(_ => w.u8(0)) // block offset 0
        (0 until width).foreach { c =>
          w.u64(if (c < blockAddrs.size) blockAddrs(c).toLong else UNDEF)
        }
        val ckPos = w.pos; w.u32(0)
        cks += ((a, ckPos))
        (a, 1)
      }
    val managed = blockObjs.size * blockSize
    w.align8(); val hdr = w.pos
    w.ascii("FRHP"); w.u8(0)
    w.u16(idLen); w.u16(0) // ID length, no I/O filters
    w.u8(0x02) // checksum direct blocks
    w.u32(maxObjSize)
    w.u64(0); w.u64(UNDEF) // next huge id, huge B-tree
    w.u64(0); w.u64(UNDEF) // free space, free-space manager
    w.u64(managed); w.u64(managed); w.u64(managed) // managed/allocated/iterator
    w.u64(objects.size.toLong) // managed object count
    w.u64(0); w.u64(0); w.u64(0); w.u64(0) // huge/tiny sizes + counts
    w.u16(width); w.u64(startSize); w.u64(65536L) // table width, start, max direct
    w.u16(32) // max heap size (bits)
    w.u16(1); w.u64(rootAddr.toLong); w.u16(curRows)
    val ckPos = w.pos; w.u32(0)
    cks += ((hdr, ckPos))
    heapHdrPatches.foreach(p => w.patchU64(p, hdr.toLong))
    (hdr.toLong, ids)
  }

  /** v2 B-tree name index over pre-built fixed-size records (sorted by the
    * caller), at WHATEVER depth the node size forces (r13: depth 2+ for the
    * hundreds-of-attributes profile). The child-pointer record-count field
    * uses one header-wide width (from the leaf max — libhdf5's
    * max_nrec_size) at every depth; the subtree-total field that appears when
    * the child is itself internal is sized by that child depth's theoretical
    * subtree max (cum_max_nrec_size), and the same widths enter the
    * internal-capacity recurrence. Returns the header address. */
  private def writeBtree2(w: W, typ: Int, records: Seq[Array[Byte]], nodeSize: Int,
                          cks: ArrayBuffer[(Int, Int)],
                          forceDepth: Int = 0): Long = {
    val recSize = records.head.length
    val space = nodeSize - 10
    def encSize(v: Long): Int =
      (63 - java.lang.Long.numberOfLeadingZeros(v max 1L)) / 8 + 1
    val maxN = ArrayBuffer[Long](space / recSize)
    val totN = ArrayBuffer[Long](space / recSize)
    // child-count field: ONE header-wide width from the LEAF max at every
    // depth (libhdf5 hdr->max_nrec_size); subtree-total field stays per-depth
    val cntSz = encSize(maxN(0))
    def extend(d: Int): Unit = while (maxN.size <= d) {
      val dd = maxN.size
      val entrySz = 8 + cntSz +
        (if (dd >= 2) encSize(totN(dd - 1)) else 0)
      maxN += (space - entrySz) / (recSize + entrySz)
      totN += (maxN(dd) + 1) * totN(dd - 1) + maxN(dd)
    }
    def writeLeaf(recs: Seq[Array[Byte]]): Long = {
      w.align8(); val a = w.pos
      w.ascii("BTLF"); w.u8(0); w.u8(typ)
      recs.foreach(r => w.raw(r))
      val ckPos = w.pos; w.u32(0)
      cks += ((a, ckPos))
      a
    }
    /** writes the subtree, returns (node addr, records IN this node, subtree total) */
    def build(recs: Seq[Array[Byte]], d: Int): (Long, Int, Long) =
      if (d == 0) (writeLeaf(recs), recs.size, recs.size.toLong)
      else {
        extend(d)
        val cap = totN(d - 1)
        val children = ArrayBuffer.empty[Seq[Array[Byte]]]
        val ownRecs = ArrayBuffer.empty[Array[Byte]]
        var i = 0
        while (i < recs.size) {
          var take = math.min(cap, (recs.size - i).toLong).toInt
          // never promote the final record and leave an empty last child
          if (recs.size - (i + take) == 1 && take > 1) take -= 1
          children += recs.slice(i, i + take); i += take
          if (i < recs.size) { ownRecs += recs(i); i += 1 }
        }
        val childInfo = children.map(c => build(c, d - 1))
        val totSz = if (d >= 2) encSize(totN(d - 1)) else 0
        w.align8(); val a = w.pos
        w.ascii("BTIN"); w.u8(0); w.u8(typ)
        ownRecs.foreach(r => w.raw(r))
        childInfo.foreach { case (addr, n, tot) =>
          w.u64(addr)
          (0 until cntSz).foreach(k => w.u8(((n.toLong >> (8 * k)) & 0xff).toInt))
          (0 until totSz).foreach(k => w.u8(((tot >> (8 * k)) & 0xff).toInt))
        }
        val ckPos = w.pos; w.u32(0)
        cks += ((a, ckPos))
        (a.toLong, ownRecs.size, recs.size.toLong)
      }
    var depth = forceDepth
    extend(depth)
    while ({ extend(depth); records.size > totN(depth) }) depth += 1
    val (rootAddr, nRecRoot, _) = build(records, depth)
    w.align8(); val hdr = w.pos
    w.ascii("BTHD"); w.u8(0); w.u8(typ)
    w.u32(nodeSize.toLong); w.u16(recSize); w.u16(depth)
    w.u8(100); w.u8(40) // split / merge percent
    w.u64(rootAddr); w.u16(nRecRoot); w.u64(records.size.toLong)
    val ckPos = w.pos; w.u32(0)
    cks += ((hdr, ckPos))
    hdr.toLong
  }

  /** Dense-storage file: superblock v3; root group whose 13 links live in a
    * fractal heap + name B-tree v2 (netcdf-c above 8 links under
    * creation-order tracking); `tas` carries 10 attributes in dense storage
    * (root-indirect heap over 3 direct blocks, depth-1 name B-tree). */
  private def buildProfileC(nQAttrs: Int = 6,
                            doubledLinkRoot: Boolean = false,
                            attrNodeSize: Int = 64,
                            attrForceDepth: Int = 0): Array[Byte] = {
    val w = new W
    val cks = ArrayBuffer.empty[(Int, Int)]
    w.raw(Array(0x89.toByte, 'H'.toByte, 'D'.toByte, 'F'.toByte,
      0x0d.toByte, 0x0a.toByte, 0x1a.toByte, 0x0a.toByte))
    w.u8(3); w.u8(8); w.u8(8); w.u8(0)
    w.u64(0); w.u64(UNDEF)
    val eofPatch = w.pos; w.u64(0)
    val rootPatch = w.pos; w.u64(0)
    w.u32(0)

    val timeVals = Array(0.0, 1.0, 2.0, 3.0)
    val nT = timeVals.length
    w.align8(); val timeDataAddr = w.pos
    timeVals.foreach(v => w.raw(leD(v)))
    val timeOh = objectHeaderV1(w, Seq(
      msg(0x0001, dataspace(Seq(nT.toLong))),
      msg(0x0003, dtFloat64),
      msg(0x0008, layoutContiguous(timeDataAddr.toLong, nT * 8L)),
      msg(0x000C, strAttr("units", "days since 2015-01-01"))))

    val st = "C-STATION-42\u0000".getBytes("ASCII")
    w.align8(); val stDataAddr = w.pos; w.raw(st)
    val stOh = objectHeaderV1(w, Seq(
      msg(0x0001, dataspace(Seq.empty)),
      msg(0x0003, dtString(st.length)),
      msg(0x0008, layoutContiguous(stDataAddr.toLong, st.length.toLong))))

    // ten plain data variables -> 13 root links total (dense territory)
    val varOhs = (0 until 10).map { vi =>
      w.align8(); val dataAddr = w.pos
      (0 until nT).foreach(t => w.raw(leD(vi * 10.0 + t * 0.25)))
      f"v$vi%02d" -> objectHeaderV1(w, Seq(
        msg(0x0001, dataspace(Seq(nT.toLong))),
        msg(0x0003, dtFloat64),
        msg(0x0008, layoutContiguous(dataAddr.toLong, nT * 8L))))
    }

    // tas: OHDR v2 dataset with 10 DENSE attributes
    w.align8(); val tasDataAddr = w.pos
    val tasVals = Array(20.0, 21.0, 22.0, 23.0)
    tasVals.foreach(v => w.raw(leD(v)))
    def attrV3(name: String, dt: Array[Byte], ds: Array[Byte],
               data: Array[Byte]): Array[Byte] = {
      val nameB = name.getBytes("ASCII") ++ Array[Byte](0)
      val b = ByteBuffer.allocate(9 + nameB.length + dt.length + ds.length + data.length)
        .order(ByteOrder.LITTLE_ENDIAN)
      b.put(3.toByte); b.put(0.toByte)
      b.putShort(nameB.length.toShort); b.putShort(dt.length.toShort)
      b.putShort(ds.length.toShort)
      b.put(0.toByte) // ASCII
      b.put(nameB); b.put(dt); b.put(ds); b.put(data)
      b.array
    }
    def strAttrV3(name: String, value: String): Array[Byte] = {
      val v = value.getBytes("ASCII") ++ Array[Byte](0)
      attrV3(name, dtString(v.length), dataspace(Seq.empty), v)
    }
    val tasAttrs = Seq(
      "long_name" -> "air temperature", "units" -> "degC",
      "source" -> "graft-fixture", "comment" -> "dense attribute storage") ++
      (0 until nQAttrs).map(i => s"q$i" -> s"level-$i")
    val attrObjs = tasAttrs.map { case (n, v) => strAttrV3(n, v) }
    // root-indirect heap: 256-byte blocks force 3 direct blocks for 10 attrs;
    // the deep-B-tree variant carries more attrs -> bigger blocks, same shape
    val (attrHeapAddr, attrIds) =
      writeFractalHeap(w, attrObjs, idLen = 8, maxObjSize = 65536L,
        startSize = if (nQAttrs > 6) 1024L else 256L, cks = cks)
    // type-8 record: heap ID (8) + message flags (1) + corder (4) + hash (4)
    val attrRecs = tasAttrs.zipWithIndex.map { case ((n, _), i) =>
      val h = lookup3(n.getBytes("ASCII"))
      val b = ByteBuffer.allocate(17).order(ByteOrder.LITTLE_ENDIAN)
      b.put(attrIds(i)); b.put(0.toByte); b.putInt(i); b.putInt(h)
      b.array
    }.sortBy(r => ByteBuffer.wrap(r, 13, 4).order(ByteOrder.LITTLE_ENDIAN).getInt()
      & 0xffffffffL)
    // default nodeSize 64 -> max 3 records per leaf -> depth-1 tree
    val attrBtAddr = writeBtree2(w, typ = 8, records = attrRecs,
      nodeSize = attrNodeSize, cks = cks, forceDepth = attrForceDepth)
    val attrInfo = {
      val b = ByteBuffer.allocate(2 + 2 + 24).order(ByteOrder.LITTLE_ENDIAN)
      b.put(0.toByte); b.put(0x03.toByte) // tracked + indexed
      b.putShort(tasAttrs.size.toShort) // max creation index
      b.putLong(attrHeapAddr); b.putLong(attrBtAddr); b.putLong(UNDEF)
      b.array
    }
    val tasOh = objectHeaderV2(w, Seq(
      0x0001 -> dataspace(Seq(nT.toLong)),
      0x0003 -> dtFloat64,
      0x0008 -> layoutContiguous(tasDataAddr.toLong, nT * 8L),
      0x0015 -> attrInfo), tracked = true, cks = cks)

    // root group: dense links
    def linkBody(name: String, target: Long, corder: Long): Array[Byte] = {
      val nb = name.getBytes("ASCII")
      val b = ByteBuffer.allocate(2 + 8 + 1 + nb.length + 8)
        .order(ByteOrder.LITTLE_ENDIAN)
      b.put(1.toByte); b.put(0x04.toByte) // version, creation order present
      b.putLong(corder)
      b.put(nb.length.toByte); b.put(nb); b.putLong(target)
      b.array
    }
    val allLinks = (Seq("time" -> timeOh, "station" -> stOh, "tas" -> tasOh) ++
      varOhs).zipWithIndex
    val linkObjs = allLinks.map { case ((n, oh), i) => linkBody(n, oh.toLong, i.toLong) }
    val (linkHeapAddr, linkIds) =
      if (doubledLinkRoot)
        // 13 links (~390 B) in a SINGLE direct block that the writer doubled
        // to 512 after outgrowing startSize=256: offsets past 256 resolve
        // only through the header's allocated-managed-space field
        writeFractalHeap(w, linkObjs, idLen = 7, maxObjSize = 4096L,
          startSize = 256L, cks = cks, rootSize = 512L)
      else
        writeFractalHeap(w, linkObjs, idLen = 7, maxObjSize = 4096L,
          startSize = 512L, cks = cks)
    // type-5 record: hash (4) + heap ID (7)
    val linkRecs = allLinks.map { case ((n, _), i) =>
      val b = ByteBuffer.allocate(11).order(ByteOrder.LITTLE_ENDIAN)
      b.putInt(lookup3(n.getBytes("ASCII"))); b.put(linkIds(i))
      b.array
    }.sortBy(r => ByteBuffer.wrap(r, 0, 4).order(ByteOrder.LITTLE_ENDIAN).getInt()
      & 0xffffffffL)
    val linkBtAddr = writeBtree2(w, typ = 5, records = linkRecs, nodeSize = 512, cks = cks)
    val linkInfo = {
      val b = ByteBuffer.allocate(2 + 8 + 24).order(ByteOrder.LITTLE_ENDIAN)
      b.put(0.toByte); b.put(0x03.toByte) // tracked + indexed
      b.putLong(allLinks.size.toLong) // max creation index
      b.putLong(linkHeapAddr); b.putLong(linkBtAddr); b.putLong(UNDEF)
      b.array
    }
    val groupInfo = Array[Byte](0, 0) // version 0, no flags
    val rootOh = objectHeaderV2(w, Seq(
      0x0002 -> linkInfo, 0x000A -> groupInfo), tracked = true, cks = cks)

    w.patchU64(rootPatch, rootOh.toLong)
    w.patchU64(eofPatch, w.pos.toLong)
    fixChecksums(w, cks.toSeq)
    w.bytes
  }

  // -------------------------------------------------------------- tests

  test("profile A: v0 superblock, symbol-table group, chunked+shuffled+deflated data") {
    val data = Hdf5Source.readStation(buildProfileA(), "stationA.nc")
    assert(data.station == "KSEA-01")
    // CF units: hours since 1990-01-01
    val epoch1990 = java.time.Instant.parse("1990-01-01T00:00:00Z").getEpochSecond * 1000000L
    assert(data.time.toSeq == (0 until 6).map(h => epoch1990 + h * 3600L * 1000000L))
    val cols = data.cols.map(c => c.name -> c).toMap
    // phony dimension dataset dropped
    assert(!cols.contains("phony_dim"))
    // chunked tas: fill -> null, NaN -> null, edge chunk decoded
    assert(cols("tas").dataType == DoubleType)
    assert(ColumnValues(cols("tas")) == Seq(10.5, 11.5, 12.5, null, null, 15.5))
    // BE int16 with fill
    assert(cols("qc").dataType == LongType)
    assert(ColumnValues(cols("qc")) == Seq(1L, 2L, null, 4L, 5L, 6L))
    // attrs survive (incl. the continuation-block long_name), _FillValue dropped
    assert(data.attrs.forVar("tas")("long_name") == "air temperature")
    assert(!data.attrs.forVar("tas").contains("_FillValue"))
    assert(data.attrs.forVar("time")("calendar") == "proleptic_gregorian")
  }

  test("profile B: v3 superblock, OHDR v2 link messages, vlen-string station") {
    val data = Hdf5Source.readStation(buildProfileB(), "stationB.nc")
    assert(data.station == "B-STATION-9")
    val epoch2000 = java.time.Instant.parse("2000-01-01T00:00:00Z").getEpochSecond * 1000000L
    assert(data.time.toSeq == Seq(0L, 1L, 2L).map(d => epoch2000 + d * 86400L * 1000000L))
    assert(data.cols.map(_.name) == Seq("pr"))
    assert(ColumnValues(data.cols.head) == Seq(1.5, 2.5, 3.5))
  }

  test("profile C: dense links (fractal heap + B-tree v2) and dense attributes read") {
    val data = Hdf5Source.readStation(buildProfileC(), "stationC.nc")
    assert(data.station == "C-STATION-42")
    val epoch2015 = java.time.Instant.parse("2015-01-01T00:00:00Z").getEpochSecond * 1000000L
    assert(data.time.toSeq == Seq(0L, 1L, 2L, 3L).map(d => epoch2015 + d * 86400L * 1000000L))
    // all 13 dense links resolve: tas + v00..v09 survive as data columns
    val cols = data.cols.map(c => c.name -> c).toMap
    assert(cols.keySet == (Set("tas") ++ (0 until 10).map(i => f"v$i%02d")))
    assert(ColumnValues(cols("tas")) == Seq(20.0, 21.0, 22.0, 23.0))
    assert(ColumnValues(cols("v07")) == Seq(70.0, 70.25, 70.5, 70.75))
    // all 10 dense attributes resolve through the root-indirect heap and the
    // depth-1 name B-tree
    val tasAttrs = data.attrs.forVar("tas")
    assert(tasAttrs("long_name") == "air temperature")
    assert(tasAttrs("units") == "degC")
    assert((0 until 6).forall(i => tasAttrs(s"q$i") == s"level-$i"))
    assert(tasAttrs.size == 10)
  }

  test("profile C deep: 64 dense attributes force a multi-level name B-tree (r13)") {
    // 64 attr records at nodeSize 64 (3 records/leaf, 1/internal) need a
    // depth-4 v2 B-tree — the hundreds-of-attributes station-metadata shape
    // the depth<=1 reader refused (VERDICT r12 #7)
    val data = Hdf5Source.readStation(buildProfileC(nQAttrs = 60), "stationD.nc")
    assert(data.station == "C-STATION-42")
    val tasAttrs = data.attrs.forVar("tas")
    assert(tasAttrs("long_name") == "air temperature")
    assert((0 until 60).forall(i => tasAttrs(s"q$i") == s"level-$i"),
      "an attribute fell out of the deep B-tree walk")
    assert(tasAttrs.size == 64)
    // data columns are untouched by the attr-index depth
    val cols = data.cols.map(c => c.name -> c).toMap
    assert(ColumnValues(cols("tas")) == Seq(20.0, 21.0, 22.0, 23.0))
  }

  test("profile C wide nodes: header-wide child-count width when leaf/internal widths diverge (ADVICE r13)") {
    // nodeSize 4608 with 17-byte attr records: leaf max = 4598/17 = 270
    // (2-byte count encoding) but internal max = (4598-10)/27 = 169 (1 byte)
    // — the first B-tree shape where libhdf5's header-wide count width
    // (encSize(leaf max) at EVERY depth, H5B2 hdr->max_nrec_size) differs
    // from a per-child-depth width. A depth-2 tree here would previously
    // parse the internal node's pointer entries one byte short and walk
    // garbage child addresses. Occupancy is synthetic (forceDepth pins
    // depth 2 without the ~46k records natural splitting would need);
    // libhdf5's reader, like ours, trusts the header's depth and per-node
    // record counts, so the byte layout is exactly the divergence region.
    val data = Hdf5Source.readStation(
      buildProfileC(nQAttrs = 60, attrNodeSize = 4608, attrForceDepth = 2),
      "stationE.nc")
    assert(data.station == "C-STATION-42")
    val tasAttrs = data.attrs.forVar("tas")
    assert((0 until 60).forall(i => tasAttrs(s"q$i") == s"level-$i"),
      "an attribute fell out of the wide-node B-tree walk")
    assert(tasAttrs.size == 64)
  }

  test("hand-assembled depth-2 B-tree: independently computed offsets, divergent widths (r15)") {
    // VERDICT r14 #6: every other B-tree fixture comes from writeBtree2,
    // which MIRRORS the reader's sizing recurrence — a width bug both sides
    // share would survive. This image is assembled from offset LITERALS
    // computed by hand from the public H5B2 layout, so neither side's
    // arithmetic can leak into the other.
    //
    // Parameters (the ADVICE-r13 divergence region): nodeSize 4608, recSize
    // 17 -> space = 4608-10 = 4598; leaf max = 4598/17 = 270 (child-count
    // width = encSize(270) = 2 BYTES, libhdf5 hdr->max_nrec_size); depth-1
    // internal entry = 8+2 = 10 -> internal max = (4598-10)/27 = 169
    // (encSize = 1 — the divergence); totN(1) = 170*270+169 = 46069
    // (subtree-total width at depth 2 = encSize(46069) = 2); depth-2 entry
    // = 8 + 2 + 2 = 12 bytes.
    //
    // Hand layout (byte offsets):
    //   superblock v3 @ 0: magic(8) ver(1)=3 offSz(1)=8 lenSz(1)=8 — just
    //               enough for the H5 constructor; the walk never reads it
    //   BTHD @ 64:  sig(4) ver(1)=0 typ(1)=8 nodeSize(4)=4608 recSize(2)=17
    //               depth(2)=2 split(1) merge(1) root(8)=896 nRecRoot(2)=1
    //   BTLF @ 128, 256, 384, 512: sig(4) ver(1) typ(1), 2 records x 17
    //               -> record offsets a+6, a+23
    //   BTIN @ 640, 768 (depth 1): 1 record @ a+6; child entries @ a+23 and
    //               a+33 (entry = addr(8) + count(2); NO total at depth 1)
    //   BTIN @ 896 (depth 2, root): 1 record @ a+6; child entries @ a+23 and
    //               a+35 (entry = addr(8) + count(2) + total(2) = 12 — a
    //               per-child-depth count width would read 11 and walk
    //               garbage at the second entry)
    val img = new Array[Byte](960)
    def ascii(at: Int, s: String): Unit = s.getBytes("ASCII").copyToArray(img, at)
    def u16(at: Int, v: Int): Unit = { img(at) = (v & 0xff).toByte; img(at + 1) = ((v >> 8) & 0xff).toByte }
    def u32(at: Int, v: Long): Unit = (0 until 4).foreach(i => img(at + i) = ((v >> (8 * i)) & 0xff).toByte)
    def u64(at: Int, v: Long): Unit = (0 until 8).foreach(i => img(at + i) = ((v >> (8 * i)) & 0xff).toByte)
    // minimal superblock (the constructor's requirement only)
    Array(0x89, 'H', 'D', 'F', 0x0d, 0x0a, 0x1a, 0x0a)
      .map(_.toByte).copyToArray(img, 0)
    img(8) = 3; img(9) = 8; img(10) = 8
    // B-tree header
    ascii(64, "BTHD"); img(68) = 0; img(69) = 8
    u32(70, 4608L); u16(74, 17); u16(76, 2)
    img(78) = 100; img(79) = 40 // split/merge percent (unread)
    u64(80, 896L); u16(88, 1)
    // four leaves, two records each (record bytes are arbitrary -- the walk
    // returns their OFFSETS; fill with a marker so zeros can't false-pass)
    Seq(128, 256, 384, 512).foreach { a =>
      ascii(a, "BTLF"); img(a + 4) = 0; img(a + 5) = 8
      (0 until 34).foreach(i => img(a + 6 + i) = (0x50 + (a >> 7)).toByte)
    }
    // two depth-1 internals: 1 own record, entries (addr + 2-byte count)
    Seq((640, 128, 256), (768, 384, 512)).foreach { case (a, l1, l2) =>
      ascii(a, "BTIN"); img(a + 4) = 0; img(a + 5) = 8
      u64(a + 23, l1.toLong); u16(a + 31, 2)
      u64(a + 33, l2.toLong); u16(a + 41, 2)
    }
    // depth-2 root: 1 own record, entries (addr + 2-byte count + 2-byte total)
    ascii(896, "BTIN"); img(900) = 0; img(901) = 8
    u64(919, 640L); u16(927, 1); u16(929, 5)
    u64(931, 768L); u16(939, 1); u16(941, 5)
    val got = new Hdf5Source.H5(img).btree2Records(64L, 8)
    // walk order: own records first, then children left-to-right
    val want = Seq(902L, 646L, 134L, 151L, 262L, 279L, 774L, 390L, 407L, 518L, 535L)
    assert(got == want, s"got $got")
  }

  test("profile C doubled root: heap offsets past startSize resolve via allocated size") {
    // a writer that doubled its root direct block (256 -> 512) before ever
    // going indirect: curRows stays 0 and only allocated-managed-space (header
    // offset 54) carries the real block size (ADVICE r12)
    val data = Hdf5Source.readStation(
      buildProfileC(doubledLinkRoot = true), "stationC2.nc")
    assert(data.station == "C-STATION-42")
    val cols = data.cols.map(c => c.name -> c).toMap
    assert(cols.keySet == (Set("tas") ++ (0 until 10).map(i => f"v$i%02d")),
      "a link past the starting block size fell out of the heap walk")
    assert(ColumnValues(cols("v09")) == Seq(90.0, 90.25, 90.5, 90.75))
  }

  test("NcSource dispatches HDF5 transparently; distributed read round-trips") {
    // same entry the classic files use
    val viaNc = NcSource.readStation(buildProfileA(), "stationA.nc")
    assert(viaNc.station == "KSEA-01")
    // distributed path over a written file
    val dir = java.nio.file.Files.createTempDirectory("h5src").toFile
    val f = new java.io.File(dir, "stationA.nc")
    java.nio.file.Files.write(f.toPath, buildProfileA())
    val df = NcSource.readFiles(spark, Seq(f.getAbsolutePath))
    assert(df.count() == 6)
    assert(df.filter(org.apache.spark.sql.functions.col("tas").isNull).count() == 2)
    val first = df.orderBy("time").select("station", "tas").collect().head
    assert(first.getString(0) == "KSEA-01" && first.getDouble(1) == 10.5)
  }
}
