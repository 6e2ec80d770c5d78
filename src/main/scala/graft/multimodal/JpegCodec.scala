package graft.multimodal

/** From-scratch BASELINE JPEG decoder (r13 — the PNG/WAV/zarr/NetCDF
  * from-scratch-reader spirit applied to the biggest decode cost center):
  * the javax path, even with a reused reader, costs ~200 µs per
  * thumbnail-class frame at corpus scale (JNI transitions, header re-parse,
  * reader state machine — measured on mm5's 3M-frame 100× run), while the
  * actual arithmetic is microseconds.
  *
  * Scope: sequential baseline/extended-sequential Huffman (SOF0/SOF1), 8-bit
  * precision, grayscale or 3-component YCbCr with 4:4:4 (1×1) or 4:2:0 (2×2)
  * chroma sampling, restart markers. Progressive (SOF2), arithmetic coding,
  * 12-bit, CMYK/Adobe-RGB, and other sampling shapes DECLINE → the caller
  * falls back to javax. So do LARGE payloads/images: the measured win region
  * (JpegCrossoverProbe/JpegStageProbe, SCALE.md r13) is small sparse streams
  * — thumbnails and DC-heavy video frames — where the JNI path's fixed
  * per-call cost dominates; on dense entropy streams the native decoder's
  * per-byte Huffman speed wins, so payloads over ~4 KB decline.
  *
  * Pixel parity: every stage reimplements the PUBLISHED algorithm the JDK's
  * native decoder (libjpeg) uses — the Annex-K canonical Huffman decode, the
  * "islow" fixed-point AAN-derived IDCT (CONST_BITS=13/PASS1_BITS=2 rounding
  * shifts), the triangular "fancy" h2v2 chroma upsample, and the SCALEBITS=16
  * fixed-point YCbCr→RGB conversion — so decoded RGB matches the javax path
  * BIT-EXACTLY on color images (MultimodalSpec pins it across qualities,
  * geometries, and both sampling shapes). Grayscale JPEGs decode
  * COLORIMETRICALLY through the JDK's own CS_GRAY→sRGB LUT ([[GrayToArgb]]),
  * matching the javax fallback bit-exactly — gray semantics must not depend
  * on which side of the size gate a payload lands (ADVICE r13; gray PNGs
  * keep value-copy, which is why they are exempt from the PNG size gate). */
object JpegCodec {

  /** measured win-region gates (see scaladoc): beyond either, decline to the
    * javax path, whose native per-byte decode speed wins on dense streams */
  private val MaxPixels = 1 << 16 // 256x256
  private val MaxBytes = 4096

  // zigzag index -> natural (row-major) index
  private val ZigNat: Array[Int] = Array(
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63)

  def tryDecode(payload: Array[Byte]): Option[java.awt.image.BufferedImage] =
    if (payload.length > MaxBytes) None else tryDecodeUngated(payload)

  /** gate-free entry for parity pins and the probe micro-benches. */
  private[multimodal] def tryDecodeUngated(
      payload: Array[Byte]): Option[java.awt.image.BufferedImage] =
    try decodeImpl(payload)
    catch { case scala.util.control.NonFatal(_) => None }

  // ------------------------------------------------------------ containers

  private final class Huff(bits: Array[Int], vals: Array[Int]) {
    // canonical code tables (JPEG spec Annex C) + an 8-bit lookahead LUT
    val maxcode = new Array[Int](18)
    val valOff = new Array[Int](17) // valptr - mincode per length
    val lut = new Array[Int](256) // (len << 8) | symbol, 0 = miss
    locally {
      var code = 0; var k = 0
      val codes = new Array[Int](vals.length)
      val lens = new Array[Int](vals.length)
      var l = 1
      while (l <= 16) {
        var i = 0
        val n = bits(l - 1)
        if (n > 0) {
          valOff(l) = k - code
          while (i < n) { codes(k) = code; lens(k) = l; code += 1; k += 1; i += 1 }
          maxcode(l) = code - 1
        } else maxcode(l) = -1
        code <<= 1
        l += 1
      }
      maxcode(17) = Int.MaxValue // stop
      var i = 0
      while (i < vals.length) {
        if (lens(i) <= 8) {
          val sh = 8 - lens(i)
          val base = codes(i) << sh
          var j = 0
          while (j < (1 << sh)) { lut(base | j) = (lens(i) << 8) | vals(i); j += 1 }
        }
        i += 1
      }
    }
    def value(len: Int, code: Int): Int = valsRef(valOff(len) + code)
    private def valsRef = vals
  }

  /** Per-thread Huffman-table cache: a media corpus (every frame of a video,
    * every thumbnail from one encoder) repeats the same DHT bytes millions of
    * times; table construction (LUT fill) would otherwise be per-image fixed
    * cost. Keyed by the raw (bits, vals) content; 16 entries ≈ 4 encoders. */
  private final class HuffKey(val bits: Array[Int], val vals: Array[Int]) {
    override val hashCode: Int =
      java.util.Arrays.hashCode(bits) * 31 + java.util.Arrays.hashCode(vals)
    override def equals(o: Any): Boolean = o match {
      case k: HuffKey => java.util.Arrays.equals(bits, k.bits) &&
        java.util.Arrays.equals(vals, k.vals)
      case _ => false
    }
  }

  private val huffCache =
    new ThreadLocal[java.util.LinkedHashMap[HuffKey, Huff]]() {
      override def initialValue() =
        new java.util.LinkedHashMap[HuffKey, Huff](32, 0.75f, true) {
          override def removeEldestEntry(
              e: java.util.Map.Entry[HuffKey, Huff]): Boolean = size() > 16
        }
    }

  private def cachedHuff(bits: Array[Int], vals: Array[Int]): Huff = {
    val cache = huffCache.get()
    val key = new HuffKey(bits, vals)
    val hit = cache.get(key)
    if (hit != null) hit
    else { val t = new Huff(bits, vals); cache.put(key, t); t }
  }

  /** MSB-first bit reader over the entropy-coded segment with 0xFF00
    * destuffing; zero-pads at markers/EOF (valid streams never read the
    * padding — matching the reference decoder's behavior on valid data). */
  private final class BitReader(b: Array[Byte], var pos: Int) {
    private var acc = 0L
    private var n = 0
    var hitMarker = false

    private def pull(): Unit = {
      if (pos < b.length) {
        val v = b(pos) & 0xff
        if (v == 0xff) {
          val nx = if (pos + 1 < b.length) b(pos + 1) & 0xff else 0xd9
          if (nx == 0) { pos += 2; acc = (acc << 8) | 0xff; n += 8; return }
          // a real marker: stop consuming, zero-pad
          hitMarker = true; acc <<= 8; n += 8; return
        }
        pos += 1; acc = (acc << 8) | v; n += 8
      } else { hitMarker = true; acc <<= 8; n += 8 }
    }
    def ensure(k: Int): Unit = {
      // fast lane: gulp 4 stuffing-free bytes at a time (the common case —
      // 0xFF bytes are rare in entropy data); fall back per-byte at 0xFF,
      // markers, and the tail
      while (n < k) {
        if (n <= 32 && pos + 4 <= b.length) {
          val b0 = b(pos) & 0xff; val b1 = b(pos + 1) & 0xff
          val b2 = b(pos + 2) & 0xff; val b3 = b(pos + 3) & 0xff
          if (b0 != 0xff && b1 != 0xff && b2 != 0xff && b3 != 0xff) {
            acc = (acc << 32) | ((b0.toLong << 24) | (b1 << 16) | (b2 << 8) | b3)
            n += 32; pos += 4
          } else pull()
        } else pull()
      }
    }
    def peek8(): Int = { ensure(8); ((acc >>> (n - 8)) & 0xff).toInt }
    def skip(k: Int): Unit = { n -= k }
    def getBit(): Int = { ensure(1); n -= 1; ((acc >>> n) & 1L).toInt }
    def getBits(k: Int): Int =
      if (k == 0) 0 else { ensure(k); n -= k; ((acc >>> n) & ((1L << k) - 1)).toInt }
    /** byte-align and consume an expected RSTn marker (restart interval). */
    def restart(): Unit = {
      n = 0; acc = 0L; hitMarker = false
      // scan to the RST marker (tolerate fill 0xFFs)
      while (pos + 1 < b.length && !((b(pos) & 0xff) == 0xff &&
        (b(pos + 1) & 0xff) >= 0xd0 && (b(pos + 1) & 0xff) <= 0xd7)) pos += 1
      if (pos + 1 < b.length) pos += 2
    }
  }

  // --------------------------------------------------------------- decode

  private def u16(b: Array[Byte], o: Int): Int =
    ((b(o) & 0xff) << 8) | (b(o + 1) & 0xff)

  private final case class Comp(id: Int, h: Int, v: Int, tq: Int) {
    var dcTab: Huff = null
    var acTab: Huff = null
    var pred: Int = 0
    var plane: Array[Int] = null // padded to MCU-multiple geometry
    var pw: Int = 0 // plane width (padded)
  }

  private def decodeImpl(b: Array[Byte]): Option[java.awt.image.BufferedImage] = {
    if (b.length < 4 || (b(0) & 0xff) != 0xff || (b(1) & 0xff) != 0xd8) return None
    val qt = Array.ofDim[Int](4, 64) // zigzag order, as stored
    val dcTabs = new Array[Huff](4)
    val acTabs = new Array[Huff](4)
    var comps: Array[Comp] = null
    var w = 0; var h = 0
    var restartInterval = 0
    var o = 2
    var sosAt = -1
    var done = false
    while (!done && o + 4 <= b.length) {
      if ((b(o) & 0xff) != 0xff) return None
      var m = b(o + 1) & 0xff
      var mo = o + 2
      while (m == 0xff && mo < b.length) { m = b(mo) & 0xff; mo += 1 } // fill bytes
      o = mo
      m match {
        case 0xd8 => () // spurious SOI
        case 0x01 => () // TEM, no payload
        case mm if mm >= 0xd0 && mm <= 0xd7 => () // stray RST, no payload
        case 0xc0 | 0xc1 => // baseline / extended sequential
          val len = u16(b, o)
          val prec = b(o + 2) & 0xff
          h = u16(b, o + 3); w = u16(b, o + 5)
          val nc = b(o + 7) & 0xff
          if (prec != 8 || w <= 0 || h <= 0 || (nc != 1 && nc != 3) ||
              w.toLong * h > MaxPixels) return None
          comps = Array.tabulate(nc) { i =>
            val co = o + 8 + i * 3
            Comp(b(co) & 0xff, (b(co + 1) & 0xff) >> 4, b(co + 1) & 0x0f,
              b(co + 2) & 0xff)
          }
          o += len
        case 0xc4 => // DHT
          val len = u16(b, o); val end = o + len
          var p = o + 2
          while (p < end) {
            val tc = (b(p) & 0xff) >> 4; val th = b(p) & 0x0f
            val bits = Array.tabulate(16)(i => b(p + 1 + i) & 0xff)
            val nv = bits.sum
            val vals = Array.tabulate(nv)(i => b(p + 17 + i) & 0xff)
            if (th > 3) return None
            val t = cachedHuff(bits, vals)
            if (tc == 0) dcTabs(th) = t else acTabs(th) = t
            p += 17 + nv
          }
          o = end
        case 0xdb => // DQT
          val len = u16(b, o); val end = o + len
          var p = o + 2
          while (p < end) {
            val pq = (b(p) & 0xff) >> 4; val tq = b(p) & 0x0f
            if (pq != 0 || tq > 3) return None // 8-bit tables only
            var i = 0
            while (i < 64) { qt(tq)(i) = b(p + 1 + i) & 0xff; i += 1 }
            p += 65
          }
          o = end
        case 0xdd => restartInterval = u16(b, o + 2); o += u16(b, o)
        case 0xda => sosAt = o; done = true
        case 0xd9 => return None // EOI before SOS
        case 0xc2 | 0xc3 | 0xc5 | 0xc6 | 0xc7 | 0xc9 | 0xca | 0xcb |
             0xcd | 0xce | 0xcf => return None // progressive/arith/lossless
        case 0xee => // APP14 Adobe: transform byte 0 = RGB — decline
          val len = u16(b, o)
          if (len >= 14 && b(o + 2) == 'A' && b(o + 3) == 'd' &&
              (b(o + 13) & 0xff) == 0) return None
          o += len
        case _ => o += u16(b, o) // APPn/COM/etc
      }
    }
    if (sosAt < 0 || comps == null) return None

    // sampling shape: all-1x1, or 2x2 luma with 1x1 chroma
    val hmax = comps.map(_.h).max; val vmax = comps.map(_.v).max
    val h2v2 = comps.length == 3 && comps(0).h == 2 && comps(0).v == 2 &&
      comps(1).h == 1 && comps(1).v == 1 && comps(2).h == 1 && comps(2).v == 1
    val all11 = comps.forall(c => c.h == 1 && c.v == 1)
    if (!h2v2 && !all11) return None

    // SOS header
    val sosLen = u16(b, sosAt)
    val ns = b(sosAt + 2) & 0xff
    if (ns != comps.length) return None // single interleaved scan only
    var i = 0
    while (i < ns) {
      val cid = b(sosAt + 3 + i * 2) & 0xff
      val tt = b(sosAt + 4 + i * 2) & 0xff
      val c = comps.find(_.id == cid).getOrElse(return None)
      c.dcTab = dcTabs((tt >> 4) & 3); c.acTab = acTabs(tt & 3)
      if (c.dcTab == null || c.acTab == null) return None
      i += 1
    }

    val mcuW = hmax * 8; val mcuH = vmax * 8
    val mcusX = (w + mcuW - 1) / mcuW; val mcusY = (h + mcuH - 1) / mcuH
    comps.foreach { c =>
      c.pw = mcusX * c.h * 8
      c.plane = new Array[Int](c.pw * mcusY * c.v * 8)
    }

    val br = new BitReader(b, sosAt + sosLen)
    val blk = new Array[Int](64)
    val ws = new Array[Int](64)
    var mcu = 0
    val nMcus = mcusX * mcusY
    var sinceRestart = 0
    while (mcu < nMcus) {
      if (restartInterval > 0 && sinceRestart == restartInterval) {
        br.restart(); sinceRestart = 0
        comps.foreach(_.pred = 0)
      }
      val mx = mcu % mcusX; val my = mcu / mcusX
      var ci = 0
      while (ci < comps.length) {
        val c = comps(ci)
        val q = qt(c.tq)
        var by = 0
        while (by < c.v) {
          var bx = 0
          while (bx < c.h) {
            decodeBlock(br, c, q, blk)
            idctIslow(blk, ws, c.plane, c.pw,
              (my * c.v + by) * 8 * c.pw + (mx * c.h + bx) * 8)
            bx += 1
          }
          by += 1
        }
        ci += 1
      }
      sinceRestart += 1
      mcu += 1
    }

    // assemble RGB
    val px = new Array[Int](w * h)
    if (comps.length == 1) {
      val y0 = comps(0)
      var yy = 0
      while (yy < h) {
        val ro = yy * y0.pw; val po = yy * w
        var x = 0
        while (x < w) { px(po + x) = GrayToArgb(y0.plane(ro + x)); x += 1 }
        yy += 1
      }
    } else if (all11) {
      yccToRgb(comps(0).plane, comps(0).pw, comps(1).plane, comps(2).plane,
        comps(1).pw, w, h, px)
    } else {
      // fused fancy-upsample + color convert: materializing two full-size
      // chroma planes cost ~6 image-size memory passes (measured dominant on
      // flat large images); the per-row column sums are all the state the
      // separable triangle filter needs
      yccToRgbH2V2(comps(0).plane, comps(0).pw, comps(1), comps(2), w, h, px)
    }
    // zero-copy wrap: a packed INT_RGB raster directly over px (setRGB's
    // bulk copy was ~half the fixed per-image overhead). px carries 0xFF
    // alpha bits (the 24-bit model ignores them) so direct-array consumers
    // (MultimodalOps.argbPixels) see the same opaque alpha getRGB reports.
    val raster = java.awt.image.Raster.createPackedRaster(
      new java.awt.image.DataBufferInt(px, px.length), w, h, w, RgbMasks, null)
    Some(new java.awt.image.BufferedImage(RgbModel, raster, false, null))
  }

  /** javax's grayscale presentation of sample v, as one 256-entry LUT built
    * by running the JDK's OWN TYPE_BYTE_GRAY → sRGB conversion (the CS_GRAY
    * ColorSpace transform ImageIO applies in getRGB, e.g. 128 → ~186):
    * bit-exact with the javax fallback BY CONSTRUCTION, so the same logical
    * gray image decodes to identical ARGB — and identical dHash — on both
    * sides of the size gate (ADVICE r13: the previous value-copy convention
    * made gray decode semantics payload-size-dependent). */
  private lazy val GrayToArgb: Array[Int] = {
    val img = new java.awt.image.BufferedImage(256, 1,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    var v = 0
    while (v < 256) { img.getRaster.setSample(v, 0, 0, v); v += 1 }
    img.getRGB(0, 0, 256, 1, null, 0, 256)
  }

  private val RgbMasks = Array(0xff0000, 0x00ff00, 0x0000ff)
  private[multimodal] val RgbModel =
    new java.awt.image.DirectColorModel(24, 0xff0000, 0x00ff00, 0x0000ff)

  private def extend(v: Int, s: Int): Int =
    if (s == 0) 0 else if (v < (1 << (s - 1))) v - (1 << s) + 1 else v

  private def decodeSym(br: BitReader, t: Huff): Int = {
    val hit = t.lut(br.peek8())
    if (hit != 0) { br.skip(hit >> 8); hit & 0xff }
    else {
      // a LUT miss means the code is longer than 8 bits: extend canonically
      var len = 8
      var code = br.getBits(8)
      while (len < 16 && code > t.maxcode(len)) {
        code = (code << 1) | br.getBit()
        len += 1
      }
      if (code > t.maxcode(len)) 0 // broken stream: degrade like an EOB
      else t.value(len, code)
    }
  }

  /** one block: DC diff + RLE ACs, dequantized into natural order. */
  private def decodeBlock(br: BitReader, c: Comp, q: Array[Int],
                          blk: Array[Int]): Unit = {
    java.util.Arrays.fill(blk, 0)
    val s0 = decodeSym(br, c.dcTab)
    c.pred += extend(br.getBits(s0), s0)
    blk(0) = c.pred * q(0)
    var k = 1
    while (k < 64) {
      val rs = decodeSym(br, c.acTab)
      val r = rs >> 4; val s = rs & 15
      if (s == 0) {
        if (r == 15) k += 16 else k = 64 // ZRL / EOB
      } else {
        k += r
        if (k > 63) k = 64 // corrupt run: stop the block
        else { blk(ZigNat(k)) = extend(br.getBits(s), s) * q(k); k += 1 }
      }
    }
  }

  // ----------------------------------------------- islow IDCT (fixed-point)

  // 13-bit fixed-point constants of the published AAN-derived integer IDCT
  private final val C13_0298 = 2446
  private final val C13_0390 = 3196
  private final val C13_0541 = 4433
  private final val C13_0765 = 6270
  private final val C13_0899 = 7373
  private final val C13_1175 = 9633
  private final val C13_1501 = 12299
  private final val C13_1847 = 15137
  private final val C13_1961 = 16069
  private final val C13_2053 = 16819
  private final val C13_2562 = 20995
  private final val C13_3072 = 25172
  private final val ConstBits = 13
  private final val Pass1Bits = 2

  // 32-bit fixed-point like the reference implementation: valid streams stay
  // within int range at every step; invalid ones wrap identically to C int32
  @inline private def descale(x: Int, n: Int): Int =
    (x + (1 << (n - 1))) >> n
  @inline private def clampSample(v: Int): Int =
    if (v < 0) 0 else if (v > 255) 255 else v

  /** dequantized natural-order coefficients -> 8x8 samples written into
    * `plane` at `off` with row stride `stride` (adds the +128 level shift). */
  private def idctIslow(c: Array[Int], ws: Array[Int],
                        plane: Array[Int], stride: Int, off: Int): Unit = {
    // pass 1: columns
    var col = 0
    while (col < 8) {
      if (c(col + 8) == 0 && c(col + 16) == 0 && c(col + 24) == 0 &&
          c(col + 32) == 0 && c(col + 40) == 0 && c(col + 48) == 0 &&
          c(col + 56) == 0) {
        val dc = c(col) << Pass1Bits
        var i = 0
        while (i < 8) { ws(col + 8 * i) = dc; i += 1 }
      } else {
        var z2 = c(col + 16); var z3 = c(col + 48)
        var z1 = (z2 + z3) * C13_0541
        val t2 = z1 - z3 * C13_1847
        val t3 = z1 + z2 * C13_0765
        z2 = c(col); z3 = c(col + 32)
        val t0 = (z2 + z3) << ConstBits
        val t1 = (z2 - z3) << ConstBits
        val t10 = t0 + t3; val t13 = t0 - t3
        val t11 = t1 + t2; val t12 = t1 - t2
        var a0 = c(col + 56); var a1 = c(col + 40)
        var a2 = c(col + 24); var a3 = c(col + 8)
        z1 = a0 + a3; z2 = a1 + a2
        var zz3 = a0 + a2; var z4 = a1 + a3
        val z5 = (zz3 + z4) * C13_1175
        a0 *= C13_0298; a1 *= C13_2053; a2 *= C13_3072; a3 *= C13_1501
        z1 *= -C13_0899; z2 *= -C13_2562; zz3 *= -C13_1961; z4 *= -C13_0390
        zz3 += z5; z4 += z5
        a0 += z1 + zz3; a1 += z2 + z4; a2 += z2 + zz3; a3 += z1 + z4
        ws(col) = descale(t10 + a3, ConstBits - Pass1Bits)
        ws(col + 56) = descale(t10 - a3, ConstBits - Pass1Bits)
        ws(col + 8) = descale(t11 + a2, ConstBits - Pass1Bits)
        ws(col + 48) = descale(t11 - a2, ConstBits - Pass1Bits)
        ws(col + 16) = descale(t12 + a1, ConstBits - Pass1Bits)
        ws(col + 40) = descale(t12 - a1, ConstBits - Pass1Bits)
        ws(col + 24) = descale(t13 + a0, ConstBits - Pass1Bits)
        ws(col + 32) = descale(t13 - a0, ConstBits - Pass1Bits)
      }
      col += 1
    }
    // pass 2: rows
    var row = 0
    while (row < 8) {
      val r = row * 8
      val out = off + row * stride
      if (ws(r + 1) == 0 && ws(r + 2) == 0 && ws(r + 3) == 0 && ws(r + 4) == 0 &&
          ws(r + 5) == 0 && ws(r + 6) == 0 && ws(r + 7) == 0) {
        val dc = clampSample(descale(ws(r), Pass1Bits + 3) + 128)
        var i = 0
        while (i < 8) { plane(out + i) = dc; i += 1 }
      } else {
        var z2 = ws(r + 2); var z3 = ws(r + 6)
        var z1 = (z2 + z3) * C13_0541
        val t2 = z1 - z3 * C13_1847
        val t3 = z1 + z2 * C13_0765
        z2 = ws(r); z3 = ws(r + 4)
        val t0 = (z2 + z3) << ConstBits
        val t1 = (z2 - z3) << ConstBits
        val t10 = t0 + t3; val t13 = t0 - t3
        val t11 = t1 + t2; val t12 = t1 - t2
        var a0 = ws(r + 7); var a1 = ws(r + 5)
        var a2 = ws(r + 3); var a3 = ws(r + 1)
        z1 = a0 + a3; z2 = a1 + a2
        var zz3 = a0 + a2; var z4 = a1 + a3
        val z5 = (zz3 + z4) * C13_1175
        a0 *= C13_0298; a1 *= C13_2053; a2 *= C13_3072; a3 *= C13_1501
        z1 *= -C13_0899; z2 *= -C13_2562; zz3 *= -C13_1961; z4 *= -C13_0390
        zz3 += z5; z4 += z5
        a0 += z1 + zz3; a1 += z2 + z4; a2 += z2 + zz3; a3 += z1 + z4
        val sh = ConstBits + Pass1Bits + 3
        plane(out) = clampSample(descale(t10 + a3, sh) + 128)
        plane(out + 7) = clampSample(descale(t10 - a3, sh) + 128)
        plane(out + 1) = clampSample(descale(t11 + a2, sh) + 128)
        plane(out + 6) = clampSample(descale(t11 - a2, sh) + 128)
        plane(out + 2) = clampSample(descale(t12 + a1, sh) + 128)
        plane(out + 5) = clampSample(descale(t12 - a1, sh) + 128)
        plane(out + 3) = clampSample(descale(t13 + a0, sh) + 128)
        plane(out + 4) = clampSample(descale(t13 - a0, sh) + 128)
      }
      row += 1
    }
  }

  // ------------------------------------------------- fixed-point YCC -> RGB

  private val crR = new Array[Int](256)
  private val cbB = new Array[Int](256)
  private val crG = new Array[Int](256)
  private val cbG = new Array[Int](256)
  locally {
    // SCALEBITS=16 tables of the published integer conversion
    var i = 0
    while (i < 256) {
      val x = i - 128
      crR(i) = (91881 * x + 32768) >> 16
      cbB(i) = (116130 * x + 32768) >> 16
      crG(i) = -46802 * x
      cbG(i) = -22554 * x + 32768
      i += 1
    }
  }

  /** FUSED h2v2 fancy upsample + YCC→RGB: libjpeg's separable triangle filter
    * (`h2v2_fancy_upsample`; identical integer formulas → identical pixels),
    * evaluated inline per output pixel from per-row column sums so the
    * full-size chroma planes are never materialized. */
  private def yccToRgbH2V2(yp: Array[Int], yStride: Int, cbC: Comp, crC: Comp,
                           w: Int, h: Int, px: Array[Int]): Unit = {
    val dw = (w + 1) / 2; val dh = (h + 1) / 2
    val cbSum = new Array[Int](dw)
    val crSum = new Array[Int](dw)
    var oy = 0
    while (oy < h) {
      val near = oy >> 1
      val far = if ((oy & 1) == 0) math.max(near - 1, 0)
                else math.min(near + 1, dh - 1)
      val nCb = near * cbC.pw; val fCb = far * cbC.pw
      val nCr = near * crC.pw; val fCr = far * crC.pw
      var i = 0
      while (i < dw) {
        cbSum(i) = 3 * cbC.plane(nCb + i) + cbC.plane(fCb + i)
        crSum(i) = 3 * crC.plane(nCr + i) + crC.plane(fCr + i)
        i += 1
      }
      val yO = oy * yStride; val pO = oy * w
      var x = 0
      while (x < w) {
        val dx = x >> 1
        var u = 0; var v = 0
        if ((x & 1) == 0) {
          if (dx == 0) { u = (cbSum(0) * 4 + 8) >> 4; v = (crSum(0) * 4 + 8) >> 4 }
          else {
            u = (cbSum(dx) * 3 + cbSum(dx - 1) + 8) >> 4
            v = (crSum(dx) * 3 + crSum(dx - 1) + 8) >> 4
          }
        } else {
          if (dx == dw - 1) { u = (cbSum(dx) * 4 + 7) >> 4; v = (crSum(dx) * 4 + 7) >> 4 }
          else {
            u = (cbSum(dx) * 3 + cbSum(dx + 1) + 7) >> 4
            v = (crSum(dx) * 3 + crSum(dx + 1) + 7) >> 4
          }
        }
        val yy = yp(yO + x)
        val r = clampSample(yy + crR(v))
        val g = clampSample(yy + ((cbG(u) + crG(v)) >> 16))
        val bl = clampSample(yy + cbB(u))
        px(pO + x) = 0xff000000 | (r << 16) | (g << 8) | bl
        x += 1
      }
      oy += 1
    }
  }

  private def yccToRgb(yp: Array[Int], yStride: Int, cb: Array[Int],
                       cr: Array[Int], cStride: Int, w: Int, h: Int,
                       px: Array[Int]): Unit = {
    var y = 0
    while (y < h) {
      val yo = y * yStride; val co = y * cStride; val po = y * w
      var x = 0
      while (x < w) {
        val yy = yp(yo + x)
        val u = cb(co + x); val v = cr(co + x)
        val r = clampSample(yy + crR(v))
        val g = clampSample(yy + ((cbG(u) + crG(v)) >> 16))
        val bl = clampSample(yy + cbB(u))
        px(po + x) = 0xff000000 | (r << 16) | (g << 8) | bl
        x += 1
      }
      y += 1
    }
  }
}
