package graft.multimodal

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: image/audio/video as opaque `binary` columns with typed
  * metadata, processed in partition-batched typed kernels.
  *
  * IMAGE decode/resize is REAL: `javax.imageio` ships with the JVM (PNG/JPEG/GIF/BMP),
  * so `kind == "image"` payloads that ImageIO can parse get true dimensions, channel
  * counts, and a decode -> box-filter -> PNG re-encode resize. Audio decodes through
  * javax.sound ([[AudioCodec]]) and video through the from-scratch RIFF/AVI and ISO-BMFF
  * walks ([[VideoCodec]], [[Mp4Codec]]). A payload no codec parses declines: its row
  * drops from the decoding operator's output, and [[resize]] falls back to byte
  * decimation marked `resize_codec = "stub"`.
  *
  * Scale notes: media rows are large -- callers should store binaries in their own
  * column (Parquet keeps them in separate pages; projection pruning skips them unless
  * selected) and repartition by id range so a partition's batch fits executor memory.
  * The kernels below stream one row at a time inside `mapPartitions` (no
  * whole-partition materialization). ImageIO's tmp-file cache is disabled once per
  * executor JVM: decodes are pure in-memory, no disk traffic per row.
  */
object MultimodalOps {

  /** A media row: opaque payload + typed metadata. */
  final case class MediaRow(id: Long, kind: String, payload: Array[Byte],
                            meta: Map[String, String])

  /** Fixed-length byte-level features: 16-bucket byte histogram (normalized), payload
    * length, entropy proxy. Real computation on real bytes -- used as the
    * "feature-extract" stage independent of any codec. */
  final case class ByteFeatures(id: Long, length: Long, features: Array[Double])

  /** Real JVM-native image codec (javax.imageio): decode, deterministic box-filter
    * downscale, PNG re-encode. Static + stateless -> safe inside executor closures. */
  object ImageCodec {
    // in-memory only: the default ImageIO disk cache would write a tmp file per
    // decode on every executor thread
    javax.imageio.ImageIO.setUseCache(false)

    def tryDecode(payload: Array[Byte]): Option[java.awt.image.BufferedImage] =
      tryDecodePngFast(payload)
        .orElse(JpegCodec.tryDecode(payload)) // from-scratch baseline decoder
        .orElse(tryDecodeJpegReused(payload)) // progressive/large/odd-sampling
        .orElse(tryDecodeJavax(payload))

    /** The generic javax.imageio path (gray/palette/interlaced PNG, GIF, BMP,
      * anything the fast paths decline). */
    private[multimodal] def tryDecodeJavax(
        payload: Array[Byte]): Option[java.awt.image.BufferedImage] =
      try Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload)))
      catch { case _: Exception => None }

    /** Minimal byte-array ImageInputStream: `ImageIO.read` wraps every call in
      * a MemoryCacheImageInputStream that re-buffers bytes already in memory.
      * Media payloads arrive as byte arrays, so serve the reader directly. */
    private final class ByteArrayImageInputStream(b: Array[Byte])
        extends javax.imageio.stream.ImageInputStreamImpl {
      override def read(): Int = {
        bitOffset = 0
        if (streamPos >= b.length) -1
        else { val v = b(streamPos.toInt) & 0xff; streamPos += 1; v }
      }
      override def read(dst: Array[Byte], off: Int, len: Int): Int = {
        bitOffset = 0
        if (streamPos >= b.length) -1
        else {
          val n = math.min(len.toLong, b.length - streamPos).toInt
          System.arraycopy(b, streamPos.toInt, dst, off, n)
          streamPos += n; n
        }
      }
      override def length(): Long = b.length.toLong
      override def isCached: Boolean = true
      override def isCachedMemory: Boolean = true
    }

    private val jpegReader = new ThreadLocal[javax.imageio.ImageReader]()
    private val jpegScratch = new ThreadLocal[java.awt.image.BufferedImage]()

    /** [[tryDecode]] that may return a PER-THREAD SCRATCH image (r13): on a
      * frame corpus every decode otherwise allocates + zero-fills a fresh
      * BufferedImage (3M × ~18 KB on mm5's 100× run — pure GC churn). When
      * consecutive JPEG decodes on a thread share geometry, the reader
      * decodes INTO the previous image via ImageReadParam.setDestination.
      * CONTRACT: the returned image is only valid until the next call on the
      * same thread — for strictly per-row consumers (imageGrayRaster, resize,
      * videoGrayRasters: compute, then drop the reference) — callers that hold
      * images across rows must use [[tryDecode]]. Non-JPEG payloads and
      * geometry changes take the allocating paths unchanged. */
    private[multimodal] def tryDecodeScratch(
        payload: Array[Byte]): Option[java.awt.image.BufferedImage] =
      tryDecodePngFast(payload)
        .orElse(JpegCodec.tryDecode(payload)) // from-scratch baseline decoder
        .orElse(tryDecodeJpegScratch(payload))
        .orElse(tryDecodeJavax(payload))

    private def tryDecodeJpegScratch(
        payload: Array[Byte]): Option[java.awt.image.BufferedImage] =
      // a type-mismatched destination fails: retry through the allocating path
      withJpegReader(payload, tryDecodeJpegReused(payload)) { rd =>
        val w = rd.getWidth(0); val h = rd.getHeight(0) // header-only parse
        val param = rd.getDefaultReadParam
        val scratch = jpegScratch.get()
        if (scratch != null && scratch.getWidth == w && scratch.getHeight == h)
          param.setDestination(scratch)
        val img = rd.read(0, param)
        if (img ne scratch) jpegScratch.set(img) // adopt the new geometry/type
        img
      }

    /** `read` on this thread's JPEG reader set to `payload` (`None` without the
      * JPEG SOI marker or a reader). A failed read can leave the reader dirty:
      * it is disposed and dropped with the scratch image, and `recover` answers. */
    private def withJpegReader(payload: Array[Byte],
                               recover: => Option[java.awt.image.BufferedImage])(
        read: javax.imageio.ImageReader => java.awt.image.BufferedImage)
        : Option[java.awt.image.BufferedImage] = {
      if (payload.length < 3 || (payload(0) & 0xff) != 0xff ||
          (payload(1) & 0xff) != 0xd8) return None // not JPEG (SOI magic)
      var rd = jpegReader.get()
      if (rd == null) {
        val it = javax.imageio.ImageIO.getImageReadersByFormatName("jpeg")
        if (!it.hasNext) return None
        rd = it.next(); jpegReader.set(rd)
      }
      try {
        rd.setInput(new ByteArrayImageInputStream(payload))
        Option(read(rd))
      } catch {
        case _: Exception =>
          try rd.dispose() catch { case _: Exception => () }
          jpegReader.remove(); jpegScratch.remove()
          recover
      }
    }

    /** Reused-reader JPEG path (VERDICT r12 #1 — the last per-row javax SPI
      * dispatch site): `ImageIO.read` re-runs the reader-SPI registry scan,
      * allocates a fresh reader AND a caching stream wrapper on every call —
      * measured 82–134 µs/frame vs 46 µs with a per-thread cached reader over
      * a byte-array stream on mm5's thumbnail-class JPEGs (the mm3 WAV
      * lesson: dispatch, not decode, dominates small media). Same underlying
      * JPEG plugin, so pixels are identical to [[tryDecodeJavax]]
      * (MultimodalSpec pins it). Readers are not thread-safe → ThreadLocal;
      * executor threads are long-lived, so at most one reader per thread. A
      * decode failure can leave reader state dirty: dispose + drop, and the
      * caller's orElse falls back to the generic path (which will also fail
      * on truly corrupt bytes → payload drops, the documented contract). */
    private[multimodal] def tryDecodeJpegReused(
        payload: Array[Byte]): Option[java.awt.image.BufferedImage] =
      withJpegReader(payload, None)(_.read(0))

    private def u32be(b: Array[Byte], o: Int): Long =
      ((b(o) & 0xffL) << 24) | ((b(o + 1) & 0xffL) << 16) |
        ((b(o + 2) & 0xffL) << 8) | (b(o + 3) & 0xffL)

    /** From-scratch PNG fast path (the WAV/RIFF/zarr/NetCDF reader spirit):
      * `ImageIO.read` pays reader-SPI dispatch and stream probing per call —
      * the same per-row tax the audio path carried. Walks the PNG chunk list,
      * inflates the concatenated IDAT zlib stream (JDK Inflater), reverses the
      * five per-row filters (None/Sub/Up/Average/Paeth, the PNG spec set), and
      * fills a TYPE_INT_ARGB raster. Scope (r12): every 8-bit non-interlaced
      * color type — grayscale (0), truecolor (2), palette (3, PLTE + optional
      * tRNS alpha), gray+alpha (4), truecolor+alpha (6). For types 2/3/6
      * `getRGB` parity with ImageIO is exact (MultimodalSpec pins it
      * pixel-for-pixel). Grayscale decodes by the VALUE-COPY convention
      * (v → rgb(v,v,v), what libpng/PIL/browsers do) — a DELIBERATE divergence
      * from ImageIO, which routes gray through a linear→sRGB colorspace
      * transform and brightens every mid-tone; MultimodalSpec pins the gray
      * samples against the raw PNG bytes instead. 16-bit, sub-8-bit-palette,
      * interlaced, and gray-with-tRNS PNGs fall back to javax.imageio.
      *
      * Robustness contract (ADVICE r11): all chunk-length / geometry bounds are
      * checked in Long (a length near Int.MaxValue wrapped the old int guards
      * negative and sailed past them), dimensions are capped at 64M pixels, and
      * the whole walk is wrapped NonFatal→None so a corrupt or adversarial
      * payload DROPS (the documented undecodable-payload contract) instead of
      * failing the Spark task with an uncaught IndexOutOfBounds. */
    private[multimodal] def tryDecodePngFast(
        p: Array[Byte]): Option[java.awt.image.BufferedImage] =
      try pngFastImpl(p)
      catch { case scala.util.control.NonFatal(_) => None }

    private def pngFastImpl(p: Array[Byte]): Option[java.awt.image.BufferedImage] = {
      val sig = Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a)
      if (p.length < 45 || (0 until 8).exists(i => (p(i) & 0xff) != sig(i)))
        return None
      var o = 8
      var w = 0; var h = 0; var colorType = -1; var ok = false
      var plte: Array[Byte] = null // palette entries, 3 bytes each
      var trns: Array[Byte] = null // per-palette-entry alpha (may be shorter)
      val idat = new java.io.ByteArrayOutputStream()
      while (o + 8 <= p.length) {
        val lenL = u32be(p, o) // unsigned 32-bit: bounds-check in Long, never Int
        val typ = new String(p, o + 4, 4, java.nio.charset.StandardCharsets.US_ASCII)
        val body = o + 8
        if (body.toLong + lenL + 4 > p.length) return None
        val len = lenL.toInt // safe: <= p.length
        typ match {
          case "IHDR" if len >= 13 =>
            w = u32be(p, body).toInt; h = u32be(p, body + 4).toInt
            val bitDepth = p(body + 8) & 0xff
            colorType = p(body + 9) & 0xff
            val interlace = p(body + 12) & 0xff
            if (bitDepth != 8 ||
                (colorType != 0 && colorType != 2 && colorType != 3 &&
                  colorType != 4 && colorType != 6) ||
                interlace != 0 || w <= 0 || h <= 0 ||
                w.toLong * h > (1L << 26)) return None // 64M-pixel sanity cap
            // size crossover (r13, measured in PngTailBench): the fast path's
            // win is the per-call dispatch tax, which amortizes away with
            // pixel count — 2.95x at 9x8, parity at 64x48, 0.89x at 256x192.
            // Route LARGE images back to javax, but ONLY for the color types
            // where the two paths are pixel-identical (truecolor 2, palette
            // 3, truecolor+alpha 6); gray 0 and gray+alpha 4 stay here at any
            // size so their value-copy raster semantics never depend on size.
            if ((colorType == 2 || colorType == 3 || colorType == 6) &&
                w.toLong * h > 16384) return None
          case "PLTE" if len % 3 == 0 && len <= 768 =>
            plte = java.util.Arrays.copyOfRange(p, body, body + len)
          case "tRNS" if len <= 256 =>
            trns = java.util.Arrays.copyOfRange(p, body, body + len)
          case "IDAT" => idat.write(p, body, len)
          case "IEND" => ok = true
          case _ => () // ancillary chunks skipped
        }
        o = body + len + 4 // skip CRC
      }
      if (!ok || colorType < 0 || idat.size() == 0) return None
      if (colorType == 3 && plte == null) return None
      // gray/gray+alpha with a tRNS transparent-sample would need keying —
      // rare; leave it to javax
      if (trns != null && colorType != 3) return None
      // bytes per pixel: gray 1, truecolor 3, palette-index 1, gray+alpha 2,
      // truecolor+alpha 4
      val ch = colorType match {
        case 0 | 3 => 1; case 4 => 2; case 2 => 3; case _ => 4
      }
      val stride = w * ch
      val raw = new Array[Byte]((stride + 1) * h)
      val inf = new java.util.zip.Inflater()
      inf.setInput(idat.toByteArray)
      var filled = 0
      try {
        while (filled < raw.length && !inf.finished()) {
          val n = inf.inflate(raw, filled, raw.length - filled)
          if (n == 0 && inf.needsInput()) return None // truncated stream
          filled += n
        }
      } catch { case _: java.util.zip.DataFormatException => return None }
      finally inf.end()
      if (filled != raw.length) return None
      // reverse per-row filters in place (prev = reconstructed row above)
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_ARGB)
      var y = 0
      while (y < h) {
        val rowOff = y * (stride + 1)
        val filter = raw(rowOff) & 0xff
        var i = 0
        while (i < stride) {
          val x = raw(rowOff + 1 + i) & 0xff
          val a = if (i >= ch) raw(rowOff + 1 + i - ch) & 0xff else 0 // left
          val b = if (y > 0) raw(rowOff - stride + i) & 0xff else 0 // up
          val c = if (y > 0 && i >= ch) raw(rowOff - stride + i - ch) & 0xff else 0
          val rec = filter match {
            case 0 => x
            case 1 => x + a
            case 2 => x + b
            case 3 => x + ((a + b) >> 1)
            case 4 =>
              val pp = a + b - c
              val (pa, pb, pc) = (math.abs(pp - a), math.abs(pp - b), math.abs(pp - c))
              x + (if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c)
            case _ => return None
          }
          raw(rowOff + 1 + i) = (rec & 0xff).toByte
          i += 1
        }
        var px = 0
        while (px < w) {
          val base = rowOff + 1 + px * ch
          val argb = colorType match {
            case 0 => // grayscale: the value-copy convention (v,v,v) — see note
              val v = raw(base) & 0xff
              0xff000000 | (v << 16) | (v << 8) | v
            case 4 => // gray + alpha
              val v = raw(base) & 0xff
              ((raw(base + 1) & 0xff) << 24) | (v << 16) | (v << 8) | v
            case 3 => // palette index -> PLTE entry (+ tRNS alpha when present)
              val i = raw(base) & 0xff
              if (i * 3 + 2 >= plte.length) return None // index past palette
              val al = if (trns != null && i < trns.length) trns(i) & 0xff else 255
              (al << 24) | ((plte(i * 3) & 0xff) << 16) |
                ((plte(i * 3 + 1) & 0xff) << 8) | (plte(i * 3 + 2) & 0xff)
            case _ => // truecolor / truecolor+alpha
              val al = if (ch == 4) raw(base + 3) & 0xff else 255
              (al << 24) | ((raw(base) & 0xff) << 16) |
                ((raw(base + 1) & 0xff) << 8) | (raw(base + 2) & 0xff)
          }
          img.setRGB(px, y, argb)
          px += 1
        }
        y += 1
      }
      Some(img)
    }

    /** Box-filter downscale by integer `stride`: each output pixel is the rounded
      * per-channel mean of its stride x stride source block (clipped at the edges).
      * Pure integer/double arithmetic on the ARGB raster -- deterministic across
      * platforms, unlike Graphics2D's platform-dependent interpolation. */
    def boxResize(img: java.awt.image.BufferedImage, stride: Int): java.awt.image.BufferedImage = {
      val (sw, sh) = (img.getWidth, img.getHeight)
      val w = math.max(sw / stride, 1)
      val h = math.max(sh / stride, 1)
      // bulk pixel grab (r13): one pass per image instead of a virtually-
      // dispatched call per pixel (the mm5 lesson). Alpha is averaged, so the
      // zero-copy grab is only safe when the source's alpha bits are real
      // (ARGB model, or the JPEG wrap which pre-sets 0xFF)
      val px =
        if (img.getColorModel.hasAlpha || (img.getColorModel eq JpegCodec.RgbModel))
          packedArgbOrCopy(img)
        else img.getRGB(0, 0, sw, sh, null, 0, sw)
      val dst = new Array[Int](w * h)
      val out = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_ARGB)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          var (a, r, g, b, n) = (0L, 0L, 0L, 0L, 0L)
          var sy = y * stride
          val ey = math.min(sy + stride, sh)
          while (sy < ey) {
            val row = sy * sw
            var sx = x * stride
            val ex = math.min(sx + stride, sw)
            while (sx < ex) {
              val p = px(row + sx)
              a += (p >>> 24) & 0xff; r += (p >>> 16) & 0xff
              g += (p >>> 8) & 0xff; b += p & 0xff
              n += 1; sx += 1
            }
            sy += 1
          }
          def avg(s: Long) = ((s + n / 2) / n).toInt
          dst(y * w + x) = (avg(a) << 24) | (avg(r) << 16) | (avg(g) << 8) | avg(b)
          x += 1
        }
        y += 1
      }
      out.setRGB(0, 0, w, h, dst, 0, w)
      out
    }

    def encodePng(img: java.awt.image.BufferedImage): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }

    /** From-scratch PNG ENCODER (r13 — the write-side twin of the decode fast
      * paths): `ImageIO.write` pays writer-SPI dispatch, a caching stream
      * wrapper, AND a level-6 deflate per call — the [[resize]] hot path pays
      * it per image at corpus scale. Emits 8-bit truecolor (or +alpha when
      * the source has it), filter 0 on every row, one IDAT, level-1 deflate
      * (the s26 zarr-writer tradeoff: encode speed over a few % of size —
      * resize output is intermediate data, not an archival artifact).
      * Pixel-exact round-trip through any spec-conforming decoder
      * (MultimodalSpec pins both our fast path and ImageIO). */
    def encodePngFast(img: java.awt.image.BufferedImage): Array[Byte] = {
      val w = img.getWidth; val h = img.getHeight
      val hasAlpha = img.getColorModel.hasAlpha
      val bpp = if (hasAlpha) 4 else 3
      // one bulk grab (zero-copy for fast-path images); alpha bits are only
      // read when the color model declares alpha, so the grab is always safe
      val px = packedArgbOrCopy(img)
      val raw = new Array[Byte](h * (1 + w * bpp))
      var o = 0
      var y = 0
      while (y < h) {
        raw(o) = 0 // filter: None
        o += 1
        val row = y * w
        var x = 0
        while (x < w) {
          val p = px(row + x)
          raw(o) = ((p >> 16) & 0xff).toByte
          raw(o + 1) = ((p >> 8) & 0xff).toByte
          raw(o + 2) = (p & 0xff).toByte
          if (hasAlpha) { raw(o + 3) = ((p >>> 24) & 0xff).toByte; o += 4 }
          else o += 3
          x += 1
        }
        y += 1
      }
      val defl = new java.util.zip.Deflater(1)
      defl.setInput(raw); defl.finish()
      val comp = new java.io.ByteArrayOutputStream(raw.length / 2 + 64)
      val buf = new Array[Byte](8192)
      while (!defl.finished()) comp.write(buf, 0, defl.deflate(buf))
      defl.end()
      val out = new java.io.ByteArrayOutputStream(comp.size() + 64)
      out.write(Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a)
        .map(_.toByte), 0, 8)
      def chunk(typ: String, data: Array[Byte]): Unit = {
        def be32(v: Long): Array[Byte] = Array.tabulate(4)(i =>
          ((v >> (8 * (3 - i))) & 0xff).toByte)
        val t = typ.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
        out.write(be32(data.length.toLong), 0, 4)
        out.write(t, 0, 4); out.write(data, 0, data.length)
        val crc = new java.util.zip.CRC32()
        crc.update(t); crc.update(data)
        out.write(be32(crc.getValue), 0, 4)
      }
      val ihdr = new Array[Byte](13)
      def putBe32(a: Array[Byte], off: Int, v: Int): Unit = {
        a(off) = ((v >> 24) & 0xff).toByte; a(off + 1) = ((v >> 16) & 0xff).toByte
        a(off + 2) = ((v >> 8) & 0xff).toByte; a(off + 3) = (v & 0xff).toByte
      }
      putBe32(ihdr, 0, w); putBe32(ihdr, 4, h)
      ihdr(8) = 8 // bit depth
      ihdr(9) = (if (hasAlpha) 6 else 2).toByte // truecolor (+alpha)
      // compression 0, filter 0, interlace 0 already zero
      chunk("IHDR", ihdr)
      chunk("IDAT", comp.toByteArray)
      chunk("IEND", Array.empty[Byte])
      out.toByteArray
    }

    /** JPEG encode at an explicit quality (fixture synthesis only — operators
      * never re-encode JPEG). At quality 1.0 the scaled quantization tables are
      * all-ones, so an image whose every 8×8 block is a flat gray (r=g=b=v)
      * round-trips the encode→decode path EXACTLY: flat blocks have a DC-only
      * DCT (DC = 8·(v−128), divisible by 8; AC float noise quantizes to 0) and
      * gray pixels carry Cb=Cr=128 which chroma subsampling cannot disturb —
      * verified block-exact across the md5 value range in MultimodalSpec. */
    def encodeJpeg(img: java.awt.image.BufferedImage, quality: Float): Array[Byte] = {
      val w = javax.imageio.ImageIO.getImageWritersByFormatName("jpeg").next()
      val p = w.getDefaultWriteParam
      p.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
      p.setCompressionQuality(quality)
      val bos = new java.io.ByteArrayOutputStream()
      val out = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
      try {
        w.setOutput(out)
        w.write(null, new javax.imageio.IIOImage(img, null, null), p)
      } finally { w.dispose(); out.close() }
      bos.toByteArray
    }
  }

  /** Real JVM-native audio decode: WAV/AIFF/AU PCM to per-channel-averaged
    * amplitudes (javax.sound.sampled, with a fast path for canonical PCM WAV).
    * Static + stateless. */
  object AudioCodec {
    /** Raw PCM frame bytes -> per-channel-averaged amplitudes. 8-bit unsigned
      * re-centers to -128..127; 16-bit sign-extends signed PCM and re-centers
      * unsigned PCM (raw 0..65535 - 32768), so every sample lands in
      * -32768..32767 regardless of encoding flag. Exposed for direct unit
      * testing of encodings javax.sound's own writers can't produce (e.g.
      * unsigned 16-bit streams from third-party containers). */
    private[multimodal] def decodePcmFrames(
        bytes: Array[Byte], bits: Int, ch: Int,
        signed: Boolean, bigEndian: Boolean): Array[Double] = {
      val bytesPerSample = bits / 8
      val nFrames = bytes.length / (bytesPerSample * ch)
      val outArr = new Array[Double](nFrames)
      var i = 0
      while (i < nFrames) {
        var acc = 0.0
        var c = 0
        while (c < ch) {
          val o = (i * ch + c) * bytesPerSample
          val v =
            if (bits == 8) {
              if (signed) bytes(o).toInt else (bytes(o) & 0xff) - 128
            } else {
              val (lo, hi) = if (bigEndian) (o + 1, o) else (o, o + 1)
              if (signed) ((bytes(hi).toInt << 8) | (bytes(lo) & 0xff))
              else (((bytes(hi) & 0xff) << 8) | (bytes(lo) & 0xff)) - 32768
            }
          acc += v
          c += 1
        }
        outArr(i) = acc / ch
        i += 1
      }
      outArr
    }

    private def u16le(b: Array[Byte], o: Int): Int =
      (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
    private def u32leA(b: Array[Byte], o: Int): Long =
      (b(o) & 0xffL) | ((b(o + 1) & 0xffL) << 8) |
        ((b(o + 2) & 0xffL) << 16) | ((b(o + 3) & 0xffL) << 24)

    /** Canonical-WAV fast path: walks the RIFF chunk list directly (the
      * VideoCodec spirit — javax.sound's entry point pays SPI provider
      * dispatch and stream probing PER CALL, which dominates corpus-scale
      * decode: 57 s for 500k rows at the 100× slice, ~all of it dispatch).
      * Covers the PCM profile WAV files actually carry — format tag 1,
      * 8-bit unsigned / 16-bit signed little-endian (the WAV spec's fixed
      * signedness for those widths), any channel count. Anything else
      * (AIFF/AU, float, extensible, compressed) returns None and falls back
      * to the javax.sound path. Same [[decodePcmFrames]] kernel, so output
      * is bit-identical to the fallback (MultimodalSpec pins parity).
      *
      * Robustness contract (ADVICE r11): chunk lengths are unsigned 32-bit —
      * bounds-checked in Long (int guards wrap negative near Int.MaxValue) and
      * the walk is wrapped NonFatal→None so corrupt payloads drop to the javax
      * fallback instead of failing the task. */
    private[multimodal] def tryDecodeWavFast(
        p: Array[Byte]): Option[(Int, Array[Double])] =
      try wavFastImpl(p)
      catch { case scala.util.control.NonFatal(_) => None }

    private def wavFastImpl(p: Array[Byte]): Option[(Int, Array[Double])] = {
      if (p.length < 44 ||
          p(0) != 'R' || p(1) != 'I' || p(2) != 'F' || p(3) != 'F' ||
          p(8) != 'W' || p(9) != 'A' || p(10) != 'V' || p(11) != 'E') return None
      var o = 12
      var fmt: Option[(Int, Int, Int, Int)] = None // tag, channels, rate, bits
      var dat: Option[(Int, Int)] = None // offset, length
      while (o + 8 <= p.length && (fmt.isEmpty || dat.isEmpty)) {
        val id = new String(p, o, 4, java.nio.charset.StandardCharsets.US_ASCII)
        val lenL = u32leA(p, o + 4)
        val body = o + 8
        if (body.toLong + lenL > p.length) return None
        val len = lenL.toInt // safe: <= p.length
        if (id == "fmt " && len >= 16)
          fmt = Some((u16le(p, body), u16le(p, body + 2),
            u32leA(p, body + 4).toInt, u16le(p, body + 14)))
        else if (id == "data") dat = Some((body, len))
        o = body + len + (len & 1)
      }
      (fmt, dat) match {
        case (Some((1, ch, rate, bits)), Some((off, len)))
            if (bits == 8 || bits == 16) && ch > 0 &&
              len % ((bits / 8) * ch) == 0 =>
          val bytes = java.util.Arrays.copyOfRange(p, off, off + len)
          Some((rate, decodePcmFrames(bytes, bits, ch,
            signed = bits == 16, bigEndian = false)))
        case _ => None
      }
    }

    /** Full PCM decode to raw per-channel-averaged amplitudes. 8/16-bit PCM,
      * signed or unsigned (unsigned re-centered); 16-bit honors the
      * container's endianness. Mono streams return exact integer
      * amplitudes (as doubles), which keeps downstream sums integer-exact;
      * multi-channel streams average channels (documented as inexact).
      * Canonical PCM WAVs take [[tryDecodeWavFast]]; other containers go
      * through javax.sound. */
    def tryDecodeSamples(payload: Array[Byte]): Option[(Int, Array[Double])] =
      tryDecodeWavFast(payload).orElse(tryDecodeSamplesJavax(payload))

    /** The javax.sound decode path (AIFF/AU/anything the fast path declines). */
    private[multimodal] def tryDecodeSamplesJavax(
        payload: Array[Byte]): Option[(Int, Array[Double])] =
      try {
        val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(payload))
        try {
          val f = in.getFormat
          val bits = f.getSampleSizeInBits
          val signed = f.getEncoding ==
            javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED
          val unsigned = f.getEncoding ==
            javax.sound.sampled.AudioFormat.Encoding.PCM_UNSIGNED
          if ((bits != 8 && bits != 16) || (!signed && !unsigned)) None
          else Some((f.getSampleRate.toInt,
            decodePcmFrames(in.readAllBytes(), bits, f.getChannels,
              signed, f.isBigEndian)))
        } finally in.close()
      } catch { case _: Exception => None }
  }

  /** Per-document audio features from the decoded PCM stream. Raw (un-normalized)
    * sample amplitudes keep every downstream stat integer-exact for 8/16-bit PCM:
    * `rms = sqrt(Σs²/n)` with an integer Σs², `zc_total` = sign changes. */
  final case class AudioFeatures(id: Long, sampleRate: Int, nSamples: Long,
                                 nWindows: Long, zcTotal: Long, rms: Double,
                                 windowRms: Array[Double], windowZcr: Array[Double])

  /** Deterministic sine-wave WAV fixture (REAL container via javax.sound):
    * `floor(amp·32767·sin(2π·f·i/rate) + 0.5)` as mono 16-bit little-endian PCM.
    * The generator both tests [[audioFrameFeatures]] and lets a SQL oracle
    * recompute the exact integer samples analytically. */
  def sineWav(freqHz: Int, nSamples: Int, rate: Int = 8000,
              amp: Double = 0.8): Array[Byte] = {
    val data = new Array[Byte](nSamples * 2)
    var i = 0
    while (i < nSamples) {
      val x = amp * 32767 * math.sin(2.0 * math.Pi * freqHz * i / rate)
      val s = math.floor(x + 0.5).toInt
      data(2 * i) = (s & 0xff).toByte
      data(2 * i + 1) = ((s >> 8) & 0xff).toByte
      i += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(rate.toFloat, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(data), fmt, nSamples.toLong)
    val out = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
    out.toByteArray
  }

  /** mm4r fixture synthesis (the [[sineWav]] pattern for images): the mm4 md5
    * pixel grid rendered as a REAL 9×8 truecolor PNG. With r=g=b=v the integer
    * luma is exactly v, and a 9×8 source under an (8+1)×8 target makes the
    * box-mean raster the identity — so payloads round-trip the production
    * decode path ([[ImageCodec.tryDecodePngFast]] → [[imageGrayRaster]]) while
    * the raster stays analytically reproducible in SQL. */
  def mm4FixturePng(docId: Long): Array[Byte] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val gid = docId / 4
    val img = new java.awt.image.BufferedImage(
      9, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var p = 0
    while (p < 72) {
      val h = md.digest(s"$gid:$p".getBytes("UTF-8"))
      // conv(substring(md5,1,4),16,10) % 256 == second digest byte
      val base = (((h(0) & 0xff) << 8) | (h(1) & 0xff)) % 256
      val v = ((base + (docId % 2) * ((p * 13 + docId) % 2) * 2) % 256).toInt
      img.setRGB(p % 9, p / 9, (v << 16) | (v << 8) | v)
      p += 1
    }
    ImageCodec.encodePng(img)
  }

  /** mm4p fixture synthesis: the mm4 md5-grid idea at pHash's native 32×32
    * (exact-size source ⇒ the box-mean raster is the identity, r=g=b=v ⇒
    * integer luma is exactly v — the whole decode→DCT path is analytically
    * reproducible in SQL). Groups of 4 share a base grid; members 1–3 add
    * deterministic jitter of increasing strength (+24 on every 29th pixel /
    * +32 on every 11th / +48 on every 5th, mod-256 wrap) — measured pHash
    * distances land at 0–6 for the weaker members (kept at radius 7) and
    * 8–20 for the strong pairs (filtered), so the query exercises BOTH sides
    * of the wide chassis's verify line. A +16-on-11-pixels probe measured
    * distance 0 — the DCT's re-encode robustness, exactly why pHash exists. */
  def mm4pFixturePng(docId: Long): Array[Byte] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val gid = docId / 4
    val m = (docId % 4).toInt
    val img = new java.awt.image.BufferedImage(
      32, 32, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var p = 0
    while (p < 1024) {
      val h = md.digest(s"$gid:$p".getBytes("UTF-8"))
      val base = (((h(0) & 0xff) << 8) | (h(1) & 0xff)) % 256
      val j =
        if (m == 1 && p % 29 == 0) 24
        else if (m == 2 && p % 11 == 0) 32
        else if (m == 3 && p % 5 == 0) 48
        else 0
      val v = (base + j) % 256
      img.setRGB(p % 32, p / 32, (v << 16) | (v << 8) | v)
      p += 1
    }
    ImageCodec.encodePng(img)
  }

  /** mm5 fixture synthesis (the [[sineWav]]/[[mm4FixturePng]] pattern for
    * video): a REAL MJPEG video of six 72×64 frames in two 3-frame "shots".
    * Every 8×8 JPEG block is a flat gray whose value derives from
    * md5(doc:shot:cell) plus a small per-frame jitter, so the full production
    * path — container walk ([[VideoCodec.frames]]) → per-frame JPEG decode →
    * 9×8 box-mean luma raster — is analytically reproducible in SQL: flat
    * gray blocks round-trip JPEG encode/decode exactly (see
    * [[ImageCodec.encodeJpeg]]) and the 72×64→9×8 box mean is the identity on
    * block values. Shot boundaries give consecutive frames independent grids
    * (dHash hamming ≈ 32) while within-shot jitter keeps hamming small — the
    * keyframe-detection signal mm5 gates. Even doc ids get RIFF/AVI, odd ids
    * ISO-BMFF/MP4 (r14), so the one mm5 query exercises both from-scratch
    * container walks under the same analytic oracle (frame content is
    * container-independent by construction). */
  def mm5FixtureVideo(docId: Long): Array[Byte] =
    if (docId % 2 == 0) VideoCodec.buildMjpegAvi(mm5Frames(docId), 72, 64)
    else Mp4Codec.buildMjpegMp4(mm5Frames(docId), 72, 64)

  private def mm5Frames(docId: Long): Seq[Array[Byte]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    twoShotFrames { (f, p) =>
      val h = md.digest(s"$docId:${f / 3}:$p".getBytes("UTF-8"))
      val base = (((h(0) & 0xff) << 8) | (h(1) & 0xff)) % 256
      ((base + (f % 3) * ((p * 13 + f) % 2) * 2) % 256).toInt
    }
  }

  /** The mm5/mm6 frame skeleton: six 72×64 JPEG frames (two 3-frame shots)
    * whose 9×8 grid cell `p` of frame `f` is a flat 8×8 gray block of value
    * `cell(f, p)`, called in frame-then-cell order. */
  private def twoShotFrames(cell: (Int, Int) => Int): Seq[Array[Byte]] =
    (0 until 6).map { f =>
      val img = new java.awt.image.BufferedImage(
        72, 64, java.awt.image.BufferedImage.TYPE_INT_RGB)
      var p = 0
      while (p < 72) {
        val v = cell(f, p)
        val bx = p % 9; val by = p / 9
        var y = by * 8
        while (y < by * 8 + 8) {
          var x = bx * 8
          while (x < bx * 8 + 8) { img.setRGB(x, y, (v << 16) | (v << 8) | v); x += 1 }
          y += 1
        }
        p += 1
      }
      ImageCodec.encodeJpeg(img, 1.0f)
    }

  /** Real from-scratch video container parser (RIFF/AVI — same spirit as the
    * from-scratch NcSource/ZarrSource format readers): walks the RIFF chunk tree,
    * reads the `avih` main header (width/height/total frames) and the first video
    * stream's `strh` handler fourcc, and iterates the `movi` list's `##db`/`##dc`
    * frame chunks. For MJPEG AVIs every frame chunk IS a JPEG, so frames decode
    * further via [[ImageCodec]] — the full video path (container -> frames ->
    * pixels) is real on the JVM with zero external codecs. Compressed non-MJPEG
    * streams still parse at the container level (dimensions + frame count + real
    * frame payload bytes); only their pixel decode falls back to downstream stubs.
    *
    * Layout parsed (public AVI RIFF spec): chunks are `[fourcc][u32 size][data]`
    * padded to even; `LIST` chunks nest with a subtype fourcc. `avih` data offsets:
    * dwTotalFrames at +16, dwWidth at +32, dwHeight at +36; `strh` fccType at +0
    * (`vids` selects the video stream), fccHandler at +4. */
  object VideoCodec {
    final case class AviInfo(width: Int, height: Int, nFrames: Int, handler: String)

    private def u32(b: Array[Byte], o: Int): Long =
      (b(o) & 0xffL) | ((b(o + 1) & 0xffL) << 8) | ((b(o + 2) & 0xffL) << 16) |
        ((b(o + 3) & 0xffL) << 24)
    private def u16(b: Array[Byte], o: Int): Int =
      (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
    private def fcc(b: Array[Byte], o: Int): String =
      if (o + 4 <= b.length) new String(b, o, 4, java.nio.charset.StandardCharsets.US_ASCII)
      else ""

    /** Depth-first chunk walk over `[from, until)`; `f` sees (fourcc, dataOff, dataLen)
      * for every non-LIST chunk, with LIST children recursed into. */
    private def walk(b: Array[Byte], from: Int, until: Int)
                    (f: (String, Int, Int) => Unit): Unit = {
      var o = from
      while (o + 8 <= until) {
        val id = fcc(b, o)
        val len = u32(b, o + 4).toInt
        val data = o + 8
        if (len < 0 || data + len > until) return // truncated/corrupt: stop cleanly
        if (id == "LIST" || id == "RIFF") walk(b, data + 4, data + len)(f)
        else f(id, data, len)
        o = data + len + (len & 1) // chunks pad to even
      }
    }

    def tryParse(payload: Array[Byte]): Option[AviInfo] = {
      if (payload.length < 12 || fcc(payload, 0) != "RIFF" || fcc(payload, 8) != "AVI ")
        return None
      var info: Option[AviInfo] = None
      var handler = ""
      var sawVids = false
      var counted = 0
      walk(payload, 12, payload.length) { (id, off, len) =>
        id match {
          case "avih" if len >= 40 =>
            info = Some(AviInfo(u32(payload, off + 32).toInt, u32(payload, off + 36).toInt,
              u32(payload, off + 16).toInt, handler))
          case "strh" if len >= 8 && fcc(payload, off) == "vids" && !sawVids =>
            sawVids = true; handler = fcc(payload, off + 4)
          case fr if fr.length == 4 && (fr.endsWith("db") || fr.endsWith("dc")) =>
            counted += 1
          case _ => ()
        }
      }
      // frame count: trust the movi scan when present (headers lie in the wild)
      info.map(i => i.copy(nFrames = if (counted > 0) counted else i.nFrames,
        handler = handler))
    }

    /** The frame payloads in stream order — every `##db`/`##dc` movi chunk
      * for RIFF/AVI, or every video-track sample for ISO-BMFF/MP4 (r14:
      * [[Mp4Codec]] — the container magic picks the walk, so every consumer
      * of this entry point takes both containers unchanged). For MJPEG each
      * element is a standalone JPEG. */
    def frames(payload: Array[Byte]): Seq[Array[Byte]] = {
      if (Mp4Codec.isMp4(payload)) return Mp4Codec.frames(payload)
      if (tryParse(payload).isEmpty) return Seq.empty
      val out = Seq.newBuilder[Array[Byte]]
      walk(payload, 12, payload.length) { (id, off, len) =>
        if (id.length == 4 && (id.endsWith("db") || id.endsWith("dc")))
          out += java.util.Arrays.copyOfRange(payload, off, off + len)
      }
      out.result()
    }

    /** PCM samples of the first `auds` stream (r15, VERDICT r14 #2 — the AVI
      * half of joint A/V dedup): finds the first strh with fccType `auds`,
      * reads its strf WAVEFORMATEX (PCM tag 1, 8/16-bit — the
      * [[AudioCodec.tryDecodeWavFast]] profile), and concatenates the
      * `NNwb` movi chunks of that stream NUMBER (NN = the stream's strl
      * ORDER in hdrl, the public AVI two-digit chunk-id rule) in stream
      * order. Compressed tags decline by returning None. Returns
      * (sampleRate, channel-averaged amplitudes) via the same
      * [[AudioCodec.decodePcmFrames]] kernel as every other PCM path. An MP4
      * payload reads its `soun` track through [[Mp4Codec.audioSamples]]: the
      * container magic picks the walk, as in [[frames]]. */
    def audioSamples(payload: Array[Byte]): Option[(Int, Array[Double])] =
      if (Mp4Codec.isMp4(payload)) Mp4Codec.audioSamples(payload)
      else try audioSamplesImpl(payload)
      catch { case scala.util.control.NonFatal(_) => None }

    private def audioSamplesImpl(payload: Array[Byte]): Option[(Int, Array[Double])] = {
      if (payload.length < 12 || fcc(payload, 0) != "RIFF" ||
          fcc(payload, 8) != "AVI ") return None
      var streamIdx = -1
      var audioIdx = -1
      var expectFmt = false
      var fmt: Option[(Int, Int, Int, Int)] = None // tag, channels, rate, bits
      walk(payload, 12, payload.length) { (id, off, len) =>
        id match {
          case "strh" if len >= 8 =>
            streamIdx += 1
            expectFmt = audioIdx < 0 && fcc(payload, off) == "auds"
            if (expectFmt) audioIdx = streamIdx
          case "strf" if expectFmt && len >= 16 =>
            fmt = Some((u16(payload, off), u16(payload, off + 2),
              u32(payload, off + 4).toInt, u16(payload, off + 14)))
            expectFmt = false
          case _ => ()
        }
      }
      (audioIdx, fmt) match {
        case (i, Some((1, ch, rate, bits)))
            if i >= 0 && (bits == 8 || bits == 16) && ch > 0 =>
          val tag = f"$i%02dwb"
          val buf = new java.io.ByteArrayOutputStream()
          walk(payload, 12, payload.length) { (id, off, len) =>
            if (id == tag) buf.write(payload, off, len)
          }
          val bytes = buf.toByteArray
          if (bytes.isEmpty || bytes.length % ((bits / 8) * ch) != 0) None
          else Some((rate, AudioCodec.decodePcmFrames(bytes, bits, ch,
            signed = bits == 16, bigEndian = false)))
        case _ => None
      }
    }

    /** Minimal MJPEG-AVI WRITER (fixture synthesis + spec fixtures only —
      * operators never encode video): RIFF('AVI ') with an `hdrl` list
      * (avih + a vids/MJPG strl) and a `movi` list of `00dc` JPEG frame
      * chunks, all per the public AVI RIFF layout [[tryParse]] reads back.
      * `audio` (r15) optionally adds an auds strl (PCM16 WAVEFORMATEX) and
      * one `01wb` movi chunk — the layout [[audioSamples]] reads back. */
    def buildMjpegAvi(frames: Seq[Array[Byte]], width: Int, height: Int,
                      audio: Option[(Array[Byte], Int, Int)] = None): Array[Byte] = {
      def u32(v: Long): Array[Byte] = Array.tabulate(4)(i => ((v >> (8 * i)) & 0xff).toByte)
      def u16(v: Int): Array[Byte] = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
      def fccB(s: String): Array[Byte] = s.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
      def chunk(id: String, data: Array[Byte]): Array[Byte] =
        fccB(id) ++ u32(data.length.toLong) ++ data ++
          (if ((data.length & 1) == 1) Array(0.toByte) else Array.empty[Byte])
      def list(subtype: String, children: Array[Byte]): Array[Byte] =
        chunk("LIST", fccB(subtype) ++ children)
      val maxFrame = if (frames.isEmpty) 0 else frames.map(_.length).max
      val avih = chunk("avih",
        u32(40000L) ++ u32(0L) ++ u32(0L) ++ u32(0L) ++ // usec/frame, bps, pad, flags
          u32(frames.size.toLong) ++ u32(0L) ++ u32(1L) ++ u32(maxFrame.toLong) ++
          u32(width.toLong) ++ u32(height.toLong) ++ Array.fill(16)(0.toByte))
      val strh = chunk("strh",
        fccB("vids") ++ fccB("MJPG") ++ u32(0L) ++ u16(0) ++ u16(0) ++
          u32(0L) ++ u32(1L) ++ u32(25L) ++ u32(0L) ++ // initial, scale, rate, start
          u32(frames.size.toLong) ++ u32(maxFrame.toLong) ++ u32(0xffffffffL) ++
          u32(0L) ++ u16(0) ++ u16(0) ++ u16(width) ++ u16(height))
      val strf = chunk("strf",
        u32(40L) ++ u32(width.toLong) ++ u32(height.toLong) ++ u16(1) ++ u16(24) ++
          fccB("MJPG") ++ u32(width.toLong * height * 3) ++
          u32(0L) ++ u32(0L) ++ u32(0L) ++ u32(0L))
      val audioStrl = audio.toSeq.map { case (pcm, rate, ch) =>
        val blockAlign = 2 * ch
        val nSamp = pcm.length / blockAlign
        val astrh = chunk("strh",
          fccB("auds") ++ u32(0L) ++ u32(0L) ++ u16(0) ++ u16(0) ++
            u32(0L) ++ u32(1L) ++ u32(rate.toLong) ++ u32(0L) ++
            u32(nSamp.toLong) ++ u32(pcm.length.toLong) ++ u32(0xffffffffL) ++
            u32(blockAlign.toLong) ++ u16(0) ++ u16(0) ++ u16(0) ++ u16(0))
        val astrf = chunk("strf", // WAVEFORMATEX, PCM tag 1, 16-bit
          u16(1) ++ u16(ch) ++ u32(rate.toLong) ++
            u32(rate.toLong * blockAlign) ++ u16(blockAlign) ++ u16(16))
        list("strl", astrh ++ astrf)
      }
      val hdrl = list("hdrl",
        avih ++ list("strl", strh ++ strf) ++ audioStrl.flatten.toArray)
      val movi = list("movi", frames.toArray.flatMap(f => chunk("00dc", f)) ++
        audio.toSeq.flatMap { case (pcm, _, _) => chunk("01wb", pcm) })
      val body = fccB("AVI ") ++ hdrl ++ movi
      fccB("RIFF") ++ u32(body.length.toLong) ++ body
    }
  }

  /** From-scratch ISO-BMFF (MP4) container parser for MJPEG video tracks —
    * [[VideoCodec]]'s RIFF walk applied to the dominant real container
    * (VERDICT r13 #4). Walks the box tree per the public ISO/IEC 14496-12
    * layout (`[u32 size][fourcc][payload]`; size 1 → u64 largesize follows,
    * size 0 → to end-of-enclosure; all integers BIG-endian), selects the
    * first `vide`-handler track under `moov/trak/mdia`, reads the `stsd`
    * sample-entry fourcc and dimensions, and resolves every sample's
    * (offset, size) through the `stsc`/`stco`(+`co64`)/`stsz` triplet —
    * samples within a chunk are contiguous from the chunk offset. MJPEG
    * tracks (`jpeg`/`mjpa` sample entries) yield frames that ARE standalone
    * JPEGs for [[ImageCodec]]; compressed codecs (avc1/hvc1/...) still parse
    * at container level ([[tryParse]] reports dimensions + frame count +
    * codec) but [[frames]] declines them loudly by returning empty — the
    * documented H.264/HEVC refusal (a JVM-from-scratch H.264 decoder is out
    * of scope; the container walk is not). */
  object Mp4Codec {
    final case class Mp4Info(width: Int, height: Int, nFrames: Int, codec: String)

    private def u16(b: Array[Byte], o: Int): Int =
      ((b(o) & 0xff) << 8) | (b(o + 1) & 0xff)
    private def u32(b: Array[Byte], o: Int): Long =
      ((b(o) & 0xffL) << 24) | ((b(o + 1) & 0xffL) << 16) |
        ((b(o + 2) & 0xffL) << 8) | (b(o + 3) & 0xffL)
    private def u64(b: Array[Byte], o: Int): Long =
      (u32(b, o) << 32) | u32(b, o + 4)
    private def fcc(b: Array[Byte], o: Int): String =
      if (o + 4 <= b.length)
        new String(b, o, 4, java.nio.charset.StandardCharsets.US_ASCII)
      else ""

    def isMp4(b: Array[Byte]): Boolean = b.length >= 12 && fcc(b, 4) == "ftyp"

    /** Child-box walk over `[from, until)`: `f` sees (type, payloadFrom,
      * boxEnd). Stops cleanly on truncated/corrupt sizes. ISO/IEC 14496-12
      * permits size 0 ("extends to end of file") ONLY for the LAST TOP-LEVEL
      * box, so the extend-to-end interpretation applies to the top-level walk
      * alone (`from == 0`); a size-0 box at any nested depth is corrupt and
      * stops the walk — it must not silently swallow its sibling boxes
      * (ADVICE r14). */
    private def boxes(b: Array[Byte], from: Int, until: Int)
                     (f: (String, Int, Int) => Unit): Unit = {
      var o = from
      while (o + 8 <= until) {
        var sz = u32(b, o)
        val typ = fcc(b, o + 4)
        var data = o + 8
        if (sz == 1L && o + 16 <= until) { sz = u64(b, o + 8); data = o + 16 }
        else if (sz == 0L) {
          if (from != 0) return // nested size-0: corrupt, stop the walk
          sz = (until - o).toLong
        }
        if (sz < (data - o).toLong || o + sz > until) return
        f(typ, data, (o + sz).toInt)
        o = (o + sz).toInt
      }
    }

    private def child(b: Array[Byte], from: Int, until: Int,
                      typ: String): Option[(Int, Int)] = {
      var res: Option[(Int, Int)] = None
      boxes(b, from, until)((t, f, u) => if (t == typ && res.isEmpty) res = Some((f, u)))
      res
    }

    private def path(b: Array[Byte], from: Int, until: Int,
                     p: String*): Option[(Int, Int)] =
      p.foldLeft(Option((from, until))) { (acc, typ) =>
        acc.flatMap { case (f, u) => child(b, f, u, typ) }
      }

    /** The first `handler`-track's stbl payload range, or None ("vide" for
      * the video walk, "soun" for the audio-track walk — r15). */
    private def handlerStbl(b: Array[Byte], handler: String): Option[(Int, Int)] = {
      var res: Option[(Int, Int)] = None
      for ((mf, mu) <- child(b, 0, b.length, "moov"))
        boxes(b, mf, mu) { (t, tf, tu) =>
          if (t == "trak" && res.isEmpty)
            for {
              (df, du) <- child(b, tf, tu, "mdia")
              (hf, _) <- child(b, df, du, "hdlr")
              if fcc(b, hf + 8) == handler // fullbox v+f(4) + pre_defined(4)
              stbl <- path(b, df, du, "minf", "stbl")
            } res = Some(stbl)
        }
      res
    }

    private final case class Tables(width: Int, height: Int, codec: String,
                                    sizes: Array[Long], chunkOffs: Array[Long],
                                    stsc: Array[(Long, Long)])

    /** The generic stbl sample machinery shared by the video and audio (r15)
      * walks: stsd entry offset + fourcc and the clamped stsz/stsc/stco(+co64)
      * triplet; the caller reads its entry-type-specific fields from
      * `entryOff`. */
    private final case class SampleTables(entryOff: Int, codec: String,
                                          sizes: Array[Long],
                                          chunkOffs: Array[Long],
                                          stsc: Array[(Long, Long)])

    private def tables(b: Array[Byte]): Option[Tables] =
      try handlerStbl(b, "vide").flatMap(sampleTables(b, _)).map { st =>
        // VisualSampleEntry: size(4)+fourcc(4)+reserved(6)+dri(2) +
        // pre_defined/reserved(16) + width(2)+height(2)
        Tables(u16(b, st.entryOff + 32), u16(b, st.entryOff + 34), st.codec,
          st.sizes, st.chunkOffs, st.stsc)
      } catch { case scala.util.control.NonFatal(_) => None }

    private def sampleTables(b: Array[Byte],
                             stbl: (Int, Int)): Option[SampleTables] = {
      val (sf, su) = stbl
      for {
          (df, _) <- child(b, sf, su, "stsd")
          (zf, zu) <- child(b, sf, su, "stsz")
          (cf, cu) <- child(b, sf, su, "stco")
            .orElse(child(b, sf, su, "co64"))
          (scf, scu) <- child(b, sf, su, "stsc")
        } yield {
          // stsd: v+f(4) + entry_count(4); entry: size(4)+fourcc(4)+
          // reserved(6)+dri(2) + type-specific fields (caller's job)
          val e0 = df + 8
          val codec = fcc(b, e0 + 4)
          val fixed = u32(b, zf + 4)
          // every count is CLAMPED by what its box (or the payload) can
          // actually hold: a corrupt header claiming 2^31 samples would
          // otherwise drive Array.fill into an OutOfMemoryError, which is a
          // VirtualMachineError the NonFatal catch below does NOT absorb —
          // the executor task would die instead of declining to the stub
          val n = math.min(u32(b, zf + 8),
            if (fixed != 0L) b.length.toLong / math.max(fixed, 1L)
            else (zu - zf - 12L) / 4L).toInt
          val sizes =
            if (fixed != 0L) Array.fill(n)(fixed)
            else Array.tabulate(n)(i => u32(b, zf + 12 + 4 * i))
          val co64 = child(b, sf, su, "stco").isEmpty
          val offSz = if (co64) 8L else 4L
          val nCh = math.min(u32(b, cf + 4), (cu - cf - 8L) / offSz).toInt
          val chunkOffs =
            if (co64) Array.tabulate(nCh)(i => u64(b, cf + 8 + 8 * i))
            else Array.tabulate(nCh)(i => u32(b, cf + 8 + 4 * i))
          val nRuns = math.min(u32(b, scf + 4), (scu - scf - 8L) / 12L).toInt
          val stsc = Array.tabulate(nRuns)(i =>
            (u32(b, scf + 8 + 12 * i), u32(b, scf + 12 + 12 * i)))
          SampleTables(e0, codec, sizes, chunkOffs, stsc)
        }
    }

    /** Every sample's (offset, size) in decode order via stsc × stco × stsz. */
    private def sampleRanges(t: SampleTables): Seq[(Long, Long)] = {
      val out = Seq.newBuilder[(Long, Long)]
      var s = 0
      var c = 0
      while (c < t.chunkOffs.length && s < t.sizes.length) {
        // samples-per-chunk: the last stsc run whose first_chunk (1-based) <= c+1
        val spc = t.stsc.takeWhile(_._1 <= c + 1).lastOption.map(_._2).getOrElse(1L)
        var off = t.chunkOffs(c)
        var k = 0L
        while (k < spc && s < t.sizes.length) {
          out += ((off, t.sizes(s)))
          off += t.sizes(s); s += 1; k += 1
        }
        c += 1
      }
      out.result()
    }

    def tryParse(payload: Array[Byte]): Option[Mp4Info] =
      if (!isMp4(payload)) None
      else tables(payload).map(t =>
        Mp4Info(t.width, t.height, t.sizes.length, t.codec))

    /** MJPEG sample payloads in decode order; non-MJPEG codecs and non-MP4
      * payloads yield empty (the loud decline — see object scaladoc). */
    def frames(payload: Array[Byte]): Seq[Array[Byte]] =
      (try handlerStbl(payload, "vide").flatMap(sampleTables(payload, _))
       catch { case scala.util.control.NonFatal(_) => None }) match {
        case Some(t) if t.codec == "jpeg" || t.codec == "mjpa" =>
          sampleRanges(t).collect {
            case (off, len)
              if off >= 0 && len > 0 && off + len <= payload.length =>
              java.util.Arrays.copyOfRange(
                payload, off.toInt, (off + len).toInt)
          }
        case _ => Seq.empty
      }

    /** PCM samples of the first `soun`-handler trak (r15, VERDICT r14 #2):
      * the audio half of joint A/V dedup. Supports the uncompressed PCM
      * sample-entry fourccs — `sowt` (16-bit little-endian) and `twos`
      * (16-bit big-endian, the QT convention names both); compressed audio
      * (mp4a/AAC...) declines loudly by returning None, the avc1/hvc1 rule
      * applied to sound. Sample bytes concatenate in decode order through
      * the same clamped stsz/stsc/stco walk as the video track; channel
      * count reads from the AudioSampleEntry (reserved(8) + channelcount(2)
      * + samplesize(2) + pre_defined(2) + reserved(2) + samplerate(16.16)
      * after the 16-byte SampleEntry header). Returns (sampleRate,
      * channel-averaged amplitudes) — [[AudioCodec.decodePcmFrames]]'s
      * contract, so features downstream are bit-identical to the WAV path. */
    def audioSamples(payload: Array[Byte]): Option[(Int, Array[Double])] =
      try {
        if (!isMp4(payload)) return None
        handlerStbl(payload, "soun").flatMap(sampleTables(payload, _)).flatMap { t =>
          if (t.codec != "sowt" && t.codec != "twos") None
          else {
            val ch = math.max(1, u16(payload, t.entryOff + 24))
            val rate = u16(payload, t.entryOff + 32) // 16.16 integer part
            val bytes = sampleRanges(t).collect {
              case (off, len)
                if off >= 0 && len > 0 && off + len <= payload.length =>
                java.util.Arrays.copyOfRange(payload, off.toInt, (off + len).toInt)
            }.toArray.flatten
            Some((rate, AudioCodec.decodePcmFrames(bytes, 16, ch,
              signed = true, bigEndian = t.codec == "twos")))
          }
        }
      } catch { case scala.util.control.NonFatal(_) => None }

    /** Minimal MJPEG-MP4 WRITER (fixture synthesis + spec fixtures only):
      * ftyp + mdat + moov with a single `jpeg`-sample-entry video track,
      * one sample per chunk, per the same public ISO-BMFF layout the parser
      * reads back. `audio` (r15) optionally adds a second trak — a `sowt`
      * (16-bit LE PCM) sound track whose samples sit in mdat after the
      * video frames, one chunk, fixed sample size 2×channels — the layout
      * [[audioSamples]] reads back. */
    def buildMjpegMp4(frames: Seq[Array[Byte]], width: Int, height: Int,
                      audio: Option[(Array[Byte], Int, Int)] = None): Array[Byte] = {
      def u32b(v: Long): Array[Byte] = Array.tabulate(4)(i =>
        ((v >> (8 * (3 - i))) & 0xff).toByte)
      def u16b(v: Int): Array[Byte] =
        Array(((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
      def fccB(s: String): Array[Byte] =
        s.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
      def box(typ: String, payload: Array[Byte]*): Array[Byte] = {
        val body = payload.flatten.toArray
        u32b(body.length + 8L) ++ fccB(typ) ++ body
      }
      def full(typ: String, version: Int, flags: Int, payload: Array[Byte]*): Array[Byte] =
        box(typ, Array[Byte](version.toByte, ((flags >> 16) & 0xff).toByte,
          ((flags >> 8) & 0xff).toByte, (flags & 0xff).toByte) ++ payload.flatten)
      val zeros = (n: Int) => Array.fill(n)(0.toByte)
      val matrix = u32b(0x00010000L) ++ u32b(0) ++ u32b(0) ++
        u32b(0) ++ u32b(0x00010000L) ++ u32b(0) ++
        u32b(0) ++ u32b(0) ++ u32b(0x40000000L)
      val n = frames.size
      val ftyp = box("ftyp", fccB("isom"), u32b(0x200), fccB("isom"), fccB("iso2"))
      val pcm = audio.map(_._1).getOrElse(Array.empty[Byte])
      val mdat = box("mdat", frames.flatten.toArray, pcm)
      val firstOff = ftyp.length + 8L
      val offs = frames.scanLeft(firstOff)((o, f) => o + f.length).init
      val audioOff = firstOff + frames.map(_.length.toLong).sum
      val entry = u32b(86) ++ fccB("jpeg") ++ zeros(6) ++ u16b(1) ++
        u16b(0) ++ u16b(0) ++ zeros(12) ++ u16b(width) ++ u16b(height) ++
        u32b(0x00480000L) ++ u32b(0x00480000L) ++ u32b(0) ++ u16b(1) ++
        zeros(32) ++ u16b(24) ++ u16b(0xffff)
      val stbl = box("stbl",
        full("stsd", 0, 0, u32b(1), entry),
        full("stts", 0, 0, u32b(1), u32b(n.toLong), u32b(1)),
        full("stsc", 0, 0, u32b(1), u32b(1), u32b(1), u32b(1)),
        full("stsz", 0, 0, u32b(0), u32b(n.toLong),
          frames.toArray.flatMap(f => u32b(f.length.toLong))),
        full("stco", 0, 0, u32b(n.toLong), offs.toArray.flatMap(u32b)))
      val minf = box("minf",
        full("vmhd", 0, 1, u16b(0), u16b(0), u16b(0), u16b(0)),
        box("dinf", full("dref", 0, 0, u32b(1), full("url ", 0, 1))),
        stbl)
      val mdia = box("mdia",
        full("mdhd", 0, 0, u32b(0), u32b(0), u32b(25), u32b(n.toLong),
          u16b(0x55c4), u16b(0)),
        full("hdlr", 0, 0, u32b(0), fccB("vide"), zeros(12), Array[Byte](0)),
        minf)
      val trak = box("trak",
        full("tkhd", 0, 7, u32b(0), u32b(0), u32b(1), u32b(0), u32b(n.toLong),
          zeros(8), u16b(0), u16b(0), u16b(0), u16b(0), matrix,
          u32b(width.toLong << 16), u32b(height.toLong << 16)),
        mdia)
      val audioTrak = audio.toSeq.map { case (bytes, rate, ch) =>
        val nSamp = bytes.length / (2 * math.max(1, ch))
        // AudioSampleEntry: 16-byte SampleEntry header + reserved(8) +
        // channelcount(2) + samplesize(2) + pre_defined(2) + reserved(2) +
        // samplerate(16.16) = 36 bytes
        val entry = u32b(36) ++ fccB("sowt") ++ zeros(6) ++ u16b(1) ++
          zeros(8) ++ u16b(ch) ++ u16b(16) ++ u16b(0) ++ u16b(0) ++
          u32b(rate.toLong << 16)
        val astbl = box("stbl",
          full("stsd", 0, 0, u32b(1), entry),
          full("stts", 0, 0, u32b(1), u32b(nSamp.toLong), u32b(1)),
          full("stsc", 0, 0, u32b(1), u32b(1), u32b(nSamp.toLong), u32b(1)),
          full("stsz", 0, 0, u32b(2L * ch), u32b(nSamp.toLong)), // fixed size
          full("stco", 0, 0, u32b(1), u32b(audioOff)))
        val aminf = box("minf",
          full("smhd", 0, 0, u16b(0), u16b(0)),
          box("dinf", full("dref", 0, 0, u32b(1), full("url ", 0, 1))),
          astbl)
        val amdia = box("mdia",
          full("mdhd", 0, 0, u32b(0), u32b(0), u32b(rate.toLong),
            u32b(nSamp.toLong), u16b(0x55c4), u16b(0)),
          full("hdlr", 0, 0, u32b(0), fccB("soun"), zeros(12), Array[Byte](0)),
          aminf)
        box("trak",
          full("tkhd", 0, 7, u32b(0), u32b(0), u32b(2), u32b(0), u32b(0),
            zeros(8), u16b(0), u16b(0), u16b(0x0100), u16b(0), matrix,
            u32b(0), u32b(0)),
          amdia)
      }
      val moov = box("moov",
        (full("mvhd", 0, 0, u32b(0), u32b(0), u32b(25), u32b(n.toLong),
          u32b(0x00010000L), u16b(0x0100), u16b(0), zeros(8), matrix,
          zeros(24), u32b(if (audio.isDefined) 3 else 2)) +: trak +: audioTrak): _*)
      ftyp ++ mdat ++ moov
    }
  }

  /** Byte-histogram features (16 buckets, normalized) + length. Streams bytes; no
    * per-partition materialization. */
  def byteFeatures(ds: Dataset[MediaRow])(implicit spark: SparkSession): Dataset[ByteFeatures] = {
    import spark.implicits._
    ds.mapPartitions(_.map { r =>
      val hist = new Array[Double](16)
      var i = 0
      while (i < r.payload.length) { hist((r.payload(i) & 0xff) >> 4) += 1.0; i += 1 }
      val n = math.max(r.payload.length, 1).toDouble
      var j = 0
      while (j < 16) { hist(j) /= n; j += 1 }
      ByteFeatures(r.id, r.payload.length.toLong, hist)
    })
  }

  /** Audio feature extraction over the REAL decoded PCM stream: per-window RMS
    * energy and zero-crossing rate (the classic speech/music activity features)
    * plus whole-stream totals. Typed mapPartitions (one pass per payload, no
    * per-partition materialization); rows whose payload doesn't decode are
    * dropped (the byte-feature path still covers them). For mono integer PCM
    * every aggregate is integer-exact — Σs² is an exact sum of squares — so the
    * whole-stream stats carry an analytic SQL oracle when the fixture's sample
    * values are themselves recomputable (see the mm3 query + [[sineWav]]). */
  def audioFrameFeatures(ds: Dataset[MediaRow], windowSamples: Int = 256)
                        (implicit spark: SparkSession): Dataset[AudioFeatures] = {
    import spark.implicits._
    ds.mapPartitions(_.flatMap { r =>
      AudioCodec.tryDecodeSamples(r.payload).map { case (rate, s) =>
        audioFeaturesOf(r.id, rate, s, windowSamples)
      }
    })
  }

  /** The shared windowing kernel behind [[audioFrameFeatures]] (standalone
    * audio payloads) and [[videoAvRasters]]' soundtrack channel (audio tracks
    * extracted from video containers, r15) — one definition so the two on-ramps
    * cannot drift. */
  private[multimodal] def audioFeaturesOf(id: Long, rate: Int, s: Array[Double],
                              windowSamples: Int): AudioFeatures = {
    val n = s.length
    val nWin = (n + windowSamples - 1) / windowSamples
    val wRms = new Array[Double](nWin)
    val wZcr = new Array[Double](nWin)
    var zcTotal = 0L
    var sumSq = 0.0
    var w = 0
    while (w < nWin) {
      val from = w * windowSamples
      val until = math.min(from + windowSamples, n)
      var sq = 0.0
      var zc = 0
      var i = from
      while (i < until) {
        sq += s(i) * s(i)
        if (i > from && (s(i) >= 0) != (s(i - 1) >= 0)) zc += 1
        i += 1
      }
      // window-boundary crossings count toward the stream total only
      if (w > 0 && (s(from) >= 0) != (s(from - 1) >= 0)) zcTotal += 1
      zcTotal += zc
      sumSq += sq
      val len = until - from
      wRms(w) = math.sqrt(sq / len)
      wZcr(w) = if (len > 1) zc.toDouble / (len - 1) else 0.0
      w += 1
    }
    AudioFeatures(id, rate, n.toLong, nWin.toLong, zcTotal,
      if (n > 0) math.sqrt(sumSq / n) else 0.0, wRms, wZcr)
  }

  /** BOTH A/V channels in ONE container walk + decode pass (r16, VERDICT r15
    * item 5): joint consumers (mm10) previously ran [[videoGrayRasters]] AND a
    * separate soundtrack-features pass over the same corpus — every payload was read and
    * its container walked/decoded twice (the stated mm10 floor, two full
    * decode passes at 100×). One mapPartitions pass now emits, per video, the
    * (frame_idx, gray) raster list (exactly videoGrayRasters' values — same
    * VideoCodec.frames walk, same tryDecodeScratch, same grayRasterOf kernel)
    * plus the soundtrack's window-RMS array (exactly [[audioFrameFeatures]]'
    * windowRms of the same PCM, via the same audioFeaturesOf kernel; NULL when the container
    * has no decodable PCM track — the same drop rule, applied by the caller
    * as a `window_rms IS NOT NULL` filter). Callers explode `frames` to
    * recover the videoGrayRasters row shape; both downstream channels are
    * bit-identical because every decode call and kernel is shared — only the
    * number of container walks changes (2 → 1).
    *
    * Memory: one output row holds ALL sampled frames of a video, each frame
    * (hashW+1)·hashH ints (72 at the 8×8 default), plus one double per
    * `windowSamples`-sample audio window, so a row grows with the video's
    * length (frame count / `stride`, and soundtrack duration), not just with
    * the raster size. The bounded one-row-per-frame shape is ROADMAP item 5c. */
  def videoAvRasters(ds: Dataset[MediaRow], stride: Int = 1,
                     hashW: Int = 8, hashH: Int = 8, windowSamples: Int = 256)
                    (implicit spark: SparkSession): DataFrame = {
    require(stride >= 1, "stride must be >= 1")
    import spark.implicits._
    ds.mapPartitions(_.map { r =>
      val grays: Seq[(Int, Seq[Int])] = frameGrays(r.payload, stride, hashW, hashH).toList
      val rms: Seq[Double] = VideoCodec.audioSamples(r.payload)
        .map { case (rate, s) =>
          audioFeaturesOf(r.id, rate, s, windowSamples).windowRms.toSeq }
        .orNull
      (r.id, grays, rms)
    }).toDF("id", "frames", "window_rms")
  }

  /** Resize stage. For `kind == "image"` payloads ImageIO can decode, this is a REAL
    * resize: decode -> deterministic box-filter downscale by `stride` -> PNG re-encode,
    * with true dimensions recorded in the metadata. For everything else (audio/video,
    * undecodable bytes) it falls back to stride-decimation of the raw payload (??? --
    * production swaps in the matching codec), so downstream stages always see a
    * genuinely smaller binary plus provenance -- the contract any resize must keep.
    * `meta("resize_codec")` records which path ran. */
  def resize(ds: Dataset[MediaRow], stride: Int)
            (implicit spark: SparkSession): Dataset[MediaRow] = {
    require(stride >= 1, "stride must be >= 1")
    import spark.implicits._
    ds.mapPartitions(_.map { r =>
      val n = r.payload.length
      val realImg = if (r.kind == "image") ImageCodec.tryDecodeScratch(r.payload) else None
      realImg match {
        case Some(img) =>
          val small = ImageCodec.boxResize(img, stride)
          r.copy(payload = ImageCodec.encodePngFast(small),
            meta = r.meta + ("resize_stride" -> stride.toString,
              "orig_bytes" -> n.toString, "resize_codec" -> "imageio",
              "orig_w" -> img.getWidth.toString, "orig_h" -> img.getHeight.toString,
              "new_w" -> small.getWidth.toString, "new_h" -> small.getHeight.toString))
        case None =>
          val out = new Array[Byte]((n + stride - 1) / stride)
          var i = 0
          while (i < out.length) { out(i) = r.payload(i * stride); i += 1 }
          r.copy(payload = out,
            meta = r.meta + ("resize_stride" -> stride.toString,
              "orig_bytes" -> n.toString, "resize_codec" -> "stub"))
      }
    })
  }

  /** DataFrame-level entry: attach byte features to any (id, binary) pair without the
    * typed API -- for SQL-facing pipelines. */
  def withByteFeatures(df: DataFrame, idCol: String, binCol: String)
                      (implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    val typed = df.select(col(idCol).cast("long").as("id"), col(binCol).as("payload"))
      .as[(Long, Array[Byte])]
      .map { case (id, p) => MediaRow(id, "blob", if (p == null) Array.empty else p, Map.empty) }
    byteFeatures(typed).toDF("id", "length", "features")
      .withColumnRenamed("id", idCol)
  }

  // ───────────────────── perceptual image near-dup (dHash) ─────────────────────

  /** 64-bit difference-hash (dHash — the LAION-class perceptual image-dedup
    * code) of a row-major (hashW+1)×hashH grayscale raster column
    * (`array<int>`), returned as `struct(hi, lo)` of two 32-bit halves: bit
    * j = y·hashW + x (LSB-first within each half, lo carries j < 32) is set
    * when gray(y,x) > gray(y,x+1). Two halves instead of one 64-bit code keeps
    * every sum inside non-overflowing signed-64 arithmetic in ANY engine (a
    * single code needs bit 63 = 2^63, which overflows DuckDB's checked BIGINT
    * and wraps Java's long), so the hash itself is SQL-oracle-exact. Pure
    * Catalyst HOF — hashes at scan speed, no UDF. */
  def dHash(gray: Column, hashW: Int = 8, hashH: Int = 8): Column = {
    require(hashW * hashH == 64, "dHash is a 64-bit code: hashW*hashH must be 64")
    graft.expr.DHash64.expr(gray, hashW) // native (r13); HOF twin in src/test
  }

  /** Perceptual near-duplicate image pairs over a gray-raster column: dHash +
    * multi-index Hamming banding ([[graft.dedup.DedupOps.hamming64Pairs]]:
    * 4×16-bit bands at the default radius 3, 8×8-bit up to 7; the pigeonhole
    * guarantee leaves at least one band untouched, so recall is EXACT) + exact
    * Hamming verify via `bit_count(xor)`. The d6
    * simhash chassis on the image code: one shuffle on band keys, bucket-size
    * cap reports nothing all-pairs, candidate verify runs inside buckets.
    *
    * Gray-bit-depth caveat (ADVICE r12): rasters feeding this op come from
    * [[imageGrayRaster]], where 8-bit gray PNGs decode by value-copy (the
    * libpng/PIL convention) while 16-bit and gray+tRNS PNGs fall back to
    * ImageIO's colorimetric linear→sRGB decode — so the SAME logical gray
    * image encoded at different bit depths can yield different lumas, hence
    * different dHash codes (and 8-bit gray hashes changed across the r11→r12
    * fast-path upgrade). Gray JPEGs, by contrast, decode COLORIMETRICALLY on
    * BOTH sides of the JpegCodec size gate (r14: [[JpegCodec.GrayToArgb]]
    * matches the javax fallback bit-exactly, so a gray JPEG's dHash never
    * depends on payload size — note this changed small-gray-JPEG hashes vs
    * r13's value-copy convention, a one-time break called out in BASELINE).
    * Color (truecolor/palette) images are unaffected; gray corpora mixing
    * bit depths should normalize depth before hashing. */
  def dHashNearDups(df: DataFrame, idCol: String, grayCol: String,
                    maxHamming: Int = 3, maxBucketSize: Int = 2000): DataFrame =
    graft.dedup.DedupOps.hamming64Pairs(
      df.select(col(idCol), dHash(col(grayCol)).as("_dh"))
        .select(col(idCol), col("_dh.hi").as("_hi"), col("_dh.lo").as("_lo")),
      idCol, "_hi", "_lo", maxHamming, maxBucketSize)

  /** Over-cap ledger for [[dHashNearDups]]'s bands at the default radius (the
    * [[graft.dedup.DedupOps.bandCapLedger]] "no silent caps" contract):
    * reports how many band buckets the pair op dropped and how many members
    * they held — a constant-color image corpus would otherwise silently
    * under-report duplicates. */
  def dHashCapStats(df: DataFrame, idCol: String, grayCol: String,
                    maxBucketSize: Int = 2000): DataFrame = {
    val dh = dHash(col(grayCol))
    graft.dedup.DedupOps.hamming64CapStats(
      df.select(col(idCol), dh.getField("hi").as("_hi"), dh.getField("lo").as("_lo")),
      idCol, "_hi", "_lo", maxBucketSize = maxBucketSize)
  }

  /** REAL image on-ramp for [[dHashNearDups]]: payload → decode (PNG fast path
    * / javax fallback) → exact box-mean (hashW+1)×hashH integer-luma raster
    * (each target cell averages its source rectangle with half-up rounding —
    * deterministic, no Graphics2D interpolation). mapPartitions covers ONLY
    * the binary decode (the multimodal rule); hashing and pairing stay
    * relational. Undecodable payloads drop. */
  def imageGrayRaster(ds: Dataset[MediaRow], hashW: Int = 8, hashH: Int = 8)
                     (implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    ds.mapPartitions(_.flatMap { r =>
      ImageCodec.tryDecodeScratch(r.payload)
        .map(img => (r.id, grayRasterOf(img, hashW, hashH).toSeq))
    }).toDF("id", "gray")
  }

  /** The DCT-II basis the pHash pipeline uses, as plain doubles:
    * `dctBasis(k)(t) = cos((2t+1)·k·π/64)` for k < 8 frequencies over t < 32
    * samples — the 8 low frequencies of the 32-point DCT. PUBLIC so the SQL
    * oracle inlines the very same literals (the d5 hyperplane convention:
    * both engines fold the identical doubles in the identical order, so
    * every coefficient — and therefore every bit — agrees bit-for-bit). */
  val dctBasis: Seq[Seq[Double]] =
    (0 until 8).map(k => (0 until 32).map(t =>
      math.cos((2 * t + 1) * k * math.Pi / 64.0)).toSeq)

  /** pHash (DCT perceptual hash) of a 32×32 row-major gray raster — the
    * industry-standard robust image hash (pHash.org's shape): unlike dHash's
    * local gradients, the low-frequency DCT spectrum survives re-encodes,
    * mild blur, and resampling, so pHash codes feed the Hamming chassis at
    * the wide radius ([[graft.dedup.DedupOps.hamming64Pairs]] with
    * `maxHamming` up to 7) at the distances real re-encodes produce.
    *
    * Fixed, engine-portable evaluation order (the SQL oracle replays it
    * fold-for-fold; floats never reassociate):
    *   1. separable DCT, row pass first:  T(u)(y) = Σ_{x=0..31 ascending}
    *      basis(u)(x) · gray(y·32+x)
    *   2. column pass: F(u)(v) = Σ_{y=0..31 ascending} basis(v)(y) · T(u)(y)
    *   3. coefficient i = u·8+v (row-major, i < 64); DC is i = 0
    *   4. med = 32nd-smallest of the 63 AC coefficients (lower median;
    *      `array_sort` ties are value-identical so order is irrelevant)
    *   5. bit i = 1 iff coef(i) > med; hi = bits 32..63, lo = bits 0..31
    *      (the dHash (hi, lo) nonneg-halves convention). */
  def pHashOf(gray: Array[Int]): (Long, Long) = {
    require(gray.length == 1024, "pHash expects a 32x32 raster")
    val b = dctBasis
    val t = Array.ofDim[Double](8, 32)
    var u = 0
    while (u < 8) {
      var y = 0
      while (y < 32) {
        var acc = 0.0; var x = 0
        while (x < 32) { acc += b(u)(x) * gray(y * 32 + x); x += 1 }
        t(u)(y) = acc; y += 1
      }
      u += 1
    }
    val f = new Array[Double](64)
    u = 0
    while (u < 8) {
      var v = 0
      while (v < 8) {
        var acc = 0.0; var y = 0
        while (y < 32) { acc += b(v)(y) * t(u)(y); y += 1 }
        f(u * 8 + v) = acc; v += 1
      }
      u += 1
    }
    val med = f.drop(1).sorted.apply(31)
    var hi = 0L; var lo = 0L; var i = 0
    while (i < 64) {
      if (f(i) > med) {
        if (i < 32) lo |= (1L << i) else hi |= (1L << (i - 32))
      }
      i += 1
    }
    (hi, lo)
  }

  /** REAL image on-ramp for pHash: payload → decode → exact 32×32 box-mean
    * luma raster → [[pHashOf]], fused in one mapPartitions pass (the
    * multimodal rule: the partition-local kernel covers only decode-adjacent
    * work — the DCT is a fixed 32-point kernel like the Butterworth filter;
    * banding and pairing stay relational downstream). Undecodable payloads
    * drop. Output: (id, hi, lo) ready for the wide Hamming chassis. */
  def imagePHashes(ds: Dataset[MediaRow])(implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    ds.mapPartitions(_.flatMap { r =>
      ImageCodec.tryDecodeScratch(r.payload).map { img =>
        val (hi, lo) = pHashOf(grayRasterOf(img, 31, 32))
        (r.id, hi, lo)
      }
    }).toDF("id", "hi", "lo")
  }

  /** Packed (A)RGB ints of an image, ZERO-COPY when the raster already is a
    * stride==width packed int array (the JPEG fast path's wrap — which
    * pre-sets 0xFF alpha bits — and the PNG fast path's TYPE_INT_ARGB);
    * one bulk getRGB otherwise (javax 3BYTE_BGR etc). Alpha bits are only
    * trustworthy when the color model has alpha or is the JPEG wrap —
    * [[boxResize]] checks that; luma readers ignore alpha entirely.
    *
    * The zero-copy branch additionally requires a DirectColorModel with the
    * standard 0xff0000/0xff00/0xff R/G/B masks and non-premultiplied alpha
    * (ADVICE r13): a SinglePixelPackedSampleModel+DataBufferInt raster can
    * also be TYPE_INT_BGR (masks reversed — zero-copying it would swap the
    * 299/114 luma weights) or TYPE_INT_ARGB_PRE (components premultiplied
    * where getRGB would have un-premultiplied). Those fall through to the
    * bulk getRGB copy, which normalizes through the ColorModel. */
  private def packedArgbOrCopy(img: java.awt.image.BufferedImage): Array[Int] = {
    val r = img.getRaster
    (img.getColorModel, r.getSampleModel, r.getDataBuffer) match {
      case (cm: java.awt.image.DirectColorModel,
            sm: java.awt.image.SinglePixelPackedSampleModel,
            db: java.awt.image.DataBufferInt)
          if cm.getRedMask == 0xff0000 && cm.getGreenMask == 0xff00 &&
            cm.getBlueMask == 0xff && !cm.isAlphaPremultiplied &&
            sm.getScanlineStride == img.getWidth && db.getNumBanks == 1 &&
            db.getOffset == 0 && r.getSampleModelTranslateX == 0 &&
            r.getSampleModelTranslateY == 0 =>
        db.getData
      case _ =>
        img.getRGB(0, 0, img.getWidth, img.getHeight, null, 0, img.getWidth)
    }
  }

  /** The box-mean luma kernel shared by [[imageGrayRaster]] and
    * [[videoGrayRasters]]: one bulk pixel grab per image (the per-pixel
    * getRGB call runs the ColorModel conversion through a virtual dispatch
    * per pixel — on a 3M-frame corpus that was billions of calls; the JPEG/
    * PNG fast-path images hand over their int array zero-copy), then exact
    * integer box means with half-up rounding. */
  private def grayRasterOf(img: java.awt.image.BufferedImage,
                           hashW: Int, hashH: Int): Array[Int] = {
    val (tw, th) = (hashW + 1, hashH)
    val (sw, sh) = (img.getWidth, img.getHeight)
    val px = packedArgbOrCopy(img)
    val gray = new Array[Int](tw * th)
    var y = 0
    while (y < th) {
      val sy0 = y * sh / th
      val sy1 = math.max((y + 1) * sh / th, sy0 + 1)
      var x = 0
      while (x < tw) {
        val sx0 = x * sw / tw
        val sx1 = math.max((x + 1) * sw / tw, sx0 + 1)
        var sum = 0L; var n = 0L
        var sy = sy0
        while (sy < sy1) {
          val row = sy * sw
          var sx = sx0
          while (sx < sx1) {
            val p = px(row + sx)
            sum += (((p >> 16) & 0xff) * 299 + ((p >> 8) & 0xff) * 587 +
              (p & 0xff) * 114) / 1000
            n += 1; sx += 1
          }
          sy += 1
        }
        gray(y * tw + x) = ((sum + n / 2) / n).toInt
        x += 1
      }
      y += 1
    }
    gray
  }

  /** FUSED video on-ramp (r13): container walk → per-frame JPEG decode →
    * box-mean luma raster in ONE mapPartitions pass, emitting
    * (id, frame_idx, gray) rows directly. Equivalent to sampling every
    * `stride`-th [[VideoCodec.frames]] frame + a MediaRow re-wrap + [[imageGrayRaster]], minus
    * two typed-encoder boundaries per FRAME (tuple→MediaRow→row: each one
    * re-serializes the ~KB frame payload and the meta map through the
    * case-class encoder — pure overhead on a multi-million-frame corpus).
    * Undecodable frames drop, like imageGrayRaster's contract. */
  def videoGrayRasters(ds: Dataset[MediaRow], stride: Int = 1,
                       hashW: Int = 8, hashH: Int = 8)
                      (implicit spark: SparkSession): DataFrame = {
    require(stride >= 1, "stride must be >= 1")
    import spark.implicits._
    ds.mapPartitions(_.flatMap { r =>
      frameGrays(r.payload, stride, hashW, hashH).map { case (i, g) => (r.id, i, g) }
    }).toDF("id", "frame_idx", "gray")
  }

  /** (frame index, gray raster) of every `stride`-th decodable frame, the walk
    * [[videoGrayRasters]] and [[videoAvRasters]] share; each raster is taken
    * before the next [[ImageCodec.tryDecodeScratch]] reuses the image. */
  private def frameGrays(payload: Array[Byte], stride: Int, hashW: Int,
                         hashH: Int): Iterator[(Int, Seq[Int])] =
    VideoCodec.frames(payload).iterator.zipWithIndex
      .filter(_._2 % stride == 0)
      .flatMap { case (f, i) =>
        ImageCodec.tryDecodeScratch(f).map(img => (i, grayRasterOf(img, hashW, hashH).toSeq))
      }

  /** Per-video KEYFRAME dHashes — the video "fingerprint set" (mm5's shot
    * detection folded to its useful residue): dHash every frame raster, then
    * a per-video lag window marks frame 0 and every shot boundary (hamming to
    * the previous frame > `shotThresh`) as keyframes and keeps ONLY those.
    * Input is [[videoGrayRasters]]' (id, frame_idx, gray) shape; output
    * (id, frame_idx, hi, lo) is ~2-5 rows per video instead of every frame —
    * the reduction that makes cross-video work (mm6) scale-feasible: all
    * pairing downstream touches keyframes only, never the frame firehose. */
  def videoKeyframeHashes(frames: DataFrame, shotThresh: Int = 10): DataFrame = {
    val dh = frames
      .select(col("id"), col("frame_idx").cast("long").as("frame_idx"),
        dHash(col("gray")).as("_dh"))
      .select(col("id"), col("frame_idx"),
        col("_dh.hi").as("hi"), col("_dh.lo").as("lo"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy("frame_idx")
    dh.withColumn("_hamming",
        bit_count(col("hi").bitwiseXOR(lag("hi", 1).over(w))) +
          bit_count(col("lo").bitwiseXOR(lag("lo", 1).over(w))))
      // the anchor is the FIRST SEEN frame (null lag), not frame_idx == 0:
      // a video whose leading frames failed decode must still contribute its
      // first surviving frame, or it escapes dedup entirely — and this is
      // the rule the streaming twin (keyframeStream) already applies
      .filter(col("_hamming").isNull || col("_hamming") > shotThresh)
      .select("id", "frame_idx", "hi", "lo")
  }

  /** CROSS-video near-dup — the LAION-video dedup primitive (two videos
    * sharing most keyframe codes are duplicates; re-encodes, resolution
    * twins, trims): a CALLER-SUPPLIED [[videoKeyframeHashes]] table →
    * banded-Hamming keyframe pairs across DIFFERENT videos (the
    * [[graft.dedup.DedupOps.hamming64Pairs]] chassis and verify, with video
    * identity riding the bucket records; same radius-selected
    * [[graft.dedup.DedupOps.hamming64BandKeys]] and pigeonhole-exact recall
    * at hamming ≤ 7) → video-level roll-up: per ordered video pair, how many of
    * each side's keyframes found a partner, similarity = matched keyframes /
    * total keyframes across both sides (symmetric), kept at ≥ `minSim`.
    *
    * Scale shape: one band-key shuffle over keyframes only (≈2-5 rows/video,
    * NOT frames), bucket-capped quadratic, one grouped roll-up, two joins
    * against the per-video keyframe counts (id-keyed, tiny rows). No
    * all-pairs anywhere. The keyframe table is consumed TWICE (pairing + the
    * counts) and sits behind the full container-walk/decode pass — so the
    * CALLER persists it, keeps the handle, and unpersists after consuming
    * the result (the [[graft.dedup.DedupOps.minhashCapStatsFromSig]] rule;
    * an internal persist would leak a corpus-sized cache entry per call with
    * no way to release it — the ADVICE-r13 minhashCapStats defect class).
    * pipe7 and the mm6 query are the reference call shapes.
    * Output: (vid1, vid2, nkf1, nkf2, n_shared1, n_shared2, sim). */
  def videoNearDupsFromKeyframes(kf: DataFrame,
                    maxHamming: Int = 3, maxBucketSize: Int = 2000,
                    minSim: Double = 0.5): DataFrame = {
    import graft.dedup.DedupOps.{bandPairs, hamming64, hamming64BandKeys}
    val nkf = kf.groupBy(col("id")).agg(count(lit(1)).as("nkf"))
    val pairs = bandPairs(
      kf.select(struct(col("id"), col("frame_idx"), col("hi"), col("lo")).as("_rec"),
        explode(hamming64BandKeys(col("hi"), col("lo"), maxHamming)).as("_band")),
      maxBucketSize, col("a.id") < col("b.id")) // ordered pairs, never within one video
      .filter(hamming64(col("a.hi"), col("a.lo"), col("b.hi"), col("b.lo")) <= maxHamming)
      .select(col("a.id").as("vid1"), col("b.id").as("vid2"),
        col("a.frame_idx").as("f1"), col("b.frame_idx").as("f2"))
      .distinct()
    val rolled = pairs.groupBy(col("vid1"), col("vid2"))
      .agg(countDistinct(col("f1")).as("n_shared1"),
        countDistinct(col("f2")).as("n_shared2"))
    rolled
      .join(nkf.select(col("id").as("vid1"), col("nkf").as("nkf1")), Seq("vid1"))
      .join(nkf.select(col("id").as("vid2"), col("nkf").as("nkf2")), Seq("vid2"))
      .withColumn("sim", round((col("n_shared1") + col("n_shared2")).cast("double") /
        (col("nkf1") + col("nkf2")), 4))
      .filter(col("sim") >= minSim)
      .select(col("vid1"), col("vid2"), col("nkf1"), col("nkf2"),
        col("n_shared1"), col("n_shared2"), col("sim"))
  }

  /** Per-video 64-bit MAJORITY hash over keyframe dHashes — temporal pooling
    * in the spirit of published video-hash schemes (TMK-style pooling of
    * frame-level codes): bit i of the video hash is the strict-majority vote
    * of bit i across the video's keyframe hashes (ties clear the bit). This
    * is mm6's SCALE PATH: [[videoNearDupsFromKeyframes]] pairs every keyframe (exact, but
    * candidate volume grows with keyframes), while one pooled code per video
    * makes storage O(videos) and the banded pair stage independent of video
    * length — the IVF-vs-brute-force relationship, both under the gate.
    *
    * ONE aggregation pass: the keyframe count and 64 conditional bit sums
    * ride a single partial-agg shuffle on the video id (map-side combined;
    * no explode, no per-bit rows), then the hash assembles from the sums
    * expression-side. Output: (id, hi, lo, nkf) in the [[dHash]] halves
    * convention, ready for [[graft.dedup.DedupOps.hamming64Pairs]]. */
  def videoHash64(kf: DataFrame): DataFrame = {
    val bitSums = (0 until 32).flatMap { i =>
      Seq(sum(shiftright(col("lo"), i).bitwiseAND(lit(1L))).as(s"_l$i"),
        sum(shiftright(col("hi"), i).bitwiseAND(lit(1L))).as(s"_h$i"))
    }
    def pooled(prefix: String): Column =
      (0 until 32).map(i =>
        when(col(s"_$prefix$i") * 2 > col("_n"), lit(1L << i)).otherwise(lit(0L)))
        .reduce(_ + _)
    val aggCols = count(lit(1)).as("_n") +: bitSums
    kf.groupBy(col("id"))
      .agg(aggCols.head, aggCols.tail: _*)
      .select(col("id"), pooled("h").as("hi"), pooled("l").as("lo"),
        col("_n").as("nkf"))
  }

  /** Joint A/V near-dup pairs (mm10, r15 — VERDICT r14 #2): compose the
    * visual channel ([[videoHash64]] pooled codes) with the audio channel
    * ([[energyHash64]] over the container soundtrack's window RMS, from
    * [[videoAvRasters]]) under the EITHER-with-both-reported rule: a
    * pair is emitted when either channel's banded chassis finds it at
    * ≤ maxHamming, and BOTH channels' exact hammings ride the output row —
    * so a re-encode that replaces one track (new soundtrack on a stolen
    * video, re-rendered visuals over a lifted audio bed) still pairs, and
    * the surviving channel is visible. `matched_on` ∈ both/visual/audio; a
    * side missing a code (no decodable audio track) reports null hamming
    * and can only match on the other channel.
    *
    * Scale shape: two banded pair scans over O(videos) single-code tables
    * (never frames), a union-distinct of candidate ids, and four id-keyed
    * joins back to the two code tables — all broadcast-or-hash joinable,
    * no all-pairs anywhere. Audit with [[graft.dedup.DedupOps.hamming64CapStats]]
    * over each code table (the pipe7/pipe8 ledger shape applies per channel). */
  def avNearDups(visual: DataFrame, audio: DataFrame,
                 maxHamming: Int = 3, maxBucketSize: Int = 2000): DataFrame = {
    val vp = graft.dedup.DedupOps.hamming64Pairs(
      visual, "id", "hi", "lo", maxHamming, maxBucketSize).select("id1", "id2")
    val ap = graft.dedup.DedupOps.hamming64Pairs(
      audio, "id", "hi", "lo", maxHamming, maxBucketSize).select("id1", "id2")
    def codes(df: DataFrame, side: String, pre: String): DataFrame =
      df.select(col("id").as(side),
        col("hi").as(s"_${pre}h$side"), col("lo").as(s"_${pre}l$side"))
    def ham(pre: String): Column = graft.dedup.DedupOps.hamming64(
      col(s"_${pre}hid1"), col(s"_${pre}lid1"), col(s"_${pre}hid2"), col(s"_${pre}lid2"))
    vp.unionByName(ap).distinct()
      .join(codes(visual, "id1", "v"), Seq("id1"), "left")
      .join(codes(visual, "id2", "v"), Seq("id2"), "left")
      .join(codes(audio, "id1", "a"), Seq("id1"), "left")
      .join(codes(audio, "id2", "a"), Seq("id2"), "left")
      .select(col("id1"), col("id2"),
        ham("v").as("v_hamming"), ham("a").as("a_hamming"))
      .withColumn("matched_on",
        when(coalesce(col("v_hamming") <= maxHamming, lit(false)) &&
             coalesce(col("a_hamming") <= maxHamming, lit(false)), lit("both"))
          .when(coalesce(col("v_hamming") <= maxHamming, lit(false)), lit("visual"))
          .otherwise(lit("audio")))
  }

  /** mm6 fixture synthesis ([[mm5FixtureVideo]]'s AVI with PLANTED cross-video
    * structure): same six-frame two-shot MJPEG AVI, but shot grids key on the
    * video's GROUP (gid = docId/4, the [[mm4FixturePng]] rule) instead of the
    * video, plus the mm4-style tiny per-video brightness jitter — so the four
    * group members share both shots with keyframe dHashes a few bits apart
    * (cross-video near-dups at hamming ≤ 3, usually) while different groups
    * stay independent md5 grids (hamming ≈ 32). Analytically exact through
    * the JPEG round-trip and box mean, like mm5. */
  def mm6FixtureAvi(docId: Long): Array[Byte] =
    VideoCodec.buildMjpegAvi(mm6Frames(docId), 72, 64)

  private def mm6Frames(docId: Long): Seq[Array[Byte]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val gid = docId / 4
    twoShotFrames { (f, p) =>
      val h = md.digest(s"g$gid:${f / 3}:$p".getBytes("UTF-8"))
      // base capped at 239: max jitter is 4 (shot) + 6 (video) = 10, so no
      // cell ever wraps mod 256 — a wrap would turn a +2 brightness jitter
      // into a 254-level jump, flipping comparisons hard enough to mark
      // spurious within-shot keyframes (caught by the {0,3} keyframe pin)
      val base = (((h(0) & 0xff) << 8) | (h(1) & 0xff)) % 240
      (base + (f % 3) * ((p * 13 + f) % 2) * 2
        + (docId % 4) * ((p * 7 + docId) % 2) * 2).toInt
    }
  }

  /** mm10 fixture synthesis (r15): the mm6 planted-duplicate VIDEO corpus
    * with a step-PCM SOUNDTRACK in the container's audio track — even docs
    * RIFF/AVI (`auds` stream), odd docs ISO-BMFF/MP4 (`soun`/sowt trak), the
    * mm5FixtureVideo container-parity rule. Visual grids key on gid =
    * docId/4 (mm6's synthesis verbatim); soundtrack levels key on agid =
    * docId/8 with a per-video ±14 jitter — so a 4-group's pairs match BOTH
    * channels while the two 4-halves of an 8-group share AUDIO ONLY: exactly
    * the either-channel cases joint A/V dedup must report. Levels stay in
    * [1000, 29014) (md5 % 28000 + jitter ≤ 14), positive and wrap-free, so
    * window RMS == level exactly and the oracle stays analytic. */
  def mm10FixtureVideo(docId: Long): Array[Byte] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val agid = docId / 8
    val levels = Array.tabulate(65) { w =>
      val h = md.digest(s"v$agid:$w".getBytes("UTF-8"))
      val base = 1000 +
        (((h(0) & 0xff) << 16) | ((h(1) & 0xff) << 8) | (h(2) & 0xff)) % 28000
      base + (docId % 8).toInt * ((w * 13 + docId) % 2).toInt * 2
    }
    val audio = Some((stepPcm(levels, blockSamples = 256), 8000, 1))
    if (docId % 2 == 0) VideoCodec.buildMjpegAvi(mm6Frames(docId), 72, 64, audio)
    else Mp4Codec.buildMjpegMp4(mm6Frames(docId), 72, 64, audio)
  }

  /** Constant-block PCM16 WAV (the [[sineWav]] pattern in step form): sample
    * value `levels(w)` for every sample of block w. A constant block's RMS is
    * exactly |level| (the square and its square root are both IEEE-exact for
    * |level| ≤ 32767), so [[audioFrameFeatures]] windows aligned to the
    * blocks make the whole energy profile — and anything derived from it —
    * analytically reproducible in SQL. */
  def stepWav(levels: Array[Int], blockSamples: Int, rate: Int = 8000): Array[Byte] = {
    val data = stepPcm(levels, blockSamples)
    val n = levels.length * blockSamples
    val fmt = new javax.sound.sampled.AudioFormat(rate.toFloat, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(data), fmt, n.toLong)
    val out = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
    out.toByteArray
  }

  /** [[stepWav]]'s raw mono-PCM16-LE byte stream (r15): the same constant
    * blocks without the WAV wrap, for embedding as a video container's audio
    * track (the mm10 fixture). */
  def stepPcm(levels: Array[Int], blockSamples: Int): Array[Byte] = {
    val n = levels.length * blockSamples
    val data = new Array[Byte](n * 2)
    var w = 0
    while (w < levels.length) {
      val s = levels(w)
      var i = w * blockSamples
      val until = i + blockSamples
      while (i < until) {
        data(2 * i) = (s & 0xff).toByte
        data(2 * i + 1) = ((s >> 8) & 0xff).toByte
        i += 1
      }
      w += 1
    }
    data
  }

  /** mm7 fixture synthesis: a 65-block step WAV (64 energy deltas = one
    * 64-bit hash) whose levels key on the GROUP (gid = docId/4) via md5 plus
    * a small per-video jitter — the [[mm6FixtureAvi]] planted-duplicate rule
    * in 1-D. Block levels land in [1000, 29000) with md5-uniform gaps, so an
    * ±6 jitter flips a sign-of-delta comparison only when two adjacent levels
    * happen within 6 of each other (rare) — group members hash a few bits
    * apart, distinct groups ≈ 32 bits. */
  def mm7FixtureWav(docId: Long): Array[Byte] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val gid = docId / 4
    val levels = Array.tabulate(65) { w =>
      val h = md.digest(s"a$gid:$w".getBytes("UTF-8"))
      val base = 1000 + (((h(0) & 0xff) << 16) | ((h(1) & 0xff) << 8) | (h(2) & 0xff)) % 28000
      (base + (docId % 4).toInt * ((w * 13 + docId) % 2).toInt * 2)
    }
    stepWav(levels, blockSamples = 256)
  }

  /** Sign-of-delta ENERGY hash over a per-window RMS array — dHash's idea in
    * 1-D for audio (mm7): bit i (0-based, i < 64) is set when window i+1 is
    * louder than window i. Encoded as the same signed 32-bit-halves (hi, lo)
    * struct [[dHash]] uses, so the [[graft.dedup.DedupOps.hamming64Pairs]]
    * chassis and cap ledger apply unchanged. Audios shorter than 65 windows
    * set only the bits whose BOTH windows exist (try_element_at null ⇒ bit
    * 0) — same rule in the SQL oracle. Pure Column HOF over the materialized
    * windowRms array: no re-evaluation trap (the array is a concrete column,
    * not an inlined expression). */
  def energyHash64(windowRms: Column): Column = {
    val powers = typedlit((0 until 32).map(1L << _))
    def half(offset: Int): Column =
      aggregate(sequence(lit(0), lit(31)), lit(0L), (acc, i) =>
        acc + when(
          coalesce(try_element_at(windowRms, i.cast("int") + (offset + 2)) >
            try_element_at(windowRms, i.cast("int") + (offset + 1)), lit(false)),
          element_at(powers, i.cast("int") + 1)).otherwise(lit(0L)))
    struct(half(32).as("hi"), half(0).as("lo"))
  }
}
