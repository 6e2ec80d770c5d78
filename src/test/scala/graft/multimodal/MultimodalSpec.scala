package graft.multimodal

import graft.SparkSpec
import MultimodalOps._
import DHashHofReference.dHashHof
import VideoReference.{sampleVideoFrames, videoAudioFeatures}

class MultimodalSpec extends SparkSpec {
  import spark.implicits._
  implicit private def s: org.apache.spark.sql.SparkSession = spark

  private def media(id: Long, kind: String, bytes: Array[Byte]) =
    MediaRow(id, kind, bytes, Map("codec" -> "stub"))

  // a real PNG generated in-test: 40x24, two solid vertical halves
  private def pngBytes(w: Int = 40, h: Int = 24): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_ARGB)
    for (y <- 0 until h; x <- 0 until w)
      img.setRGB(x, y, if (x < w / 2) 0xff336699 else 0xffcc2200)
    ImageCodec.encodePng(img)
  }

  test("real PNG decode: imageio path reports true dimensions and channels") {
    val dims = Seq(pngBytes(), pngBytes(7, 3)).map(ImageCodec.tryDecode(_).map(img =>
      (img.getWidth, img.getHeight, img.getColorModel.getNumComponents)))
    assert(dims == Seq(Some((40, 24, 4)), Some((7, 3, 4))))
  }

  test("real PNG resize: box-filter halves dimensions and re-encodes decodably") {
    val ds = Seq(media(1, "image", pngBytes())).toDS()
    val out = resize(ds, 2).collect().head
    assert(out.meta("resize_codec") == "imageio")
    assert(out.meta == out.meta ++ Map("orig_w" -> "40", "orig_h" -> "24",
      "new_w" -> "20", "new_h" -> "12"))
    val back = ImageCodec.tryDecode(out.payload).get
    assert(back.getWidth == 20 && back.getHeight == 12)
    // interior pixel of the left half keeps its color under a uniform box filter
    assert((back.getRGB(2, 5) & 0xffffff) == 0x336699)
    assert((back.getRGB(17, 5) & 0xffffff) == 0xcc2200)
  }

  test("real WAV decode: javasound path reports the true rate and frame count") {
    // a 100-frame 8kHz 16-bit stereo PCM WAV generated in-test
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 2, true, false)
    val pcm = new Array[Byte](100 * fmt.getFrameSize)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, 100)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    assert(AudioCodec.tryDecodeSamplesJavax(bos.toByteArray)
      .map { case (rate, s) => (rate, s.length) } == Some((8000, 100)))
    assert(AudioCodec.tryDecodeSamplesJavax(Array[Byte](1, 2, 3)).isEmpty) // non-PCM declines
  }

  // a real MJPEG AVI generated in-test: RIFF/AVI container with JPEG frame chunks
  // (jpeg encode via ImageIO — JVM-native), per the public AVI RIFF layout
  private def aviBytes(w: Int, h: Int, frames: Seq[Array[Byte]]): Array[Byte] = {
    def le32(v: Int): Array[Byte] =
      Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
        ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    def fcc(s: String) = s.getBytes("US-ASCII")
    def chunk(id: String, data: Array[Byte]): Array[Byte] = {
      val pad = if (data.length % 2 == 1) Array(0.toByte) else Array.empty[Byte]
      fcc(id) ++ le32(data.length) ++ data ++ pad
    }
    def list(subtype: String, children: Array[Byte]): Array[Byte] =
      chunk("LIST", fcc(subtype) ++ children)
    val avih = le32(33333) ++ le32(0) ++ le32(0) ++ le32(0) ++ le32(frames.size) ++
      le32(0) ++ le32(1) ++ le32(0) ++ le32(w) ++ le32(h) ++ Array.fill(16)(0.toByte)
    val strh = fcc("vids") ++ fcc("MJPG") ++ Array.fill(48)(0.toByte)
    val strf = le32(40) ++ le32(w) ++ le32(h) ++ Array[Byte](1, 0, 24, 0) ++
      fcc("MJPG") ++ Array.fill(20)(0.toByte)
    val hdrl = list("hdrl", chunk("avih", avih) ++
      list("strl", chunk("strh", strh) ++ chunk("strf", strf)))
    val movi = list("movi", frames.flatMap(f => chunk("00dc", f)).toArray)
    val body = fcc("AVI ") ++ hdrl ++ movi
    fcc("RIFF") ++ le32(body.length) ++ body
  }

  private def jpegBytes(w: Int, h: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, 0x886644)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpeg", bos)
    bos.toByteArray
  }

  test("real AVI decode: riff-avi path reports true dimensions and movi frame count") {
    val avi = aviBytes(32, 20, Seq(jpegBytes(32, 20), jpegBytes(32, 20), jpegBytes(32, 20)))
    assert(VideoCodec.tryParse(avi).map(a => (a.width, a.height, a.nFrames)) == Some((32, 20, 3)))
    assert(VideoCodec.tryParse(Array[Byte](1, 2, 3, 4)).isEmpty) // non-AVI declines
  }

  test("real AVI frame sampling: MJPEG frames round-trip through the image codec") {
    val avi = aviBytes(16, 12, Seq(jpegBytes(16, 12), jpegBytes(16, 12),
      jpegBytes(16, 12), jpegBytes(16, 12)))
    val ds = Seq(media(7, "video", avi)).toDS()
    val frames = sampleVideoFrames(ds, stride = 2).collect().sortBy(_._2)
    assert(frames.map(f => (f._1, f._2)).toSeq == Seq((7L, 0), (7L, 2)))
    // each sampled frame is a standalone JPEG the image codec really decodes
    val img = ImageCodec.tryDecode(frames.head._3)
    assert(img.exists(i => i.getWidth == 16 && i.getHeight == 12))
    // non-AVI payloads emit nothing on the video path
    assert(sampleVideoFrames(Seq(media(8, "video", Array[Byte](9, 9))).toDS()).count() == 0)
  }

  test("box filter averages blocks deterministically") {
    // 2x1 black+white -> stride 2 -> single mid-gray pixel
    val img = new java.awt.image.BufferedImage(2, 1, java.awt.image.BufferedImage.TYPE_INT_ARGB)
    img.setRGB(0, 0, 0xff000000); img.setRGB(1, 0, 0xffffffff)
    val out = ImageCodec.boxResize(img, 2)
    assert(out.getWidth == 1 && out.getHeight == 1)
    assert(out.getRGB(0, 0) == 0xff808080) // (0+255+128)/2 = 127.5 -> round 128
  }

  test("byte features: normalized 16-bucket histogram") {
    val ds = Seq(media(1, "blob", Array.tabulate(256)(_.toByte))).toDS()
    val f = byteFeatures(ds).collect().head
    assert(f.length == 256)
    assert(approx(f.features.sum, 1.0, 1e-9))
    assert(f.features.forall(v => approx(v, 1.0 / 16, 1e-9))) // uniform bytes
  }

  test("resize stub decimates payload and records provenance") {
    val ds = Seq(media(1, "image", Array.tabulate(10)(_.toByte))).toDS()
    val out = resize(ds, 4).collect().head
    assert(out.payload.toSeq == Seq[Byte](0, 4, 8)) // ceil(10/4)=3, every 4th byte
    assert(out.meta("resize_stride") == "4" && out.meta("orig_bytes") == "10")
    // stride 1 is identity on the payload
    val id = resize(ds, 1).collect().head
    assert(id.payload.toSeq == Array.tabulate(10)(_.toByte).toSeq)
  }

  test("audio PCM round trip: sine WAV decodes to exact samples; RMS/ZCR analytic") {
    val rate = 8000
    val f = 50
    val n = 1600 // exactly 0.2 s -> 2*f*0.2 = 20 half-periods
    val wav = sineWav(f, n, rate, amp = 0.8)
    val (gotRate, pcm) = MultimodalOps.AudioCodec.tryDecodeSamples(wav).get
    assert(gotRate == rate && pcm.length == n)
    // exact round trip of the generated integers
    val expect = (0 until n).map(i =>
      math.floor(0.8 * 32767 * math.sin(2.0 * math.Pi * f * i / rate) + 0.5))
    assert(pcm.toSeq == expect)
    val feats = audioFrameFeatures(
      Seq(media(1, "audio", wav)).toDS(), windowSamples = 256).collect().head
    assert(feats.nSamples == n && feats.nWindows == 7)
    // a full-scale sine's RMS is amp*32767/sqrt(2) up to quantization
    assert(math.abs(feats.rms - 0.8 * 32767 / math.sqrt(2)) < 2.0, feats.rms.toString)
    // ~2 crossings per period over 10 periods of 50 Hz in 0.2 s
    assert(feats.zcTotal >= 19 && feats.zcTotal <= 21, feats.zcTotal.toString)
    // windows cover the stream; every window of a steady tone carries energy
    // bounded by the peak (the short 64-sample tail window is phase-dependent,
    // so no tighter per-window bound holds)
    assert(feats.windowRms.length == 7)
    assert(feats.windowRms.forall(r => r > 0 && r <= 0.8 * 32767))
    // an undecodable payload is dropped, not erred
    val none = audioFrameFeatures(
      Seq(media(2, "audio", Array[Byte](1, 2, 3))).toDS(), 256).collect()
    assert(none.isEmpty)
  }

  test("PCM frame decode: unsigned 16-bit re-centers; signed matches; both endiannesses") {
    import MultimodalOps.AudioCodec.decodePcmFrames
    // raw unsigned 16-bit values 0, 32768, 65535 -> recentered -32768, 0, 32767
    val uLE = Array[Int](0, 32768, 65535).flatMap(v =>
      Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte))
    assert(decodePcmFrames(uLE, 16, 1, signed = false, bigEndian = false).toSeq ==
      Seq(-32768.0, 0.0, 32767.0))
    val uBE = Array[Int](0, 32768, 65535).flatMap(v =>
      Array(((v >> 8) & 0xff).toByte, (v & 0xff).toByte))
    assert(decodePcmFrames(uBE, 16, 1, signed = false, bigEndian = true).toSeq ==
      Seq(-32768.0, 0.0, 32767.0))
    // the same physical waveform as signed little-endian: -32768, 0, 32767
    val sLE = Array[Int](-32768, 0, 32767).flatMap(v =>
      Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte))
    assert(decodePcmFrames(sLE, 16, 1, signed = true, bigEndian = false).toSeq ==
      Seq(-32768.0, 0.0, 32767.0))
    // 8-bit unsigned recenters around 128; signed passes through
    assert(decodePcmFrames(Array[Byte](0, -128, -1), 8, 1,
      signed = false, bigEndian = false).toSeq == Seq(-128.0, 0.0, 127.0))
    assert(decodePcmFrames(Array[Byte](-128, 0, 127), 8, 1,
      signed = true, bigEndian = false).toSeq == Seq(-128.0, 0.0, 127.0))
    // non-PCM encodings (ULAW/float) are rejected by tryDecodeSamples, not
    // misread: a float WAV (format code 3) must return None
    val floatWav = {
      val bos = new java.io.ByteArrayOutputStream()
      val fmt = new javax.sound.sampled.AudioFormat(
        javax.sound.sampled.AudioFormat.Encoding.PCM_FLOAT, 8000f, 32, 1, 4, 8000f, false)
      val raw = Array.fill[Byte](40)(0)
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(raw), fmt, 10)
      javax.sound.sampled.AudioSystem.write(ais,
        javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }
    assert(MultimodalOps.AudioCodec.tryDecodeSamples(floatWav).isEmpty)
  }

  test("DataFrame entry point attaches features by id") {
    val df = Seq((7L, "hello world")).toDF("doc_id", "text")
      .withColumn("payload", org.apache.spark.sql.functions.encode(
        org.apache.spark.sql.functions.col("text"), "UTF-8"))
    val out = withByteFeatures(df, "doc_id", "payload").collect().head
    assert(out.getLong(0) == 7L && out.getLong(1) == 11L)
  }

  test("WAV fast path decodes bit-identically to the javax.sound path; non-WAV falls back") {
    // mono signed 16-bit (the sineWav profile)
    val wav16 = sineWav(53, 700, rate = 8000, amp = 0.7)
    val fast = AudioCodec.tryDecodeWavFast(wav16)
    val slow = AudioCodec.tryDecodeSamplesJavax(wav16)
    assert(fast.isDefined && slow.isDefined)
    assert(fast.get._1 == slow.get._1)
    assert(fast.get._2.toSeq == slow.get._2.toSeq)

    // stereo unsigned 8-bit WAV written through javax.sound
    val data8 = Array.tabulate(400)(i => ((i * 7 + 13) % 256).toByte)
    val fmt8 = new javax.sound.sampled.AudioFormat(
      javax.sound.sampled.AudioFormat.Encoding.PCM_UNSIGNED,
      4000f, 8, 2, 2, 4000f, false)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(data8), fmt8, 200L),
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    val wav8 = bos.toByteArray
    val fast8 = AudioCodec.tryDecodeWavFast(wav8)
    val slow8 = AudioCodec.tryDecodeSamplesJavax(wav8)
    assert(fast8.isDefined && slow8.isDefined)
    assert(fast8.get._1 == slow8.get._1)
    assert(fast8.get._2.toSeq == slow8.get._2.toSeq)

    // AIFF (big-endian container): fast path declines, public entry still decodes
    val dataA = Array.tabulate(64)(i => (i * 3 - 90).toByte)
    val fmtA = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, true)
    val bosA = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(dataA), fmtA, 32L),
      javax.sound.sampled.AudioFileFormat.Type.AIFF, bosA)
    val aiff = bosA.toByteArray
    assert(AudioCodec.tryDecodeWavFast(aiff).isEmpty)
    assert(AudioCodec.tryDecodeSamples(aiff).isDefined)
    // garbage payload: both paths decline
    assert(AudioCodec.tryDecodeSamples("not audio at all".getBytes).isEmpty)
  }

  private def pngChunk(typ: String, data: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    def u32(v: Long): Unit = {
      bos.write(((v >> 24) & 0xff).toInt); bos.write(((v >> 16) & 0xff).toInt)
      bos.write(((v >> 8) & 0xff).toInt); bos.write((v & 0xff).toInt)
    }
    u32(data.length.toLong)
    val tb = typ.getBytes("US-ASCII")
    bos.write(tb); bos.write(data)
    val crc = new java.util.zip.CRC32()
    crc.update(tb); crc.update(data)
    u32(crc.getValue)
    bos.toByteArray
  }

  private def assertPixelParity(png: Array[Byte]): Unit = {
    val fast = ImageCodec.tryDecodePngFast(png)
    val slow = ImageCodec.tryDecodeJavax(png)
    assert(fast.isDefined, "fast path declined a supported PNG")
    assert(slow.isDefined)
    val (f, s) = (fast.get, slow.get)
    assert(f.getWidth == s.getWidth && f.getHeight == s.getHeight)
    for (y <- 0 until f.getHeight; x <- 0 until f.getWidth)
      assert(f.getRGB(x, y) == s.getRGB(x, y), s"pixel ($x,$y)")
  }

  test("PNG fast path matches ImageIO pixel-for-pixel on RGB/RGBA; declines gray/JPEG") {
    // RGBA through our own encoder (colorType 6, the mm fixtures' shape)
    val argb = new java.awt.image.BufferedImage(
      13, 9, java.awt.image.BufferedImage.TYPE_INT_ARGB)
    for (y <- 0 until 9; x <- 0 until 13)
      argb.setRGB(x, y, ((40 + y * 20) << 24) | ((x * 19) << 16) |
        ((y * 27 % 256) << 8) | ((x * y * 7) % 256))
    assertPixelParity(ImageCodec.encodePng(argb))

    // opaque RGB (TYPE_3BYTE_BGR -> colorType 2)
    val rgb = new java.awt.image.BufferedImage(
      7, 5, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    for (y <- 0 until 5; x <- 0 until 7)
      rgb.setRGB(x, y, ((x * 36) << 16) | ((y * 50) << 8) | ((x + y) * 17 % 256))
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(rgb, "png", bos)
    assertPixelParity(bos.toByteArray)

    // hand-built 4x5 RGB PNG with one row per filter type (0..4) — exercises
    // every defilter branch; ImageIO is the reference decode
    val w = 4; val ch = 3
    val rows = Array.tabulate(5, w * ch)((y, i) => ((y * 31 + i * 53 + 11) % 256).toByte)
    val raw = new java.io.ByteArrayOutputStream()
    for (y <- 0 until 5) {
      raw.write(y) // filter type = row index
      val cur = rows(y); val prev = if (y > 0) rows(y - 1) else new Array[Byte](w * ch)
      // pre-FILTER the known raster so decoding reconstructs rows(y)
      val line = new Array[Byte](w * ch)
      for (i <- 0 until w * ch) {
        val x = cur(i) & 0xff
        val a = if (i >= ch) cur(i - ch) & 0xff else 0
        val b = prev(i) & 0xff
        val c = if (i >= ch) prev(i - ch) & 0xff else 0
        line(i) = (y match {
          case 0 => x
          case 1 => x - a
          case 2 => x - b
          case 3 => x - ((a + b) >> 1)
          case 4 =>
            val pp = a + b - c
            val (pa, pb, pc) = (math.abs(pp - a), math.abs(pp - b), math.abs(pp - c))
            x - (if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c)
        }).toByte
      }
      raw.write(line)
    }
    val deflated = {
      val d = new java.util.zip.Deflater()
      d.setInput(raw.toByteArray); d.finish()
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](512)
      while (!d.finished()) out.write(buf, 0, d.deflate(buf))
      d.end(); out.toByteArray
    }
    val ihdr = Array[Byte](0, 0, 0, w.toByte, 0, 0, 0, 5, 8, 2, 0, 0, 0)
    val png = new java.io.ByteArrayOutputStream()
    png.write(Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte))
    png.write(pngChunk("IHDR", ihdr))
    png.write(pngChunk("IDAT", deflated))
    png.write(pngChunk("IEND", Array.emptyByteArray))
    assertPixelParity(png.toByteArray)

    assert(ImageCodec.tryDecodePngFast("nope".getBytes).isEmpty)
  }

  test("PNG fast path: grayscale value-copy, palette with tRNS, gray+alpha (r12)") {
    def deflate(b: Array[Byte]): Array[Byte] = {
      val d = new java.util.zip.Deflater()
      d.setInput(b); d.finish()
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](512)
      while (!d.finished()) out.write(buf, 0, d.deflate(buf))
      d.end(); out.toByteArray
    }
    def buildPng(w: Int, h: Int, colorType: Int, rows: Array[Array[Byte]],
                 extra: Seq[(String, Array[Byte])] = Seq.empty): Array[Byte] = {
      val raw = new java.io.ByteArrayOutputStream()
      rows.foreach { r => raw.write(0); raw.write(r) } // filter 0 per row
      val ihdr = Array[Byte](
        ((w >> 24) & 0xff).toByte, ((w >> 16) & 0xff).toByte,
        ((w >> 8) & 0xff).toByte, (w & 0xff).toByte,
        ((h >> 24) & 0xff).toByte, ((h >> 16) & 0xff).toByte,
        ((h >> 8) & 0xff).toByte, (h & 0xff).toByte,
        8, colorType.toByte, 0, 0, 0)
      val png = new java.io.ByteArrayOutputStream()
      png.write(Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte))
      png.write(pngChunk("IHDR", ihdr))
      extra.foreach { case (t, d) => png.write(pngChunk(t, d)) }
      png.write(pngChunk("IDAT", deflate(raw.toByteArray)))
      png.write(pngChunk("IEND", Array.emptyByteArray))
      png.toByteArray
    }

    // grayscale (type 0): VALUE-COPY semantics pinned against the raw samples
    // (deliberate divergence from ImageIO's linear->sRGB gray transform, which
    // brightens mid-tones — the libpng/PIL/browser convention instead)
    val gvals = Array.tabulate(4, 6)((y, x) => (x * 40 + y).toByte)
    val gpng = buildPng(6, 4, 0, gvals)
    val gfast = ImageCodec.tryDecodePngFast(gpng)
    assert(gfast.isDefined, "fast path declined an 8-bit gray PNG")
    for (y <- 0 until 4; x <- 0 until 6) {
      val v = gvals(y)(x) & 0xff
      assert(gfast.get.getRGB(x, y) == (0xff000000 | (v << 16) | (v << 8) | v))
    }
    // ImageIO still decodes it too (no parity claim: its gray is colorimetric)
    assert(ImageCodec.tryDecodeJavax(gpng).isDefined)

    // palette (type 3) + tRNS: exact getRGB parity with ImageIO
    val plte = Array[Byte](
      10, 20, 30, 200.toByte, 100, 50, 0, 0, 0, 255.toByte, 255.toByte, 255.toByte)
    val trns = Array[Byte](255.toByte, 128.toByte, 0)
    val pidx = Array.tabulate(3, 5)((y, x) => ((x + y) % 4).toByte)
    val ppng = buildPng(5, 3, 3, pidx, Seq("PLTE" -> plte, "tRNS" -> trns))
    assertPixelParity(ppng)

    // gray + alpha (type 4): value-copy gray, alpha carried
    val garows = Array.tabulate(2, 6) { (y, i) =>
      (if (i % 2 == 0) 60 * (i / 2) + y else 255 - 10 * i).toByte }
    val gapng = buildPng(3, 2, 4, garows)
    val gafast = ImageCodec.tryDecodePngFast(gapng)
    assert(gafast.isDefined, "fast path declined a gray+alpha PNG")
    for (y <- 0 until 2; x <- 0 until 3) {
      val v = garows(y)(2 * x) & 0xff
      val a = garows(y)(2 * x + 1) & 0xff
      assert(gafast.get.getRGB(x, y) == ((a << 24) | (v << 16) | (v << 8) | v))
    }

    // gray with a tRNS chunk: declined (transparent-sample keying) -> javax
    val gtpng = buildPng(6, 4, 0, gvals, Seq("tRNS" -> Array[Byte](0, 5)))
    assert(ImageCodec.tryDecodePngFast(gtpng).isEmpty)
  }

  test("mm4r fixture: PNG decode + box-mean raster reproduces the md5 grid exactly") {
    import spark.implicits._
    // the identity contract the mm4r oracle rests on: a 9x8 r=g=b=v PNG under
    // the (8+1)x8 box-mean raster returns v verbatim at every cell
    val ids = Seq(0L, 1L, 7L, 42L, 1001L)
    val rows = ids.map(i => MediaRow(i, "image", mm4FixturePng(i), Map.empty)).toDS()
    val gray = imageGrayRaster(rows).as[(Long, Seq[Int])].collect().toMap
    val md = java.security.MessageDigest.getInstance("MD5")
    ids.foreach { did =>
      val gid = did / 4
      val expected = (0 until 72).map { p =>
        val h = md.digest(s"$gid:$p".getBytes("UTF-8"))
        val base = (((h(0) & 0xff) << 8) | (h(1) & 0xff)) % 256
        ((base + (did % 2) * ((p * 13 + did) % 2) * 2) % 256).toInt
      }
      assert(gray(did) == expected, s"doc $did raster drifted from the md5 grid")
    }
  }

  test("PNG size gate (r13): large color routes to javax, gray stays value-copy fast") {
    def mk(tpe: Int, w: Int, h: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h, tpe)
      for (y <- 0 until h; x <- 0 until w)
        img.setRGB(x, y, (((x * 3) % 256) << 16) | (((y * 5) % 256) << 8) | ((x + y) % 256))
      ImageCodec.encodePng(img)
    }
    val bigColor = mk(java.awt.image.BufferedImage.TYPE_INT_RGB, 160, 120)
    val smallColor = mk(java.awt.image.BufferedImage.TYPE_INT_RGB, 64, 48)
    // 160*120 = 19200 > 16384: fast path declines, tryDecode still succeeds
    assert(ImageCodec.tryDecodePngFast(bigColor).isEmpty)
    assert(ImageCodec.tryDecode(bigColor).exists(i => i.getWidth == 160))
    assert(ImageCodec.tryDecodePngFast(smallColor).isDefined)
    // gray is NOT size-gated (value-copy semantics must not depend on size)
    val bigGray = {
      val img = new java.awt.image.BufferedImage(
        160, 120, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      for (y <- 0 until 120; x <- 0 until 160)
        img.getRaster.setSample(x, y, 0, (x * 2 + y) % 256)
      ImageCodec.encodePng(img)
    }
    val g = ImageCodec.tryDecodePngFast(bigGray)
    assert(g.isDefined, "large gray must stay on the value-copy fast path")
    assert((g.get.getRGB(10, 10) & 0xff) == (10 * 2 + 10) % 256) // value-copy
  }

  test("dHash native expression == HOF formulation; codegen == interpreted (r13)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(7)
    // random 72-cell rasters + a flat one (all bits unset); short/empty
    // arrays are asserted on the native path alone below — the HOF's
    // element_at THROWS on out-of-range (Spark 4 strict indexing), so the
    // native expression is strictly more total there
    val rows = (0 until 300).map(i => (i.toLong, Seq.fill(72)(rnd.nextInt(256)))) ++
      Seq((300L, Seq.fill(72)(9)))
    val df = rows.toDF("id", "gray")
    def both() = df.select(col("id"),
        dHash(col("gray")).as("n"), dHashHof(col("gray")).as("h"))
      .select(col("id"), col("n.hi"), col("n.lo"), col("h.hi"), col("h.lo"))
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    val interp = both()
    spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    val gen = both()
    assert(interp.toSeq == gen.toSeq, "codegen/interpreted drift")
    gen.foreach { case (id, nhi, nlo, hhi, hlo) =>
      assert(nhi == hhi && nlo == hlo, s"native != HOF for raster $id")
    }
    assert(gen.find(_._1 == 300L).exists(r => r._2 == 0L && r._3 == 0L))
    // native is total on short/empty rasters: out-of-range cells -> unset bits
    val edge = Seq((0L, Seq.fill(10)(7)), (1L, Seq.empty[Int])).toDF("id", "gray")
      .select(dHash(org.apache.spark.sql.functions.col("gray")).as("d"))
      .select(col("d.hi"), col("d.lo")).as[(Long, Long)].collect()
    assert(edge.forall(r => r._1 == 0L && r._2 == 0L))
  }

  test("JpegCodec: bit-exact vs the javax decoder on color AND gray JPEGs") {
    val rnd = new scala.util.Random(11)
    for ((w, h) <- Seq((8, 8), (37, 23), (72, 64), (127, 85)); q <- Seq(1.0f, 0.75f, 0.5f)) {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w)
        img.setRGB(x, y, if ((x / 8 + y / 8) % 2 == 0)
          (((x * 255) / math.max(w - 1, 1)) << 16) | (((y * 255) / math.max(h - 1, 1)) << 8)
          else rnd.nextInt(1 << 24))
      val jpeg = ImageCodec.encodeJpeg(img, q)
      val ours = JpegCodec.tryDecodeUngated(jpeg)
      val ref = ImageCodec.tryDecodeJavax(jpeg).get
      assert(ours.isDefined, s"${w}x$h q=$q declined")
      for (y <- 0 until h; x <- 0 until w)
        assert(ours.get.getRGB(x, y) == ref.getRGB(x, y),
          s"pixel drift at $x,$y (${w}x$h q=$q)")
    }
    // grayscale: our colorimetric LUT output equals javax's getRGB presentation
    // BIT-EXACTLY (ADVICE r13 — the same logical gray image must decode to
    // identical ARGB/dHash on both sides of the size gate; the previous
    // value-copy convention made gray semantics payload-size-dependent)
    val gimg = new java.awt.image.BufferedImage(
      40, 24, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until 24; x <- 0 until 40)
      gimg.getRaster.setSample(x, y, 0, (x * 6 + y * 3) % 256)
    val gjpeg = ImageCodec.encodeJpeg(gimg, 0.9f)
    val gOurs = JpegCodec.tryDecodeUngated(gjpeg).get
    val gRef = ImageCodec.tryDecodeJavax(gjpeg).get
    for (y <- 0 until 24; x <- 0 until 40)
      assert((gOurs.getRGB(x, y) & 0xffffff) == (gRef.getRGB(x, y) & 0xffffff),
        s"gray colorimetric drift at $x,$y")
    // and the transform is genuinely non-identity for mid grays (128 -> ~186)
    // — i.e. the parity above is colorimetric, not value-copy in disguise
    val midSample = gRef.getRaster.getSample(10, 23, 0) // encoded from 129
    assert(midSample > 0 && midSample < 255 &&
      (gRef.getRGB(10, 23) & 0xff) != midSample)
    // the byte gate: >4KB payloads decline here but still decode via javax
    val big = new java.awt.image.BufferedImage(
      200, 150, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 150; x <- 0 until 200) big.setRGB(x, y, rnd.nextInt(1 << 24))
    val bigJpeg = ImageCodec.encodeJpeg(big, 0.95f)
    assert(bigJpeg.length > 4096 && JpegCodec.tryDecode(bigJpeg).isEmpty)
    assert(ImageCodec.tryDecode(bigJpeg).exists(_.getWidth == 200))
    // progressive-free scope: corrupt/truncated payloads drop, never throw
    assert(JpegCodec.tryDecode(bigJpeg.take(60)).isEmpty)
    // the mm5 fixture frame rides the gated-in fast path end-to-end
    val frame = VideoCodec.frames(mm5FixtureVideo(4L)).head
    assert(frame.length <= 4096 && JpegCodec.tryDecode(frame).isDefined)
  }

  test("encodePngFast: pixel-exact round-trip via both our fast path and ImageIO") {
    for (alpha <- Seq(false, true)) {
      val tpe = if (alpha) java.awt.image.BufferedImage.TYPE_INT_ARGB
                else java.awt.image.BufferedImage.TYPE_INT_RGB
      val img = new java.awt.image.BufferedImage(37, 23, tpe) // odd dims on purpose
      for (y <- 0 until 23; x <- 0 until 37) {
        val a = if (alpha) ((x * 11 + y * 7) % 256) << 24 else 0xff000000
        img.setRGB(x, y, a | (((x * 5) % 256) << 16) | (((y * 9) % 256) << 8) | ((x ^ y) % 256))
      }
      val png = ImageCodec.encodePngFast(img)
      val viaFast = ImageCodec.tryDecodePngFast(png)
      val viaJavax = ImageCodec.tryDecodeJavax(png)
      assert(viaFast.isDefined && viaJavax.isDefined, s"alpha=$alpha undecodable")
      for (y <- 0 until 23; x <- 0 until 37) {
        val want = if (alpha) img.getRGB(x, y)
                   else img.getRGB(x, y) | 0xff000000
        assert(viaFast.get.getRGB(x, y) == want, s"fast drift $x,$y alpha=$alpha")
        assert(viaJavax.get.getRGB(x, y) == want, s"javax drift $x,$y alpha=$alpha")
      }
    }
  }

  test("buildMjpegAvi round-trips through the AVI parser: header + byte-exact frames") {
    val fr = Seq(jpegBytes(24, 16), jpegBytes(24, 16), jpegBytes(24, 16))
    val avi = VideoCodec.buildMjpegAvi(fr, 24, 16)
    val info = VideoCodec.tryParse(avi)
    assert(info.exists(i => i.width == 24 && i.height == 16 &&
      i.nFrames == 3 && i.handler == "MJPG"), info)
    val back = VideoCodec.frames(avi)
    assert(back.size == 3)
    back.zip(fr).foreach { case (b, f) => assert(java.util.Arrays.equals(b, f)) }
    // odd-length frame payloads survive the even-padding rule byte-exact
    val odd = Array[Byte](1, 2, 3)
    val back2 = VideoCodec.frames(VideoCodec.buildMjpegAvi(Seq(odd, odd), 8, 8))
    assert(back2.size == 2 && back2.forall(java.util.Arrays.equals(_, odd)))
  }

  test("encodeJpeg: flat gray 8x8 blocks round-trip exactly; reused reader == ImageIO") {
    val md = java.security.MessageDigest.getInstance("MD5")
    // flat-block exactness across the md5 value range (the mm5 oracle contract)
    for (doc <- Seq(0, 3, 17, 255)) {
      val img = new java.awt.image.BufferedImage(
        72, 64, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val vals = (0 until 72).map { p =>
        val h = md.digest(s"blk:$doc:$p".getBytes("UTF-8"))
        (((h(0) & 0xff) << 8) | (h(1) & 0xff)) % 256
      }
      for (p <- 0 until 72; y <- (p / 9) * 8 until (p / 9) * 8 + 8;
           x <- (p % 9) * 8 until (p % 9) * 8 + 8)
        img.setRGB(x, y, (vals(p) << 16) | (vals(p) << 8) | vals(p))
      val jpeg = ImageCodec.encodeJpeg(img, 1.0f)
      val dec = ImageCodec.tryDecodeJpegReused(jpeg).get
      for (p <- 0 until 72) {
        val v = vals(p)
        assert((dec.getRGB((p % 9) * 8 + 3, (p / 9) * 8 + 5) & 0xffffff) ==
          ((v << 16) | (v << 8) | v), s"doc $doc block $p value $v drifted")
      }
      // reused-reader path is pixel-identical to the generic ImageIO path
      val gen = ImageCodec.tryDecodeJavax(jpeg).get
      for (y <- 0 until 64; x <- 0 until 72)
        assert(dec.getRGB(x, y) == gen.getRGB(x, y), s"parity drift at $x,$y")
    }
    // parity also on a NON-flat lossy JPEG (default-quality gradient)
    val grad = new java.awt.image.BufferedImage(
      40, 30, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 30; x <- 0 until 40)
      grad.setRGB(x, y, ((x * 6) << 16) | ((y * 8) << 8) | ((x + y) * 3))
    val lossy = ImageCodec.encodeJpeg(grad, 0.75f)
    val a = ImageCodec.tryDecodeJpegReused(lossy).get
    val b = ImageCodec.tryDecodeJavax(lossy).get
    for (y <- 0 until 30; x <- 0 until 40) assert(a.getRGB(x, y) == b.getRGB(x, y))
    // declines non-JPEG magic; survives corrupt bytes after the magic (falls
    // back None, and the reader keeps working on the next good payload)
    assert(ImageCodec.tryDecodeJpegReused(pngBytes()).isEmpty)
    assert(ImageCodec.tryDecodeJpegReused(
      Array(0xff.toByte, 0xd8.toByte, 9, 9, 9)).isEmpty)
    assert(ImageCodec.tryDecodeJpegReused(lossy).isDefined)
  }

  test("mm5 fixture: AVI walk + JPEG decode + box-mean raster reproduces the md5 grid") {
    import spark.implicits._
    val ids = Seq(0L, 6L, 124L) // even ids: the AVI container
    val rows = ids.map(i => MediaRow(i, "video", mm5FixtureVideo(i), Map.empty)).toDS()
    val frames = sampleVideoFrames(rows)
      .map { case (id, idx, f) => MediaRow(id * 16 + idx, "image", f, Map.empty) }
    val gray = imageGrayRaster(frames).as[(Long, Seq[Int])].collect().toMap
    assert(gray.size == ids.size * 6)
    val md = java.security.MessageDigest.getInstance("MD5")
    for (did <- ids; f <- 0 until 6) {
      val sid = f / 3
      val expected = (0 until 72).map { p =>
        val h = md.digest(s"$did:$sid:$p".getBytes("UTF-8"))
        val base = (((h(0) & 0xff) << 8) | (h(1) & 0xff)) % 256
        ((base + (f % 3) * ((p * 13 + f) % 2) * 2) % 256).toInt
      }
      assert(gray(did * 16 + f) == expected,
        s"doc $did frame $f raster drifted from the md5 grid")
    }
  }

  test("image dHash near-dups: identical and slightly-brightened images pair, distinct don't") {
    import spark.implicits._
    def png(f: (Int, Int) => Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        64, 48, java.awt.image.BufferedImage.TYPE_INT_ARGB)
      for (y <- 0 until 48; x <- 0 until 64) {
        val v = f(x, y) & 0xff
        img.setRGB(x, y, (255 << 24) | (v << 16) | (v << 8) | v)
      }
      ImageCodec.encodePng(img)
    }
    val gradient = png((x, y) => x * 3 + y)
    val brighter = png((x, y) => math.min(x * 3 + y + 4, 255)) // same structure
    val stripes = png((x, _) => if ((x / 4) % 2 == 0) 230 else 20) // different
    val rows = Seq(
      MediaRow(1L, "image", gradient, Map.empty),
      MediaRow(2L, "image", gradient, Map.empty), // exact duplicate
      MediaRow(3L, "image", brighter, Map.empty),
      MediaRow(4L, "image", stripes, Map.empty),
      MediaRow(5L, "image", "not an image".getBytes, Map.empty)).toDS()
    val gray = imageGrayRaster(rows)
    assert(gray.count() == 4) // undecodable dropped
    val pairs = dHashNearDups(gray, "id", "gray")
      .as[(Long, Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L, 0L))) // exact dup -> hamming 0
    // brightness shift preserves every adjacent-pixel comparison -> hamming 0
    assert(pairs.exists(p => p._1 == 1L && p._2 == 3L))
    assert(!pairs.exists(p => p._2 == 4L || p._1 == 4L)) // stripes pair with nobody

    // no-silent-caps ledger: with the cap below the 3-member gradient bucket,
    // the pair op drops it and dHashCapStats must report the drop
    val capped = dHashNearDups(gray, "id", "gray", maxBucketSize = 2)
      .as[(Long, Long, Long)].collect().toSet
    assert(!capped.exists(p => p._1 == 1L && p._2 == 3L))
    val led = dHashCapStats(gray, "id", "gray", maxBucketSize = 2).collect().head
    assert(led.getAs[Long]("n_buckets_capped") >= 4L, led.toString) // 4 shared bands
    assert(led.getAs[Long]("n_members_excluded") >= 12L, led.toString)
    val clear = dHashCapStats(gray, "id", "gray").collect().head
    assert(clear.getAs[Long]("n_buckets_capped") == 0L)
  }

  test("buildMjpegMp4 round-trips through the ISO-BMFF parser: header + byte-exact frames (r14)") {
    val rnd = new scala.util.Random(31)
    val frames = (0 until 5).map { i =>
      val img = new java.awt.image.BufferedImage(
        48, 32, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 32; x <- 0 until 48) img.setRGB(x, y, rnd.nextInt(1 << 24))
      ImageCodec.encodeJpeg(img, 0.8f + i * 0.02f)
    }
    val mp4 = Mp4Codec.buildMjpegMp4(frames, 48, 32)
    assert(Mp4Codec.isMp4(mp4) && !Mp4Codec.isMp4(mm5FixtureVideo(2L)))
    val info = Mp4Codec.tryParse(mp4).get
    assert(info == Mp4Codec.Mp4Info(48, 32, 5, "jpeg"))
    val back = Mp4Codec.frames(mp4)
    assert(back.size == 5)
    assert(back.zip(frames).forall { case (a, b) => a.sameElements(b) },
      "a sample drifted through the stsc/stco/stsz walk")
    // the shared entry point dispatches on container magic
    assert(VideoCodec.frames(mp4).size == 5)
    // an avc1 track parses at container level but declines frame extraction
    val avc = {
      val b = mp4.clone()
      // patch the stsd entry fourcc ('jpeg' -> 'avc1') wherever it sits
      val idx = b.indexOfSlice("jpeg".getBytes("ASCII"))
      "avc1".getBytes("ASCII").copyToArray(b, idx)
      b
    }
    assert(Mp4Codec.tryParse(avc).get.codec == "avc1")
    assert(Mp4Codec.frames(avc).isEmpty, "compressed codecs must decline loudly")
    // mm5's container twin: odd ids are MP4, even ids AVI, and the same doc
    // decodes to the same rasters in either box
    import spark.implicits._
    assert(Mp4Codec.tryParse(mm5FixtureVideo(3L)).isDefined)
    assert(Mp4Codec.tryParse(mm5FixtureVideo(4L)).isEmpty &&
      VideoCodec.tryParse(mm5FixtureVideo(4L)).isDefined)
    val viaMp4 = videoGrayRasters(Seq(MediaRow(7L, "video",
      Mp4Codec.buildMjpegMp4(VideoCodec.frames(mm5FixtureVideo(8L)), 72, 64),
      Map.empty)).toDS()).collect()
    val viaAvi = videoGrayRasters(Seq(MediaRow(7L, "video",
      mm5FixtureVideo(8L), Map.empty)).toDS()).collect()
    assert(viaMp4.map(_.toString).sorted.toSeq == viaAvi.map(_.toString).sorted.toSeq)
  }

  test("Mp4Codec edge layouts: fixed-size stsz, co64 offsets, multi-sample stsc runs (r14)") {
    // hand-assembled MP4 exercising the table paths buildMjpegMp4 never
    // writes: constant sample_size, 64-bit chunk offsets, and chunks holding
    // different sample counts (stsc runs (1 -> 2 samples), (2 -> 3 samples))
    def u32(v: Long): Array[Byte] =
      Array.tabulate(4)(i => ((v >> (8 * (3 - i))) & 0xff).toByte)
    def u64(v: Long): Array[Byte] = u32(v >>> 32) ++ u32(v & 0xffffffffL)
    def u16(v: Int): Array[Byte] =
      Array(((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    def fcc(s: String): Array[Byte] = s.getBytes("ASCII")
    def box(t: String, p: Array[Byte]*): Array[Byte] = {
      val b = p.flatten.toArray; u32(b.length + 8L) ++ fcc(t) ++ b
    }
    def full(t: String, p: Array[Byte]*): Array[Byte] =
      box(t, Array[Byte](0, 0, 0, 0) ++ p.flatten)
    val zeros = (n: Int) => Array.fill(n)(0.toByte)
    // five 16-byte "samples" with distinct contents (container-level test:
    // the walk never decodes them, so they need not be JPEGs — use mjpa so
    // frames() accepts them)
    val samples = (0 until 5).map(i => Array.fill(16)((0x40 + i).toByte))
    val ftyp = box("ftyp", fcc("isom"), u32(0), fcc("isom"))
    val mdatPayload = ftyp.length + 8L
    val mdat = box("mdat", samples.flatten.toArray)
    // chunk 1 = samples 0-1 at mdatPayload; chunk 2 = samples 2-4 at +32
    val entry = u32(86) ++ fcc("mjpa") ++ zeros(6) ++ u16(1) ++
      u16(0) ++ u16(0) ++ zeros(12) ++ u16(24) ++ u16(16) ++
      u32(0x00480000L) ++ u32(0x00480000L) ++ u32(0) ++ u16(1) ++
      zeros(32) ++ u16(24) ++ u16(0xffff)
    val stbl = box("stbl",
      full("stsd", u32(1), entry),
      full("stsc", u32(2), u32(1), u32(2), u32(1), u32(2), u32(3), u32(1)),
      full("stsz", u32(16), u32(5)), // FIXED sample size, no table
      full("co64", u32(2), u64(mdatPayload), u64(mdatPayload + 32)))
    val mp4 = ftyp ++ mdat ++ box("moov",
      box("trak", box("mdia",
        full("hdlr", u32(0), fcc("vide"), zeros(12), Array[Byte](0)),
        box("minf", stbl))))
    val info = Mp4Codec.tryParse(mp4).get
    assert(info == Mp4Codec.Mp4Info(24, 16, 5, "mjpa"), info.toString)
    val back = Mp4Codec.frames(mp4)
    assert(back.size == 5)
    assert(back.zip(samples).forall { case (a, b) => a.sameElements(b) },
      "sample offsets drifted through the stsc-run / co64 / fixed-stsz walk")
  }

  test("Mp4Codec size-0 boxes: last-top-level only; nested size-0 declines (r15)") {
    // ISO/IEC 14496-12 permits size 0 (extends to end of file) only for the
    // LAST TOP-LEVEL box; a nested size-0 box is corrupt and must stop the
    // walk instead of silently swallowing its sibling boxes (ADVICE r14)
    val frames = (0 until 3).map(i => Array.fill(12)((0x30 + i).toByte))
    val mp4 = Mp4Codec.buildMjpegMp4(frames, 8, 8)
    val info = Mp4Codec.tryParse(mp4).get
    // moov is the last top-level box: size 0 there is the spec's legal form
    val topZero = mp4.clone()
    val moovOff = topZero.indexOfSlice("moov".getBytes("ASCII")) - 4
    java.util.Arrays.fill(topZero, moovOff, moovOff + 4, 0.toByte)
    assert(Mp4Codec.tryParse(topZero).contains(info),
      "last-top-level size-0 box must still parse (extends to end of file)")
    // trak is nested (inside moov): size 0 there is corrupt -> decline, even
    // though trak happens to be moov's last child (the old extend-to-enclosure
    // reading would have parsed it identically and hidden the corruption)
    val nestedZero = mp4.clone()
    val trakOff = nestedZero.indexOfSlice("trak".getBytes("ASCII")) - 4
    java.util.Arrays.fill(nestedZero, trakOff, trakOff + 4, 0.toByte)
    assert(Mp4Codec.tryParse(nestedZero).isEmpty,
      "nested size-0 box must be treated as corrupt, not extend-to-enclosure")
  }

  test("audio tracks round-trip both containers byte-exactly; compressed declines (r15)") {
    val levels = Array.tabulate(65)(w => (w * 37 + 500) * (if (w % 2 == 0) 1 else -1))
    val pcm = stepPcm(levels, blockSamples = 4)
    val want = levels.flatMap(l => Seq.fill(4)(l.toDouble)).toSeq
    val frames = (0 until 3).map(i => Array.fill(10)((0x20 + i).toByte))
    // AVI: auds strl + 01wb chunk
    val avi = VideoCodec.buildMjpegAvi(frames, 8, 8, Some((pcm, 8000, 1)))
    val (aviRate, aviS) = VideoCodec.audioSamples(avi).get
    assert(aviRate == 8000 && aviS.toSeq == want)
    // the video walk is unaffected by the audio stream
    assert(VideoCodec.frames(avi).size == 3)
    assert(VideoCodec.tryParse(avi).get.nFrames == 3)
    assert(VideoCodec.audioSamples(VideoCodec.buildMjpegAvi(frames, 8, 8)).isEmpty)
    // MP4: soun trak, sowt sample entry
    val mp4 = Mp4Codec.buildMjpegMp4(frames, 8, 8, Some((pcm, 8000, 1)))
    val (mp4Rate, mp4S) = Mp4Codec.audioSamples(mp4).get
    assert(mp4Rate == 8000 && mp4S.toSeq == want)
    // the video entry point picks the MP4 walk by container magic
    assert(VideoCodec.audioSamples(mp4).map(_._2.toSeq) == Some(want))
    assert(Mp4Codec.frames(mp4).size == 3 &&
      Mp4Codec.tryParse(mp4).get.nFrames == 3)
    assert(Mp4Codec.audioSamples(Mp4Codec.buildMjpegMp4(frames, 8, 8)).isEmpty)
    // twos (big-endian PCM16): byte-swapped payload + patched fourcc reads
    // back the same samples
    val twos = mp4.clone()
    val entryIdx = twos.indexOfSlice("sowt".getBytes("ASCII"))
    "twos".getBytes("ASCII").copyToArray(twos, entryIdx)
    val audioOff = twos.indexOfSlice(pcm.take(64)) // pcm is unique in mdat
    var i = 0
    while (i < pcm.length) { // swap each 16-bit sample in place
      val t = twos(audioOff + i)
      twos(audioOff + i) = twos(audioOff + i + 1)
      twos(audioOff + i + 1) = t
      i += 2
    }
    val (twosRate, twosS) = Mp4Codec.audioSamples(twos).get
    assert(twosRate == 8000 && twosS.toSeq == want)
    // compressed audio declines loudly (the avc1 rule for sound)
    val aac = mp4.clone()
    "mp4a".getBytes("ASCII").copyToArray(aac, entryIdx)
    assert(Mp4Codec.audioSamples(aac).isEmpty)
    // stereo: channel averaging matches decodePcmFrames' contract
    val stereo = pcm.grouped(2).flatMap(s => s ++ s).toArray
    val avi2 = VideoCodec.buildMjpegAvi(frames, 8, 8, Some((stereo, 8000, 2)))
    assert(VideoCodec.audioSamples(avi2).get._2.toSeq == want)
  }

  test("videoAudioFeatures == audioFrameFeatures on identical PCM (both containers, r15)") {
    import spark.implicits._
    val levels = Array.tabulate(65)(w => 1000 + w * 29)
    val pcm = stepPcm(levels, blockSamples = 256)
    val frames = (0 until 2).map(i => Array.fill(8)((0x41 + i).toByte))
    val vids = Seq(
      MediaRow(0L, "video", VideoCodec.buildMjpegAvi(frames, 8, 8,
        Some((pcm, 8000, 1))), Map.empty),
      MediaRow(1L, "video", Mp4Codec.buildMjpegMp4(frames, 8, 8,
        Some((pcm, 8000, 1))), Map.empty),
      MediaRow(2L, "video", VideoCodec.buildMjpegAvi(frames, 8, 8), Map.empty))
    val viaVideo = videoAudioFeatures(vids.toDS()).collect()
      .map(f => f.id -> f).toMap
    // the trackless video dropped; the other two equal the WAV path exactly
    assert(viaVideo.keySet == Set(0L, 1L))
    val viaWav = audioFrameFeatures(Seq(MediaRow(9L, "audio",
      stepWav(levels, 256), Map.empty)).toDS()).collect().head
    Seq(0L, 1L).foreach { id =>
      val f = viaVideo(id)
      assert(f.windowRms.toSeq == viaWav.windowRms.toSeq &&
        f.rms == viaWav.rms && f.zcTotal == viaWav.zcTotal &&
        f.nSamples == viaWav.nSamples, s"container $id drifted from WAV")
    }
  }

  test("videoAvRasters == videoGrayRasters + videoAudioFeatures, one walk (r16)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, explode}
    // mm10 fixtures (MJPEG AVI + PCM track) plus one trackless video: the
    // combined single-walk decode must reproduce BOTH channels bit-exactly,
    // including the no-audio drop rule (null window_rms)
    // trackless video: REAL decodable MJPEG frames (lifted from a fixture
    // container), no audio track
    val frames9 = VideoCodec.frames(mm10FixtureVideo(0L))
    val rows = ((0L to 5L).map(d =>
        MediaRow(d, "video", mm10FixtureVideo(d), Map.empty)) :+
      MediaRow(9L, "video", VideoCodec.buildMjpegAvi(frames9, 8, 8), Map.empty)).toDS()
    val av = videoAvRasters(rows)
    val gotFrames = av.select(col("id"), explode(col("frames")).as("_f"))
      .select(col("id"), col("_f._1").as("frame_idx"), col("_f._2").as("gray"))
      .as[(Long, Int, Seq[Int])].collect().toSet
    val wantFrames = videoGrayRasters(rows)
      .as[(Long, Int, Seq[Int])].collect().toSet
    assert(gotFrames == wantFrames, "visual channel drifted from videoGrayRasters")
    val gotRms = av.filter(col("window_rms").isNotNull)
      .select(col("id"), col("window_rms"))
      .as[(Long, Seq[Double])].collect().toMap
    val wantRms = videoAudioFeatures(rows).collect()
      .map(f => f.id -> f.windowRms.toSeq).toMap
    assert(gotRms == wantRms, "audio channel drifted from videoAudioFeatures")
    // the trackless video must carry null audio but still contribute frames
    assert(!gotRms.contains(9L) && gotFrames.exists(_._1 == 9L))
  }

  test("avNearDups: either-channel match, both hammings reported, null-safe (r15)") {
    import spark.implicits._
    // visual: 1~2 (hamming 1); audio: 1~3 (hamming 2), 2 vs 3 far; video 4
    // has NO audio code (undecodable track)
    val visual = Seq(
      (1L, 0L, 0L), (2L, 0L, 1L), (3L, 0xff00L, 0xf0f0L), (4L, 0L, 2L))
      .toDF("id", "hi", "lo")
    val audio = Seq(
      (1L, 7L, 0L), (2L, 0xf0f0L, 0xff00L), (3L, 4L, 1L))
      .toDF("id", "hi", "lo")
    val out = avNearDups(visual, audio)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((Option(r.get(2)), Option(r.get(3)), r.getString(4)))).toMap
    assert(out((1L, 2L)) == ((Some(1L), Some(19L), "visual")))
    assert(out((1L, 3L)) == ((Some(16L), Some(3L), "audio")))
    // 4 pairs visually with 1 and 2 (hamming 1/2) but has no audio code:
    // null a_hamming, matched_on = visual
    assert(out((1L, 4L)) == ((Some(1L), None, "visual")))
    assert(out((2L, 4L)) == ((Some(2L), None, "visual")))
    assert(out.size == 4, out.toString)
  }

  test("mm10 fixture: 4-groups pair on both channels, 8-group halves on audio only (r15)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val rows = (0L to 15L).map(d =>
      MediaRow(d, "video", mm10FixtureVideo(d), Map.empty)).toDS()
    val vh = videoHash64(videoKeyframeHashes(videoGrayRasters(rows)))
      .select("id", "hi", "lo")
    val eh = videoAudioFeatures(rows).toDF()
      .select(col("id"), energyHash64(col("windowRms")).as("_eh"))
      .select(col("id"), col("_eh.hi").as("hi"), col("_eh.lo").as("lo"))
    val out = avNearDups(vh, eh)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getString(4)).toMap
    // the soundtrack keys on docId/8, so EVERY within-8-group pair matches on
    // audio (all 56 of them); same-4-group pairs usually add the visual
    // channel ("both" — a large visual jitter can legitimately land a member
    // past hamming 3, so "audio" is allowed there too); cross-half pairs are
    // audio-ONLY by construction; across 8-groups nothing pairs
    val within4 = out.filter { case ((a, b), _) => a / 4 == b / 4 }
    val crossHalf = out.filter { case ((a, b), _) => a / 4 != b / 4 && a / 8 == b / 8 }
    assert(out.size == 56, s"every within-8-group pair must appear: ${out.size}")
    assert(within4.values.count(_ == "both") >= 20, within4.toString)
    assert(crossHalf.nonEmpty && crossHalf.values.forall(_ == "audio"),
      crossHalf.toString)
    assert(out.keys.forall { case (a, b) => a / 8 == b / 8 }, out.toString)
  }

  test("mm6 cross-video near-dup: group members pair at high sim, groups stay apart (r14)") {
    import spark.implicits._
    // two planted groups of 4 (ids 0-3 share gid 0, ids 4-7 gid 1)
    val rows = (0L to 7L).map(d =>
      MediaRow(d, "video", mm6FixtureAvi(d), Map.empty)).toDS()
    val kf = videoKeyframeHashes(videoGrayRasters(rows))
    val kfRows = kf.as[(Long, Long, Long, Long)].collect()
    // every video: exactly frames 0 and 3 (the shot boundary) are keyframes
    assert(kfRows.groupBy(_._1).forall { case (_, fs) =>
      fs.map(_._2).sorted.toSeq == Seq(0L, 3L) }, kfRows.mkString(","))
    val kfp = videoKeyframeHashes(videoGrayRasters(rows))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pairs = videoNearDupsFromKeyframes(kfp)
      .select("vid1", "vid2", "sim").as[(Long, Long, Double)].collect()
    // a video whose LEADING frame fails decode must still anchor a keyframe
    // on its first surviving frame (else it silently escapes dedup): rebuild
    // video 0 with frame 0 replaced by garbage bytes
    val frames0 = VideoCodec.frames(mm6FixtureAvi(0L))
    val headless = VideoCodec.buildMjpegAvi(
      Array.fill[Byte](64)(0x55) +: frames0.tail, 72, 64)
    val hkf = videoKeyframeHashes(videoGrayRasters(
        Seq(MediaRow(99L, "video", headless, Map.empty)).toDS()))
      .as[(Long, Long, Long, Long)].collect()
    assert(hkf.map(_._2).sorted.toSeq == Seq(1L, 3L),
      s"first surviving frame must anchor: ${hkf.mkString(",")}")
    // no cross-group pair can survive (independent md5 grids, hamming ~32)
    assert(pairs.forall { case (a, b, _) => a / 4 == b / 4 }, pairs.mkString(","))
    // the planted duplicates surface: most within-group pairs at sim >= 0.5
    assert(pairs.count { case (a, b, _) => a / 4 == b / 4 } >= 8,
      s"too few within-group pairs: ${pairs.mkString(",")}")
    assert(pairs.forall(_._3 >= 0.5))
  }

  test("videoHash64: strict per-bit majority pooling, ties clear, group pairing survives (r14)") {
    import spark.implicits._
    // hand case: 3 keyframes; bit set in vh iff >= 2 of 3 keyframes set it
    val kf = Seq(
      (1L, 0L, 12L, 3L), // hi 1100, lo 011
      (1L, 3L, 10L, 3L), // hi 1010, lo 011
      (1L, 7L, 9L, 5L),  // hi 1001, lo 101
      (2L, 0L, 1L, 1L), // 2 keyframes: majority = AND (ties clear)
      (2L, 4L, 3L, 0L)).toDF("id", "frame_idx", "hi", "lo")
    val vh = videoHash64(kf).as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    // video 1: hi bit3 in 3/3 -> set, bits 2/1/0 in 1/3 each -> clear (hi=8);
    // lo bit0 in 3/3, bit1 in 2/3 -> set, bit2 in 1/3 -> clear (lo=3)
    assert(vh(1L) == ((8L, 3L, 3L)), vh(1L).toString)
    // video 2: hi bit0 2/2 -> set, bit1 1/2 tie -> clear; lo bit0 1/2 -> clear
    assert(vh(2L) == ((1L, 0L, 2L)), vh(2L).toString)
    // end-to-end: pooled codes still pair group members, isolate groups
    val rows = (0L to 7L).map(d =>
      MediaRow(d, "video", mm6FixtureAvi(d), Map.empty)).toDS()
    val pooled = videoHash64(videoKeyframeHashes(videoGrayRasters(rows)))
    val pairs = graft.dedup.DedupOps.hamming64Pairs(pooled, "id", "hi", "lo")
      .as[(Long, Long, Long)].collect()
    assert(pairs.nonEmpty)
    assert(pairs.forall { case (a, b, _) => a / 4 == b / 4 }, pairs.mkString(","))
  }

  test("stepWav + energyHash64: window RMS is exactly the block level; hash bits match (r14)") {
    import spark.implicits._
    val levels = Array(1000, 3000, 2000, 2000, 5000) // up, down, flat, up
    val rows = Seq(MediaRow(1L, "audio", stepWav(levels, 256), Map.empty)).toDS()
    val f = audioFrameFeatures(rows, windowSamples = 256).collect().head
    assert(f.nWindows == 5L)
    assert(f.windowRms.toSeq == levels.map(_.toDouble).toSeq) // exact, not approx
    val h = audioFrameFeatures(rows, windowSamples = 256).toDF()
      .select(energyHash64($"windowRms").as("eh"))
      .select($"eh.hi", $"eh.lo").as[(Long, Long)].collect().head
    // bits: w0 up (1), w1 down (0), w2 flat (0 — strict >), w3 up (1) -> lo = 0b1001
    assert(h == ((0L, 9L)))
    // short audio: no out-of-range bit ever set
    val one = Seq(MediaRow(2L, "audio", stepWav(Array(500), 256), Map.empty)).toDS()
    val h1 = audioFrameFeatures(one, windowSamples = 256).toDF()
      .select(energyHash64($"windowRms").as("eh"))
      .select($"eh.hi", $"eh.lo").as[(Long, Long)].collect().head
    assert(h1 == ((0L, 0L)))
  }

  test("mm7 fixture: audio groups pair through the hamming64 chassis, strangers don't (r14)") {
    import spark.implicits._
    val rows = (0L to 7L).map(d =>
      MediaRow(d, "audio", mm7FixtureWav(d), Map.empty)).toDS()
    val h = audioFrameFeatures(rows, windowSamples = 256).toDF()
      .select($"id", energyHash64($"windowRms").as("eh"))
      .select($"id", $"eh.hi".as("hi"), $"eh.lo".as("lo"))
    val pairs = graft.dedup.DedupOps.hamming64Pairs(h, "id", "hi", "lo")
      .as[(Long, Long, Long)].collect()
    assert(pairs.nonEmpty)
    assert(pairs.forall { case (a, b, _) => a / 4 == b / 4 }, pairs.mkString(","))
    // jitter is tiny relative to md5 level gaps: group pairs stay <= 3 bits
    assert(pairs.count { case (a, b, _) => a / 4 == b / 4 } >= 8)
  }

  test("pHashOf: bits match an independent-order 2D DCT with wide margins (r15)") {
    // the op folds x-then-y separably; the replica sums the FULL O(N^4)
    // double loop per coefficient in y-then-x order — agreement of every bit
    // plus a fat |coef - med| margin proves the bits are a property of the
    // spectrum, not of one float-summation order
    val rnd = new scala.util.Random(41)
    (0 until 3).foreach { trial =>
      val gray = Array.fill(1024)(rnd.nextInt(256))
      val (hi, lo) = pHashOf(gray)
      val b = dctBasis
      val f = Array.tabulate(64) { i =>
        val u = i / 8; val v = i % 8
        var acc = 0.0
        for (y <- 0 until 32; x <- 0 until 32)
          acc += b(u)(x) * b(v)(y) * gray(y * 32 + x)
        acc
      }
      val med = f.drop(1).sorted.apply(31)
      val margin = f.map(c => math.abs(c - med)).filter(_ > 0).min
      assert(margin > 1e-6, s"trial $trial: threshold margin too thin ($margin)")
      var whi = 0L; var wlo = 0L
      (0 until 64).foreach { i =>
        if (f(i) > med) { if (i < 32) wlo |= 1L << i else whi |= 1L << (i - 32) }
      }
      assert((hi, lo) == ((whi, wlo)), s"trial $trial: bits diverge")
      assert(hi >= 0L && lo >= 0L, "nonneg halves convention")
    }
  }

  test("imagePHashes: decode -> 32x32 raster -> pHash equals pHashOf on the raw grid (r15)") {
    import spark.implicits._
    val rnd = new scala.util.Random(43)
    val grids = (0L until 4L).map { id =>
      id -> Array.fill(1024)(rnd.nextInt(256))
    }
    val rows = grids.map { case (id, g) =>
      val img = new java.awt.image.BufferedImage(
        32, 32, java.awt.image.BufferedImage.TYPE_INT_RGB)
      g.zipWithIndex.foreach { case (v, p) =>
        img.setRGB(p % 32, p / 32, (v << 16) | (v << 8) | v) }
      MediaRow(id, "image", ImageCodec.encodePng(img), Map.empty)
    }.toDS()
    val got = imagePHashes(rows).as[(Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    grids.foreach { case (id, g) =>
      assert(got(id) == pHashOf(g), s"id $id")
    }
  }

  test("pHash robustness: small jitter moves pHash less than the strong jitter (mm4p fixture, r15)") {
    import spark.implicits._
    val rows = (0L to 7L).map(d =>
      MediaRow(d, "image", mm4pFixturePng(d), Map.empty)).toDS()
    val h = imagePHashes(rows).as[(Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    def dist(a: Long, b: Long): Int = {
      val (ah, al) = h(a); val (bh, bl) = h(b)
      java.lang.Long.bitCount(ah ^ bh) + java.lang.Long.bitCount(al ^ bl)
    }
    (0L to 4L by 4).foreach { g =>
      // weakest jitter stays within the wide radius; strongest lands beyond it
      assert(dist(g, g + 1) <= 7, s"g$g m1 ${dist(g, g + 1)}")
      assert(dist(g, g + 3) > dist(g, g + 1), s"g$g jitter ordering")
    }
    assert(dist(0L, 4L) > 7, s"cross-group ${dist(0L, 4L)}")
  }
}
