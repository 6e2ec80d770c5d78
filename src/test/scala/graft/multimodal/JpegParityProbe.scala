package graft.multimodal

import MultimodalOps.ImageCodec

/** Dev probe: pixel-diff JpegCodec vs the javax decoder across geometries,
  * qualities, and content. `sbt "Test/runMain graft.multimodal.JpegParityProbe"`. */
object JpegParityProbe {
  def main(args: Array[String]): Unit = {
    var worst = 0
    var fails = 0
    for ((w, h) <- Seq((8, 8), (16, 16), (37, 23), (64, 48), (72, 64), (127, 85));
         q <- Seq(1.0f, 0.92f, 0.75f, 0.5f)) {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val rnd = new scala.util.Random(w * 1000 + h + (q * 100).toInt)
      for (y <- 0 until h; x <- 0 until w) {
        val smooth = (((x * 255) / math.max(w - 1, 1)) << 16) |
          (((y * 255) / math.max(h - 1, 1)) << 8) | ((x + y) % 256)
        val noisy = rnd.nextInt(1 << 24)
        img.setRGB(x, y, if ((x / 8 + y / 8) % 2 == 0) smooth else noisy)
      }
      val jpeg = ImageCodec.encodeJpeg(img, q)
      val ours = JpegCodec.tryDecodeUngated(jpeg)
      val ref = ImageCodec.tryDecodeJavax(jpeg).get
      if (ours.isEmpty) { println(f"$w%3dx$h%-3d q=$q%.2f DECLINED"); fails += 1 }
      else {
        val o = ours.get
        var maxd = 0; var ndiff = 0
        var firstDiff = ""
        for (y <- 0 until h; x <- 0 until w) {
          val a = o.getRGB(x, y); val b = ref.getRGB(x, y)
          if (a != b) {
            ndiff += 1
            val d = Seq(((a >> 16) & 0xff) - ((b >> 16) & 0xff),
              ((a >> 8) & 0xff) - ((b >> 8) & 0xff),
              (a & 0xff) - (b & 0xff)).map(math.abs).max
            if (d > maxd) { maxd = d
              if (firstDiff.isEmpty)
                firstDiff = f" first@($x,$y) ours=${a & 0xffffff}%06x ref=${b & 0xffffff}%06x" }
          }
        }
        if (ndiff > 0) fails += 1
        worst = math.max(worst, maxd)
        println(f"$w%3dx$h%-3d q=$q%.2f ndiff=$ndiff%6d maxdelta=$maxd$firstDiff")
      }
    }
    println(s"worst=$worst fails=$fails")
  }
}

/** sampling-shape + speed probe */
object JpegSpeedProbe {
  def main(args: Array[String]): Unit = {
    val img = new java.awt.image.BufferedImage(
      72, 64, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val rnd = new scala.util.Random(42)
    for (y <- 0 until 64; x <- 0 until 72)
      img.setRGB(x, y, if ((x / 8 + y / 8) % 2 == 0) (x * 3 << 16) | (y * 4 << 8) else rnd.nextInt(1 << 24))
    for (q <- Seq(1.0f, 0.75f)) {
      val jpeg = ImageCodec.encodeJpeg(img, q)
      // find SOF0 sampling byte
      var o = 2; var samp = "?"
      while (samp == "?" && o + 4 < jpeg.length) {
        val m = jpeg(o + 1) & 0xff
        if (m == 0xc0 || m == 0xc1) {
          val h1 = (jpeg(o + 11) & 0xff) >> 4; val v1 = jpeg(o + 11) & 0x0f
          samp = s"${h1}x$v1"
        } else o += 2 + (((jpeg(o + 2) & 0xff) << 8) | (jpeg(o + 3) & 0xff))
      }
      val n = 30000
      def time(f: => Unit): Double = {
        var i = 0; while (i < 3000) { f; i += 1 }
        val t0 = System.nanoTime(); i = 0
        while (i < n) { f; i += 1 }
        (System.nanoTime() - t0) / 1000.0 / n
      }
      val tOurs = time(JpegCodec.tryDecodeUngated(jpeg))
      val tJavax = time(ImageCodec.tryDecodeJpegReused(jpeg))
      println(f"q=$q%.2f bytes=${jpeg.length} luma-sampling=$samp ours=$tOurs%7.2f us reusedJavax=$tJavax%7.2f us (${tJavax / tOurs}%.2fx)")
    }
  }
}

/** mm5-class (flat-block, DC-only) decode speed */
object JpegFlatProbe {
  def main(args: Array[String]): Unit = {
    val frames = MultimodalOps.VideoCodec.frames(MultimodalOps.mm5FixtureVideo(7L))
    val jpeg = frames.head
    val ours = JpegCodec.tryDecodeUngated(jpeg).get
    val ref = ImageCodec.tryDecodeJavax(jpeg).get
    var diff = 0
    for (y <- 0 until 64; x <- 0 until 72)
      if (ours.getRGB(x, y) != ref.getRGB(x, y)) diff += 1
    val n = 60000
    def time(f: => Unit): Double = {
      var i = 0; while (i < 5000) { f; i += 1 }
      val t0 = System.nanoTime(); i = 0
      while (i < n) { f; i += 1 }
      (System.nanoTime() - t0) / 1000.0 / n
    }
    val tO = time(JpegCodec.tryDecodeUngated(jpeg))
    val tJ = time(ImageCodec.tryDecodeJpegReused(jpeg))
    println(f"flat frame bytes=${jpeg.length} diff=$diff ours=$tO%7.2f us reusedJavax=$tJ%7.2f us (${tJ / tO}%.2fx)")
  }
}

/** size-crossover probe: where does JNI libjpeg overtake the JVM decoder? */
object JpegCrossoverProbe {
  def main(args: Array[String]): Unit = {
    for ((w, h, n) <- Seq((72, 64, 30000), (128, 96, 10000), (256, 192, 3000),
                          (400, 300, 1500), (512, 384, 800))) {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val rnd = new scala.util.Random(9)
      for (y <- 0 until h; x <- 0 until w)
        img.setRGB(x, y, if ((x / 8 + y / 8) % 2 == 0)
          ((x * 255 / w) << 16) | ((y * 255 / h) << 8) else rnd.nextInt(1 << 24))
      val jpeg = ImageCodec.encodeJpeg(img, 0.85f)
      def time(f: => Unit): Double = {
        var i = 0; while (i < n / 10) { f; i += 1 }
        val t0 = System.nanoTime(); i = 0
        while (i < n) { f; i += 1 }
        (System.nanoTime() - t0) / 1000.0 / n
      }
      val tO = time(JpegCodec.tryDecodeUngated(jpeg))
      val tJ = time(ImageCodec.tryDecodeJpegReused(jpeg))
      println(f"$w%4dx$h%-4d (${w * h}%7d px, ${jpeg.length}%6d B) ours=$tO%8.1f us javax=$tJ%8.1f us (${tJ / tO}%.2fx)")
    }
  }
}

/** isolate stage costs: flat (no Huffman/IDCT work) vs noisy at same size */
object JpegStageProbe {
  def main(args: Array[String]): Unit = {
    for (flat <- Seq(true, false)) {
      val (w, h, n) = (256, 192, 4000)
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val rnd = new scala.util.Random(9)
      for (y <- 0 until h; x <- 0 until w) {
        val v = if (flat) (((x / 8) * 37 + (y / 8) * 91) % 256)
                else rnd.nextInt(256)
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      val jpeg = ImageCodec.encodeJpeg(img, if (flat) 1.0f else 0.85f)
      def time(f: => Unit): Double = {
        var i = 0; while (i < n / 10) { f; i += 1 }
        val t0 = System.nanoTime(); i = 0
        while (i < n) { f; i += 1 }
        (System.nanoTime() - t0) / 1000.0 / n
      }
      val tO = time(JpegCodec.tryDecodeUngated(jpeg))
      val tJ = time(ImageCodec.tryDecodeJpegReused(jpeg))
      println(f"${if (flat) "flat " else "noisy"} ${w}x$h ${jpeg.length}%6d B ours=$tO%8.1f javax=$tJ%8.1f (${tJ / tO}%.2fx)")
    }
  }
}
