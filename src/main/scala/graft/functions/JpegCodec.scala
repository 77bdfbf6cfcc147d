package graft.functions

/** Pure-JVM baseline sequential JPEG encoder/decoder — the
  * reference's actual input format (ferret ingests JPEG via libjpeg:
  * apps/ferret/src/image/image.c image_read_rgb → magick/libjpeg),
  * which previously had no counterpart here. Like [[ImageCodec]] and
  * [[WavCodec]], the payloads are synthesized but the FORMAT is real:
  * the encoder emits standards-conformant baseline JFIF streams
  * (SOI/APP0/DQT/SOF0/DHT/SOS/EOI, Annex K quantization + Huffman
  * tables, IJG quality scaling, 0xFF byte stuffing) and the decoder
  * is a genuine parser (marker walk, DQT/DHT table loads, canonical
  * Huffman decode, dequantize, de-zigzag, IDCT, level shift, YCbCr→
  * RGB) that fails malformed input with a diagnostic.
  *
  * Supported subset (what the encoder emits): baseline sequential
  * DCT, 8-bit, grayscale (1 component) or YCbCr (3 components, 4:4:4
  * or 4:2:0 chroma subsampling — libjpeg's two default layouts), no
  * restart intervals, no progressive/arithmetic coding. The decoder
  * handles per-component sampling factors in {1,2} (interleaved MCU
  * scan, replication chroma upsample — libjpeg's non-fancy mode) and
  * rejects everything else loudly rather than producing garbage.
  *
  * Color runs through INTEGER YCbCr samples (round + clamp to 0..255
  * before the DCT), exactly like libjpeg's 8-bit sample pipeline —
  * NOT full-precision doubles end to end. That choice is what makes
  * the cross-engine determinism anchors possible:
  *  - a GRAYSCALE image (identity transform) whose flat regions align
  *    to the 8×8 grid round-trips EXACTLY at quality 100 (flat block
  *    ⇒ DC-only; q100 luma quant is all 1s; IDCT of a DC-only block
  *    is constant to ~1e-13, and the sample is integer so rounding
  *    recovers it exactly) — mm_jpeg's value oracle;
  *  - a COLOR image flat per 8×8 block at q100 4:4:4 decodes to
  *    exactly `yccRoundtrip(r,g,b)` — the deterministic two-stage
  *    integer map (RGB → rounded YCbCr samples → rounded RGB) that a
  *    second engine can replicate with the same double arithmetic —
  *    mm_jpeg_color's and mm_segment's value oracles.
  */
object JpegCodec {

  // ---- constants (ITU-T T.81 Annex K — public standard tables) --------

  private val ZigZag: Array[Int] = Array(
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63)

  private val StdLumaQuant: Array[Int] = Array(
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99)

  private val StdChromaQuant: Array[Int] = Array(
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99)

  // Annex K Huffman specs: (bits per code length 1..16, symbol values)
  private val DcLumaBits = Array(0, 0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
  private val DcLumaVals = Array(0, 1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11)
  private val DcChromaBits = Array(0, 0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0)
  private val DcChromaVals = Array(0, 1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11)
  private val AcLumaBits = Array(0, 0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7d)
  private val AcLumaVals = Array(
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
    0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
    0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xa1, 0x08,
    0x23, 0x42, 0xb1, 0xc1, 0x15, 0x52, 0xd1, 0xf0,
    0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0a, 0x16,
    0x17, 0x18, 0x19, 0x1a, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2a, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
    0x3a, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
    0x4a, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5a, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
    0x6a, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7a, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8a, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
    0x99, 0x9a, 0xa2, 0xa3, 0xa4, 0xa5, 0xa6, 0xa7,
    0xa8, 0xa9, 0xaa, 0xb2, 0xb3, 0xb4, 0xb5, 0xb6,
    0xb7, 0xb8, 0xb9, 0xba, 0xc2, 0xc3, 0xc4, 0xc5,
    0xc6, 0xc7, 0xc8, 0xc9, 0xca, 0xd2, 0xd3, 0xd4,
    0xd5, 0xd6, 0xd7, 0xd8, 0xd9, 0xda, 0xe1, 0xe2,
    0xe3, 0xe4, 0xe5, 0xe6, 0xe7, 0xe8, 0xe9, 0xea,
    0xf1, 0xf2, 0xf3, 0xf4, 0xf5, 0xf6, 0xf7, 0xf8,
    0xf9, 0xfa)
  private val AcChromaBits = Array(0, 0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77)
  private val AcChromaVals = Array(
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
    0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
    0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xa1, 0xb1, 0xc1, 0x09, 0x23, 0x33, 0x52, 0xf0,
    0x15, 0x62, 0x72, 0xd1, 0x0a, 0x16, 0x24, 0x34,
    0xe1, 0x25, 0xf1, 0x17, 0x18, 0x19, 0x1a, 0x26,
    0x27, 0x28, 0x29, 0x2a, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3a, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
    0x49, 0x4a, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5a, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
    0x69, 0x6a, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
    0x79, 0x7a, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8a, 0x92, 0x93, 0x94, 0x95, 0x96,
    0x97, 0x98, 0x99, 0x9a, 0xa2, 0xa3, 0xa4, 0xa5,
    0xa6, 0xa7, 0xa8, 0xa9, 0xaa, 0xb2, 0xb3, 0xb4,
    0xb5, 0xb6, 0xb7, 0xb8, 0xb9, 0xba, 0xc2, 0xc3,
    0xc4, 0xc5, 0xc6, 0xc7, 0xc8, 0xc9, 0xca, 0xd2,
    0xd3, 0xd4, 0xd5, 0xd6, 0xd7, 0xd8, 0xd9, 0xda,
    0xe2, 0xe3, 0xe4, 0xe5, 0xe6, 0xe7, 0xe8, 0xe9,
    0xea, 0xf2, 0xf3, 0xf4, 0xf5, 0xf6, 0xf7, 0xf8,
    0xf9, 0xfa)

  /** IJG quality scaling (libjpeg jcparam.c semantics — public):
    * quality 1..100 → table scale factor; entries clamped to [1,255]. */
  private def scaledQuant(base: Array[Int], quality: Int): Array[Int] = {
    val q = math.max(1, math.min(100, quality))
    val scale = if (q < 50) 5000 / q else 200 - 2 * q
    base.map(v => math.max(1, math.min(255, (v * scale + 50) / 100)))
  }

  // ---- DCT (double precision, exact enough that flat blocks are
  //      bit-stable through quantize/round) --------------------------

  private val CosTable: Array[Double] = {
    val t = new Array[Double](64)
    for (u <- 0 until 8; x <- 0 until 8)
      t(u * 8 + x) = math.cos((2 * x + 1) * u * math.Pi / 16.0)
    t
  }
  private def cFac(u: Int): Double = if (u == 0) 1.0 / math.sqrt(2.0) else 1.0

  /** Forward 8×8 DCT of level-shifted samples. */
  private def fdct(in: Array[Double], out: Array[Double]): Unit = {
    var v = 0
    while (v < 8) {
      var u = 0
      while (u < 8) {
        var s = 0.0
        var y = 0
        while (y < 8) {
          var x = 0
          val cv = CosTable(v * 8 + y)
          while (x < 8) {
            s += in(y * 8 + x) * CosTable(u * 8 + x) * cv
            x += 1
          }
          y += 1
        }
        out(v * 8 + u) = 0.25 * cFac(u) * cFac(v) * s
        u += 1
      }
      v += 1
    }
  }

  /** Inverse 8×8 DCT. */
  private def idct(in: Array[Double], out: Array[Double]): Unit = {
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        var s = 0.0
        var v = 0
        while (v < 8) {
          var u = 0
          val cv = CosTable(v * 8 + y)
          while (u < 8) {
            s += cFac(u) * cFac(v) * in(v * 8 + u) * CosTable(u * 8 + x) * cv
            u += 1
          }
          v += 1
        }
        out(y * 8 + x) = 0.25 * s
        x += 1
      }
      y += 1
    }
  }

  // ---- bit I/O with 0xFF stuffing --------------------------------------

  private final class BitWriter(out: java.io.ByteArrayOutputStream) {
    private var acc = 0
    private var nbits = 0
    def put(bits: Int, n: Int): Unit = {
      var i = n - 1
      while (i >= 0) {
        acc = (acc << 1) | ((bits >>> i) & 1)
        nbits += 1
        if (nbits == 8) {
          out.write(acc & 0xff)
          if ((acc & 0xff) == 0xff) out.write(0x00) // byte stuffing
          acc = 0; nbits = 0
        }
        i -= 1
      }
    }
    def flush(): Unit = if (nbits > 0) { // pad with 1s (T.81 F.1.2.3)
      acc = (acc << (8 - nbits)) | ((1 << (8 - nbits)) - 1)
      out.write(acc & 0xff)
      if ((acc & 0xff) == 0xff) out.write(0x00)
      acc = 0; nbits = 0
    }
  }

  private final class BitReader(data: Array[Byte], var pos: Int) {
    private var acc = 0
    private var nbits = 0
    def bit(): Int = {
      if (nbits == 0) {
        require(pos < data.length, "JPEG: entropy data truncated")
        var b = data(pos) & 0xff
        pos += 1
        if (b == 0xff) {
          require(pos < data.length, "JPEG: entropy data truncated at FF")
          val m = data(pos) & 0xff
          if (m == 0x00) pos += 1 // stuffed byte
          else throw new IllegalArgumentException(
            f"JPEG: unexpected marker FF$m%02x inside entropy data (restart intervals unsupported)")
          b = 0xff
        }
        acc = b; nbits = 8
      }
      nbits -= 1
      (acc >>> nbits) & 1
    }
    def bits(n: Int): Int = {
      var v = 0
      var i = 0
      while (i < n) { v = (v << 1) | bit(); i += 1 }
      v
    }
  }

  // ---- Huffman tables --------------------------------------------------

  /** Canonical code assignment (T.81 C.2): codes of ascending length,
    * ascending symbol order within a length. */
  private final class HuffEncoder(bits: Array[Int], vals: Array[Int]) {
    val code = new Array[Int](256)
    val size = new Array[Int](256)
    locally {
      var c = 0
      var k = 0
      var l = 1
      while (l <= 16) {
        var i = 0
        while (i < bits(l)) {
          code(vals(k)) = c
          size(vals(k)) = l
          c += 1; k += 1; i += 1
        }
        c <<= 1
        l += 1
      }
    }
  }

  private final class HuffDecoder(bits: Array[Int], vals: Array[Int]) {
    // min/max code value and value-table offset per length
    private val minCode = new Array[Int](17)
    private val maxCode = new Array[Int](17)
    private val valPtr = new Array[Int](17)
    locally {
      var c = 0
      var k = 0
      var l = 1
      while (l <= 16) {
        if (bits(l) == 0) { maxCode(l) = -1 }
        else {
          valPtr(l) = k
          minCode(l) = c
          c += bits(l); k += bits(l)
          maxCode(l) = c - 1
        }
        c <<= 1
        l += 1
      }
    }
    def decode(r: BitReader): Int = {
      var c = r.bit()
      var l = 1
      while (l <= 16 && (maxCode(l) < 0 || c > maxCode(l))) {
        c = (c << 1) | r.bit()
        l += 1
      }
      require(l <= 16, "JPEG: invalid Huffman code")
      vals(valPtr(l) + c - minCode(l))
    }
  }

  /** Magnitude category (T.81 F.1.2.1). */
  private def category(v: Int): Int = {
    var a = math.abs(v)
    var n = 0
    while (a != 0) { a >>= 1; n += 1 }
    n
  }

  /** Sign-extend a `t`-bit magnitude value (T.81 F.2.2.1 EXTEND). */
  private def extend(v: Int, t: Int): Int =
    if (t == 0) 0 else if (v < (1 << (t - 1))) v - (1 << t) + 1 else v

  // ---- color transform (8-bit integer samples, libjpeg pipeline) -------

  private def clamp255(v: Long): Int = math.max(0L, math.min(255L, v)).toInt

  /** RGB → rounded 8-bit YCbCr samples (JFIF forward transform). */
  private[graft] def rgbToYcc(r: Int, g: Int, b: Int): (Int, Int, Int) = (
    clamp255(math.round(0.299 * r + 0.587 * g + 0.114 * b)),
    clamp255(math.round(-0.168736 * r - 0.331264 * g + 0.5 * b + 128.0)),
    clamp255(math.round(0.5 * r - 0.418688 * g - 0.081312 * b + 128.0)))

  /** Rounded 8-bit YCbCr samples → RGB (JFIF inverse transform). */
  private[graft] def yccToRgb(y: Int, cb: Int, cr: Int): (Int, Int, Int) = (
    clamp255(math.round(y + 1.402 * (cr - 128))),
    clamp255(math.round(y - 0.344136 * (cb - 128) - 0.714136 * (cr - 128))),
    clamp255(math.round(y + 1.772 * (cb - 128))))

  /** The deterministic color map a flat 8×8 block pays through a q100
    * 4:4:4 encode→decode (forward transform, lossless DCT round trip
    * on the integer samples, inverse transform). Plain double
    * arithmetic + round — a second engine replicates it exactly, which
    * is what the mm_jpeg_color / mm_segment value oracles do.
    * Differential anchor: JpegCodecSpec checks the decoder against it. */
  def yccRoundtrip(r: Int, g: Int, b: Int): (Int, Int, Int) = {
    val (y, cb, cr) = rgbToYcc(r, g, b)
    yccToRgb(y, cb, cr)
  }

  // ---- encoder ---------------------------------------------------------

  /** Encode top-down pixels as baseline JFIF. `gray` selects a
    * 1-component stream (input still RGB; R=G=B expected but only R
    * is read); otherwise YCbCr — 4:4:4 by default, or 4:2:0 (luma
    * 2×2 sampling, box-filter chroma downsample — libjpeg's default
    * color layout) when `chroma420` is set. */
  def encodeJpeg(img: ImageCodec.Image, quality: Int = 90,
                 gray: Boolean = false, chroma420: Boolean = false): Array[Byte] = {
    val w = img.width
    val h = img.height
    require(w > 0 && h > 0, s"JPEG encode: bad dims ${w}x$h")
    val lumaQ = scaledQuant(StdLumaQuant, quality)
    val chromaQ = scaledQuant(StdChromaQuant, quality)
    val nComp = if (gray) 1 else 3
    // per-component sampling factors (h, v)
    val sampH = if (gray) Array(1) else if (chroma420) Array(2, 1, 1) else Array(1, 1, 1)
    val sampV = sampH.clone()
    val maxH = sampH.max
    val maxV = sampV.max
    val out = new java.io.ByteArrayOutputStream()
    def u8(v: Int): Unit = out.write(v & 0xff)
    def u16(v: Int): Unit = { u8(v >>> 8); u8(v) }
    def marker(m: Int): Unit = { u8(0xff); u8(m) }

    marker(0xd8) // SOI
    // APP0 / JFIF
    marker(0xe0); u16(16)
    out.write(Array[Byte]('J', 'F', 'I', 'F', 0))
    u8(1); u8(1) // version 1.1
    u8(0); u16(1); u16(1) // aspect ratio 1:1, no density units
    u8(0); u8(0) // no thumbnail
    // DQT (table 0 = luma; table 1 = chroma when color)
    def dqt(id: Int, t: Array[Int]): Unit = {
      marker(0xdb); u16(2 + 1 + 64); u8(id)
      var i = 0
      while (i < 64) { u8(t(ZigZag(i))); i += 1 }
    }
    dqt(0, lumaQ)
    if (!gray) dqt(1, chromaQ)
    // SOF0
    marker(0xc0); u16(8 + 3 * nComp); u8(8); u16(h); u16(w); u8(nComp)
    var ci = 0
    while (ci < nComp) {
      u8(ci + 1) // component id
      u8((sampH(ci) << 4) | sampV(ci))
      u8(if (ci == 0) 0 else 1) // quant table
      ci += 1
    }
    // DHT
    def dht(cls: Int, id: Int, bits: Array[Int], vals: Array[Int]): Unit = {
      marker(0xc4); u16(2 + 1 + 16 + vals.length); u8((cls << 4) | id)
      var l = 1
      while (l <= 16) { u8(bits(l)); l += 1 }
      vals.foreach(u8)
    }
    dht(0, 0, DcLumaBits, DcLumaVals)
    dht(1, 0, AcLumaBits, AcLumaVals)
    if (!gray) {
      dht(0, 1, DcChromaBits, DcChromaVals)
      dht(1, 1, AcChromaBits, AcChromaVals)
    }
    // SOS
    marker(0xda); u16(6 + 2 * nComp); u8(nComp)
    ci = 0
    while (ci < nComp) {
      u8(ci + 1)
      u8(if (ci == 0) 0x00 else 0x11) // DC/AC table ids
      ci += 1
    }
    u8(0); u8(63); u8(0) // spectral selection (baseline fixed)

    // full-resolution INTEGER samples per component (libjpeg's 8-bit
    // sample pipeline: the color transform rounds BEFORE the DCT)
    val full = Array.fill(nComp)(new Array[Int](w * h))
    var p = 0
    while (p < w * h) {
      val r = img.rgb(3 * p) & 0xff
      val g = img.rgb(3 * p + 1) & 0xff
      val b = img.rgb(3 * p + 2) & 0xff
      if (gray) full(0)(p) = r
      else {
        val (yy, cb, cr) = rgbToYcc(r, g, b)
        full(0)(p) = yy; full(1)(p) = cb; full(2)(p) = cr
      }
      p += 1
    }

    val mcuCols = (w + 8 * maxH - 1) / (8 * maxH)
    val mcuRows = (h + 8 * maxV - 1) / (8 * maxV)
    // per-component planes: subsampled (box filter with edge clamp),
    // then edge-replicated out to the MCU-padded block grid
    val planes = new Array[Array[Int]](nComp)
    val planeW = new Array[Int](nComp)
    val planeH = new Array[Int](nComp)
    var c = 0
    while (c < nComp) {
      val cw = (w * sampH(c) + maxH - 1) / maxH
      val chh = (h * sampV(c) + maxV - 1) / maxV
      val pw = mcuCols * 8 * sampH(c)
      val ph = mcuRows * 8 * sampV(c)
      planeW(c) = pw; planeH(c) = ph
      val pl = new Array[Int](pw * ph)
      val fx = maxH / sampH(c) // downsample factor (1 or 2)
      val fy = maxV / sampV(c)
      var y = 0
      while (y < ph) {
        val sy = math.min(y, chh - 1)
        var x = 0
        while (x < pw) {
          val sx = math.min(x, cw - 1)
          if (fx == 1 && fy == 1) pl(y * pw + x) = full(c)(math.min(sy, h - 1) * w + math.min(sx, w - 1))
          else {
            // box average over the source window, clamped at edges
            var sum = 0L
            var n = 0
            var dy = 0
            while (dy < fy) {
              val yy = math.min(sy * fy + dy, h - 1)
              var dx = 0
              while (dx < fx) {
                val xx = math.min(sx * fx + dx, w - 1)
                sum += full(c)(yy * w + xx)
                n += 1
                dx += 1
              }
              dy += 1
            }
            pl(y * pw + x) = math.round(sum.toDouble / n).toInt
          }
          x += 1
        }
        y += 1
      }
      planes(c) = pl
      c += 1
    }

    val dcEnc = Array(new HuffEncoder(DcLumaBits, DcLumaVals),
      new HuffEncoder(DcChromaBits, DcChromaVals))
    val acEnc = Array(new HuffEncoder(AcLumaBits, AcLumaVals),
      new HuffEncoder(AcChromaBits, AcChromaVals))
    val bwr = new BitWriter(out)
    val blk = new Array[Double](64)
    val coef = new Array[Double](64)
    val quant = new Array[Int](64)
    val prevDc = new Array[Int](nComp)
    var my = 0
    while (my < mcuRows) {
      var mx = 0
      while (mx < mcuCols) {
        c = 0
        while (c < nComp) {
          val qt = if (c == 0) lumaQ else chromaQ
          val ti = if (c == 0) 0 else 1
          val pw = planeW(c)
          var vi = 0
          while (vi < sampV(c)) {
            var hi = 0
            while (hi < sampH(c)) {
              val bx0 = (mx * sampH(c) + hi) * 8
              val by0 = (my * sampV(c) + vi) * 8
              var i = 0
              while (i < 64) {
                blk(i) = planes(c)((by0 + i / 8) * pw + bx0 + i % 8) - 128.0
                i += 1
              }
              fdct(blk, coef)
              i = 0
              while (i < 64) {
                quant(i) = math.round(coef(ZigZag(i)) / qt(ZigZag(i))).toInt
                i += 1
              }
              // DC
              val diff = quant(0) - prevDc(c)
              prevDc(c) = quant(0)
              val t = category(diff)
              bwr.put(dcEnc(ti).code(t), dcEnc(ti).size(t))
              if (t > 0) bwr.put(if (diff < 0) diff + (1 << t) - 1 else diff, t)
              // AC: run-length of zeros + category
              var run = 0
              i = 1
              while (i < 64) {
                if (quant(i) == 0) run += 1
                else {
                  while (run > 15) { // ZRL
                    bwr.put(acEnc(ti).code(0xf0), acEnc(ti).size(0xf0))
                    run -= 16
                  }
                  val at = category(quant(i))
                  val sym = (run << 4) | at
                  bwr.put(acEnc(ti).code(sym), acEnc(ti).size(sym))
                  bwr.put(if (quant(i) < 0) quant(i) + (1 << at) - 1 else quant(i), at)
                  run = 0
                }
                i += 1
              }
              if (run > 0) bwr.put(acEnc(ti).code(0x00), acEnc(ti).size(0x00)) // EOB
              hi += 1
            }
            vi += 1
          }
          c += 1
        }
        mx += 1
      }
      my += 1
    }
    bwr.flush()
    marker(0xd9) // EOI
    out.toByteArray
  }

  // ---- decoder ---------------------------------------------------------

  /** Decode a baseline JPEG (the encoder's subset: 8-bit, 1 or 3
    * components, per-component sampling factors in {1,2} —
    * interleaved scan, replication chroma upsample — no restarts)
    * into top-down RGB. */
  def decodeJpeg(bytes: Array[Byte]): ImageCodec.Image = {
    require(bytes.length >= 4, s"truncated JPEG: ${bytes.length} bytes")
    require((bytes(0) & 0xff) == 0xff && (bytes(1) & 0xff) == 0xd8,
      "bad JPEG magic (no SOI)")
    var pos = 2
    def u8(): Int = { require(pos < bytes.length, "JPEG: truncated"); val v = bytes(pos) & 0xff; pos += 1; v }
    def u16(): Int = { val hi = u8(); (hi << 8) | u8() }

    val quantTables = new Array[Array[Int]](4)
    val dcTables = new Array[HuffDecoder](4)
    val acTables = new Array[HuffDecoder](4)
    var width = 0
    var height = 0
    var nComp = 0
    val compQuant = new Array[Int](3)
    val compDc = new Array[Int](3)
    val compAc = new Array[Int](3)
    val sampH = new Array[Int](3)
    val sampV = new Array[Int](3)
    var sosSeen = false

    while (!sosSeen) {
      var m = u8()
      require(m == 0xff, f"JPEG: expected marker, got $m%02x at ${pos - 1}")
      m = u8()
      m match {
        case 0xdb => // DQT (possibly several tables in one segment)
          var len = u16() - 2
          while (len > 0) {
            val pq = u8()
            require((pq >> 4) == 0, "JPEG: 16-bit quant tables unsupported")
            val id = pq & 0x0f
            require(id < 4, s"JPEG: bad DQT table id $id")
            val t = new Array[Int](64)
            var i = 0
            while (i < 64) { t(ZigZag(i)) = u8(); i += 1 }
            quantTables(id) = t
            len -= 65
          }
        case 0xc0 => // SOF0 baseline
          val len = u16()
          require(u8() == 8, "JPEG: only 8-bit precision supported")
          height = u16(); width = u16()
          nComp = u8()
          require(nComp == 1 || nComp == 3,
            s"JPEG: $nComp components unsupported (1 or 3)")
          require(len == 8 + 3 * nComp, "JPEG: bad SOF0 length")
          var i = 0
          while (i < nComp) {
            u8() // component id (positional mapping assumed, as emitted)
            val hv = u8()
            sampH(i) = hv >> 4
            sampV(i) = hv & 0x0f
            require(sampH(i) >= 1 && sampH(i) <= 2 && sampV(i) >= 1 && sampV(i) <= 2,
              f"JPEG: sampling $hv%02x unsupported (factors 1-2 only)")
            compQuant(i) = u8()
            require(compQuant(i) < 4, s"JPEG: bad SOF quant table id ${compQuant(i)}")
            i += 1
          }
        case 0xc4 => // DHT
          var len = u16() - 2
          while (len > 0) {
            val tc = u8()
            require((tc & 0x0f) < 4, s"JPEG: bad DHT table id ${tc & 0x0f}")
            val bits = new Array[Int](17)
            var total = 0
            var l = 1
            while (l <= 16) { bits(l) = u8(); total += bits(l); l += 1 }
            val vals = new Array[Int](total)
            var i = 0
            while (i < total) { vals(i) = u8(); i += 1 }
            val dec = new HuffDecoder(bits, vals)
            if ((tc >> 4) == 0) dcTables(tc & 0x0f) = dec
            else acTables(tc & 0x0f) = dec
            len -= 1 + 16 + total
          }
        case 0xda => // SOS
          u16()
          val ns = u8()
          require(ns == nComp, "JPEG: SOS component count mismatch")
          var i = 0
          while (i < ns) {
            u8()
            val tt = u8()
            compDc(i) = tt >> 4
            compAc(i) = tt & 0x0f
            require(compDc(i) < 4 && compAc(i) < 4,
              s"JPEG: bad SOS table ids ${compDc(i)}/${compAc(i)}")
            i += 1
          }
          u8(); u8(); u8() // spectral selection
          sosSeen = true
        case 0xc2 => throw new IllegalArgumentException(
          "JPEG: progressive DCT unsupported (baseline only)")
        case 0xdd => throw new IllegalArgumentException(
          "JPEG: restart intervals unsupported")
        case x if x >= 0xe0 && x <= 0xef => // APPn
          // NB: u16() advances pos, so it must be read into a local
          // BEFORE the +=: `pos += u16() - 2` snapshots the OLD pos
          val skipApp = u16() - 2
          require(skipApp >= 0 && pos + skipApp <= bytes.length,
            s"JPEG: bad APPn segment length ${skipApp + 2}")
          pos += skipApp
        case 0xfe => // COM
          val skipCom = u16() - 2
          require(skipCom >= 0 && pos + skipCom <= bytes.length,
            s"JPEG: bad COM segment length ${skipCom + 2}")
          pos += skipCom
        case x => throw new IllegalArgumentException(
          f"JPEG: unsupported marker FF$x%02x")
      }
    }
    require(width > 0 && height > 0, "JPEG: no SOF before SOS")
    // bound the padded-plane allocation BEFORE computing it: 2^26
    // samples (64 MiB of Int) is far beyond any payload here, and the
    // guard keeps a forged SOF from overflowing bw*8*bh*8 to a
    // negative/aliased Int allocation
    require(width.toLong * height <= (1L << 26),
      s"JPEG: dims ${width}x$height exceed supported size")
    val maxH = sampH.take(nComp).max
    val maxV = sampV.take(nComp).max
    val mcuCols = (width + 8 * maxH - 1) / (8 * maxH)
    val mcuRows = (height + 8 * maxV - 1) / (8 * maxV)

    // per-component 8-bit sample planes (rounded after the IDCT —
    // libjpeg's integer sample pipeline, and the determinism anchor
    // the oracles rely on)
    val planes = new Array[Array[Int]](nComp)
    val planeW = new Array[Int](nComp)
    var c = 0
    while (c < nComp) {
      planeW(c) = mcuCols * 8 * sampH(c)
      planes(c) = new Array[Int](planeW(c) * mcuRows * 8 * sampV(c))
      c += 1
    }
    val r = new BitReader(bytes, pos)
    val prevDc = new Array[Int](nComp)
    val coef = new Array[Double](64)
    val pix = new Array[Double](64)
    var my = 0
    while (my < mcuRows) {
      var mx = 0
      while (mx < mcuCols) {
        c = 0
        while (c < nComp) {
          val qt = quantTables(compQuant(c))
          require(qt != null, "JPEG: SOS before its DQT")
          val dcT = dcTables(compDc(c))
          val acT = acTables(compAc(c))
          require(dcT != null && acT != null, "JPEG: SOS before its DHT")
          var vi = 0
          while (vi < sampV(c)) {
            var hi = 0
            while (hi < sampH(c)) {
              java.util.Arrays.fill(coef, 0.0)
              val t = dcT.decode(r)
              prevDc(c) += extend(r.bits(t), t)
              coef(0) = prevDc(c).toDouble * qt(0)
              var k = 1
              while (k < 64) {
                val rs = acT.decode(r)
                val run = rs >> 4
                val sz = rs & 0x0f
                if (sz == 0) {
                  if (run == 15) k += 16 // ZRL
                  else k = 64 // EOB
                } else {
                  k += run
                  require(k < 64, "JPEG: AC coefficient index overflow")
                  coef(ZigZag(k)) = extend(r.bits(sz), sz).toDouble * qt(ZigZag(k))
                  k += 1
                }
              }
              idct(coef, pix)
              val pw = planeW(c)
              val bx0 = (mx * sampH(c) + hi) * 8
              val by0 = (my * sampV(c) + vi) * 8
              var i = 0
              while (i < 64) {
                planes(c)((by0 + i / 8) * pw + bx0 + i % 8) =
                  clamp255(math.round(pix(i) + 128.0))
                i += 1
              }
              hi += 1
            }
            vi += 1
          }
          c += 1
        }
        mx += 1
      }
      my += 1
    }

    val rgb = new Array[Byte](width * height * 3)
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) {
        val o = 3 * (y * width + x)
        if (nComp == 1) {
          val v = planes(0)((y * sampV(0) / maxV) * planeW(0) + x * sampH(0) / maxH).toByte
          rgb(o) = v; rgb(o + 1) = v; rgb(o + 2) = v
        } else {
          // replication upsample: each component sampled at its own
          // (possibly coarser) grid — libjpeg's non-fancy mode
          val yy = planes(0)((y * sampV(0) / maxV) * planeW(0) + x * sampH(0) / maxH)
          val cb = planes(1)((y * sampV(1) / maxV) * planeW(1) + x * sampH(1) / maxH)
          val cr = planes(2)((y * sampV(2) / maxV) * planeW(2) + x * sampH(2) / maxH)
          val (rr, gg, bb) = yccToRgb(yy, cb, cr)
          rgb(o) = rr.toByte; rgb(o + 1) = gg.toByte; rgb(o + 2) = bb.toByte
        }
        x += 1
      }
      y += 1
    }
    ImageCodec.Image(width, height, rgb)
  }
}
