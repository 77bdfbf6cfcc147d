package graft.functions

import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import java.util.zip.Deflater

/** Content-defined chunking + per-chunk compression.
  *
  * Spark-first re-expression of the reference Dedup pipeline's
  * Fragment/FragmentRefine/Deduplicate/Compress stages
  * (/root/reference/apps/dedup/src/encoder.c:999, :825, :587 and
  * rabin.c rolling-fingerprint segmentation): a Buzhash rolling hash
  * cuts chunk boundaries at content-determined positions, each chunk
  * gets a SHA-256 identity (the reference uses SHA1 per chunk,
  * dedupdef.h) and a Deflate-compressed size (the reference
  * compresses unique chunks with gzip/bzip2).
  *
  * One pass per document, embarrassingly parallel — the distributed
  * dedup (hash → first-writer-wins) happens declaratively on the
  * resulting chunk table, not here.
  */
object Chunker {

  case class Chunk(chunk_idx: Int, offset: Int, length: Int, chunk_sha: String)

  /** Buzhash substitution table — seeded, identical everywhere. */
  private val T: Array[Long] = {
    val r = new java.util.Random(0x42L)
    Array.fill(256)(r.nextLong())
  }

  private val Window = 16
  private def rotl(x: Long, n: Int): Long = java.lang.Long.rotateLeft(x, n)

  /** Chunk cut positions (exclusive end offsets) for `bytes`.
    *
    * The boundary rule is the classic CDC contract: a cut fires at the
    * first position where the chunk is ≥ `minSize` bytes AND the low
    * `maskBits` bits of the rolling hash over the trailing 16-byte
    * window are all ones, or unconditionally at `maxSize`. After each
    * cut the window restarts from the cut.
    *
    * Because the hash at a position ≥ `Window` bytes into a chunk
    * depends only on the trailing `Window` bytes, and no boundary is
    * tested before `minSize`, the loop skips straight to
    * `minSize - Window` bytes past each cut and warms the window from
    * there — identical cuts, ~`(minSize-Window)/meanChunk` of the
    * hashing work saved (half, at the storage params min 2 KiB /
    * mean 4 KiB). When `minSize ≤ Window` it degrades to rolling from
    * the chunk start, which is the same computation unskipped.
    */
  def boundaries(bytes: Array[Byte], minSize: Int, maxSize: Int,
                 maskBits: Int): Array[Int] =
    boundaries(bytes, bytes.length, minSize, maxSize, maskBits)

  /** Same cuts over `bytes(0 until n)` — the length-bounded form lets
    * a scan task reuse ONE buffer across files instead of allocating
    * a fresh multi-MB array per file (each of which is a G1 humongous
    * allocation at the default region size). */
  def boundaries(bytes: Array[Byte], n: Int, minSize: Int, maxSize: Int,
                 maskBits: Int): Array[Int] = {
    val mask = (1L << maskBits) - 1
    val out = new scala.collection.mutable.ArrayBuilder.ofInt
    var start = 0
    while (start < n) {
      // forced cut / tail (overflow-safe for maxSize near Int.MaxValue)
      val hardEnd = if (maxSize >= n - start) n else start + maxSize
      val iFirst = start + minSize - 1           // earliest testable cut
      var cut = hardEnd
      if (iFirst < hardEnd) {
        val j0 = math.max(start, iFirst - Window + 1)
        var h = 0L
        var i = j0
        var found = false
        while (i < hardEnd && !found) {
          h = rotl(h, 1) ^ T(bytes(i) & 0xff)
          if (i - j0 >= Window) h ^= rotl(T(bytes(i - Window) & 0xff), Window)
          if (i >= iFirst && (h & mask) == mask) { cut = i + 1; found = true }
          i += 1
        }
      }
      out += cut
      start = cut
    }
    out.result()
  }

  // ---- Rabin polynomial anchors (the reference's own fingerprint) ----
  //
  // rabin.c:45 rabininit/rabinseg semantics (Plan 9-derived public
  // code): a 32-bit GF(2) polynomial rolling fingerprint over a
  // 32-byte window — h' = (h·x^8 + b) mod m with the overflowing top
  // byte folded through a 256-entry reduction table, m the monic
  // degree-32 polynomial x^32 ⊕ RabinIrr — boundary where
  // (h & mask) == 0, fresh h per chunk. Differences from Buzhash:
  // polynomial arithmetic vs rotate-XOR, ==0 anchor vs ==mask, and
  // the reference's constants, so boundaries can be compared
  // head-to-head with the binary's .ddp segmentation.
  private[graft] val RabinIrr = 0x45c2b6a1
  private[graft] val RabinWindow = 32

  /** tab(b) = b·x^32 mod m — folds the byte shifted out of the top. */
  private[graft] val rabinTab: Array[Int] = Array.tabulate(256) { b =>
    var v = b
    var i = 0
    while (i < 32) {
      v = if ((v >>> 31) != 0) (v << 1) ^ RabinIrr else v << 1
      i += 1
    }
    v
  }

  /** winTab(b) = b·x^(8·RabinWindow) mod m — removes the byte leaving
    * the window (it was multiplied by x^8 at each of the Window
    * iterations since it entered). */
  private[graft] val rabinWinTab: Array[Int] = Array.tabulate(256) { b =>
    var h = ((0 << 8) | b) ^ rabinTab(0)
    var i = 1
    while (i < RabinWindow) {
      h = (h << 8) ^ rabinTab(h >>> 24)
      i += 1
    }
    h
  }

  /** Iterated fingerprint of a whole array from a fresh state.
    * Test seam: ChunkerPropertySpec checks it against a GF(2) long
    * division. */
  private[graft] def rabinFp(bytes: Array[Byte]): Int = {
    var h = 0
    var i = 0
    while (i < bytes.length) {
      h = ((h << 8) | (bytes(i) & 0xff)) ^ rabinTab(h >>> 24)
      i += 1
    }
    h
  }

  /** Rabin-anchored cut positions under the same (min, max, maskBits)
    * knobs as [[boundaries]]. With minSize ≤ 32 and a large maxSize
    * this reproduces iterated rabinseg exactly (rabin.c:71: no test
    * before the 32-byte window fills — the effective minimum chunk);
    * the same skip-ahead applies since the fingerprint depends only
    * on the trailing 32 bytes. */
  def rabinBoundaries(bytes: Array[Byte], minSize: Int, maxSize: Int,
                      maskBits: Int): Array[Int] =
    rabinBoundaries(bytes, bytes.length, minSize, maxSize, maskBits)

  /** Length-bounded form — see [[boundaries(bytes:Array[Byte],n:Int*]]. */
  def rabinBoundaries(bytes: Array[Byte], n: Int, minSize: Int, maxSize: Int,
                      maskBits: Int): Array[Int] = {
    val mask = (1 << maskBits) - 1
    val out = new scala.collection.mutable.ArrayBuilder.ofInt
    var start = 0
    while (start < n) {
      val hardEnd = if (maxSize >= n - start) n else start + maxSize
      val eFirst = start + math.max(minSize, RabinWindow) // earliest cut end
      var cut = hardEnd
      if (eFirst < hardEnd) { // a test position exists before the forced cut
        var h = 0
        var k = eFirst - RabinWindow
        while (k < eFirst) { // fill the initial window
          h = ((h << 8) | (bytes(k) & 0xff)) ^ rabinTab(h >>> 24)
          k += 1
        }
        if ((h & mask) == 0) cut = eFirst
        else {
          var i = eFirst
          var found = false
          while (i < hardEnd && !found) {
            h ^= rabinWinTab(bytes(i - RabinWindow) & 0xff)
            val x = h >>> 24
            h = ((h << 8) | (bytes(i) & 0xff)) ^ rabinTab(x)
            i += 1
            if ((h & mask) == 0) { cut = i; found = true }
          }
        }
      }
      out += cut
      start = cut
    }
    out.result()
  }

  /** Anchor menu: `buzhash` (repo default) or `rabin` (the
    * reference's fingerprint, for boundary-level comparability). */
  val Anchors: Set[String] = Set("buzhash", "rabin")

  def boundaries(bytes: Array[Byte], minSize: Int, maxSize: Int,
                 maskBits: Int, anchor: String): Array[Int] =
    boundaries(bytes, bytes.length, minSize, maxSize, maskBits, anchor)

  def boundaries(bytes: Array[Byte], n: Int, minSize: Int, maxSize: Int,
                 maskBits: Int, anchor: String): Array[Int] = anchor match {
    case "buzhash" => boundaries(bytes, n, minSize, maxSize, maskBits)
    case "rabin"   => rabinBoundaries(bytes, n, minSize, maxSize, maskBits)
    case a => throw new IllegalArgumentException(
      s"unknown anchor '$a' (expected one of ${Anchors.mkString("/")})")
  }

  /** Cut `bytes` into content-defined chunks.
    *
    * @param minSize  no boundary before this many bytes in a chunk
    * @param maxSize  force a boundary at this size
    * @param maskBits boundary when low `maskBits` bits of the rolling
    *                 hash are all ones → expected chunk ≈ 2^maskBits
    */
  def chunk(bytes: Array[Byte], minSize: Int = 32, maxSize: Int = 256,
            maskBits: Int = 6, anchor: String = "buzhash"): Seq[Chunk] = {
    val cuts = boundaries(bytes, minSize, maxSize, maskBits, anchor)
    val out = Vector.newBuilder[Chunk]
    var start = 0
    var idx = 0
    while (idx < cuts.length) {
      val end = cuts(idx)
      out += mkChunk(bytes, idx, start, end - start)
      start = end; idx += 1
    }
    out.result()
  }

  /** Test seam: DedupSpec checks the chunker's CDC properties on text. */
  def chunkText(text: String): Seq[Chunk] =
    chunk(text.getBytes(StandardCharsets.UTF_8))

  private def mkChunk(bytes: Array[Byte], idx: Int, off: Int, len: Int): Chunk =
    Chunk(idx, off, len, sha256Hex(bytes, off, len))

  private val HexDigits = "0123456789abcdef".toCharArray

  /** Lowercase hex of a digest — table lookup, not per-byte
    * String.format (which costs ~2 µs/byte and dominated the r9
    * chunk-identity path at 5M+ formats per RefCompare pass). */
  def hex(bytes: Array[Byte]): String = {
    val cs = new Array[Char](bytes.length * 2)
    var i = 0
    while (i < bytes.length) {
      val b = bytes(i) & 0xff
      cs(2 * i) = HexDigits(b >>> 4)
      cs(2 * i + 1) = HexDigits(b & 0xf)
      i += 1
    }
    new String(cs)
  }

  /** Raw digest bytes of a range under `algo` (e.g. "SHA-1",
    * "SHA-256"). The 20-byte SHA-1 identity is what the reference's
    * Deduplicate stage keys on (dedupdef.h); binary digests keep the
    * shuffle/archive rows 3.2× narrower than hex strings. */
  def digest(bytes: Array[Byte], off: Int, len: Int, algo: String): Array[Byte] = {
    val md = MessageDigest.getInstance(algo)
    md.update(bytes, off, len)
    md.digest()
  }

  def sha256Hex(bytes: Array[Byte], off: Int, len: Int): String =
    hex(digest(bytes, off, len, "SHA-256"))

  private val HexDigitsUpper = "0123456789ABCDEF".getBytes(StandardCharsets.US_ASCII)

  /** SHA-256 (lowercase hex) of the UPPERCASE-hex ASCII encoding of a
    * byte range — the cross-engine digest for BINARY content: DuckDB
    * 1.0's sha256() is VARCHAR-only, but its hex(blob) output agrees
    * byte-for-byte with this encoding, so both engines hash the same
    * string (hex is injective, so equality ⇔ byte equality). Computed
    * here, inside the chunking pass, so no operator ever has to carry
    * whole-file blobs alongside exploded chunk rows to re-slice them. */
  def hexSha256(bytes: Array[Byte], off: Int, len: Int): String = {
    val ascii = new Array[Byte](2 * len)
    var i = 0
    while (i < len) {
      val b = bytes(off + i) & 0xff
      ascii(2 * i) = HexDigitsUpper(b >>> 4)
      ascii(2 * i + 1) = HexDigitsUpper(b & 0xf)
      i += 1
    }
    hex(digest(ascii, 0, ascii.length, "SHA-256"))
  }

  /** Deflate-compressed size of a byte range (level 6, zlib-wrapped —
    * mirrors the reference's per-chunk gzip of unique chunks). */
  def deflatedLen(bytes: Array[Byte], off: Int, len: Int): Int = {
    val d = new Deflater(Deflater.DEFAULT_COMPRESSION)
    d.setInput(bytes, off, len)
    d.finish()
    val buf = new Array[Byte](len + 64)
    var total = 0
    while (!d.finished()) total += d.deflate(buf)
    d.end()
    total
  }

  /** Deflate-compressed BYTES of a range (same codec/level as
    * [[deflatedLen]]) — for consumers that write a real archive
    * (RefCompare's head-to-head vs the reference binary), not just
    * account for the size. */
  def deflate(bytes: Array[Byte], off: Int, len: Int): Array[Byte] = {
    val d = new Deflater(Deflater.DEFAULT_COMPRESSION)
    d.setInput(bytes, off, len)
    d.finish()
    val out = new java.io.ByteArrayOutputStream(math.max(64, len / 2))
    val buf = new Array[Byte](8192)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    out.toByteArray
  }

  /** Inverse of [[deflate]] — the archive restore path. */
  def inflate(bytes: Array[Byte]): Array[Byte] = {
    val inf = new java.util.zip.Inflater()
    inf.setInput(bytes)
    val out = new java.io.ByteArrayOutputStream(math.max(64, bytes.length * 3))
    val buf = new Array[Byte](8192)
    while (!inf.finished()) {
      val n = inf.inflate(buf)
      // a call can return 0 AND finish (empty payload: header+trailer
      // consumed in one step) — only 0-progress while still unfinished
      // and starved of input means truncation
      if (n == 0 && !inf.finished() && inf.needsInput())
        throw new IllegalStateException("inflate: truncated deflate stream")
      out.write(buf, 0, n)
    }
    inf.end()
    out.toByteArray
  }

  /** Gzip-framed size (10-byte header + deflate stream + 8-byte
    * trailer), via a counting sink — no payload buffering. */
  def gzipLen(bytes: Array[Byte], off: Int, len: Int): Int = {
    val counter = new java.io.OutputStream {
      var n = 0
      override def write(b: Int): Unit = n += 1
      override def write(b: Array[Byte], o: Int, l: Int): Unit = n += l
    }
    val gz = new java.util.zip.GZIPOutputStream(counter)
    gz.write(bytes, off, len)
    gz.close()
    counter.n
  }

  /** Bzip2-framed size via commons-compress (on the Spark classpath)
    * through the same counting sink as gzip — completes the
    * reference's codec menu (encoder.c:587 selects gzip OR bzip2 at
    * runtime). Block size 1 (100 kB): chunks are ≤ a few hundred
    * bytes, so larger blocks only waste allocation. */
  def bzip2Len(bytes: Array[Byte], off: Int, len: Int): Int = {
    val counter = new java.io.OutputStream {
      var n = 0
      override def write(b: Int): Unit = n += 1
      override def write(b: Array[Byte], o: Int, l: Int): Unit = n += l
    }
    val bz = new org.apache.commons.compress.compressors.bzip2
      .BZip2CompressorOutputStream(counter, 1)
    bz.write(bytes, off, len)
    bz.close()
    counter.n
  }

  /** Codecs the reference's Compress stage selects among
    * (encoder.c:587 COMPRESS_GZIP / COMPRESS_BZIP2 / COMPRESS_NONE;
    * deflate is gzip's stream without the framing). */
  val Codecs: Set[String] = Set("none", "deflate", "gzip", "bzip2")

  def compressedLen(bytes: Array[Byte], off: Int, len: Int, codec: String): Int =
    codec match {
      case "deflate" => deflatedLen(bytes, off, len)
      case "gzip"    => gzipLen(bytes, off, len)
      case "bzip2"   => bzip2Len(bytes, off, len)
      case "none"    => len
      case c => throw new IllegalArgumentException(
        s"unknown codec '$c' (expected one of ${Codecs.mkString("/")})")
    }
}
