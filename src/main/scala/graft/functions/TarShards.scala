package graft.functions

/** Minimal deterministic POSIX-ustar writer/reader for WebDataset-
  * style training shards (one `{doc_id}.txt` member per document,
  * 512-byte headers, zero mtime, two zero trailer blocks). The
  * layout arithmetic is fixed — member cost 512 + ⌈size/512⌉·512,
  * archive cost Σmembers + 1024 — so the total byte size is exactly
  * computable relationally, which is what lets shard_tar's oracle
  * verify the on-disk format cross-engine without building tars in
  * SQL. Fidelity of the actual bytes (round-trip payloads, header
  * checksums, member order) is pinned by SamplingSpec's read-back.
  */
object TarShards {

  /** `len`-byte zero-padded octal field, space-terminated (POSIX allows space or NUL). */
  private def octal(v: Long, len: Int): Array[Byte] = {
    val s = java.lang.Long.toOctalString(v)
    require(s.length <= len - 1,
      s"tar numeric field overflow: $v needs ${s.length} octal digits, field holds ${len - 1}")
    ("0" * (len - 1 - s.length) + s + " ").getBytes("US-ASCII")
  }

  private def header(name: String, size: Long): Array[Byte] = {
    val h = new Array[Byte](512)
    val nb = name.getBytes("US-ASCII")
    require(nb.length <= 100, s"tar member name too long: $name")
    System.arraycopy(nb, 0, h, 0, nb.length)
    System.arraycopy(octal(420, 8), 0, h, 100, 8) // mode 0644
    System.arraycopy(octal(0, 8), 0, h, 108, 8) // uid
    System.arraycopy(octal(0, 8), 0, h, 116, 8) // gid
    System.arraycopy(octal(size, 12), 0, h, 124, 12)
    System.arraycopy(octal(0, 12), 0, h, 136, 12) // mtime 0: determinism
    java.util.Arrays.fill(h, 148, 156, ' '.toByte) // chksum as spaces
    h(156) = '0' // regular file
    System.arraycopy("ustar".getBytes("US-ASCII"), 0, h, 257, 5)
    // h(262) stays NUL (POSIX magic terminator); version "00"
    h(263) = '0'.toByte; h(264) = '0'.toByte
    val sum = h.map(_ & 0xff).sum.toLong
    System.arraycopy(octal(sum, 7), 0, h, 148, 7)
    h(155) = ' '.toByte
    h
  }

  /** Serialize members (name → payload) in the given order. */
  def archive(entries: Seq[(String, Array[Byte])]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    entries.foreach { case (name, data) =>
      bos.write(header(name, data.length.toLong))
      bos.write(data)
      bos.write(new Array[Byte]((512 - data.length % 512) % 512))
    }
    bos.write(new Array[Byte](1024))
    bos.toByteArray
  }

  /** Parse an archive back to (name, payload) in member order,
    * VALIDATING each header checksum — a corrupted write fails here,
    * not downstream in a training loader. */
  def parse(bytes: Array[Byte]): Seq[(String, Array[Byte])] = {
    val out = Seq.newBuilder[(String, Array[Byte])]
    var off = 0
    while (off + 512 <= bytes.length && bytes(off) != 0) {
      val h = java.util.Arrays.copyOfRange(bytes, off, off + 512)
      val stored = new String(h, 148, 6, "US-ASCII")
      java.util.Arrays.fill(h, 148, 156, ' '.toByte)
      val sum = h.map(_ & 0xff).sum.toLong
      require(java.lang.Long.parseLong(stored, 8) == sum,
        s"tar header checksum mismatch at offset $off")
      val name = new String(bytes, off, 100, "US-ASCII").takeWhile(_ != 0)
      // size stays Long until both bounds hold: the octal field admits
      // 8 GiB (> Int.MaxValue), and copyOfRange silently ZERO-PADS past
      // bytes.length — a truncated shard must be a hard parse error,
      // never silently zero-filled text
      val size = java.lang.Long.parseLong(
        new String(bytes, off + 124, 11, "US-ASCII"), 8)
      require(size <= Int.MaxValue - 512L,
        s"tar member '$name' size $size exceeds the supported 2 GiB")
      require(off + 512L + size <= bytes.length,
        s"truncated tar: member '$name' needs ${off + 512L + size} bytes, archive has ${bytes.length}")
      out += ((name,
        java.util.Arrays.copyOfRange(bytes, off + 512, off + 512 + size.toInt)))
      off += 512 + ((size.toInt + 511) / 512) * 512
    }
    out.result()
  }
}
