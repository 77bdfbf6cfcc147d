package graft.streaming

import java.nio.ByteBuffer

/** A set of SHA-256 digests held as raw bytes: the Deduplicate stage's
  * hashtable (BenSP `dedupdef.h`), kept on the driver across a
  * five-stage stream's triggers.
  *
  * One open-addressed table of `Long` words, four per slot (the
  * digest's 32 bytes, big-endian), with linear probing from the
  * digest's first word — SHA-256 output is uniform, so it needs no
  * further mixing. An all-zero slot is empty; the all-zero digest is
  * kept in a flag of its own. The table grows by half when it would
  * pass three-quarters full, so it stays between one-half and
  * three-quarters full: 32 bytes per slot make at most 64 bytes per
  * digest once the table has grown at least once ([[backingBytes]]). */
final class DigestIndex private (initialSlots: Int) {
  import DigestIndex.Words

  private var slots = initialSlots
  private var words = new Array[Long](slots * Words)
  private var used = 0
  private var hasZero = false

  def size: Int = used + (if (hasZero) 1 else 0)

  /** Bytes of the backing table.
    * Test seam: DigestIndexSpec checks the memory budget with it. */
  private[graft] def backingBytes: Long = words.length.toLong * 8L

  def contains(digest: Array[Byte]): Boolean = {
    val b = DigestIndex.wrap(digest)
    val (w0, w1, w2, w3) = (b.getLong(0), b.getLong(8), b.getLong(16), b.getLong(24))
    if ((w0 | w1 | w2 | w3) == 0L) hasZero else !empty(find(w0, w1, w2, w3))
  }

  /** Adds `digest`; true when it was not in the set yet. */
  def add(digest: Array[Byte]): Boolean = {
    val b = DigestIndex.wrap(digest)
    val (w0, w1, w2, w3) = (b.getLong(0), b.getLong(8), b.getLong(16), b.getLong(24))
    if ((w0 | w1 | w2 | w3) == 0L) { val added = !hasZero; hasZero = true; added }
    else if (!empty(find(w0, w1, w2, w3))) false
    else {
      if ((used + 1).toLong * 4 > slots.toLong * 3) grow()
      put(find(w0, w1, w2, w3), w0, w1, w2, w3)
      used += 1
      true
    }
  }

  private def empty(at: Int): Boolean =
    (words(at) | words(at + 1) | words(at + 2) | words(at + 3)) == 0L

  /** Word offset of the slot holding the digest, or of the empty slot
    * where its probe ends. */
  private def find(w0: Long, w1: Long, w2: Long, w3: Long): Int = {
    var slot = java.lang.Long.remainderUnsigned(w0, slots.toLong).toInt
    while (true) {
      val at = slot * Words
      if (empty(at) || (words(at) == w0 && words(at + 1) == w1 &&
          words(at + 2) == w2 && words(at + 3) == w3)) return at
      slot += 1
      if (slot == slots) slot = 0
    }
    -1
  }

  private def put(at: Int, w0: Long, w1: Long, w2: Long, w3: Long): Unit = {
    words(at) = w0; words(at + 1) = w1; words(at + 2) = w2; words(at + 3) = w3
  }

  private def grow(): Unit = {
    val old = words
    slots += slots / 2
    words = new Array[Long](slots * Words)
    var at = 0
    while (at < old.length) {
      val (w0, w1, w2, w3) = (old(at), old(at + 1), old(at + 2), old(at + 3))
      if ((w0 | w1 | w2 | w3) != 0L) put(find(w0, w1, w2, w3), w0, w1, w2, w3)
      at += Words
    }
  }
}

object DigestIndex {
  val DigestBytes = 32
  private val Words = DigestBytes / 8
  private val InitialSlots = 64

  def empty(): DigestIndex = new DigestIndex(InitialSlots)

  private def wrap(digest: Array[Byte]): ByteBuffer = {
    require(digest.length == DigestBytes,
      s"a digest is $DigestBytes bytes, not ${digest.length}")
    ByteBuffer.wrap(digest)
  }

  /** The one resident index: the store it belongs to and the last txn
    * it reflects. A single slot, so a store no longer written cannot
    * pin driver memory — the next store's index evicts it. */
  private final case class Resident(storeDir: String, txn: Long, index: DigestIndex)
  private var slot: Option[Resident] = None

  /** The resident index of `storeDir` if it reflects exactly the
    * transactions up to `txn`; the caller must not change it before
    * [[commit]]. */
  def resident(storeDir: String, txn: Long): Option[DigestIndex] = synchronized {
    slot.collect { case r if r.storeDir == storeDir && r.txn == txn => r.index }
  }

  /** Makes `index`, plus `added`, the resident index of `storeDir` as
    * of `txn` — called once `txn` is committed. */
  def commit(storeDir: String, txn: Long, index: DigestIndex, added: Seq[Array[Byte]]): Unit =
    synchronized {
      added.foreach(index.add)
      slot = Some(Resident(storeDir, txn, index))
    }
}
