package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.DigestIndex

/** The five-stage Deduplicate stage's driver-side digest set: exact
  * membership through growth, and its memory budget taken from the
  * table it allocates. */
class DigestIndexSpec extends AnyFunSuite {

  private def digests(seed: Long, n: Int): Seq[Array[Byte]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(n) { val d = new Array[Byte](DigestIndex.DigestBytes); rnd.nextBytes(d); d }
  }

  test("membership: added digests are found, others are not, repeats add nothing") {
    val idx = DigestIndex.empty()
    val in = digests(1, 40)
    assert(in.forall(idx.add))
    assert(in.forall(d => idx.contains(d.clone)))
    assert(!in.exists(idx.add), "a repeated digest was added again")
    assert(!digests(2, 40).exists(idx.contains))
    // a digest differing from a member only in its last byte
    val near = in.head.clone
    near(31) = (near(31) ^ 1).toByte
    assert(!idx.contains(near))
    // the all-zero digest is a member like any other
    val zero = new Array[Byte](DigestIndex.DigestBytes)
    assert(!idx.contains(zero) && idx.add(zero) && idx.contains(zero) && !idx.add(zero))
    assert(idx.size == 41)
    intercept[IllegalArgumentException](idx.contains(new Array[Byte](20)))
  }

  test("growth past the initial capacity keeps every member and no other") {
    val idx = DigestIndex.empty()
    val in = digests(3, 100000)
    in.foreach(d => assert(idx.add(d)))
    assert(idx.size == in.size)
    assert(in.forall(idx.contains))
    assert(!digests(4, 10000).exists(idx.contains))
  }

  test("the backing table stays within 64 bytes per digest once it has grown") {
    val idx = DigestIndex.empty()
    val initial = idx.backingBytes
    var grown = false
    digests(5, 50000).zipWithIndex.foreach { case (d, i) =>
      idx.add(d)
      grown ||= idx.backingBytes > initial
      if (grown) assert(idx.backingBytes <= 64L * (i + 1),
        s"${idx.backingBytes} bytes for ${i + 1} digests")
    }
    assert(grown)
  }
}
