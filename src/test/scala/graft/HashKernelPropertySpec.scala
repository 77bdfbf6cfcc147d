package graft

import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.HashKernels

/** Differential tests of the compiled kernels against straightforward
  * Scala reference implementations on seeded random inputs. */
class HashKernelPropertySpec extends AnyFunSuite {

  private val rng = new scala.util.Random(0xBEEF)
  private def randomSet(): Array[Long] =
    Array.fill(rng.nextInt(200))(rng.nextLong()).distinct

  test("jaccardLong matches Set-based Jaccard") {
    for (_ <- 0 until 300) {
      val a = randomSet(); val b = randomSet()
      val expected = {
        val sa = a.toSet; val sb = b.toSet
        val u = (sa ++ sb).size
        if (u == 0) 0.0 else sa.intersect(sb).size.toDouble / u
      }
      val got = HashKernels.jaccardLong(new GenericArrayData(a), new GenericArrayData(b))
      assert(got == expected)
    }
  }

  test("triCredits emits (u,k),(v,k) then one (w,1) per intersection element") {
    for (_ <- 0 until 300) {
      val pool = Array.fill(60)(rng.nextLong(1000)).distinct
      def draw() = pool.filter(_ => rng.nextBoolean()).sorted
      val a = draw(); val b = draw()
      val inter = a.toSet.intersect(b.toSet).toSeq.sorted
      val u = rng.nextLong(1000); val v = rng.nextLong(1000)
      val got = HashKernels.triCredits(
        new GenericArrayData(a), new GenericArrayData(b), u, v)
      val rows = (0 until got.numElements()).map { i =>
        val r = got.getStruct(i, 2); (r.getLong(0), r.getLong(1))
      }
      val k = inter.size.toLong
      assert(rows.take(2) == Seq((u, k), (v, k)))
      assert(rows.drop(2) == inter.map(w => (w, 1L)))
    }
  }

  test("minhashSig matches per-permutation min of XXH64") {
    for (_ <- 0 until 50) {
      val a = randomSet()
      val sig = HashKernels.minhashSig(new GenericArrayData(a), 32)
      for (p <- 0 until 32) {
        val expected =
          if (a.isEmpty) 0L else a.map(h => XXH64.hashLong(h, p.toLong)).min
        assert(sig.getLong(p) == expected)
      }
    }
  }

  test("simhash matches bit-vote reference") {
    def reference(a: Array[Long]): Long = {
      var out = 0L
      for (b <- 0 until 64) {
        val votes = a.map(h => if (((h >>> b) & 1L) == 1L) 1 else -1).sum
        if (votes > 0) out |= (1L << b)
      }
      out
    }
    for (_ <- 0 until 100) {
      val a = randomSet()
      assert(HashKernels.simhash(new GenericArrayData(a)) == reference(a))
    }
    // sizes straddling the SWAR lane-flush cadence (255-token lanes)
    for (n <- Seq(254, 255, 256, 510, 511, 1000)) {
      val a = Array.fill(n)(rng.nextLong())
      assert(HashKernels.simhash(new GenericArrayData(a)) == reference(a), s"n=$n")
    }
  }

  test("simhash of similar sets is close, dissimilar sets is far") {
    val base = Array.fill(300)(rng.nextLong()).distinct
    val similar = base.drop(5) ++ Array.fill(5)(rng.nextLong())
    val different = Array.fill(300)(rng.nextLong()).distinct
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val h0 = HashKernels.simhash(new GenericArrayData(base))
    assert(ham(h0, HashKernels.simhash(new GenericArrayData(similar))) <
      ham(h0, HashKernels.simhash(new GenericArrayData(different))))
  }
}
