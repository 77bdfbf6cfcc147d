package graft.perfbench

import java.util.Random

/** Seeded input generators. The same seed gives the same inputs; the
  * program only ever sees what these return. */
object Gen {

  // ---- documents with a stated repeat share ---------------------------
  /** `texts` plus the share of their bytes that repeat earlier content
    * (whole-document copies and copied paragraphs). */
  final case class Docs(texts: Array[String], repeatShare: Double)

  private def words(r: Random, n: Int): Array[String] = Array.fill(n) {
    val len = 2 + r.nextInt(8)
    val cs = new Array[Char](len)
    var i = 0
    while (i < len) { cs(i) = ('a' + r.nextInt(26)).toChar; i += 1 }
    new String(cs)
  }

  /** ASCII documents of 3-8 paragraphs (40-80 words each). With
    * probability `wholeCopy` a document repeats an earlier one whole;
    * otherwise each paragraph repeats an earlier paragraph with
    * probability `paraCopy`. */
  def documents(seed: Long, n: Int, wholeCopy: Double, paraCopy: Double): Docs = {
    val r = new Random(seed)
    val vocab = words(r, 4000)
    val paras = scala.collection.mutable.ArrayBuffer.empty[String]
    val out = new Array[String](n)
    var repeated = 0L
    var total = 0L
    var d = 0
    while (d < n) {
      if (d > 0 && r.nextDouble() < wholeCopy) {
        out(d) = out(r.nextInt(d))
        repeated += out(d).length
      } else {
        val sb = new java.lang.StringBuilder
        val nPara = 3 + r.nextInt(6)
        var p = 0
        while (p < nPara) {
          if (paras.nonEmpty && r.nextDouble() < paraCopy) {
            val old = paras(r.nextInt(paras.size))
            repeated += old.length
            sb.append(old)
          } else {
            val pb = new java.lang.StringBuilder
            val nw = 40 + r.nextInt(41)
            var w = 0
            while (w < nw) {
              if (w > 0) pb.append(' ')
              pb.append(vocab(r.nextInt(vocab.length)))
              w += 1
            }
            pb.append(".\n")
            val fresh = pb.toString
            paras += fresh
            sb.append(fresh)
          }
          p += 1
        }
        out(d) = sb.toString
      }
      total += out(d).length
      d += 1
    }
    Docs(out, repeated.toDouble / math.max(1L, total))
  }

  // ---- clustered vectors ----------------------------------------------
  /** `n` vectors in two-level clusters: `clusters` topic centres, `subs`
    * sub-centres around each (Gaussian, scale `subSpread`), and each
    * vector a sub-centre plus Gaussian noise of scale `spread`. */
  def vectors(seed: Long, n: Int, clusters: Int, subs: Int, dim: Int,
              subSpread: Double, spread: Double): Array[Array[Float]] = {
    val r = new Random(seed)
    val centres = Array.fill(clusters)(Array.fill(dim)(r.nextGaussian()))
    val subCentres = Array.tabulate(clusters * subs) { i =>
      val c = centres(i / subs)
      Array.tabulate(dim)(d => c(d) + subSpread * r.nextGaussian())
    }
    Array.fill(n) {
      val c = subCentres(r.nextInt(subCentres.length))
      Array.tabulate(dim)(i => (c(i) + spread * r.nextGaussian()).toFloat)
    }
  }

  // ---- Zipf-skewed events, partly out of order ------------------------
  final case class Event(id: Long, tsUs: Long, user: Long, etype: String, value: Double)

  val EventTypes: Array[String] = Array("view", "click", "cart", "purchase")

  /** `n` events, event i stamped `t0Us + i * stepUs`. Users are drawn
    * from a Zipf(`zipfS`) law over `users` ids. A share `outOfOrder`
    * of events is stamped up to `maxDelayUs` earlier than its place in
    * the stream, so it can arrive after later events of its own user as
    * well as of others; with `maxDelayUs` under the watermark delay no
    * event arrives behind the watermark. */
  def events(seed: Long, n: Int, users: Int, zipfS: Double, outOfOrder: Double,
             maxDelayUs: Long, stepUs: Long, t0Us: Long): Array[Event] = {
    val r = new Random(seed)
    val cdf = new Array[Double](users)
    var acc = 0.0
    var k = 0
    while (k < users) { acc += 1.0 / math.pow(k + 1, zipfS); cdf(k) = acc; k += 1 }
    // rank -> user id: a seeded permutation, so heavy users are not the low ids
    val ids = Array.tabulate(users)(i => i.toLong + 1)
    var i = users - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = ids(i); ids(i) = ids(j); ids(j) = t
      i -= 1
    }
    Array.tabulate(n) { e =>
      val u = {
        val x = r.nextDouble() * acc
        val pos = java.util.Arrays.binarySearch(cdf, x)
        math.min(users - 1, if (pos >= 0) pos else -pos - 1)
      }
      val base = t0Us + e.toLong * stepUs
      val delay = if (r.nextDouble() < outOfOrder) (r.nextDouble() * maxDelayUs).toLong else 0L
      Event(e.toLong, base - delay, ids(u), EventTypes(r.nextInt(EventTypes.length)),
        math.round(r.nextDouble() * 10000.0) / 100.0)
    }
  }
}
