package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Head-to-head harness against the reference's ferret similarity
  * pipeline (apps/ferret — PARSEC ferret under the BenSP harness,
  * benchmark/ferret-pthreads.c): LOAD → SEG → EXTRACT → VEC (LSH
  * probe) → RANK (EMD re-rank) → OUT over a directory of query JPEGs
  * against a pre-built image database.
  *
  * Two subcommands:
  *
  * `corpus <outBase> <nDb> <nQuery>` — writes a deterministic JPEG
  * image corpus: `db/` (the database images the binary imports via
  * its own cass_img_extract + an LSH index build, and graft segments
  * once, untimed) and `queries/` (the timed query set; query i is
  * db image i byte-for-byte, so a correct engine ranks its twin
  * first — a free cross-engine sanity anchor). Band-structured
  * images (2-7 vertical bands + per-block noise) in the reference
  * corpus's size class, so SRM segmentation has real work per image.
  *
  * `run <dbDir> <queryDir> <topK> <passes> [outDir]` — the graft
  * side, measured EXACTLY like the binary measures itself
  * (ferret-pthreads.c:978 "QUERY TIME" — stimer ticks AFTER the
  * database tables are loaded): the database build (decode + SRM
  * segment + extract + LSH bucket table, the analog of the binary's
  * offline mkdb import which is not part of its query_time either)
  * is materialized untimed; each timed pass then runs the full
  * query-side pipeline — read query files, decode, segment, extract
  * (t_seg/t_extract = Srm.segmentAndDescribe, srm.c:251 +
  * extract.c:261), per-region LSH multiprobe and 2K over-fetch by
  * exact L2 (t_vec, LSH_query.c), the per-query merge of the region
  * lists (cass_result_merge_lists, ferret-pthreads.c:646), exact
  * weighted-EMD re-rank of the merged list (t_rank, emd.c:104)
  * — and reports per-pass wall seconds. Pass 1 is cold (codegen +
  * classloading); the median of the warm passes is the headline,
  * mirroring REFBENCH.md's dedup protocol.
  *
  * The last pass also writes `topk/` (query_img, cand_img, emd,
  * rank) so the binary's output.txt can be compared for top-K
  * overlap, not just throughput.
  */
/** The resident db REGION table behind [[FerretProbeRankSet]]: one
  * entry per db region, globally id'd in (img, ridx) order, plus the LSH
  * postings keyed (tbl<<32 | bucket) pointing at region ids. Region
  * vectors are stored ONCE (6-7 MB at 57k regions) and postings
  * reference them by int id, so table count never multiplies the
  * vector storage — the same layout the binary's LSH keeps (bucket →
  * pointer into the raw feature table). */
case class FerretRegionIndex(
    img: Array[org.apache.spark.unsafe.types.UTF8String],
    ridx: Array[Int],
    vecs: Array[Array[Double]],
    postings: Map[Long, Array[Int]])

/** Fused per-region probe+rank kernel — the binary's t_vec stage as
  * ONE expression eval (LSH_query.c:281 LSH_query_probe → distance
  * on collision candidates → per-region 2K cut): z-score the raw
  * region descriptor, enumerate the T multiprobe buckets per table
  * ([[graft.functions.LshProbeKernel]] — identical planes/order to
  * the declarative path), walk the resident postings, dedup
  * candidate regions across tables/probes (stamped bitmap, no
  * per-eval allocation), compute exact L2 on the RAW descriptors,
  * and keep the `depth` nearest by (d2, img, ridx) — returning their
  * image names for the downstream per-query merge
  * (cass_result_merge_lists). The r13 declarative multiprobe path
  * paid the 21× probe fan-out through a Generate + distinct + two
  * joins + a rank window per pass; this collapses all of it into the
  * segmentation stage's map tasks, which is what makes the
  * truth-adjudicated (T=20, dist-ranked) family cheap enough to BE
  * the default.
  *
  * Differential anchor: RefFerretKernelSpec — no main runs it; it is
  * the per-region reference that [[FerretProbeRankSet]] is folded
  * against. */
case class FerretProbeRank(child: org.apache.spark.sql.catalyst.expressions.Expression,
    index: org.apache.spark.broadcast.Broadcast[FerretRegionIndex],
    mu: Array[Double], sd: Array[Double], seed: Long, nTables: Int,
    bits: Int, dim: Int, nProbes: Int, depth: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  import org.apache.spark.sql.types._
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_ferret_probe_rank"

  // candidate-dedup stamps, reused across evals per task thread (a
  // fresh bitmap per region eval would churn ~230 KB each)
  @transient private lazy val seenTL =
    new ThreadLocal[(Array[Int], Array[Int])] {
      override def initialValue(): (Array[Int], Array[Int]) =
        (new Array[Int](index.value.vecs.length), Array(0))
    }

  override protected def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val (stamps, genHolder) = seenTL.get()
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      FerretProbeCore.rankRegion(v, index.value, mu, sd, seed, nTables,
        bits, dim, nProbes, depth, stamps, genHolder))
  }

  override protected def withNewChildInternal(
      c: org.apache.spark.sql.catalyst.expressions.Expression): org.apache.spark.sql.catalyst.expressions.Expression =
    copy(child = c)
}

/** The per-region probe+rank core shared by [[FerretProbeRank]] (one
  * region per eval, the r14 kernel) and [[FerretProbeRankSet]] (whole
  * vecset per eval, r16) — extracted verbatim so the two cannot
  * drift; RefFerretKernelSpec pins both against an independent
  * reimplementation and a declarative twin. */
private[graft] object FerretProbeCore {
  def rankRegion(v: org.apache.spark.sql.catalyst.util.ArrayData,
                 idx: FerretRegionIndex,
                 mu: Array[Double], sd: Array[Double], seed: Long,
                 nTables: Int, bits: Int, dim: Int, nProbes: Int, depth: Int,
                 stamps: Array[Int], genHolder: Array[Int]): Array[Any] = {
    // fail fast on a non-dim descriptor instead of ranking a
    // truncated or null-padded vector
    require(v.numElements() == dim,
      s"graft_ferret_probe_rank: descriptor length ${v.numElements()} != dim $dim")
    val n = dim
    val raw = new Array[Double](dim)
    val z = new Array[Double](dim)
    var i = 0
    while (i < n) {
      raw(i) = v.getDouble(i)
      z(i) = (raw(i) - mu(i)) / sd(i)
      i += 1
    }
    val probes = graft.functions.LshProbeKernel.probes(
      new org.apache.spark.sql.catalyst.util.GenericArrayData(z), false,
      seed, nTables, bits, dim, nProbes)
    genHolder(0) += 1
    val gen = genHolder(0)
    val stride = nProbes + 1
    // bounded worst-at-head heap on (d2, id); id order IS (img, ridx)
    // order by construction, so ties break like the declarative rank
    val worstFirst = new java.util.Comparator[(Double, Int)] {
      def compare(a: (Double, Int), b: (Double, Int)): Int = {
        val c = java.lang.Double.compare(b._1, a._1)
        if (c != 0) c else Integer.compare(b._2, a._2)
      }
    }
    val pq = new java.util.PriorityQueue[(Double, Int)](depth + 1, worstFirst)
    var pi = 0
    while (pi < probes.numElements()) {
      val key = ((pi / stride).toLong << 32) | probes.getLong(pi)
      idx.postings.get(key) match {
        case Some(arr) =>
          var j = 0
          while (j < arr.length) {
            val id = arr(j)
            if (stamps(id) != gen) {
              stamps(id) = gen
              val dbv = idx.vecs(id)
              var d = 0.0
              var k = 0
              while (k < dim) { val x = raw(k) - dbv(k); d += x * x; k += 1 }
              // allocation-gated insert: compare against the current
              // worst BEFORE boxing a tuple
              if (pq.size < depth) pq.offer((d, id)): Unit
              else {
                val w = pq.peek()
                if (d < w._1 || (d == w._1 && id < w._2)) {
                  pq.poll(); pq.offer((d, id)): Unit
                }
              }
            }
            j += 1
          }
        case None =>
      }
      pi += 1
    }
    val out = new Array[Any](pq.size)
    var o = 0
    val it = pq.iterator()
    while (it.hasNext) { out(o) = idx.img(it.next()._2); o += 1 }
    out
  }
}

/** Whole-vecset probe+rank (r16): [[FerretProbeCore.rankRegion]] per
  * region IN REGION ORDER, the per-region candidate lists
  * concatenated with first-occurrence dedup — exactly
  * array_distinct(flatten(collect_list(cands))) over the exploded
  * per-region rows (the r14-r15 merge), but evaluated inside ONE row
  * so the whole query tail (decode → extract → probe → EMD → top-K)
  * fuses into a single map stage: no per-query groupBy, no decode
  * cache, no second job wave per pass. */
case class FerretProbeRankSet(child: org.apache.spark.sql.catalyst.expressions.Expression,
    index: org.apache.spark.broadcast.Broadcast[FerretRegionIndex],
    mu: Array[Double], sd: Array[Double], seed: Long, nTables: Int,
    bits: Int, dim: Int, nProbes: Int, depth: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  import org.apache.spark.sql.types._
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_ferret_probe_rank_set"

  @transient private lazy val seenTL =
    new ThreadLocal[(Array[Int], Array[Int])] {
      override def initialValue(): (Array[Int], Array[Int]) =
        (new Array[Int](index.value.vecs.length), Array(0))
    }

  override protected def nullSafeEval(input: Any): Any = {
    val vset = input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val (stamps, genHolder) = seenTL.get()
    // LinkedHashSet: first-occurrence order, the array_distinct rule
    val seen = new java.util.LinkedHashSet[Any]()
    var r = 0
    while (r < vset.numElements()) {
      val cands = FerretProbeCore.rankRegion(vset.getArray(r), index.value,
        mu, sd, seed, nTables, bits, dim, nProbes, depth, stamps, genHolder)
      var j = 0
      while (j < cands.length) { seen.add(cands(j)): Unit; j += 1 }
      r += 1
    }
    val out = new Array[Any](seen.size())
    val it = seen.iterator()
    var o = 0
    while (it.hasNext) { out(o) = it.next(); o += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def withNewChildInternal(
      c: org.apache.spark.sql.catalyst.expressions.Expression): org.apache.spark.sql.catalyst.expressions.Expression =
    copy(child = c)
}

/** EMD of one (query, candidate) pair against the RESIDENT vecset
  * table — the db vecsets are loaded once (the binary's raw table),
  * PRE-CONVERTED to plain double arrays at build time (r16 — the
  * per-candidate ArrayData decode used to repeat per EMD call), so
  * the EMD needs no per-pass broadcast join and no per-call db-side
  * conversion.
  *
  * Differential anchor: RefFerretKernelSpec — no main runs it; it is
  * the per-candidate reference that [[FerretDbEmdTopK]] is checked
  * against. */
case class FerretDbEmd(first: org.apache.spark.sql.catalyst.expressions.Expression,
    second: org.apache.spark.sql.catalyst.expressions.Expression,
    third: org.apache.spark.sql.catalyst.expressions.Expression,
    index: org.apache.spark.broadcast.Broadcast[Map[org.apache.spark.unsafe.types.UTF8String,
      (Array[Array[Double]], Array[Double])]])
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  import org.apache.spark.sql.types._
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_ferret_db_emd"
  override protected def nullSafeEval(qset: Any, qw: Any, img: Any): Any = {
    val (cset, cw) = index.value(img.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
    graft.functions.EmdWeightedKernel.emdArrays(
      FerretEmdConvert.vecs(qset.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]),
      FerretEmdConvert.weights(qw.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]),
      cset, cw)
  }
  override protected def withNewChildrenInternal(
      f: org.apache.spark.sql.catalyst.expressions.Expression,
      s: org.apache.spark.sql.catalyst.expressions.Expression,
      t: org.apache.spark.sql.catalyst.expressions.Expression): org.apache.spark.sql.catalyst.expressions.Expression =
    copy(first = f, second = s, third = t)
}

/** ArrayData → plain-array conversion shared by the EMD expressions
  * (exact — element reads only, so [[FerretDbEmd]] over converted
  * inputs is bit-identical to the r15 ArrayData path). */
private[graft] object FerretEmdConvert {
  def vecs(a: org.apache.spark.sql.catalyst.util.ArrayData): Array[Array[Double]] =
    Array.tabulate(a.numElements())(a.getArray(_).toDoubleArray())
  def weights(w: org.apache.spark.sql.catalyst.util.ArrayData): Array[Double] =
    w.toDoubleArray()
}

/** Whole-candidate-list EMD re-rank (r16): the query vecset converts
  * ONCE, every candidate's resident (pre-converted) vecset solves one
  * exact flow, and the top-K cut runs as a bounded worst-at-head heap
  * on (emd, cand_img) INSIDE the eval — replacing the r15 tail's
  * per-element HOF machinery (lambda binding + struct allocation per
  * candidate) and the interpreted array_sort over ~700 structs per
  * query. Output: ascending (emd, cand_img) structs, length ≤ k —
  * exactly slice(array_sort(...), 1, k) of the per-candidate scores
  * (UTF8String.compareTo IS Spark's StringType ordering), so the
  * final top-K rows are bit-identical to the declarative form. */
case class FerretDbEmdTopK(first: org.apache.spark.sql.catalyst.expressions.Expression,
    second: org.apache.spark.sql.catalyst.expressions.Expression,
    third: org.apache.spark.sql.catalyst.expressions.Expression,
    index: org.apache.spark.broadcast.Broadcast[Map[org.apache.spark.unsafe.types.UTF8String,
      (Array[Array[Double]], Array[Double])]],
    k: Int)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  import org.apache.spark.sql.types._
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("emd", DoubleType, nullable = false),
    StructField("cand_img", StringType, nullable = false))), containsNull = false)
  override def prettyName: String = "graft_ferret_db_emd_topk"
  override protected def nullSafeEval(qset: Any, qw: Any, cands: Any): Any = {
    val va = FerretEmdConvert.vecs(qset.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
    val wa = FerretEmdConvert.weights(qw.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
    val cs = cands.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val idx = index.value
    // worst-at-head: larger emd first, ties by larger cand_img
    val worstFirst = new java.util.Comparator[(Double, org.apache.spark.unsafe.types.UTF8String)] {
      def compare(a: (Double, org.apache.spark.unsafe.types.UTF8String),
                  b: (Double, org.apache.spark.unsafe.types.UTF8String)): Int = {
        val c = java.lang.Double.compare(b._1, a._1)
        if (c != 0) c else b._2.compareTo(a._2)
      }
    }
    val pq = new java.util.PriorityQueue[(Double, org.apache.spark.unsafe.types.UTF8String)](k + 1, worstFirst)
    var i = 0
    while (i < cs.numElements()) {
      val img = cs.getUTF8String(i)
      val (vb, wb) = idx(img)
      val d = graft.functions.EmdWeightedKernel.emdArrays(va, wa, vb, wb)
      if (pq.size < k) pq.offer((d, img)): Unit
      else {
        val w = pq.peek()
        if (d < w._1 || (d == w._1 && img.compareTo(w._2) < 0)) {
          pq.poll(); pq.offer((d, img)): Unit
        }
      }
      i += 1
    }
    // drain worst-first, fill back-to-front → ascending (emd, cand)
    val out = new Array[Any](pq.size)
    var o = out.length - 1
    while (o >= 0) {
      val (d, img) = pq.poll()
      out(o) = org.apache.spark.sql.catalyst.InternalRow(d, img)
      o -= 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
  override protected def withNewChildrenInternal(
      f: org.apache.spark.sql.catalyst.expressions.Expression,
      s: org.apache.spark.sql.catalyst.expressions.Expression,
      t: org.apache.spark.sql.catalyst.expressions.Expression): org.apache.spark.sql.catalyst.expressions.Expression =
    copy(first = f, second = s, third = t)
}

object RefFerret {
  private val Dim = graft.functions.Srm.Dim
  // the binary's index: mkdb -L 12 tables
  private val LshTables = 12
  // query-side multi-probe count: the binary's own T (LSH_query.c:59)
  // and the r13 matched-memory curve's frontier
  private val LshProbes = 20
  // 14 sign bits/table = 16384 buckets (measured up from 4→10→14:
  // at 4 bits the z-scored SRM descriptors pile into 16 buckets and
  // hit-count ties drown exact twins out of the over-fetch; at 10
  // the probe join still carried 21 M rows; 14 + the hot-bucket cap
  // brings it under 2 M with twin recall 1000/1000 — the recall
  // role the binary's finer E2LSH (M=17, H=19697) + multiprobe
  // plays on its side)
  private val LshBits = 14
  private val BucketSeed = 7L
  private val MaxBucket = 64
  private val JunkBucket = 512

  def main(args: Array[String]): Unit = args.headOption match {
    case Some("corpus") =>
      val outBase = if (args.length > 1) args(1) else "/tmp/refbench/ferret"
      val nDb = if (args.length > 2) args(2).toInt else 2000
      val nQuery = if (args.length > 3) args(3).toInt else 200
      corpus(outBase, nDb, nQuery)
    case Some("run") =>
      val dbDir = if (args.length > 1) args(1) else "/tmp/refbench/ferret/db"
      val queryDir = if (args.length > 2) args(2) else "/tmp/refbench/ferret/queries"
      val topK = if (args.length > 3) args(3).toInt else 50
      val passes = if (args.length > 4) args(4).toInt else 5
      val outDir = if (args.length > 5) args(5) else "/tmp/refbench/ferret/graft_out"
      val spark = Sessions.contractLocal("graft-refferret")
      spark.sparkContext.setLogLevel("ERROR")
      try run(spark, dbDir, queryDir, topK, passes, outDir)
      finally spark.stop()
    case Some("truth") =>
      val dbDir = if (args.length > 1) args(1) else "/tmp/refbench/ferret/db"
      val queryDir = if (args.length > 2) args(2) else "/tmp/refbench/ferret/queries"
      val stride = if (args.length > 3) args(3).toInt else 10
      val topK = if (args.length > 4) args(4).toInt else 10
      val outDir = if (args.length > 5) args(5) else "/tmp/refbench/ferret/truth"
      val corelTxt = if (args.length > 6) Some(args(6)) else None
      truth(dbDir, queryDir, stride, topK, outDir, corelTxt)
    case _ =>
      System.err.println("usage: RefFerret corpus <outBase> [nDb] [nQuery] | " +
        "run <dbDir> <queryDir> [topK] [passes] [outDir] | " +
        "truth <dbDir> <queryDir> [stride] [topK] [outDir] [corelTxt]")
      sys.exit(2)
  }

  /** Deterministic band image, scaled to the reference corpus's size
    * class (width 160-216, height 112-152 — corel images are
    * 96×64..384×256). Same recipe as the oracled mm_segment
    * synthesis (Multimodal.synthesizeSegJpeg), just bigger and
    * keyed on the image id alone so the corpus needs no tables. */
  private[graft] def synthImage(id: Long): Array[Byte] = {
    val width = (8 * (20 + id % 8)).toInt
    val height = (8 * (14 + id % 6)).toInt
    val nBands = (2 + id % 6).toInt
    val wb = width / 8
    val digest = java.security.MessageDigest.getInstance("SHA-256")
      .digest(s"ferret:$id".getBytes("UTF-8"))
    val rgb = new Array[Byte](width * height * 3)
    var i = 0
    while (i < rgb.length) {
      val k = i / 3
      val c = i % 3
      val bx = (k % width) / 8
      val by = (k / width) / 8
      val band = bx * nBands / wb
      val base = digest((3 * band + c) % 32) & 0xff
      val noise = (bx * 7 + by * 13) % 5 - 2
      rgb(i) = math.max(0, math.min(255, base + noise)).toByte
      i += 1
    }
    graft.functions.JpegCodec.encodeJpeg(
      graft.functions.ImageCodec.Image(width, height, rgb), quality = 100)
  }

  private def corpus(outBase: String, nDb: Int, nQuery: Int): Unit = {
    val spark = Sessions.contractLocal("graft-refferret-corpus")
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val dbDir = new java.io.File(outBase, "db")
    val qDir = new java.io.File(outBase, "queries")
    dbDir.mkdirs(); qDir.mkdirs()
    val dbPath = dbDir.getAbsolutePath
    val qPath = qDir.getAbsolutePath
    spark.range(nDb).as[Long].foreachPartition { (it: Iterator[Long]) =>
      it.foreach { id =>
        java.nio.file.Files.write(
          java.nio.file.Paths.get(dbPath, f"img_$id%06d.jpg"), synthImage(id))
      }
    }
    spark.range(nQuery).as[Long].foreachPartition { (it: Iterator[Long]) =>
      it.foreach { id =>
        java.nio.file.Files.write(
          java.nio.file.Paths.get(qPath, f"img_$id%06d.jpg"), synthImage(id))
      }
    }
    val dbBytes = Option(dbDir.listFiles).getOrElse(Array.empty).map(_.length).sum
    println(s"""{"corpus":"$outBase","n_db":$nDb,"n_query":$nQuery,"db_bytes":$dbBytes}""")
    spark.stop()
  }

  /** Decode + segment + extract a directory of JPEGs — t_seg +
    * t_extract (and the analog of cass_img_extract for the database
    * side). ONE row per image carrying the weighted vecset in region
    * scan order (capped at 16 regions, the EMD kernel bound; band
    * images produce 1-8) — the per-image grouping happens INSIDE the
    * segmentation task, so neither side ever shuffles to build its
    * vecsets and the timed pass needs no aggregation job before the
    * probe. */
  private def imagesOf(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.sources.BinaryFiles.readDirDirect(s, dir, "*.jpg")
      .as[(String, Array[Byte])] // readDirDirect already slices across cores
      .mapPartitions { it =>
        it.map { case (file, bytes) =>
          val img = graft.functions.JpegCodec.decodeJpeg(bytes)
          val rs = graft.functions.Srm.segmentAndDescribe(img).take(16)
          (file, rs.map(_.descriptor.toSeq).toSeq, rs.map(_.weight).toSeq)
        }
      }
      .toDF("img", "vset", "wset")
  }

  /** The exploded per-region view of [[imagesOf]] (narrow — no
    * recompute of the decode/SRM pass when the source is
    * checkpointed). */
  private def regionsOf(images: DataFrame): DataFrame =
    images.select(col("img"), posexplode(col("vset")))
      .toDF("img", "ridx", "v")

  /** The db index's bucket rows: one base bucket per region per
    * table (the query side probes T more per table inside
    * [[FerretProbeRankSet]]). */
  private def withBuckets(df: DataFrame, mu: Seq[Double], sd: Seq[Double]): DataFrame = {
    val muA = array(mu.map(lit): _*)
    val sdA = array(sd.map(lit): _*)
    val z = zip_with(col("v"), sequence(lit(0), lit(Dim - 1)),
      (x, i) => (x - element_at(muA, i + 1)) / element_at(sdA, i + 1))
    df.select(col("img"), col("ridx"),
        posexplode(graft.functions.NativeVector.lshBuckets(
          z, BucketSeed, LshTables, LshBits, Dim)))
      .toDF("img", "ridx", "tbl", "bucket")
  }

  /** GROUND-TRUTH cell (r13 verdict item): the exact-EMD top-K over
    * the FULL database for a deterministic query subsample (every
    * `stride`-th query id) — no LSH, no over-fetch, every candidate
    * solved. This is the brute-force path both engines' t_rank
    * (emd.c:104 exact simplex / graft's certificate-checked kernel)
    * already shares semantics with; against it, each engine's
    * RETURNED top-K gets a recall number instead of the
    * engine-vs-engine overlap that left "who is closer to the
    * truth?" unadjudicated (REFBENCH r12).
    *
    * Feature source: by default graft's own decode→SRM→extract
    * vecsets; with `corelTxt` the binary's OWN extraction dump
    * (cass_img_extract output: per image a `name\tn` header then n
    * lines of `weight\t14-dim descriptor`, cass_img_extract.c:78-87)
    * — query i is db image i byte-for-byte, so the twin's db entry
    * IS the binary's query-side vecset. Two truths, two engines →
    * the 2×2 recall matrix localizes any gap to index family vs
    * feature extraction. */
  private def truth(dbDir: String, queryDir: String, stride: Int, topK: Int,
                    outDir: String, corelTxt: Option[String]): Unit = {
    val spark = Sessions.contractLocal("graft-refferret-truth")
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val nQ = graft.sources.BinaryFiles.readDirDirect(spark, queryDir, "*.jpg").count()
    val qid = regexp_extract(col("img"), "img_(\\d+)", 1).cast("long")
    val t0 = System.nanoTime()
    val (dbV, qV) = corelTxt match {
      case Some(path) =>
        // the binary's own features: bounded 10k-image parse (one row
        // per image), never data-scaled — harness-side by design
        val entries = parseCorel(path)
        val db = entries.toDF("img", "vset", "wset").localCheckpoint(true)
        (db, db.filter(qid < nQ && qid % stride === 0))
      case None =>
        val db = imagesOf(spark, dbDir).localCheckpoint(true)
        (db, imagesOf(spark, queryDir).filter(qid % stride === 0))
    }
    val q = qV.select(col("img").as("query_img"),
      col("vset").as("qset"), col("wset").as("qw"))
    val d = dbV.select(col("img").as("cand_img"),
      col("vset").as("cset"), col("wset").as("cw"))
    // brute force IS the point: db × subsample, every pair solved
    // exactly (10k × nQ/stride EMD solves; the db side carries the
    // parallelism, the query side broadcasts)
    val ranked = d.crossJoin(broadcast(q))
      .select(col("query_img"), col("cand_img"),
        graft.functions.NativeVector.emdWeighted(
          col("qset"), col("qw"), col("cset"), col("cw")).as("emd"))
      .groupBy("query_img")
      .agg(slice(array_sort(collect_list(
          struct(col("emd"), col("cand_img")))), 1, topK).as("top"))
      .select(col("query_img"), posexplode(col("top")))
      .select(col("query_img"),
        col("col").getField("cand_img").as("cand_img"),
        col("col").getField("emd").as("emd"),
        (col("pos") + 1).as("rank"))
    ranked.repartition(1).write.mode("overwrite").parquet(outDir)
    val sec = (System.nanoTime() - t0) / 1e9
    val nSub = spark.read.parquet(outDir).select("query_img").distinct().count()
    println(s"""{"harness":"refferret-truth","features":"${if (corelTxt.isDefined) "binary" else "graft"}",""" +
      s""""n_queries":$nSub,"stride":$stride,"top_k":$topK,"db":"$dbDir",""" +
      s""""wall_sec":${f"$sec%.3f"},"out":"$outDir"}""")
    spark.stop()
  }

  /** Parse cass_img_extract's text dump: `name\tnRegions` headers,
    * then per region `weight` + 14 descriptor dims (the fprintf at
    * cass_img_extract.c:78-87). Names are basenamed to match the
    * RefFerret img keys. */
  private def parseCorel(path: String): Seq[(String, Seq[Seq[Double]], Seq[Double])] = {
    val src = scala.io.Source.fromFile(path)
    try {
      val it = src.getLines()
      val buf = scala.collection.mutable.ArrayBuffer[(String, Seq[Seq[Double]], Seq[Double])]()
      while (it.hasNext) {
        val h = it.next().split("\t")
        require(h.length == 2, s"corel header expected 'name\\tn', got: ${h.mkString("|")}")
        val name = h(0).split("/").last
        val rows = (1 to h(1).trim.toInt).map { _ =>
          it.next().trim.split("\\s+").map(_.toDouble)
        }
        rows.foreach(r => require(r.length == Dim + 1,
          s"corel region row for $name: expected weight+$Dim dims, got ${r.length}"))
        buf += ((name, rows.map(_.drop(1).toSeq), rows.map(_.head)))
      }
      buf.toSeq
    } finally src.close()
  }

  private[graft] def run(spark: SparkSession, dbDir: String, queryDir: String,
                         topK: Int, passes: Int, outDir: String): Unit = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val nQ = graft.sources.BinaryFiles.readDirDirect(spark, queryDir, "*.jpg").count()

    // ---- untimed database build (the binary's mkdb + table load) ----
    val t0 = System.nanoTime()
    val dbImages = imagesOf(spark, dbDir).localCheckpoint(true)
    val dbRegions = regionsOf(dbImages)
    // per-dimension z-score parameters learned from the database
    // regions (the analog of the binary's tuned E2LSH -w quantization
    // width): extract.c's static dimension weights span 1000× (6.0 →
    // 0.007), so raw sign-projections are dominated by two or three
    // dimensions and every image lands in a handful of buckets —
    // standardizing first makes each hyperplane bit carry real
    // information. DECIMAL moments, so the buckets do not move with
    // the core count.
    val (mu, sd) = graft.operators.Similarity.zMoments(dbRegions, Dim)
    // hot-bucket shaping (index build time): buckets past JunkBucket
    // rows are degenerate speck-region pileups carrying no ranking
    // signal — drop them outright (the E2LSH overflow rule); buckets
    // between MaxBucket and JunkBucket keep a deterministic
    // first-MaxBucket slice (Dedup.capBuckets semantics), so a query
    // whose regions only land in medium-hot buckets never goes
    // candidate-dark
    val rawDb = withBuckets(dbRegions, mu, sd)
      .toDF("cand_img", "cridx", "tbl", "bucket")
    val wBucket = Window.partitionBy("tbl", "bucket")
      .orderBy(col("cand_img"), col("cridx"))
    val bucketRows = rawDb
      .withColumn("rn", row_number().over(wBucket))
      .withColumn("bn", count(lit(1)).over(
        Window.partitionBy("tbl", "bucket")))
      .filter(col("rn") <= MaxBucket && col("bn") <= JunkBucket)
      .drop("rn", "bn")
      .collect() // (cand_img, cridx, tbl, bucket)
    // the RESIDENT index (the binary's in-RAM LSH tables + raw
    // vecset table, loaded before its QUERY TIME ticks): one
    // sc.broadcast each, built untimed, consumed by the
    // FerretProbeRankSet / FerretDbEmdTopK expressions every pass —
    // no per-pass broadcast-build job waves.
    // Region vectors are stored once in global (img, ridx) id order,
    // with postings pointing at ids (see [[FerretRegionIndex]]). The
    // id order is the kernel's d2 tie-break, and it compares names as
    // Spark UTF8String (UTF-8 bytes) — Java String sort is UTF-16
    // order and diverges on supplementary characters (ADVICE r14),
    // so sort in byte order. The raw descriptors are the distance
    // space t_vec ranks in (the static extract.c dimension weights
    // are folded into the descriptor, so raw L2 IS the weighted
    // ground distance EMD uses).
    val utf8NameOrd: Ordering[(String, Int)] =
      Ordering.by { case (name, ridx) =>
        (org.apache.spark.unsafe.types.UTF8String.fromString(name), ridx)
      }
    val regionIndex = {
      val regs = dbRegions.collect()
        .sortBy(r => (r.getString(0), r.getInt(1)))(utf8NameOrd)
      val idOf = regs.iterator.zipWithIndex
        .map { case (r, i) => ((r.getString(0), r.getInt(1)), i) }.toMap
      spark.sparkContext.broadcast(FerretRegionIndex(
        regs.map(r => org.apache.spark.unsafe.types.UTF8String.fromString(r.getString(0))),
        regs.map(_.getInt(1)),
        regs.map(_.getSeq[Double](2).toArray),
        bucketRows.groupBy(r => (r.getInt(2).toLong << 32) | r.getLong(3))
          .map { case (k, rs) =>
            k -> rs.map(r => idOf((r.getString(0), r.getInt(1)))).sorted
          }))
    }
    // pre-converted plain arrays (r16): every EMD call used to decode
    // the candidate's ArrayData vecset — at 5k queries × ~700
    // candidates that conversion repeated 3.5M times per pass
    val emdIndex = spark.sparkContext.broadcast(
      dbImages.collect().map { r =>
        val cset = r.getSeq[scala.collection.Seq[Double]](1)
          .map(_.toArray).toArray
        val cw = r.getSeq[Double](2).toArray
        org.apache.spark.unsafe.types.UTF8String.fromString(r.getString(0)) ->
          ((cset, cw))
      }.toMap)
    val dbBuildSec = (System.nanoTime() - t0) / 1e9

    // ---- timed passes: the binary's query_time window ----
    // Each pass is ONE fused map stage (r16): decode → SRM/extract →
    // multiprobe probe+rank → EMD → top-K all evaluated inside the
    // scan task's row. FerretProbeRankSet over-fetches 2K per region
    // by exact L2 (t_vec's query.topk = 2*top_K, ferret-pthreads.c:590)
    // and merges the per-region lists in region order
    // (cass_result_merge_lists, ferret-pthreads.c:646); FerretDbEmdTopK
    // re-ranks that list by exact weighted EMD against the resident
    // vecset table (t_rank, emd.c:104). So a pass needs NO exchange,
    // NO decode cache and NO second job wave, and persists nothing:
    // exactly the binary's pipeline model (queries stream through one
    // thread-pipeline against in-RAM tables).
    def pass(writeOut: Option[String]): Double = {
      val t = System.nanoTime()
      // default one-wave slicing: measured against 4 slices/core,
      // over-slicing bought no wall-clock (the per-image variance
      // amortizes at 31 imgs/task) and cost ~10% extra CPU in task
      // machinery
      val qRaw = graft.sources.BinaryFiles.readDirDirect(spark, queryDir, "*.jpg")
        .toDF("img", "bytes")
        .select(col("img"), explode(array(
          graft.functions.NativeVector.srmVecset(col("bytes")))).as("s"))
        .select(col("img"), col("s.vset").as("vset"), col("s.wset").as("wset"))
      val cands = ColumnBridge.column(FerretProbeRankSet(
        ColumnBridge.expression(col("vset")),
        regionIndex, mu.toArray, sd.toArray, BucketSeed, LshTables,
        LshBits, Dim, LshProbes, 2 * topK))
      val ranked = qRaw
        .select(col("img").as("query_img"),
          ColumnBridge.column(FerretDbEmdTopK(
            ColumnBridge.expression(col("vset")),
            ColumnBridge.expression(col("wset")),
            ColumnBridge.expression(cands), emdIndex, topK)).as("top"))
        .select(col("query_img"), posexplode(col("top")))
        .select(col("query_img"),
          col("col").getField("cand_img").as("cand_img"),
          col("col").getField("emd").as("emd"),
          (col("pos") + 1).as("rank"))
      if (sys.env.contains("GRAFT_FERRET_STAGETIME")) {
        // diagnosis only: prefixes re-materialize, read as deltas
        val t1 = System.nanoTime()
        qRaw.write.format("noop").mode("overwrite").save()
        val t2 = System.nanoTime()
        qRaw.select(col("img"), cands.as("cands"))
          .write.format("noop").mode("overwrite").save()
        val t3 = System.nanoTime()
        System.err.println(f"[refferret]   STAGETIME decode ${(t2 - t1) / 1e9}%.2f s | +probe ${(t3 - t2) / 1e9}%.2f s")
      }
      writeOut match {
        case Some(p) => ranked.repartition(1) // exchange, not coalesce
          .write.mode("overwrite").parquet(p)
        case None => ranked.write.format("noop").mode("overwrite").save()
      }
      val tAll = (System.nanoTime() - t) / 1e9
      System.err.println(f"[refferret]   fused one-stage pass $tAll%.2f s")
      tAll
    }

    val measured = (1 to passes).map { i =>
      val (sec, env) = EnvTelemetry.measured(
        pass(if (i == passes) Some(s"$outDir/topk") else None))
      System.err.println(
        f"[refferret] pass $i: $sec%.3f s (load ${env.load}%.1f, other_cpu ${env.otherCpuSec}%.1f s, steal ${env.stealSec}%.1f s)")
      (sec, env)
    }
    val times = measured.map(_._1)
    val warm = times.drop(1).sorted
    // lower-middle median — the same convention as Bench ((n-1)/2),
    // so cross-harness comparisons aren't biased pessimistic (r12
    // ADVICE: the upper-middle pick reported the 3rd-slowest of 4)
    val median = if (warm.isEmpty) times.head else warm((warm.length - 1) / 2)
    val envs = measured.map { case (_, e) =>
      s"""{"load":${f"${e.load}%.2f"},"our_cpu_sec":${f"${e.ourCpuSec}%.1f"},""" +
        s""""other_cpu_sec":${f"${e.otherCpuSec}%.1f"},"steal_sec":${f"${e.stealSec}%.1f"}}"""
    }
    println(s"""{"harness":"refferret","n_queries":$nQ,"top_k":$topK,""" +
      s""""db_build_sec":${f"$dbBuildSec%.3f"},"cold_sec":${f"${times.head}%.3f"},""" +
      s""""warm_secs":[${times.drop(1).map(t => f"$t%.3f").mkString(",")}],""" +
      s""""warm_median_sec":${f"$median%.3f"},""" +
      s""""images_per_sec":${f"${nQ / median}%.1f"},"env":[${envs.mkString(",")}]}""")
  }
}
