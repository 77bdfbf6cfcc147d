package graft

import org.apache.spark.sql.functions._

/** Unit-level differential proof for the RefFerret kernels.
  * [[FerretProbeRankSet]] followed by [[FerretDbEmdTopK]] is the one
  * pipeline behind `RefFerret.run` (since r16); [[FerretProbeRank]]
  * is its per-region form, which no main runs and which this spec
  * keeps as the reference. The corpus run proved the per-region
  * kernel bit-identical to the declarative plan once (REFBENCH r14,
  * 50k rows, 0 diffs); this spec pins the same
  * semantics on a synthetic index with an INDEPENDENT in-test
  * reimplementation (plain Scala: z-score → LshProbeKernel probe
  * enumeration → postings walk → cross-table dedup → top-depth by
  * (d2, id)), so a future kernel regression fails in the suite
  * instead of waiting for the next REFBENCH session. */
class RefFerretKernelSpec extends SparkSpec {

  private val Dim = graft.functions.Srm.Dim
  private val Seed = 7L
  private val Tables = 3
  private val Bits = 6
  private val Probes = 4
  private val Depth = 5

  // deterministic synthetic region vectors in the SRM descriptor's
  // wildly-varying per-dim scale class (the z-score's reason to exist)
  private def vec(id: Int): Array[Double] =
    Array.tabulate(Dim) { d =>
      val h = (id * 31 + d * 131) % 97
      (h - 48) * math.pow(10.0, (d % 5) - 2)
    }

  private val nDb = 60
  private val dbVecs = (0 until nDb).map(vec)
  private val mu = Array.tabulate(Dim)(d => dbVecs.map(_(d)).sum / nDb)
  private val sd = Array.tabulate(Dim) { d =>
    val m = mu(d)
    math.max(math.sqrt(dbVecs.map(v => (v(d) - m) * (v(d) - m)).sum / nDb), 1e-12)
  }

  private def zOf(v: Array[Double]): Array[Double] =
    Array.tabulate(Dim)(d => (v(d) - mu(d)) / sd(d))

  private def bucketsOf(v: Array[Double], nProbes: Int): Seq[(Int, Long)] = {
    val ids = graft.functions.LshProbeKernel.probes(
      new org.apache.spark.sql.catalyst.util.GenericArrayData(zOf(v)), false,
      Seed, Tables, Bits, Dim, nProbes)
    val stride = nProbes + 1
    (0 until ids.numElements()).map(i => (i / stride, ids.getLong(i)))
  }

  // the index: every db region posted under its base bucket per table
  private val postings: Map[Long, Array[Int]] =
    (0 until nDb).flatMap { id =>
      bucketsOf(dbVecs(id), 0).map { case (t, b) => ((t.toLong << 32) | b, id) }
    }.groupBy(_._1).map { case (k, xs) => k -> xs.map(_._2).sorted.toArray }

  /** Independent reimplementation of the kernel's contract. */
  private def expected(q: Array[Double]): Seq[String] = {
    val seen = scala.collection.mutable.Set.empty[Int]
    val cands = scala.collection.mutable.ArrayBuffer.empty[(Double, Int)]
    bucketsOf(q, Probes).foreach { case (t, b) =>
      postings.getOrElse((t.toLong << 32) | b, Array.empty[Int]).foreach { id =>
        if (seen.add(id)) {
          val d = (0 until Dim).map(k => { val x = q(k) - dbVecs(id)(k); x * x }).sum
          cands += ((d, id))
        }
      }
    }
    cands.sortBy(identity).take(Depth).toSeq.map { case (_, id) => f"img_$id%03d" }
  }

  test("FerretProbeRank matches an independent probe+rank reimplementation") {
    import spark.implicits._
    val index = spark.sparkContext.broadcast(FerretRegionIndex(
      (0 until nDb).map(i =>
        org.apache.spark.unsafe.types.UTF8String.fromString(f"img_$i%03d")).toArray,
      Array.fill(nDb)(0),
      dbVecs.toArray,
      postings))
    val queries = (100 until 140).map(qid => (qid, vec(qid).toSeq))
    val got = queries.toDF("qid", "v")
      .select(col("qid"),
        org.apache.spark.sql.graftbridge.ColumnBridge.column(FerretProbeRank(
          org.apache.spark.sql.graftbridge.ColumnBridge.expression(col("v")),
          index, mu, sd, Seed, Tables, Bits, Dim, Probes, Depth)).as("cands"))
      .as[(Int, Seq[String])].collect().toMap
    var nonEmpty = 0
    queries.foreach { case (qid, _) =>
      val want = expected(vec(qid)).toSet
      assert(got(qid).toSet == want,
        s"query $qid: kernel=${got(qid).sorted} expected=${want.toSeq.sorted}")
      if (want.nonEmpty) nonEmpty += 1
    }
    // the synthetic index must actually exercise the path — if every
    // probe went candidate-dark the equality above proves nothing
    assert(nonEmpty >= queries.size / 2,
      s"only $nonEmpty/${queries.size} queries found candidates — index too sparse to test")
  }

  // ---- the production-path kernels (r16 dist default) -----------------
  // A synthetic multi-region IMAGE world reusing the 60 region vectors
  // above: image k owns regions vec(3k), vec(3k+1), ... (1-3 of them),
  // so global region id order == (img, ridx) order by construction
  // (zero-padded names sort bytewise like ints).
  private val nImgs = 20
  private def imgName(k: Int): String = f"im_$k%03d"
  private def nRegionsOf(k: Int): Int = 1 + k % 3
  private val imgRegions: Seq[(String, Int, Array[Double])] =
    (0 until nImgs).flatMap { k =>
      (0 until nRegionsOf(k)).map(r => (imgName(k), r, dbVecs(3 * k + r)))
    }
  private val imgPostings: Map[Long, Array[Int]] =
    imgRegions.zipWithIndex.flatMap { case ((_, _, v), gid) =>
      bucketsOf(v, 0).map { case (t, b) => ((t.toLong << 32) | b, gid) }
    }.groupBy(_._1).map { case (key, xs) => key -> xs.map(_._2).sorted.toArray }
  private def imgIndexOf(s: org.apache.spark.SparkContext)
      : org.apache.spark.broadcast.Broadcast[FerretRegionIndex] =
    s.broadcast(FerretRegionIndex(
      imgRegions.map(r =>
        org.apache.spark.unsafe.types.UTF8String.fromString(r._1)).toArray,
      imgRegions.map(_._2).toArray,
      imgRegions.map(_._3).toArray,
      imgPostings))
  private def emdIndexOf(s: org.apache.spark.SparkContext)
      : org.apache.spark.broadcast.Broadcast[Map[org.apache.spark.unsafe.types.UTF8String,
          (Array[Array[Double]], Array[Double])]] =
    s.broadcast((0 until nImgs).map { k =>
      val nr = nRegionsOf(k)
      org.apache.spark.unsafe.types.UTF8String.fromString(imgName(k)) ->
        ((0 until nr).map(r => dbVecs(3 * k + r)).toArray,
          Array.fill(nr)(1.0 / nr))
    }.toMap)
  // queries: 2-3 regions each, √-style uniform weights
  private val queryRows: Seq[(String, Seq[Seq[Double]], Seq[Double])] =
    (100 until 130).map { qid =>
      val nr = 2 + qid % 2
      val vset = (0 until nr).map(r => vec(qid * 3 + r).toSeq)
      (f"q_$qid%03d", vset, Seq.fill(nr)(1.0 / nr))
    }

  test("FerretProbeRankSet == per-region FerretProbeRank folded in region order (first-occurrence dedup)") {
    import spark.implicits._
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val index = imgIndexOf(spark.sparkContext)
    val qdf = queryRows.toDF("query_img", "vset", "wset")
    val got = qdf.select(col("query_img"),
        ColumnBridge.column(FerretProbeRankSet(
          ColumnBridge.expression(col("vset")),
          index, mu, sd, Seed, Tables, Bits, Dim, Probes, Depth)).as("cands"))
      .as[(String, Seq[String])].collect().toMap
    // reference: one kernel eval per region, folded in region order
    val perRegion = qdf.select(col("query_img"), posexplode(col("vset")))
      .toDF("query_img", "ridx", "qv")
      .select(col("query_img"), col("ridx"),
        ColumnBridge.column(FerretProbeRank(
          ColumnBridge.expression(col("qv")),
          index, mu, sd, Seed, Tables, Bits, Dim, Probes, Depth)).as("cands"))
      .as[(String, Int, Seq[String])].collect()
      .groupBy(_._1).map { case (q, rs) =>
        q -> rs.sortBy(_._2).flatMap(_._3).distinct.toSeq
      }
    var nonTrivial = 0
    queryRows.foreach { case (q, vset, _) =>
      assert(got(q) == perRegion(q),
        s"query $q: set-kernel=${got(q)} per-region-fold=${perRegion(q)}")
      // the dedup path must actually fire somewhere or the ORDER
      // equality proves nothing about first-occurrence semantics
      if (perRegion(q).size < vset.size * Depth) nonTrivial += 1
    }
    assert(nonTrivial > 0,
      "no query's per-region lists overlapped — the dedup rule was never exercised")
  }

  test("FerretDbEmdTopK == slice(array_sort(collect_list(struct(FerretDbEmd, cand))), 1, k)") {
    import spark.implicits._
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val index = imgIndexOf(spark.sparkContext)
    val emdIdx = emdIndexOf(spark.sparkContext)
    val topK = 4
    val qdf = queryRows.toDF("query_img", "vset", "wset")
    val cands = qdf.select(col("query_img"), col("vset"), col("wset"),
      ColumnBridge.column(FerretProbeRankSet(
        ColumnBridge.expression(col("vset")),
        index, mu, sd, Seed, Tables, Bits, Dim, Probes, Depth)).as("cands"))
    val got = cands.select(col("query_img"),
        ColumnBridge.column(FerretDbEmdTopK(
          ColumnBridge.expression(col("vset")),
          ColumnBridge.expression(col("wset")),
          ColumnBridge.expression(col("cands")), emdIdx, topK)).as("top"))
      .select(col("query_img"), posexplode(col("top")))
      .select(col("query_img"), col("pos"),
        col("col").getField("emd").as("emd"),
        col("col").getField("cand_img").as("cand_img"))
      .as[(String, Int, Double, String)].collect().sortBy(r => (r._1, r._2)).toSeq
    val want = cands.select(col("query_img"), col("vset"), col("wset"),
        explode(col("cands")).as("cand_img"))
      .select(col("query_img"),
        ColumnBridge.column(FerretDbEmd(
          ColumnBridge.expression(col("vset")),
          ColumnBridge.expression(col("wset")),
          ColumnBridge.expression(col("cand_img")), emdIdx)).as("emd"),
        col("cand_img"))
      .groupBy("query_img")
      .agg(slice(array_sort(collect_list(
          struct(col("emd"), col("cand_img")))), 1, topK).as("top"))
      .select(col("query_img"), posexplode(col("top")))
      .select(col("query_img"), col("pos"),
        col("col").getField("emd").as("emd"),
        col("col").getField("cand_img").as("cand_img"))
      .as[(String, Int, Double, String)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(got.nonEmpty, "no candidates at all — index too sparse to test")
    assert(got == want)
  }

  test("dist, dist_region and dist_plan rank shapes return identical top-K rows") {
    import spark.implicits._
    import org.apache.spark.sql.graftbridge.ColumnBridge
    import org.apache.spark.sql.expressions.Window
    val index = imgIndexOf(spark.sparkContext)
    val emdIdx = emdIndexOf(spark.sparkContext)
    val topK = 3
    val qdf = queryRows.toDF("query_img", "vset", "wset").localCheckpoint(true)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(String, String, Double, Int)] =
      df.as[(String, String, Double, Int)].collect().sortBy(r => (r._1, r._4)).toSeq
    // ---- dist: the fused single-stage production path ----
    val dist = rows(qdf.select(col("query_img"),
        ColumnBridge.column(FerretDbEmdTopK(
          ColumnBridge.expression(col("vset")),
          ColumnBridge.expression(col("wset")),
          ColumnBridge.expression(ColumnBridge.column(FerretProbeRankSet(
            ColumnBridge.expression(col("vset")),
            index, mu, sd, Seed, Tables, Bits, Dim, Probes, Depth))),
          emdIdx, topK)).as("top"))
      .select(col("query_img"), posexplode(col("top")))
      .select(col("query_img"),
        col("col").getField("cand_img").as("cand_img"),
        col("col").getField("emd").as("emd"),
        (col("pos") + 1).as("rank")))
    // ---- dist_region: per-region kernel + groupBy merge (r14-r15) ----
    val regionCands = qdf.select(col("query_img"), posexplode(col("vset")))
      .toDF("query_img", "ridx", "qv")
      .select(col("query_img"),
        ColumnBridge.column(FerretProbeRank(
          ColumnBridge.expression(col("qv")),
          index, mu, sd, Seed, Tables, Bits, Dim, Probes, Depth)).as("cands"))
      .groupBy("query_img")
      .agg(array_distinct(flatten(collect_list(col("cands")))).as("cands"))
      .select(col("query_img"), explode(col("cands")).as("cand_img"))
    def emdRank(over: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      over.join(qdf.select(col("query_img"), col("vset"), col("wset")), "query_img")
        .select(col("query_img"), col("cand_img"),
          ColumnBridge.column(FerretDbEmd(
            ColumnBridge.expression(col("vset")),
            ColumnBridge.expression(col("wset")),
            ColumnBridge.expression(col("cand_img")), emdIdx)).as("emd"))
        .groupBy("query_img")
        .agg(slice(array_sort(collect_list(
            struct(col("emd"), col("cand_img")))), 1, topK).as("top"))
        .select(col("query_img"), posexplode(col("top")))
        .select(col("query_img"),
          col("col").getField("cand_img").as("cand_img"),
          col("col").getField("emd").as("emd"),
          (col("pos") + 1).as("rank"))
    val distRegion = rows(emdRank(regionCands))
    // ---- dist_plan: the fully declarative twin (probe join + d2
    // window), RefFerret's differential reference shape ----
    val postingsDf = imgPostings.toSeq.flatMap { case (key, gids) =>
      gids.map { gid =>
        val (img, ridx, _) = imgRegions(gid)
        ((key >> 32).toInt, key & 0xffffffffL, img, ridx)
      }
    }.toDF("tbl", "bucket", "cand_img", "cridx")
    val dbRegionVecs = imgRegions.map { case (img, ridx, v) => (img, ridx, v.toSeq) }
      .toDF("cand_img", "cridx", "cv")
    val qProbes = queryRows.flatMap { case (q, vset, _) =>
      vset.indices.flatMap { r =>
        bucketsOf(vset(r).toArray, Probes).map { case (t, b) =>
          (q, r, t, b)
        }
      }
    }.toDF("query_img", "qridx", "tbl", "bucket")
    val qRegionVecs = qdf.select(col("query_img"), posexplode(col("vset")))
      .toDF("query_img", "qridx", "qv")
    val wReg = Window.partitionBy("query_img", "qridx")
      .orderBy(col("d2"), col("cand_img"), col("cridx"))
    val planCands = qProbes.join(postingsDf, Seq("tbl", "bucket"))
      .select("query_img", "qridx", "cand_img", "cridx").distinct()
      .join(qRegionVecs, Seq("query_img", "qridx"))
      .join(dbRegionVecs, Seq("cand_img", "cridx"))
      .withColumn("d2", aggregate(
        zip_with(col("qv"), col("cv"), (x, y) => (x - y) * (x - y)),
        lit(0.0), (acc, e) => acc + e))
      .withColumn("rn", row_number().over(wReg))
      .filter(col("rn") <= Depth)
      .select("query_img", "cand_img").distinct()
    val distPlan = rows(emdRank(planCands))
    assert(dist.nonEmpty, "dist shape returned nothing — index too sparse to test")
    assert(dist == distRegion,
      s"dist vs dist_region diverge: ${dist.diff(distRegion).take(3)} / ${distRegion.diff(dist).take(3)}")
    assert(dist == distPlan,
      s"dist vs dist_plan diverge: ${dist.diff(distPlan).take(3)} / ${distPlan.diff(dist).take(3)}")
  }

  test("FerretProbeRank dedups candidates across tables and respects the depth cut") {
    // one db region posted under EVERY probed bucket of a query →
    // the kernel must emit it once, and never more than depth entries
    val q = vec(7)
    val everywhere = bucketsOf(q, Probes)
      .map { case (t, b) => ((t.toLong << 32) | b) -> Array(0) }.toMap
    val index = spark.sparkContext.broadcast(FerretRegionIndex(
      Array(org.apache.spark.unsafe.types.UTF8String.fromString("dup_img")),
      Array(0), Array(vec(500)), everywhere))
    import spark.implicits._
    val out = Seq(q.toSeq).toDF("v")
      .select(org.apache.spark.sql.graftbridge.ColumnBridge.column(FerretProbeRank(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(col("v")),
        index, mu, sd, Seed, Tables, Bits, Dim, Probes, Depth)).as("cands"))
      .as[Seq[String]].collect().head
    assert(out == Seq("dup_img"), s"cross-table dedup broken: $out")
  }
}
