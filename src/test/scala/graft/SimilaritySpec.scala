package graft

import org.apache.spark.sql.functions._

import graft.operators.{Multimodal, Similarity}

class SimilaritySpec extends SparkSpec {

  test("ann_knn_graph: ranks are cosine-consistent, mutual flag symmetric, k bounded") {
    val rows = Similarity.annKnnGraph(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"),
        r.getAs[Double]("cos"), r.getAs[Int]("rank"), r.getAs[Boolean]("is_mutual")))
    assert(rows.nonEmpty)
    val byQ = rows.groupBy(_._1)
    byQ.foreach { case (q, es) =>
      assert(es.length <= Similarity.KnnK, s"query $q emitted ${es.length} > k edges")
      // ranks are 1..n and ordered by (cos desc, vec_id)
      val sorted = es.sortBy(_._4)
      assert(sorted.map(_._4).toSeq == (1 to es.length).toSeq)
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a._3 > b._3 || (a._3 == b._3 && a._2 < b._2),
            s"rank order violates (cos desc, id) at $q")
        case _ =>
      }
    }
    // mutual flag == reversed edge exists in the emitted set
    val edgeSet = rows.map(e => (e._1, e._2)).toSet
    rows.foreach { e =>
      assert(e._5 == edgeSet.contains((e._2, e._1)),
        s"is_mutual wrong for ${(e._1, e._2)}")
    }
    // determinism: a second run emits the identical edge set
    val again = Similarity.annKnnGraph(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"))).toSet
    assert(again == edgeSet)
  }

  test("ann_bruteforce: exactly NQ*K rows, no self-matches, cos bounded") {
    val res = Similarity.annBruteforce(spark, sfDir).cache()
    assert(res.count() == Similarity.NQueries.toLong * Similarity.TopK)
    assert(res.filter(col("query_id") === col("vec_id")).count() == 0)
    assert(res.filter(col("cos") > 1.000001 || col("cos") < -1.000001).count() == 0)
    // ranks are 1..K per query
    val badRank = res.groupBy("query_id").agg(max("rank").as("mx"))
      .filter(col("mx") =!= Similarity.TopK).count()
    assert(badRank == 0)
    res.unpersist()
  }

  test("ann_range: equals a driver-local exact threshold scan") {
    val got = Similarity.annRange(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val vecs = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    // same accumulation order as the CosineSim kernel → identical doubles
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) {
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; na += x * x; nb += y * y; i += 1
      }
      val d = math.sqrt(na) * math.sqrt(nb)
      if (d == 0.0) 0.0 else dot / d
    }
    val queries = vecs.filter(_._1 < Similarity.NQueries)
    val expected = (for {
      (q, qv) <- queries; (v, cv) <- vecs if v != q
      c = cos(qv, cv) if c >= Similarity.RangeTau
    } yield (q, v) -> c).toMap
    assert(got == expected, "range result diverged from the exact scan")
    assert(got.nonEmpty, "threshold returned nothing at this SF")
    // variable cardinality is the point: not every query returns
    // the same count (guards against an accidental top-k shape)
    val counts = got.keys.groupBy(_._1).view.mapValues(_.size).values.toSet
    val queriesWithHits = got.keys.map(_._1).toSet.size
    assert(counts.size > 1 || queriesWithHits < Similarity.NQueries,
      s"suspiciously uniform per-query counts: $counts")
  }

  test("ann_range_lsh: precision 1 vs exact range, recall useful and monotone in probes") {
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Similarity.annRange(spark, sfDir))
    val lsh = pairs(Similarity.annRangeLsh(spark, sfDir))
    // exact verify after candidate gen ⇒ every emitted pair is real
    assert((lsh -- exact).isEmpty, s"false positives: ${(lsh -- exact).take(5)}")
    // recall floor with headroom under the shipped MpTables×MpBits+T
    // configuration (collapse detector, the ann_recall convention):
    // measured 0.59 at sf0.001 / 0.52 at sf0.01 — in the same band as
    // the corpus-side production path (dedup_nd_recall 0.49); a broken
    // probe kernel or seed drops to ~0
    val recall = lsh.intersect(exact).size.toDouble / math.max(1, exact.size)
    info(f"range-lsh recall vs exact: $recall%.3f (${lsh.size}/${exact.size})")
    assert(recall >= 0.3, s"recall collapsed: $recall")
    // probe sets are margin-ordered prefixes, so the candidate pool —
    // and hence the emitted pair set — grows monotonically with T
    val p1 = pairs(Similarity.rangeLshAt(spark, sfDir, 1))
    val p5 = pairs(Similarity.rangeLshAt(spark, sfDir, 5))
    assert(p1.subsetOf(p5), "probe-set prefix property violated (1 vs 5)")
    // `lsh` above IS rangeLshAt(MpProbes) — no need to recompute it
    assert(p5.subsetOf(lsh), "probe-set prefix property violated (5 vs T)")
  }

  test("vec_quality: norms bounded and consistent, counts conserve the table") {
    val rows = Similarity.vecQuality(spark, sfDir).collect()
    val total = Tables.embeddings(spark, sfDir).count()
    assert(rows.map(_.getAs[Long]("n_vecs")).sum == total)
    rows.foreach { r =>
      assert(r.getAs[Long]("dim_min") == r.getAs[Long]("dim_max"),
        "synthetic embeddings must be fixed-dim")
      val mn = r.getAs[Double]("norm_min"); val mx = r.getAs[Double]("norm_max")
      val mean = r.getAs[Double]("norm_mean")
      assert(mn >= 0.0 && mn <= mx)
      // the decimal-summed mean sits within the min/max envelope (up
      // to the 1e-12 decimal quantization of each summand)
      assert(mean >= mn - 1e-9 && mean <= mx + 1e-9)
      assert(r.getAs[Long]("n_zero") == 0, "generator emits no zero vectors")
    }
  }

  test("ann_rank_fusion: RRF arithmetic exact, cosine top set preserved") {
    val res = Similarity.annRankFusion(spark, sfDir).cache()
    assert(res.count() == Similarity.NQueries.toLong * Similarity.TopK)
    val rows = res.collect()
    rows.foreach { r =>
      val rc = r.getAs[Int]("rank_cos"); val rd = r.getAs[Int]("rank_dot")
      assert(rc >= 0 && rc <= Similarity.TopK && rd >= 0 && rd <= Similarity.TopK)
      assert(rc > 0 || rd > 0, "a fused row must come from at least one list")
      val want = (if (rc > 0) 1.0 / (60 + rc) else 0.0) +
        (if (rd > 0) 1.0 / (60 + rd) else 0.0)
      assert(r.getAs[Double]("rrf") == want, s"rrf arithmetic drifted: $r")
    }
    // a vec ranked 1 by BOTH scorers holds the maximum possible rrf
    // and must be fused rank 1
    rows.filter(r => r.getAs[Int]("rank_cos") == 1 && r.getAs[Int]("rank_dot") == 1)
      .foreach(r => assert(r.getAs[Int]("rank") == 1))
    // every bruteforce (cosine) top-K pick appears with its exact
    // cosine rank — fusion may only ADD dot-ranked rows, never lose
    // or re-rank the cosine list
    val bf = Similarity.annBruteforce(spark, sfDir)
      .select("query_id", "vec_id", "rank").collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id")) ->
        r.getAs[Int]("rank")).toMap
    val fusedCos = rows.filter(_.getAs[Int]("rank_cos") > 0)
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id")) ->
        r.getAs[Int]("rank_cos")).toMap
    // the fused output keeps only fused-top-K rows, so the cosine list
    // inside it must be a consistent SUBSET of bruteforce
    fusedCos.foreach { case (k, rc) =>
      assert(bf.get(k).contains(rc), s"cosine rank drifted for $k")
    }
    res.unpersist()
  }

  test("ann_filtered: label-constrained top-k, pre-filter beats post-filter") {
    val res = Similarity.annFiltered(spark, sfDir).cache()
    // exactly K rows per query (every label has > K members at this sf)
    assert(res.count() == Similarity.NQueries.toLong * Similarity.TopK)
    assert(res.filter(col("query_id") === col("vec_id")).count() == 0)
    // every returned candidate actually carries the query's label
    val emb = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("label"))
    assert(res.join(emb, "vec_id")
      .filter(col("label") =!= col("qlabel")).count() == 0)
    // within-label ranking agrees with the unfiltered exact ranking:
    // the filtered top-k is the same-label prefix of the full ordering,
    // so any bruteforce row with the query's label must appear here
    // with rank <= its unfiltered same-label position
    val bf = Similarity.annBruteforce(spark, sfDir)
      .join(emb, "vec_id")
      .select(col("query_id").as("bq"), col("vec_id").as("bv"), col("label"))
    val qlabels = res.select("query_id", "qlabel").distinct()
    val bfSameLabel = bf.join(qlabels,
      col("bq") === col("query_id") && col("label") === col("qlabel"))
    val missing = bfSameLabel.join(res.select(col("query_id").as("rq"),
        col("vec_id").as("rv")),
      col("bq") === col("rq") && col("bv") === col("rv"), "left_anti")
    assert(missing.count() == 0,
      "a same-label global-top-k neighbor is absent from the filtered top-k")
    // the filter matters: some filtered pick is NOT in the global top-k
    // (post-filtering the unfiltered top-k would have lost it)
    val extra = res.join(
      Similarity.annBruteforce(spark, sfDir)
        .select(col("query_id").as("bq"), col("vec_id").as("bv")),
      col("query_id") === col("bq") && col("vec_id") === col("bv"), "left_anti")
    assert(extra.count() > 0, "filtered == unfiltered: predicate tested nothing")
    res.unpersist()
  }

  test("ann_lsh (spec-only 16x4 contrast since r15): at most K per query, results are real neighbors") {
    val res = Similarity.annLsh(spark, sfDir).cache()
    assert(res.count() > 0)
    val over = res.groupBy("query_id").count()
      .filter(col("count") > Similarity.TopK).count()
    assert(over == 0)
    res.unpersist()
  }

  test("annE2lsh (spec-only p-stable contrast, r15 verdict #7): literal E2LSH family vs the promoted multiprobe") {
    // the reference index's LITERAL hash family (p-stable E2LSH at
    // mkdb's -L 12 -M 17 -w 4.0708 -H 19697) run on the registered
    // query set with the registered output contract — the
    // apples-to-apples anchor for REFBENCH's index-family row. All
    // hashes are seeded, so these recalls are exact constants per SF.
    val exact = Similarity.annBruteforce(spark, sfDir)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def setOf(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val e2 = Similarity.annE2lsh(spark, sfDir).cache()
    // output contract: at most TopK per query, never a self-match
    assert(e2.groupBy("query_id").count()
      .filter(col("count") > Similarity.TopK).count() == 0)
    assert(e2.filter(col("query_id") === col("vec_id")).count() == 0)
    val e2Set = setOf(e2)
    e2.unpersist()
    val mpSet = setOf(Similarity.annLshMultiprobe(spark, sfDir))
    val e2Recall = (e2Set & exact).size.toDouble / exact.size
    val mpRecall = (mpSet & exact).size.toDouble / exact.size
    info(f"E2LSH (L=12 M=17 w=4.0708 H=19697) recall=$e2Recall%.3f vs " +
      f"multiprobe (4x8 T=${Similarity.MpProbes}) recall=$mpRecall%.3f")
    // the family must be live (real collisions, real neighbors found)
    assert(e2Set.nonEmpty, "E2LSH produced no candidates — the family is inert")
    assert(e2Recall > 0.0, "E2LSH recalled none of the exact top-k")
    // the promotion claim, quantified on-corpus: the registered
    // multiprobe family does not lose to the literal binary family
    assert(mpRecall >= e2Recall - 0.05,
      f"registered family under-recalls the E2LSH contrast: $mpRecall%.3f vs $e2Recall%.3f")
  }

  test("ann_lsh_multiprobe: recall monotone in probe count, probes buy real recall") {
    val exact = Similarity.annBruteforce(spark, sfDir)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallAt(t: Int): Double = {
      val got = Similarity.lshMultiprobeAt(spark, sfDir, t)
        .select("query_id", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      (got & exact).size.toDouble / exact.size
    }
    // candidate pools are nested in T (probing only ADDS buckets) and
    // stay under the over-fetch depth at this SF, so end recall must
    // be non-decreasing — and the probes must actually DO something:
    // 4 tables of 8-bit buckets alone (T=0) under-recall by design
    val sweep = Seq(0, 2, Similarity.MpProbes).map(t => t -> recallAt(t))
    info(sweep.map { case (t, r) => f"T=$t recall=$r%.3f" }.mkString(", "))
    sweep.sliding(2).foreach { case Seq((t1, r1), (t2, r2)) =>
      assert(r2 >= r1, s"recall fell as probes grew: T=$t1 $r1 -> T=$t2 $r2")
    }
    assert(sweep.last._2 > sweep.head._2,
      "probe expansion added no recall — the multiprobe path is inert")
    // the memory/recall trade holds: at a QUARTER of ann_lsh's index
    // entries (4 tables vs 16), the probed search matches its recall
    val lshRecall = {
      val got = Similarity.annLsh(spark, sfDir)
        .select("query_id", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      (got & exact).size.toDouble / exact.size
    }
    info(f"ann_lsh (16 tables) recall=$lshRecall%.3f vs multiprobe ${sweep.last._2}%.3f")
    assert(sweep.last._2 >= lshRecall - 0.05,
      s"multiprobe recall ${sweep.last._2} fell >0.05 below ann_lsh's $lshRecall")
  }

  test("ann_ivf: at most K per query") {
    val res = Similarity.annIvf(spark, sfDir).cache()
    assert(res.count() > 0)
    val over = res.groupBy("query_id").count()
      .filter(col("count") > Similarity.TopK).count()
    assert(over == 0)
    res.unpersist()
  }

  test("ann_ivf_indexed: partition-pruned index search equals in-memory IVF") {
    val mem = Similarity.annIvf(spark, sfDir)
      .select("query_id", "vec_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val idxDf = Similarity.annIvfIndexed(spark, sfDir)
    val idx = idxDf.select("query_id", "vec_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(idx == mem, s"indexed IVF diverged: ${idx.diff(mem).take(5)} vs ${mem.diff(idx).take(5)}")
    // the probe must read only its cells: partition pruning in the scan
    val plan = idxDf.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cell"),
      "index scan is not partition-pruned")
  }

  test("ann_ivf_append: segmented probe equals in-memory, delta never rewrites base") {
    val seg = Similarity.annIvfAppend(spark, sfDir)
      .select("query_id", "vec_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val ref = Similarity.ivfAppendReference(spark, sfDir)
      .select("query_id", "vec_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(seg == ref,
      s"segmented probe diverged: ${seg.diff(ref).take(5)} vs ${ref.diff(seg).take(5)}")
    // the append landed as an immutable DELTA segment: base files
    // untouched by a re-run (mtimes stable), both segments present,
    // and together they hold the whole corpus exactly once
    val root = new java.io.File(Similarity.ivfAppendRoot(spark, sfDir))
    def files(seg: String): Map[String, Long] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles).getOrElse(Array.empty).toSeq.flatMap(walk)
        else Seq(f)
      walk(new java.io.File(root, seg)).filter(_.getName.endsWith(".parquet"))
        .map(f => f.getAbsolutePath -> f.lastModified).toMap
    }
    val baseBefore = files("base")
    assert(baseBefore.nonEmpty && files("delta").nonEmpty)
    Similarity.annIvfAppend(spark, sfDir).collect() // re-run: segments reused
    assert(files("base") == baseBefore, "append rewrote base segment files")
    val total = spark.read.parquet(s"$root/base").count() +
      spark.read.parquet(s"$root/delta").count()
    assert(total == Tables.embeddings(spark, sfDir).count())
  }

  test("ann_stream_append: streamed delta segments reproduce the batch append exactly") {
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "vec_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val streamed = rows(Similarity.annStreamAppend(spark, sfDir))
    val batch = rows(Similarity.annIvfAppend(spark, sfDir))
    assert(streamed == batch,
      s"stream twin diverged: ${streamed.diff(batch).take(5)} vs ${batch.diff(streamed).take(5)}")
    // the maintenance loop really ran as MULTIPLE micro-batch epochs,
    // each its own immutable delta segment, together holding every
    // late arrival exactly once
    val root = new java.io.File(Similarity.streamIndexRoot(spark, sfDir))
    val deltas = Option(root.listFiles).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("delta_"))
    assert(deltas.length >= 2, s"expected multi-epoch ingest, got ${deltas.length}")
    val nDelta = deltas.map(d => spark.read.parquet(d.getAbsolutePath).count()).sum
    val nLate = Tables.embeddings(spark, sfDir)
      .filter(org.apache.spark.sql.functions.col("vec_id") % 7 === 3).count()
    assert(nDelta == nLate, s"delta rows $nDelta != late arrivals $nLate")
    // re-query: the maintained index is probed, segments untouched
    val mtimes = deltas.map(d => d.getName -> d.lastModified).toMap
    assert(rows(Similarity.annStreamAppend(spark, sfDir)) == batch)
    assert(deltas.map(d => d.getName -> d.lastModified).toMap == mtimes,
      "re-query rewrote delta segments")
  }

  test("ann_compact: gen-1 rewrite probes identically, gen-0 stays immutable") {
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "vec_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val gen0 = rows(Similarity.annStreamAppend(spark, sfDir))
    val root = new java.io.File(Similarity.streamIndexRoot(spark, sfDir))
    def gen0Files(): Map[String, Long] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles).getOrElse(Array.empty).toSeq.flatMap(walk)
        else Seq(f)
      Option(root.listFiles).getOrElse(Array.empty)
        .filter(f => f.isDirectory &&
          (f.getName == "base" || f.getName.startsWith("delta_")))
        .flatMap(walk).filter(_.getName.endsWith(".parquet"))
        .map(f => f.getAbsolutePath -> f.lastModified).toMap
    }
    val before = gen0Files()
    val gen1 = rows(Similarity.annCompact(spark, sfDir))
    // compaction only reorganizes bytes: identical top-k
    assert(gen1 == gen0,
      s"compacted probe diverged: ${gen1.diff(gen0).take(5)} vs ${gen0.diff(gen1).take(5)}")
    // old generation untouched (snapshot semantics — expiry is a
    // separate GC step, deliberately not performed)
    assert(gen0Files() == before, "compaction modified gen-0 segment files")
    // new generation: ONE segment holding the whole corpus
    val g1 = new java.io.File(root, "gen1/base")
    assert(new java.io.File(g1, "_SUCCESS").isFile)
    assert(spark.read.parquet(g1.toString).count() ==
      Tables.embeddings(spark, sfDir).count())
  }

  test("ann_ivf_indexed: cache survives probes against OTHER datasets") {
    // build-once/probe-many contract: a probe against dataset A must
    // not evict dataset B's live index (the bench alternates its
    // warm-up SF and measured SF on every invocation)
    def indexDirs(): Set[String] = {
      val root = new java.io.File(Stores.root(spark))
      Option(root.listFiles).getOrElse(Array.empty)
        .map(_.getName).filter(_.startsWith("ivf_idx_")).toSet
    }
    Similarity.annIvfIndexed(spark, sfDir).count()
    val afterA = indexDirs()
    assert(afterA.nonEmpty)
    Similarity.annIvfIndexed(spark, "/root/testdata/sf0.001").count()
    val afterB = indexDirs()
    assert(afterA.subsetOf(afterB),
      s"probing another dataset evicted live index dirs: ${afterA.diff(afterB)}")
    // re-probing A reuses the cached index (marker untouched)
    val marker = afterA.find(!_.endsWith(".centroids")).get
    val mtime = new java.io.File(
      s"${Stores.root(spark)}/$marker/_SUCCESS").lastModified
    Similarity.annIvfIndexed(spark, sfDir).count()
    val mtime2 = new java.io.File(
      s"${Stores.root(spark)}/$marker/_SUCCESS").lastModified
    assert(mtime == mtime2, "cached index was rebuilt on re-probe")
  }

  test("lshSearch: shuffle-join path equals broadcast path") {
    import org.apache.spark.sql.functions.col
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").as("v"))
    val q = e.filter(col("vec_id") % 10 === 0)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    def collect(bq: Boolean) = Similarity.lshSearch(e, q, broadcastQueries = bq)
      .select("query_id", "vec_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val bc = collect(true); val sh = collect(false)
    assert(bc == sh, s"shuffle path diverged: ${sh.diff(bc).take(5)} / ${bc.diff(sh).take(5)}")
    assert(bc.nonEmpty)
  }

  test("ferret_pipeline: the promoted multiprobe default never recalls below its T=0 family") {
    // the r14 promotion gate (REFBENCH r13/r14: T=20 recall 0.551 vs
    // 0.453 at T=0 on the 10k-db truth): on the registered key's own
    // 10% query batch, the shipped default must recall the exact
    // top-K at least as well as the same index family with probing
    // disabled — a regression that silently dropped the probe
    // expansion (or broke its bucket enumeration) fails here
    import org.apache.spark.sql.expressions.Window
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").as("v"))
    val q = e.filter(col("vec_id") % 10 === 0)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("vec_id"))
    val exact = e.join(org.apache.spark.sql.functions.broadcast(q),
        col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        graft.functions.VectorFns.cosine(col("qv"), col("v")).as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= Similarity.TopK)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallOf(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.select("query_id", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      (got & exact).size.toDouble / math.max(1, exact.size)
    }
    val shipped = recallOf(Similarity.ferretPipeline(spark, sfDir))
    val t0 = recallOf(Similarity.lshSearch(e, q, broadcastQueries = true,
      tables = Similarity.MpTables, bits = Similarity.MpBits, qProbes = 0))
    info(f"ferret_pipeline default recall=$shipped%.3f vs T=0 family $t0%.3f")
    assert(shipped >= t0,
      s"promoted default recalls worse than its probe-free family: $shipped < $t0")
  }

  test("regBitsFor: floor keeps T=MpProbes legal on any corpus size, grows with regions") {
    // the probe kernel requires nProbes < 2^bits — a floor below
    // log2(MpProbes)+1 would crash ferret_emd on tiny corpora
    Seq(1L, 10L, 61L, 1061L, 57000L, 5700000L).foreach { n =>
      val b = Similarity.regBitsFor(n)
      assert(Similarity.MpProbes < (1 << b),
        s"n=$n -> bits=$b cannot host T=${Similarity.MpProbes} probes")
    }
    assert(Similarity.regBitsFor(1061) == 9)   // sf0.01's region count
    assert(Similarity.regBitsFor(57000) == 14) // the REFBENCH corpus: max-bits
    assert(Similarity.regBitsFor(10) == 5)     // the floor
  }

  test("ferret_emd: top-k per query image, ascending exact EMD") {
    val res = Similarity.ferretEmd(spark, sfDir).cache()
    assert(res.count() > 0)
    // the vecsets come from the REAL segmenter now: re-rank must have
    // compared sets of differing cardinality (the general EMD path)
    val nr = Multimodal.mmSegment(spark, sfDir)
      .groupBy("doc_id").agg(max("n_regions").as("nr"))
    val mixed = res.join(nr.withColumnRenamed("doc_id", "query_img")
        .withColumnRenamed("nr", "qnr"), "query_img")
      .join(nr.withColumnRenamed("doc_id", "cand_img")
        .withColumnRenamed("nr", "cnr"), "cand_img")
      .filter(col("qnr") =!= col("cnr"))
    assert(mixed.count() > 0, "no variable-cardinality EMD pair ranked")
    assert(res.filter(col("emd") < 0).count() == 0)
    val over = res.groupBy("query_img").count()
      .filter(col("count") > Similarity.TopK).count()
    assert(over == 0)
    // within each query the rank order follows the emd order
    val wrongOrder = res.as("x").join(res.as("y"),
        col("x.query_img") === col("y.query_img") &&
          col("x.rank") < col("y.rank") && col("x.emd") > col("y.emd"))
      .count()
    assert(wrongOrder == 0)
    res.unpersist()
  }

  test("ann_recall: recalls in [0,1] and lsh finds something") {
    val res = Similarity.annRecall(spark, sfDir).cache()
    assert(res.count() == Similarity.NQueries)
    assert(res.filter(col("recall_lsh") < 0 || col("recall_lsh") > 1).count() == 0)
    assert(res.filter(col("recall_ivf") < 0 || col("recall_ivf") > 1).count() == 0)
    // HARD quality floors, not just well-formedness: a silent
    // regression in the LshBuckets seeds / banding or the IVF
    // centroid training would keep every structural check green while
    // recall collapses. Floors are collapse detectors calibrated with
    // ~30% headroom under the shipped configuration's measured value
    // at this SF (lsh 0.44 — end-recall here is bounded by the
    // reference-mandated 2k over-fetch through the sketch, not the
    // banding; ivf 0.86); a broken seed/centroid path drops to ~0.
    val (meanLsh, meanIvf) = {
      val r = res.agg(avg("recall_lsh"), avg("recall_ivf")).collect().head
      (r.getDouble(0), r.getDouble(1))
    }
    info(f"mean recall: lsh $meanLsh%.3f ivf $meanIvf%.3f")
    assert(meanLsh >= 0.3, s"LSH recall floor breached: $meanLsh < 0.3")
    assert(meanIvf >= 0.6, s"IVF recall floor breached: $meanIvf < 0.6")
    res.unpersist()
  }

  test("ann_depth_sweep: recall is monotone in over-fetch depth") {
    val rows = Similarity.annDepthSweep(spark, sfDir).collect()
      .sortBy(_.getAs[Int]("over_fetch"))
    assert(rows.length == 3)
    rows.foreach { r =>
      val rec = r.getAs[Double]("mean_recall")
      assert(rec >= 0.0 && rec <= 1.0)
    }
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(b.getAs[Double]("mean_recall") >= a.getAs[Double]("mean_recall"),
        s"recall fell as depth grew: ${rows.map(_.toString).mkString(", ")}")
    }
  }

  test("ann_depth_sweep: single-deep-search equals a per-depth recompute") {
    // the shipped sweep derives each depth by filtering phase1_rank of
    // ONE deep search; this recomputes every depth with an independent
    // lshSearch (the pre-r5 formulation) and demands identical recalls
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").as("v"))
    val q = e.filter(col("vec_id") < Similarity.NQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val exact = Similarity.annBruteforce(spark, sfDir)
      .select("query_id", "vec_id").localCheckpoint(true)
    val nq = q.count()
    // compare INTEGER hit counts per depth, not derived double recalls
    // — both sides divide by the same nq*TopK, so hits are the exact
    // quantity under test and immune to float-arithmetic reshuffles
    val expected = Similarity.SweepDepths.map { depth =>
      val approx = Similarity.lshSearch(e, q, overFetch = depth,
          tables = Similarity.MpTables, bits = Similarity.MpBits,
          qProbes = Similarity.MpProbes)
        .select("query_id", "vec_id")
      depth -> exact.intersect(approx).count()
    }.toMap
    val got = Similarity.annDepthSweep(spark, sfDir).collect()
      .map(r => r.getAs[Int]("over_fetch") ->
        math.round(r.getAs[Double]("mean_recall") * (nq * Similarity.TopK)))
      .toMap
    assert(got == expected, s"sweep diverged from per-depth recompute: $got vs $expected")
  }

  test("ann_nprobe_sweep: recall monotone in nprobe, 1.0 at all-cells") {
    val rows = Similarity.annNprobeSweep(spark, sfDir).collect()
      .sortBy(_.getAs[Int]("nprobe"))
    assert(rows.length == Similarity.SweepNprobes.length)
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(b.getAs[Double]("mean_recall") >= a.getAs[Double]("mean_recall"),
        s"recall fell as nprobe grew: ${rows.map(_.toString).mkString(", ")}")
    }
    // nprobe = IvfCells probes EVERY cell — the candidate pool is the
    // whole corpus, so the sweep's ceiling is brute force exactly
    val top = rows.last
    assert(top.getAs[Int]("nprobe") == Similarity.IvfCells)
    assert(top.getAs[Double]("mean_recall") == 1.0,
      s"all-cells probe must equal brute force: $top")
  }

  test("ann_nprobe_picks: the nprobe = NProbe cell equals ann_ivf") {
    // the shipped sweep derives each nprobe by filtering probe_rank of
    // ONE deepest-nprobe join; the production ann_ivf searches at
    // NProbe independently — their result sets must be identical
    val fromSweep = Similarity.annNprobePicks(spark, sfDir)
      .filter(col("nprobe") === Similarity.NProbe)
      .select("query_id", "vec_id", "rank")
    val ivf = Similarity.annIvf(spark, sfDir)
      .select("query_id", "vec_id", "rank")
    assert(fromSweep.exceptAll(ivf).isEmpty && ivf.exceptAll(fromSweep).isEmpty,
      "nprobe sweep cell diverged from ann_ivf")
  }

  test("ann_pq: IVF-PQ top-k is deterministic with useful recall") {
    val r1 = Similarity.annPq(spark, sfDir).collect()
    assert(r1.nonEmpty)
    val perQuery = r1.groupBy(_.getAs[Long]("query_id"))
    perQuery.values.foreach(rs => assert(rs.length <= Similarity.TopK))
    // deterministic: same codebook, same index, same result
    val r2 = Similarity.annPq(spark, sfDir).collect()
    assert(r1.map(_.toString).sorted.toSeq == r2.map(_.toString).sorted.toSeq)
    // recall vs the exact baseline: quantized phase-1 + exact re-rank
    // must recover a useful fraction of the true top-k
    val exact = Similarity.annBruteforce(spark, sfDir)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = r1.map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"))).toSet
    val recall = (exact & approx).size.toDouble / exact.size.toDouble
    assert(recall >= 0.5, s"IVF-PQ recall collapsed: $recall")
  }

  test("ann_pq_residual: IVFADC top-k deterministic, recall at least raw-PQ's band") {
    val r1 = Similarity.annPqResidual(spark, sfDir).collect()
    assert(r1.nonEmpty)
    r1.groupBy(_.getAs[Long]("query_id")).values
      .foreach(rs => assert(rs.length <= Similarity.TopK))
    val r2 = Similarity.annPqResidual(spark, sfDir).collect()
    assert(r1.map(_.toString).sorted.toSeq == r2.map(_.toString).sorted.toSeq)
    val exact = Similarity.annBruteforce(spark, sfDir)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallOf(rows: Array[org.apache.spark.sql.Row]): Double = {
      val a = rows.map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"))).toSet
      (exact & a).size.toDouble / exact.size.toDouble
    }
    val resRecall = recallOf(r1)
    val rawRecall = recallOf(Similarity.annPq(spark, sfDir).collect())
    // the residual codes only have to cover within-cell spread, so
    // recall must sit in (or above) raw PQ's band — both are capped
    // by the SHARED nprobe probe recall, hence the small slack for
    // per-query approximation noise rather than strict dominance
    assert(resRecall >= rawRecall - 0.05,
      s"residual PQ recall fell below raw PQ: $resRecall vs $rawRecall")
    assert(resRecall >= 0.5, s"IVFADC recall collapsed: $resRecall")
  }

  test("ann_pq_rotated: OPQ-lite deterministic, recall in raw-PQ's band, cos is exact") {
    val r1 = Similarity.annPqRotated(spark, sfDir).collect()
    assert(r1.nonEmpty)
    r1.groupBy(_.getAs[Long]("query_id")).values
      .foreach(rs => assert(rs.length <= Similarity.TopK))
    val r2 = Similarity.annPqRotated(spark, sfDir).collect()
    assert(r1.map(_.toString).sorted.toSeq == r2.map(_.toString).sorted.toSeq)
    val exact = Similarity.annBruteforce(spark, sfDir)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallOf(rows: Array[org.apache.spark.sql.Row]): Double = {
      val a = rows.map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"))).toSet
      (exact & a).size.toDouble / exact.size.toDouble
    }
    val rotRecall = recallOf(r1)
    val rawRecall = recallOf(Similarity.annPq(spark, sfDir).collect())
    // the PCA rotation shrinks subspace quantization error at the same
    // code size, so recall must sit in (or above) raw PQ's band — both
    // are capped by the shared nprobe probe recall
    assert(rotRecall >= rawRecall - 0.05,
      s"rotated PQ recall fell below raw PQ: $rotRecall vs $rawRecall")
    assert(rotRecall >= 0.5, s"OPQ-lite recall collapsed: $rotRecall")
    // phase-2 re-ranks with RAW vectors: emitted cos must equal the
    // exact cosine of the raw embeddings (rotation never leaks out)
    val raw = Tables.embeddings(spark, sfDir).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getSeq[Float](1)).toMap
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
        i += 1
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    r1.take(40).foreach { r =>
      val want = cos(raw(r.getAs[Long]("query_id")), raw(r.getAs[Long]("vec_id")))
      assert(math.abs(r.getAs[Double]("cos") - want) <= 1e-9,
        "emitted cos is not the raw exact cosine")
    }
  }

  test("ann_pq_rotated: PCA rotation reduces mean ADC error at equal code size") {
    import org.apache.spark.sql.functions._
    val e = Tables.parallel(spark, Tables.embeddings(spark, sfDir))
      .select(col("vec_id"), col("embedding").as("v"))
    val (lam, pcaBasis, _) = Similarity.pcaEigs(spark, sfDir, 64)
    val basis = Similarity.eigenvalueAllocate(lam, Similarity.PqM).map(pcaBasis)
    val eRot = Similarity.rotateFrame(spark, e, basis).localCheckpoint(true)
    // mean |adc_cos − exact_cos| of a frame against ITS OWN exact
    // cosine (rotation preserves cosine, so both frames chase the
    // same target up to float32 rounding)
    def meanAdcErr(frame: org.apache.spark.sql.DataFrame): Double = {
      val cb = Similarity.pqCodebook(frame)
      val q = frame.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("v").as("qv"))
      frame.join(broadcast(q), col("vec_id") =!= col("query_id"))
        .withColumn("codes",
          graft.functions.NativePq.encode(col("v"), cb, Similarity.PqM, Similarity.PqK))
        .select(abs(
          graft.functions.NativePq.adcDot(col("codes"), col("qv"), cb, Similarity.PqK) /
            (graft.functions.VectorFns.norm(col("qv")) *
              graft.functions.VectorFns.norm(col("v"))) -
          graft.functions.VectorFns.cosine(col("qv"), col("v"))).as("err"))
        .agg(avg("err")).first().getDouble(0)
    }
    val errRaw = meanAdcErr(e)
    val errRot = meanAdcErr(eRot)
    // the OPQ-P claim: principal-axis subspaces quantize tighter than
    // arbitrary coordinate blocks at the identical 8-byte code size
    assert(errRot < errRaw,
      s"rotation did not reduce ADC error: rot=$errRot raw=$errRaw")
  }

  test("ann_sq: codes bounded, per-dim error within step/2, near-exact recall") {
    import org.apache.spark.sql.functions._
    val e = Tables.parallel(spark, Tables.embeddings(spark, sfDir))
      .select(col("vec_id"), col("embedding").as("v"))
    val (mn, step) = Similarity.sqParams(e)
    // codes live in [0, 255]
    val codes = e.select(explode(Similarity.sqEncode(col("v"), mn, step)).as("c"))
    assert(codes.filter(col("c") < 0 || col("c") > 255).count() == 0)
    // SQ8 guarantee: |dequant − v| <= step/2 per dimension (+1 ulp slack)
    val worst = e
      .withColumn("deq", Similarity.sqDequant(
        Similarity.sqEncode(col("v"), mn, step), mn, step))
      .withColumn("vd", transform(col("v"), _.cast("double")))
      .withColumn("excess", expr(
        s"aggregate(zip_with(deq, vd, (a, b) -> abs(a - b)), cast(0.0 as double), " +
          "(acc, x) -> greatest(acc, x))"))
      .agg(max(col("excess"))).collect().head.getDouble(0)
    assert(worst <= step.max / 2.0 + 1e-12,
      s"SQ8 error bound breached: $worst > ${step.max / 2.0}")
    // flat SQ8 + exact re-rank is near-exact at this corpus scale
    val r1 = Similarity.annSq(spark, sfDir).collect()
    r1.groupBy(_.getAs[Long]("query_id")).values
      .foreach(rs => assert(rs.length <= Similarity.TopK))
    val r2 = Similarity.annSq(spark, sfDir).collect()
    assert(r1.map(_.toString).sorted.toSeq == r2.map(_.toString).sorted.toSeq)
    val exact = Similarity.annBruteforce(spark, sfDir)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = r1.map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"))).toSet
    val recall = (exact & approx).size.toDouble / exact.size.toDouble
    assert(recall >= 0.9, s"SQ8 recall collapsed: $recall")
  }

  test("vec_centroids: shape complete, means match a driver recomputation") {
    val rows = Similarity.vecCentroids(spark, sfDir).collect()
    val embs = Tables.embeddings(spark, sfDir)
      .select("label", "embedding").collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1)))
    val dim = embs.head._2.length
    val labels = embs.map(_._1).distinct
    assert(rows.length == labels.length * dim)
    // exact recomputation for one (label, dim) cell per label
    val byKey = rows.map(r =>
      (r.getAs[Int]("label"), r.getAs[Int]("dim")) -> r).toMap
    labels.foreach { l =>
      val vs = embs.filter(_._1 == l).map(_._2(0).toDouble)
      val r = byKey((l, 0))
      assert(r.getAs[Long]("n_vecs") == vs.length)
      val mean = vs.map(BigDecimal(_).setScale(10, BigDecimal.RoundingMode.HALF_UP))
        .sum.toDouble / vs.length
      assert(math.abs(r.getAs[Double]("mean_v") - mean) < 1e-9,
        s"centroid drifted for label $l: ${r.getAs[Double]("mean_v")} vs $mean")
    }
  }

  test("vec_cov: full upper triangle, exact Q40 sums vs driver recompute, PSD diagonals") {
    val rows = Similarity.vecCov(spark, sfDir).collect()
    val embs = Tables.embeddings(spark, sfDir)
      .select("embedding").collect().map(_.getSeq[Float](0))
    val d = embs.head.length
    assert(rows.length == d * (d + 1) / 2, "upper triangle incomplete")
    val byIj = rows.map(r =>
      (r.getAs[Long]("i"), r.getAs[Long]("j")) -> r).toMap
    assert(byIj.size == rows.length, "duplicate (i,j) cells")
    rows.foreach { r =>
      assert(r.getAs[Long]("i") <= r.getAs[Long]("j"))
      assert(r.getAs[Long]("n") == embs.length)
    }
    // bit-exact driver recompute of the Q40 moment sums for a cell row
    val q = 1099511627776.0
    for (j <- Seq(0L, 1L, (d - 1).toLong)) {
      val r = byIj((0L, j))
      val sxx = embs.map(e =>
        math.floor(e(0).toDouble * e(j.toInt).toDouble * q).toLong).sum
      val sxi = embs.map(e => math.floor(e(0).toDouble * q).toLong).sum
      assert(r.getAs[Long]("sxx_q40") == sxx, s"sxx_q40 drift at (0,$j)")
      assert(r.getAs[Long]("sxi_q40") == sxi, s"sxi_q40 drift at (0,$j)")
    }
    // diagonal variances are positive; off-diagonals obey Cauchy-Schwarz
    val diag = (0 until d).map(i => byIj((i.toLong, i.toLong)).getAs[Double]("cov"))
    diag.foreach(v => assert(v > 0.0, "zero/negative variance on real data"))
    rows.foreach { r =>
      val (i, j) = (r.getAs[Long]("i").toInt, r.getAs[Long]("j").toInt)
      val c = r.getAs[Double]("cov")
      assert(c * c <= diag(i) * diag(j) * (1.0 + 1e-6) + 1e-12,
        s"Cauchy-Schwarz violated at ($i,$j)")
    }
  }

  test("vec_pca_basis: eigen identity vs the exact covariance, orthonormal, descending") {
    val covRows = Similarity.vecCov(spark, sfDir).collect()
    val d = covRows.map(_.getAs[Long]("j")).max.toInt + 1
    val c = Array.ofDim[Double](d, d)
    covRows.foreach { r =>
      val (i, j) = (r.getAs[Long]("i").toInt, r.getAs[Long]("j").toInt)
      c(i)(j) = r.getAs[Double]("cov"); c(j)(i) = c(i)(j)
    }
    val rows = Similarity.vecPcaBasis(spark, sfDir).collect()
    val ks = rows.map(_.getAs[Long]("k")).distinct.sorted
    assert(rows.length == ks.length * d, "basis shape incomplete")
    val v = ks.map(k => Array.tabulate(d) { i =>
      rows.find(r => r.getAs[Long]("k") == k && r.getAs[Long]("i") == i)
        .get.getAs[Double]("v")
    })
    val lam = ks.map(k =>
      rows.find(_.getAs[Long]("k") == k).get.getAs[Double]("lambda"))
    // descending, positive spectrum on real data
    lam.sliding(2).foreach { case Array(a, b) => assert(a >= b); case _ => () }
    assert(lam.last > 0.0)
    // Cv = lambda v (the defining identity), unit norm, orthogonality
    for (ki <- ks.indices) {
      val cv = Array.tabulate(d)(i => (0 until d).map(j => c(i)(j) * v(ki)(j)).sum)
      cv.indices.foreach(i => assert(math.abs(cv(i) - lam(ki) * v(ki)(i)) <= 1e-10,
        s"eigen residual at k=$ki i=$i"))
      assert(math.abs(v(ki).map(x => x * x).sum - 1.0) <= 1e-10)
      // deterministic sign: the largest-|component| entry is positive
      val am = v(ki).indices.maxBy(i => (math.abs(v(ki)(i)), -i))
      assert(v(ki)(am) > 0.0, s"sign convention broken at k=$ki")
      for (kj <- 0 until ki)
        assert(math.abs(v(ki).zip(v(kj)).map { case (a, b) => a * b }.sum) <= 1e-10,
          s"eigenvectors $ki,$kj not orthogonal")
    }
  }

  test("vec_pca_project: per-component score variance equals the eigenvalue, centered") {
    val rows = Similarity.vecPcaProject(spark, sfDir).collect()
    val basis = Similarity.vecPcaBasis(spark, sfDir).collect()
    val lam = basis.groupBy(_.getAs[Long]("k")).view
      .mapValues(_.head.getAs[Double]("lambda")).toMap
    val n = Tables.embeddings(spark, sfDir).count()
    assert(rows.length == n * lam.size)
    rows.groupBy(_.getAs[Long]("k")).foreach { case (k, rs) =>
      val xs = rs.map(_.getAs[Double]("score"))
      val mean = xs.sum / xs.length
      val varp = xs.map(x => (x - mean) * (x - mean)).sum / xs.length
      assert(math.abs(mean) <= 1e-6, s"scores not centered at k=$k: $mean")
      assert(math.abs(varp - lam(k)) <= 1e-6 * math.max(1.0, lam(k)),
        s"projected variance != eigenvalue at k=$k: $varp vs ${lam(k)}")
    }
  }
}
