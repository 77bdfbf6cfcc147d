package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Sampling

class SamplingSpec extends SparkSpec {

  test("sample_hash: deterministic assignment, flag consistent with bucket") {
    val r1 = Sampling.sampleHash(spark, sfDir).collect()
    val r2 = Sampling.sampleHash(spark, sfDir).collect()
    assert(r1.map(_.toString).sorted.toSeq == r2.map(_.toString).sorted.toSeq)
    r1.foreach { r =>
      assert(r.getAs[Boolean]("sampled") == (r.getAs[String]("bucket") < "1999"))
    }
    val rate = r1.count(_.getAs[Boolean]("sampled")).toDouble / r1.length
    assert(rate >= 0.0 && rate <= 0.35, s"10% hash sample wildly off: $rate")
  }

  test("sample_split: partitions the corpus exactly, train dominates") {
    val rows = Sampling.sampleSplit(spark, sfDir).collect()
    val total = rows.map(_.getAs[Long]("n_docs")).sum
    assert(total == Tables.documents(spark, sfDir).count())
    val bySplit = rows.groupBy(_.getAs[String]("split"))
      .view.mapValues(_.map(_.getAs[Long]("n_docs")).sum).toMap
    assert(bySplit.keySet.subsetOf(Set("train", "val", "test")))
    assert(bySplit("train") > bySplit.getOrElse("val", 0L))
    assert(bySplit("train") > bySplit.getOrElse("test", 0L))
  }

  test("sample_stratified: at most K per source, ranks contiguous from 1") {
    val rows = Sampling.sampleStratified(spark, sfDir).collect()
    rows.groupBy(_.getAs[String]("source")).foreach { case (src, rs) =>
      val ranks = rs.map(_.getAs[Int]("rk")).sorted
      assert(ranks.length <= 25, s"stratum $src over quota")
      assert(ranks.toSeq == (1 to ranks.length), s"ranks not contiguous in $src")
    }
    // deterministic: re-run picks the identical documents
    val again = Sampling.sampleStratified(spark, sfDir).collect()
    assert(rows.map(_.toString).sorted.toSeq == again.map(_.toString).sorted.toSeq)
  }

  test("shard_pack: distributed prefix sum equals the naive global window") {
    val packed = Sampling.shardPack(spark, sfDir)
    // the naive formulation the shipped plan must NEVER use: one
    // global unpartitioned window (single-task sort at scale)
    val key = md5(concat(col("doc_id").cast("string"), lit(":pack")).cast("binary"))
    val naive = Tables.documents(spark, sfDir).select(col("doc_id"),
      key.as("key"),
      size(split(trim(col("text")), "\\s+")).cast("long").as("n_tokens"))
      .withColumn("cum_tokens",
        sum(col("n_tokens")).over(Window.orderBy(col("key"), col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("shard_id",
        floor((col("cum_tokens") - col("n_tokens")) / lit(4096.0)).cast("long"))
      .select("doc_id", "n_tokens", "cum_tokens", "shard_id")
    assert(packed.collect().map(_.toString).sorted.toSeq ==
      naive.collect().map(_.toString).sorted.toSeq)
  }

  test("shard_pack: contiguous shards within budget + one doc, spread plan") {
    val rows = Sampling.shardPack(spark, sfDir).collect()
    val maxDoc = rows.map(_.getAs[Long]("n_tokens")).max
    val byShard = rows.groupBy(_.getAs[Long]("shard_id"))
    byShard.foreach { case (sid, rs) =>
      val tot = rs.map(_.getAs[Long]("n_tokens")).sum
      assert(tot < 4096L + maxDoc, s"shard $sid over budget: $tot")
    }
    // shard ids are a contiguous 0..n range (contiguous hash-order runs)
    val ids = byShard.keySet
    assert(ids == (0L until ids.size).toSet)
    // the cumsum is a permutation-free exact prefix: max cum == total
    assert(rows.map(_.getAs[Long]("cum_tokens")).max ==
      rows.map(_.getAs[Long]("n_tokens")).sum)
    // scale posture: every window in the shipped plan is PARTITIONED —
    // the naive formulation's unpartitioned window (single-task global
    // sort) must never appear (AQE may still coalesce tiny test data,
    // so assert the plan property, not the partition count)
    val windows = Sampling.shardPack(spark, sfDir).queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.nonEmpty)
    windows.foreach(w => assert(w.partitionSpec.nonEmpty, "global window in shard_pack"))
  }

  test("sample_pps: every grid point covered exactly once, weights ∝ tokens") {
    val rows = Sampling.samplePps(spark, sfDir).collect()
    assert(rows.nonEmpty)
    // picks partition the grid: Σ n_picks = #grid points <= total tokens
    val total = Tables.documents(spark, sfDir)
      .select(sum(size(split(trim(col("text")), "\\s+")).cast("long")))
      .collect().head.getLong(0)
    val wantPicks = if (total < 256L) 0L else (total - 256L) / 512L + 1L
    assert(rows.map(_.getAs[Long]("n_picks")).sum == wantPicks,
      "grid points not covered exactly once")
    rows.foreach { r =>
      val (n, cum, picks) = (r.getAs[Long]("n_tokens"),
        r.getAs[Long]("cum_tokens"), r.getAs[Long]("n_picks"))
      // each pick is a grid point inside the doc's token interval
      assert(picks >= 1 && picks <= n / 512L + 1L, s"pick count $picks vs len $n")
      val firstPick = ((cum - n - 256L + 512L).max(0L) / 512L) * 512L + 256L
      assert(firstPick > cum - n && firstPick <= cum, "pick outside interval")
    }
    // deterministic re-run
    val again = Sampling.samplePps(spark, sfDir).collect()
    assert(rows.map(_.toString).sorted.toSeq == again.map(_.toString).sorted.toSeq)
    // scale posture: only PARTITIONED windows in the shipped plan
    Sampling.samplePps(spark, sfDir).queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }.foreach(w => assert(w.partitionSpec.nonEmpty, "global window in sample_pps"))
  }

  test("sample_weighted: exactly the K smallest keys, PPS bias, no global sort") {
    val df = Sampling.sampleWeighted(spark, sfDir)
    val rows = df.collect()
    assert(rows.length == 100)
    // the emitted set IS the global K-smallest: recompute every key
    // from the corpus and compare cut-exactly
    val all = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        greatest(size(split(trim(col("text")), "\\s+")).cast("long"), lit(1L)).as("w"),
        conv(substring(md5(concat(col("doc_id").cast("string"), lit(":sps"))
          .cast("binary")), 1, 13), 16, 10).cast("long").as("u"))
      .collect()
      .map(r => (r.getAs[Long]("u").toDouble / r.getAs[Long]("w").toDouble,
        r.getAs[Long]("doc_id"), r.getAs[Long]("w")))
    val expect = all.map { case (k, id, _) => (k, id) }.sorted.take(100).toSeq
    val got = rows.map(r => (r.getAs[Double]("key"), r.getAs[Long]("doc_id")))
      .sorted.toSeq
    assert(got == expect)
    // PPS bias: the sample's mean token count exceeds the corpus mean
    // (deterministic on this fixed corpus — longer docs are favored)
    val sampleMean = rows.map(_.getAs[Long]("n_tokens")).sum.toDouble / rows.length
    val corpusMean = all.map(_._3).sum.toDouble / all.length
    assert(sampleMean > corpusMean,
      s"no length bias: sample $sampleMean vs corpus $corpusMean")
    // scale shape: K-smallest runs as TakeOrdered (per-partition
    // top-K + K-row merge), never a global Sort
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(400))
  }

  test("seq_pack: segments tile every doc once and fill every sequence exactly") {
    val rows = Sampling.seqPack(spark, sfDir).collect()
    assert(rows.nonEmpty)
    // per doc: segments cover [0, n_tokens) contiguously, in seq order
    rows.groupBy(_.getAs[Long]("doc_id")).foreach { case (doc, segs) =>
      val n = segs.head.getAs[Long]("n_tokens")
      val sorted = segs.sortBy(_.getAs[Long]("seq_id"))
      assert(sorted.map(_.getAs[Long]("n_tok")).sum == n, s"doc $doc not tiled")
      var off = 0L
      sorted.foreach { r =>
        assert(r.getAs[Long]("doc_offset") == off, s"gap in doc $doc")
        off += r.getAs[Long]("n_tok")
      }
    }
    // per sequence: exactly 2048 tokens (the trailing sequence may be
    // short), segments tile [0, 2048) contiguously
    val bySeq = rows.groupBy(_.getAs[Long]("seq_id"))
    val lastSeq = bySeq.keySet.max
    assert(bySeq.keySet == (0L to lastSeq).toSet, "sequence ids not contiguous")
    bySeq.foreach { case (sid, segs) =>
      val sorted = segs.sortBy(_.getAs[Long]("seq_offset"))
      var off = 0L
      sorted.foreach { r =>
        assert(r.getAs[Long]("seq_offset") == off, s"gap in sequence $sid")
        off += r.getAs[Long]("n_tok")
      }
      if (sid != lastSeq) assert(off == 2048L, s"sequence $sid not full: $off")
      else assert(off <= 2048L)
    }
    // total conservation: Σ n_tok = Σ doc tokens
    val total = Tables.documents(spark, sfDir)
      .select(sum(size(split(trim(col("text")), "\\s+")).cast("long")))
      .collect().head.getLong(0)
    assert(rows.map(_.getAs[Long]("n_tok")).sum == total)
    // scale posture: only PARTITIONED windows in the shipped plan
    Sampling.seqPack(spark, sfDir).queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }.foreach(w => assert(w.partitionSpec.nonEmpty, "global window in seq_pack"))
  }

  // local reference implementation of the PPS arithmetic (hash order,
  // prefix sums, grid counting) — independent of every Spark kernel
  private def ppsReference(docs: Seq[(Long, Long)]): Map[Long, (Long, Long)] = {
    def key(id: Long): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      md.digest(s"$id:pps".getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
    def grid(x: Long): Long = if (x < 256L) 0L else (x - 256L) / 512L + 1L
    var cum = 0L
    docs.sortBy { case (id, _) => (key(id), id) }.flatMap { case (id, n) =>
      cum += n
      val picks = grid(cum) - grid(cum - n)
      if (picks >= 1) Some(id -> (cum, picks)) else None
    }.toMap
  }

  private def mkDocs(spec: Seq[(Long, Int)]) = {
    import spark.implicits._
    spec.map { case (id, n) => (id, Seq.fill(n)("w").mkString(" ")) }
      .toDF("doc_id", "text")
  }

  test("sample_pps: documents longer than the step carry multi-pick weights") {
    // one 2600-token doc (>5 steps) + a spread of shorter docs: the
    // long doc must be picked 5-6 times (its interval contains
    // floor(2600/512)=5 grid points minimum), and EVERY row must match
    // the local reference arithmetic exactly
    val spec = Seq((1L, 2600)) ++ (2L to 40L).map(i => (i, (i * 37 % 300).toInt + 5))
    val want = ppsReference(spec.map { case (id, n) => (id, n.toLong) })
    val got = Sampling.ppsFromDocs(mkDocs(spec)).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("cum_tokens"), r.getAs[Long]("n_picks"))).toMap
    assert(got == want, "PPS rows differ from the local reference")
    val longPicks = got(1L)._2
    assert(longPicks >= 5L && longPicks <= 6L,
      s"multi-pick weight wrong for the 2600-token doc: $longPicks")
    // total picks = total grid points
    val total = spec.map(_._2.toLong).sum
    assert(got.values.map(_._2).sum == (total - 256L) / 512L + 1L)
  }

  test("sample_pps: picks are stable for documents ahead of an append") {
    // systematic PPS over the hash order: appending documents only
    // perturbs cum_tokens (hence picks) AT AND AFTER the first
    // appended key — every document that sorts before it keeps its
    // exact (cum_tokens, n_picks) row. This is the growth-stability
    // contract that lets an incremental pipeline extend the sample
    // without reassigning history.
    def key(id: Long): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      md.digest(s"$id:pps".getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
    val base = (100L to 140L).map(i => (i, (i * 53 % 400).toInt + 10))
    // append ids chosen from the TOP quarter of the hash space so a
    // prefix of the base corpus provably sorts ahead of every one
    val appended = Iterator.from(900).map(_.toLong)
      .filter(id => key(id) >= "c0").take(10)
      .map(i => (i, (i * 29 % 350).toInt + 10)).toSeq
    val before = Sampling.ppsFromDocs(mkDocs(base)).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("cum_tokens"), r.getAs[Long]("n_picks"))).toMap
    val after = Sampling.ppsFromDocs(mkDocs(base ++ appended)).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("cum_tokens"), r.getAs[Long]("n_picks"))).toMap
    val firstNewKey = appended.map { case (id, _) => (key(id), id) }.min
    val stable = base.map(_._1)
      .filter(id => Ordering[(String, Long)].lt((key(id), id), firstNewKey)).toSet
    assert(stable.nonEmpty, "test corpus degenerate: no doc ahead of the append")
    stable.foreach { id =>
      assert(before.get(id) == after.get(id),
        s"doc $id ahead of the append changed its pick row")
    }
    // and at least one later doc DID shift (the append is real)
    assert(base.map(_._1).exists(id => before.get(id) != after.get(id) ||
      !stable.contains(id)))
  }

  test("mix_budget: kept set is the maximal quality-prefix within budget") {
    val rows = Sampling.mixBudget(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[String]("source")).foreach { case (src, rs) =>
      val ordered = rs.sortBy(r =>
        (-r.getAs[Double]("quality_score"), r.getAs[Long]("doc_id")))
      // kept is a PREFIX of the quality order
      val kept = ordered.map(_.getAs[Boolean]("kept"))
      assert(!kept.dropWhile(identity).contains(true), s"$src: non-prefix keep set")
      // within budget, and maximal: the first dropped doc would overflow
      val keptTok = ordered.filter(_.getAs[Boolean]("kept")).map(_.getAs[Long]("n_tokens")).sum
      assert(keptTok <= 8192L, s"$src over budget")
      ordered.find(!_.getAs[Boolean]("kept")).foreach { first =>
        assert(keptTok + first.getAs[Long]("n_tokens") > 8192L, s"$src: not maximal")
      }
      // running totals are the per-source prefix sums of the order
      var acc = 0L
      ordered.foreach { r =>
        acc += r.getAs[Long]("n_tokens")
        assert(r.getAs[Long]("cum_tokens") == acc, s"$src: broken running total")
      }
    }
  }

  test("mix_temperature: Hamilton apportionment of isqrt weights, Σalloc = B") {
    val rows = Sampling.mixTemperature(spark, sfDir).collect()
    val nSources = Tables.documents(spark, sfDir)
      .select("source").distinct().count()
    assert(rows.length == nSources)
    // integer sqrt is exact
    rows.foreach { r =>
      val n = r.getAs[Long]("n_tokens"); val w = r.getAs[Long]("weight")
      assert(w * w <= n && (w + 1) * (w + 1) > n, s"isqrt wrong for $n: $w")
    }
    val wTotal = rows.map(_.getAs[Long]("weight")).sum
    // base quotas + remainders are the exact integer division
    rows.foreach { r =>
      val w = r.getAs[Long]("weight")
      assert(r.getAs[Long]("base_quota") == 4096L * w / wTotal)
      assert(r.getAs[Long]("remainder") == 4096L * w % wTotal)
    }
    // allocation sums exactly to the budget; extras go to the largest
    // remainders in rank order
    assert(rows.map(_.getAs[Long]("alloc")).sum == 4096L)
    val leftover = 4096L - rows.map(_.getAs[Long]("base_quota")).sum
    val byRank = rows.sortBy(r =>
      (-r.getAs[Long]("remainder"), r.getAs[String]("source")))
    byRank.zipWithIndex.foreach { case (r, i) =>
      assert(r.getAs[Long]("rem_rank") == i + 1, s"rank mismatch at $i")
      assert(r.getAs[Boolean]("extra") == (i < leftover))
      assert(r.getAs[Long]("alloc") ==
        r.getAs[Long]("base_quota") + (if (i < leftover) 1L else 0L))
    }
    // temperature actually damps: the biggest source's allocation share
    // is below its token share (and the smallest's above), unless all
    // sources are identical
    val big = rows.maxBy(_.getAs[Long]("n_tokens"))
    val small = rows.minBy(_.getAs[Long]("n_tokens"))
    if (big.getAs[Long]("n_tokens") > small.getAs[Long]("n_tokens")) {
      val tokTotal = rows.map(_.getAs[Long]("n_tokens")).sum.toDouble
      assert(big.getAs[Long]("alloc").toDouble / 4096.0 <
        big.getAs[Long]("n_tokens") / tokTotal + 1.0 / 4096.0)
      assert(small.getAs[Long]("alloc").toDouble / 4096.0 >
        small.getAs[Long]("n_tokens") / tokTotal - 1.0 / 4096.0)
    }
  }

  test("mix_epochs: repeats realize the allocation, temperature orders epochs") {
    val rows = Sampling.mixEpochs(spark, sfDir).collect()
    assert(rows.length == Tables.documents(spark, sfDir).count(),
      "one row per document")
    val bySource = rows.groupBy(_.getAs[String]("source"))
    // the total budget is the corpus token count, apportioned exactly
    val totTokens = rows.map(_.getAs[Long]("n_tokens")).sum
    val allocs = bySource.map { case (_, rs) => rs.head.getAs[Long]("alloc") }
    assert(allocs.sum == totTokens, "Σalloc must equal the corpus tokens")
    bySource.foreach { case (src, rs) =>
      val alloc = rs.head.getAs[Long]("alloc")
      val srcTokens = rs.head.getAs[Long]("src_tokens")
      assert(rs.map(_.getAs[Long]("n_tokens")).sum == srcTokens)
      val full = rs.head.getAs[Long]("full_epochs")
      val rem = alloc - full * srcTokens
      assert(full == alloc / srcTokens, s"full_epochs drifted for $src")
      // realized tokens = full epochs + the admitted prefix: within
      // one document of the partial-pass target (prefix cut is at doc
      // granularity, cum <= rem admits only whole docs)
      val realized = rs.map(r => r.getAs[Long]("n_repeats") * r.getAs[Long]("n_tokens")).sum
      val maxDoc = rs.map(_.getAs[Long]("n_tokens")).max
      assert(realized <= full * srcTokens + rem)
      assert(realized > full * srcTokens + rem - maxDoc,
        s"partial pass under-filled for $src: $realized vs ${full * srcTokens + rem}")
      // the extra pick set is exactly the hash-order token prefix
      val inOrder = rs.sortBy(r =>
        (r.getAs[String]("epoch_key"), r.getAs[Long]("doc_id")))
      var cum = 0L
      inOrder.foreach { r =>
        cum += r.getAs[Long]("n_tokens")
        assert(r.getAs[Long]("cum_tokens") == cum)
        assert(r.getAs[Boolean]("extra") == (cum <= rem))
        assert(r.getAs[Long]("n_repeats") == full + (if (cum <= rem) 1L else 0L))
      }
    }
    // √-temperature monotonicity: the continuous epoch rate 1/√n is
    // decreasing, but the EXACT integer weights floor it (isqrt(1332)
    // = 36 vs isqrt(1369) = 37 inverts near-equal sizes by < 1/w
    // relative) — so assert monotone within the rounding bound, and
    // strictly at the endpoints when sizes differ materially
    val eff = bySource.values.map { rs =>
      (rs.head.getAs[Long]("src_tokens"),
        rs.head.getAs[Long]("alloc").toDouble / rs.head.getAs[Long]("src_tokens"))
    }.toSeq.sortBy(_._1)
    eff.sliding(2).foreach {
      case Seq((n1, e1), (n2, e2)) if n1 < n2 =>
        val slack = 2.0 / math.sqrt(n1.toDouble) // isqrt floor bound
        assert(e1 >= e2 * (1.0 - slack), s"epoch rate not damped: $n1→$e1 vs $n2→$e2")
      case _ => ()
    }
    val (nLo, eLo) = eff.head; val (nHi, eHi) = eff.last
    if (nHi >= 2 * nLo)
      assert(eLo > eHi, "smallest source must get strictly more epochs")
  }

  test("shard_manifest: lines match a driver recompute from the assignment") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val assign = Sampling.shardPack(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("shard_id"), r.getAs[Long]("doc_id"),
        r.getAs[Long]("n_tokens"), r.getAs[Long]("cum_tokens")))
    val expect = assign.groupBy(_._1).map { case (sid, rows) =>
      val ordered = rows.sortBy(_._4)
      sid -> ((ordered.length.toLong, ordered.map(_._3).sum,
        ordered.map(_._4).min, ordered.map(_._4).max,
        md5hex(ordered.map(_._2).mkString(":"))))
    }
    val got = Sampling.shardManifest(spark, sfDir).collect()
      .map(r => r.getAs[Long]("shard_id") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("shard_tokens"),
          r.getAs[Long]("first_cum"), r.getAs[Long]("last_cum"),
          r.getAs[String]("members_md5")))).toMap
    assert(got.keySet == expect.keySet)
    expect.foreach { case (sid, e) =>
      assert(got(sid) == e, s"shard $sid: got ${got(sid)}, expected $e")
    }
    // shards are contiguous prefix-sum spans: no overlap between shards
    val spans = got.toSeq.sortBy(_._1).map { case (_, v) => (v._3, v._4) }
    spans.sliding(2).foreach {
      case Seq((_, lastA), (firstB, _)) => assert(lastA < firstB)
      case _ => ()
    }
  }

  test("mix_curriculum: rank is a permutation, stages balanced and quality-monotone") {
    val rows = Sampling.mixCurriculum(spark, sfDir).collect()
    val n = Tables.documents(spark, sfDir).count()
    assert(rows.length == n)
    // rk is exactly 1..n (the distributed prefix rank is a permutation)
    assert(rows.map(_.getAs[Long]("rk")).sorted.toSeq == (1L to n).toSeq)
    // stage sizes within 1 of each other, full 1..4 coverage
    val sizes = rows.groupBy(_.getAs[Int]("stage")).view.mapValues(_.length)
    assert(sizes.keySet == Set(1, 2, 3, 4))
    assert(sizes.values.max - sizes.values.min <= 1)
    // stage is monotone in (quality_score, doc_id): the whole ordering
    // by rank must produce non-decreasing quality stage boundaries
    val byRank = rows.sortBy(_.getAs[Long]("rk"))
    byRank.sliding(2).foreach {
      case Array(a, b) =>
        val qa = (a.getAs[Double]("quality_score"), a.getAs[Long]("doc_id"))
        val qb = (b.getAs[Double]("quality_score"), b.getAs[Long]("doc_id"))
        assert(Ordering[(Double, Long)].lt(qa, qb), "rank order broke quality order")
        assert(a.getAs[Int]("stage") <= b.getAs[Int]("stage"))
      case _ => ()
    }
    // shuffle key is the salted md5 primitive — driver recompute
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    rows.take(20).foreach { r =>
      assert(r.getAs[String]("shuffle_key") ==
        md5hex(s"${r.getAs[Long]("doc_id")}:curr"))
    }
  }

  test("sample_bootstrap: full replicate grid, Poisson-mass counts, threshold recompute") {
    val rows = Sampling.sampleBootstrap(spark, sfDir).collect()
    val srcCounts = Tables.documents(spark, sfDir)
      .groupBy("source").count().collect()
      .map(r => r.getAs[String]("source") -> r.getAs[Long]("count")).toMap
    assert(rows.length == srcCounts.size * 8, "replicate grid incomplete")
    rows.foreach { r =>
      val n = srcCounts(r.getAs[String]("source"))
      val eff = r.getAs[Long]("n_eff")
      // Poisson(1) resampling: E[n_eff] = n, sd = sqrt(n) — allow 5 sd
      assert(math.abs(eff - n) <= 5 * math.sqrt(n.toDouble) + 1,
        s"n_eff $eff implausible for source of $n docs")
      assert(r.getAs[Double]("rep_mean") > 0.0)
    }
    // replicates genuinely differ (the spread IS the estimator)
    rows.groupBy(_.getAs[String]("source")).foreach { case (src, rs) =>
      assert(rs.map(_.getAs[Double]("rep_mean")).distinct.length > 1,
        s"all replicates identical for $src")
    }
    // driver recompute of the thresholded multiplicity for one doc × reps
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val ts = Seq(1656781714176974L, 3313563428353948L, 4141954285442435L,
      4418084571138597L, 4487117142562638L, 4500923656847446L,
      4503224742561580L, 4503553469092171L)
    val doc = Tables.documents(spark, sfDir)
      .select("doc_id", "source", "text").collect().head
    val perRepK = (0 until 8).map { rep =>
      val u = java.lang.Long.parseLong(
        md5hex(s"${doc.getAs[Long]("doc_id")}:bs$rep").take(13), 16)
      ts.count(u >= _).toLong
    }
    // the doc's k values live on the truncated support
    perRepK.foreach(k => assert(k >= 0 && k <= 8))
    // determinism end-to-end
    val again = Sampling.sampleBootstrap(spark, sfDir).collect()
    assert(rows.map(_.toString).sorted.toSeq == again.map(_.toString).sorted.toSeq)
  }

  test("shard_tar: byte-exact payload round-trip, valid checksums, pack order, exact sizes") {
    val rows = Sampling.shardTar(spark, sfDir).collect()
    val pack = Sampling.shardPack(spark, sfDir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("shard_id"), r.getAs[Long]("cum_tokens"))).toMap
    val texts = Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    assert(rows.map(_.getAs[Long]("n_docs")).sum == texts.size,
      "every document must land in exactly one shard")
    val outDir = Sampling.tarShardDir(spark, sfDir)
    val seen = scala.collection.mutable.Set[Long]()
    rows.foreach { r =>
      val shard = r.getAs[Long]("shard_id")
      val f = new java.io.File(outDir, f"shard-$shard%05d.tar")
      assert(f.isFile, s"missing shard file $f")
      val bytes = java.nio.file.Files.readAllBytes(f.toPath)
      assert(bytes.length.toLong == r.getAs[Long]("tar_bytes"),
        s"on-disk size differs from emitted tar_bytes for shard $shard")
      // parse validates every header checksum
      val members = graft.functions.TarShards.parse(bytes)
      assert(members.length.toLong == r.getAs[Long]("n_docs"))
      assert(members.map(_._2.length.toLong).sum == r.getAs[Long]("payload_bytes"))
      // member order IS pack order (cum_tokens ascending)
      val ids = members.map(m => m._1.stripSuffix(".txt").toLong)
      val cums = ids.map(id => pack(id)._2)
      assert(cums == cums.sorted, s"members out of pack order in shard $shard")
      ids.foreach { id =>
        assert(pack(id)._1 == shard, s"doc $id landed in the wrong shard")
        assert(!seen(id), s"doc $id appears twice"); seen += id
      }
      // byte-exact payload round-trip against the table
      members.foreach { case (name, data) =>
        val id = name.stripSuffix(".txt").toLong
        assert(java.util.Arrays.equals(data, texts(id).getBytes("UTF-8")),
          s"payload corrupted for doc $id")
      }
    }
    assert(seen.size == texts.size)
  }

  test("shard_untar: distributed read-back reproduces the documents table exactly") {
    val got = Sampling.shardUntar(spark, sfDir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    val want = Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    assert(got.size == want.size, "round-trip row count drifted")
    want.foreach { case (id, text) =>
      assert(got.get(id).contains(text), s"round-trip corrupted doc $id")
    }
  }

  test("mix_dsir: permutation rank, exact-K selection, target-likeness, Gumbel key recompute") {
    val rows = Sampling.mixDsir(spark, sfDir).collect()
    val n = Tables.documents(spark, sfDir).count()
    assert(rows.length == n, "every document must be scored")
    // rk is exactly 1..n and selection is exactly the top-K keys
    assert(rows.map(_.getAs[Long]("rk")).sorted.toSeq == (1L to n).toSeq)
    assert(rows.count(_.getAs[Boolean]("selected")) == math.min(100, n))
    val byRank = rows.sortBy(_.getAs[Long]("rk"))
    byRank.sliding(2).foreach {
      case Array(a, b) =>
        val ka = (-a.getAs[Double]("sel_key"), a.getAs[Long]("doc_id"))
        val kb = (-b.getAs[Double]("sel_key"), b.getAs[Long]("doc_id"))
        assert(Ordering[(Double, Long)].lt(ka, kb), "rank order broke key order")
      case _ => ()
    }
    // sel_key − logw is the deterministic Gumbel: recompute from md5
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    rows.take(20).foreach { r =>
      val u52 = java.lang.Long.parseLong(
        md5hex(s"${r.getAs[Long]("doc_id")}:dsg").take(13), 16)
      val g = -math.log(-math.log((u52 + 0.5) / 4503599627370496.0))
      val echo = r.getAs[Double]("sel_key") - r.getAs[Double]("logw")
      assert(math.abs(echo - g) <= 1e-9 * math.max(1.0, math.abs(g)),
        s"Gumbel drift for doc ${r.getAs[Long]("doc_id")}")
    }
    // the point of DSIR: target-language docs score higher on average
    val langs = Tables.documents(spark, sfDir)
      .select("doc_id", "lang").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("lang")).toMap
    val (en, rest) = rows.partition(r => langs(r.getAs[Long]("doc_id")) == "en")
    val meanEn = en.map(_.getAs[Double]("logw")).sum / en.length
    val meanRest = rest.map(_.getAs[Double]("logw")).sum / rest.length
    assert(meanEn > meanRest,
      s"target docs must out-score raw on average: en=$meanEn rest=$meanRest")
    // deterministic end-to-end
    val again = Sampling.mixDsir(spark, sfDir).collect()
    assert(rows.map(_.toString).sorted.toSeq == again.map(_.toString).sorted.toSeq)
  }
}
