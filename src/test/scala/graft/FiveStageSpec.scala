package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Dataset, Row}

import graft.operators.Dedup
import graft.streaming.StreamingPipelines

/** End-to-end proof of the composed 5-stage dedup pipeline
  * (Fragment→Refine→Deduplicate→Compress→Reorder): streamed in
  * micro-batches it must chunk exactly like the batch operators,
  * converge the digest store to one first per distinct content,
  * restore every document byte-exactly from the emitted archive
  * (dedup_restore parity), and emit a dense global sequence in
  * (doc_id, chunk_idx) order. */
class FiveStageSpec extends SparkSpec {

  test("five-stage pipeline: chunk parity, restore parity, ordered emit, store convergence") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val storeDir =
      s"${System.getProperty("java.io.tmpdir")}/graft_5stage_spec_${System.nanoTime()}"
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
      .orderBy("doc_id").as[(Long, String)].collect()
    val out = scala.collection.mutable.ArrayBuffer[Row]()
    try {
      val source =
        org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
      val stage = StreamingPipelines.fiveStageBatch(spark, storeDir) _
      val q = source.toDF().toDF("doc_id", "text").writeStream
        .foreachBatch { (b: Dataset[Row], id: Long) =>
          out.synchronized { out ++= stage(b.toDF(), id).collect() }: Unit
        }
        .start()
      // three ordered micro-batches, drained one at a time
      docs.grouped(docs.length / 3 + 1).foreach { g =>
        source.addData(g.toSeq)
        q.processAllAvailable()
      }
      q.stop()

      // 1. chunk parity: the streamed pipeline chunks exactly like the
      // batch chunk table
      val streamed = out.map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Int]("chunk_idx"), r.getAs[String]("chunk_sha"))).toSet
      val batchChunks = Dedup.dedupChunk(spark, sfDir)
        .select("doc_id", "chunk_idx", "chunk_sha").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
      assert(streamed == batchChunks,
        s"chunk drift: +${streamed.diff(batchChunks).size} -${batchChunks.diff(streamed).size}")

      // 2. store convergence: exactly one is_first per distinct digest,
      // and firsts cover every digest (the archive dictionary is complete)
      val firsts = out.filter(_.getAs[Boolean]("is_first"))
      val firstShas = firsts.map(_.getAs[String]("chunk_sha"))
      assert(firstShas.distinct.size == firstShas.size, "digest compressed twice")
      assert(firstShas.toSet == streamed.map(_._3), "archive dictionary incomplete")
      // firsts carry payload + deflate length; duplicates only the reference
      assert(firsts.forall(r => r.getAs[Array[Byte]]("piece") != null &&
        r.getAs[Int]("comp_len") > 0))
      assert(out.filter(!_.getAs[Boolean]("is_first"))
        .forall(r => r.isNullAt(r.fieldIndex("piece")) &&
          r.isNullAt(r.fieldIndex("comp_len"))))

      // 3. restore parity (the dedup_restore check, cross-stream):
      // reassemble every doc from the archive and compare digests
      val dict = firsts.map(r =>
        r.getAs[String]("chunk_sha") -> r.getAs[Array[Byte]]("piece")).toMap
      val textSha = docs.map { case (id, t) =>
        id -> java.security.MessageDigest.getInstance("SHA-256")
          .digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString
      }.toMap
      out.groupBy(_.getAs[Long]("doc_id")).foreach { case (id, rows) =>
        val restored = rows.sortBy(_.getAs[Int]("chunk_idx"))
          .flatMap(r => dict(r.getAs[String]("chunk_sha"))).toArray
        val sha = java.security.MessageDigest.getInstance("SHA-256")
          .digest(restored).map("%02x".format(_)).mkString
        assert(sha == textSha(id), s"doc $id failed to restore byte-exactly")
      }

      // 4. ordered emission: emit_seq is dense 0..N-1 across all
      // batches and follows (doc_id, chunk_idx) order
      val seqs = out.map(_.getAs[Long]("emit_seq")).sorted
      assert(seqs == (0L until out.size.toLong).toSeq, "emit_seq not dense")
      val inEmitOrder = out.sortBy(_.getAs[Long]("emit_seq"))
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("chunk_idx")))
      assert(inEmitOrder == inEmitOrder.sorted, "emit order != (doc_id, chunk_idx) order")

      // 5. cross-query convergence: replaying the same docs against the
      // SAME store finds zero new content (every chunk is a duplicate)
      // (collect eagerly: the NEXT stage() call frees this batch's
      // checkpoint blocks, after which the frame cannot re-evaluate)
      val replay = stage(spark.createDataFrame(docs.toSeq).toDF("doc_id", "text"), 99L)
        .collect()
      assert(replay.count(_.getAs[Boolean]("is_first")) == 0,
        "store did not converge: replay found new digests")

      // 6. at-least-once REDELIVERY of the last epoch (same epoch id,
      // same data — the crash-after-store-advance case): the output
      // must be row-identical to the first delivery — same is_first
      // classification (store advanced by the failed attempt must not
      // reclassify the batch all-duplicate) and the SAME emit_seq
      // range (no hole in the dense sequence) — and the digest store
      // must not grow
      val digests = spark.read.parquet(s"$storeDir/digests")
        .select("chunk_sha").distinct().count()
      val redelivered = stage(
        spark.createDataFrame(docs.toSeq).toDF("doc_id", "text"), 99L).collect()
      assert(redelivered.map(_.toSeq).toSet == replay.map(_.toSeq).toSet,
        "redelivered epoch did not reproduce the original delivery")
      assert(spark.read.parquet(s"$storeDir/digests")
        .select("chunk_sha").distinct().count() == digests,
        "redelivery grew the digest store")
    } finally {
      StreamingPipelines.deleteRecursively(new java.io.File(storeDir))
    }
  }

  test("five-stage pipeline: restart resumes the store and the emit frontier") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val storeDir =
      s"${System.getProperty("java.io.tmpdir")}/graft_5stage_restart_${System.nanoTime()}"
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
      .orderBy("doc_id").as[(Long, String)].collect()
    val (half1, half2) = docs.splitAt(docs.length / 2)
    val out = scala.collection.mutable.ArrayBuffer[Row]()
    def runQuery(batch: Array[(Long, String)]): Unit = {
      val source =
        org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
      val stage = StreamingPipelines.fiveStageBatch(spark, storeDir) _
      val q = source.toDF().toDF("doc_id", "text").writeStream
        .foreachBatch { (b: Dataset[Row], id: Long) =>
          out.synchronized { out ++= stage(b.toDF(), id).collect() }: Unit
        }
        .start()
      source.addData(batch.toSeq)
      q.processAllAvailable()
      q.stop() // simulate a shutdown: only the parquet store survives
    }
    try {
      runQuery(half1)
      runQuery(half2) // a NEW query against the SAME store + frontier
      // the union of both queries' outputs is indistinguishable from a
      // single uninterrupted run: one first per digest, dense global
      // emit_seq continuing across the restart, full chunk coverage
      val firstShas = out.filter(_.getAs[Boolean]("is_first"))
        .map(_.getAs[String]("chunk_sha"))
      assert(firstShas.distinct.size == firstShas.size,
        "restart re-compressed an already-stored digest")
      assert(firstShas.toSet ==
        out.map(_.getAs[String]("chunk_sha")).toSet, "dictionary incomplete")
      val seqs = out.map(_.getAs[Long]("emit_seq")).sorted
      assert(seqs == (0L until out.size.toLong).toSeq,
        "emit frontier did not resume across restart")
      val streamed = out.map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Int]("chunk_idx"), r.getAs[String]("chunk_sha"))).toSet
      val batchChunks = graft.operators.Dedup.dedupChunk(spark, sfDir)
        .select("doc_id", "chunk_idx", "chunk_sha").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
      assert(streamed == batchChunks)
    } finally {
      StreamingPipelines.deleteRecursively(new java.io.File(storeDir))
    }
  }

  private def withStore[T](tag: String)(body: String => T): T = {
    val storeDir =
      s"${System.getProperty("java.io.tmpdir")}/graft_5stage_${tag}_${System.nanoTime()}"
    try body(storeDir)
    finally StreamingPipelines.deleteRecursively(new java.io.File(storeDir))
  }

  private def docs(): Array[(Long, String)] = {
    import spark.implicits._
    Tables.documents(spark, sfDir).select("doc_id", "text")
      .orderBy("doc_id").as[(Long, String)].collect()
  }

  private def frame(batch: Seq[(Long, String)]): DataFrame =
    spark.createDataFrame(batch).toDF("doc_id", "text")

  /** One trigger, collected at once: the next call frees this call's
    * checkpoint blocks. */
  private def trigger(storeDir: String, batch: Seq[(Long, String)], epoch: Long): Array[Row] =
    StreamingPipelines.fiveStageBatch(spark, storeDir)(frame(batch), epoch).collect()

  private def nextSeq(storeDir: String): Long = {
    val rec = new String(Files.readAllBytes(
      Paths.get(StreamingPipelines.fiveStageFrontierPath(storeDir))), "UTF-8")
    "next_seq=(\\d+)".r.findFirstMatchIn(rec).get.group(1).toLong
  }

  private def distinctDigests(storeDir: String): Long =
    spark.read.parquet(s"$storeDir/digests").select("chunk_sha").distinct().count()

  /** A row with its payload as a value, so rows compare by content. */
  private def canon(r: Row): Seq[Any] = r.toSeq.map {
    case b: Array[Byte] => b.toSeq
    case v => v
  }

  test("five-stage pipeline: a crash between the digest and frontier writes replays identically") {
    withStore("crash") { storeDir =>
      val all = docs()
      val (b0, rest) = all.splitAt(150)
      val (b1, b2) = rest.splitAt(150)
      trigger(storeDir, b0.toSeq, 0L)
      trigger(storeDir, b1.toSeq, 1L)
      val recPath = Paths.get(StreamingPipelines.fiveStageFrontierPath(storeDir))
      val saved = Files.readAllBytes(recPath)
      val first = trigger(storeDir, b2.toSeq, 2L)
      val digestsAfter = distinctDigests(storeDir)
      // the digests of epoch 2 landed, its frontier record did not
      Files.write(recPath, saved)
      val again = trigger(storeDir, b2.toSeq, 2L)
      assert(again.map(canon).toSet == first.map(canon).toSet,
        "redelivery after a lost frontier write did not reproduce the first delivery")
      assert(again.count(_.getAs[Boolean]("is_first")) ==
        first.count(_.getAs[Boolean]("is_first")))
      val seqs = again.map(_.getAs[Long]("emit_seq")).sorted.toSeq
      assert(seqs == first.map(_.getAs[Long]("emit_seq")).sorted.toSeq)
      assert(seqs.head == nextSeq(storeDir) - again.length && seqs == (seqs.head until
        seqs.head + again.length).toSeq, "redelivery moved the emit_seq range")
      assert(distinctDigests(storeDir) == digestsAfter, "redelivery grew the digest store")
    }
  }

  test("five-stage pipeline: a lost frontier or a legacy frontier directory fails loudly") {
    val all = docs()
    withStore("lost") { storeDir =>
      val recPath = Paths.get(StreamingPipelines.fiveStageFrontierPath(storeDir))
      // a crash inside the very first trigger (txn 0, no record) restarts cleanly
      trigger(storeDir, all.take(20).toSeq, 0L)
      Files.delete(recPath)
      val restarted = trigger(storeDir, all.take(20).toSeq, 0L)
      assert(restarted.map(_.getAs[Long]("emit_seq")).sorted.toSeq ==
        (0L until restarted.length.toLong))
      // committed digests of txn 1 with no record: refuse, do not restart at txn 0
      trigger(storeDir, all.slice(20, 40).toSeq, 1L)
      Files.delete(recPath)
      val e = intercept[IllegalStateException](trigger(storeDir, all.slice(40, 60).toSeq, 2L))
      assert(e.getMessage.contains("no frontier record"), e.getMessage)
    }
    withStore("legacy") { storeDir =>
      Files.createDirectories(Paths.get(s"$storeDir/frontier"))
      val e = intercept[IllegalArgumentException](trigger(storeDir, all.take(5).toSeq, 0L))
      assert(e.getMessage.contains("legacy parquet frontier"), e.getMessage)
    }
  }

  test("five-stage pipeline: an empty trigger emits nothing, the next continues densely") {
    withStore("edge") { storeDir =>
      val all = docs()
      val head = trigger(storeDir, all.take(30).toSeq, 0L)
      val before = nextSeq(storeDir)
      assert(before == head.length.toLong)
      assert(trigger(storeDir, Seq.empty, 1L).isEmpty, "empty trigger emitted rows")
      assert(nextSeq(storeDir) == before, "empty trigger moved next_seq")
      val one = trigger(storeDir, all.slice(30, 31).toSeq, 2L)
      assert(one.nonEmpty)
      assert(one.sortBy(_.getAs[Int]("chunk_idx")).map(_.getAs[Long]("emit_seq")).toSeq ==
        (before until before + one.length).toSeq, "1-document trigger broke the dense sequence")
      assert(nextSeq(storeDir) == before + one.length)
    }
  }

  test("five-stage Reorder: emit_seq = frontier + row_number over (doc_id, chunk_idx) - 1") {
    withStore("reorder") { storeDir =>
      val shuffled = new scala.util.Random(17).shuffle(docs().toSeq)
      // uneven triggers whose rows arrive out of doc_id order, spread
      // over several input partitions
      val sizes = Seq(1, 7, 60, 2, 180)
      val batches = sizes.scanLeft(0)(_ + _).zip(sizes :+ 0).init.map { case (at, k) =>
        shuffled.slice(at, at + k) } :+ shuffled.drop(sizes.sum)
      var frontier = 0L
      batches.zipWithIndex.foreach { case (b, epoch) =>
        val out = StreamingPipelines.fiveStageBatch(spark, storeDir)(
          frame(b).repartition(3), epoch.toLong).collect()
        val expected = out.map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("chunk_idx")))
          .sorted.zipWithIndex.map { case (k, i) => k -> (frontier + i) }.toMap
        out.foreach { r =>
          val k = (r.getAs[Long]("doc_id"), r.getAs[Int]("chunk_idx"))
          assert(r.getAs[Long]("emit_seq") == expected(k), s"epoch $epoch, chunk $k")
        }
        frontier += out.length
      }
      assert(nextSeq(storeDir) == frontier)
    }
  }

  /** Spark jobs started under a job group while `body` runs. Listener
    * events arrive asynchronously, so a sentinel job in another group
    * marks the point by which every earlier job has been seen. */
  private def jobsIn[T](group: String)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val sentinel = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))) match {
          case Some(g) if g == group => jobs.incrementAndGet(): Unit
          case Some(g) if g == s"$group-sentinel" => sentinel.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "measured")
      val r = try body finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-sentinel", "sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(sentinel.await(60, TimeUnit.SECONDS), "listener bus did not drain")
      (r, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  test("five-stage pipeline: a steady-state trigger runs at most 9 Spark jobs") {
    withStore("jobs") { storeDir =>
      val all = docs()
      trigger(storeDir, all.take(100).toSeq, 0L)
      trigger(storeDir, all.slice(100, 200).toSeq, 1L)
      val (_, jobs) = jobsIn(s"five-stage-${System.nanoTime()}") {
        val out = StreamingPipelines.fiveStageBatch(spark, storeDir)(
          frame(all.slice(200, 300).toSeq), 2L)
        out.write.format("noop").mode("overwrite").save()
      }
      // fingerprint observed on the chunk checkpoint, schema-free store
      // read, driver-side frontier record, count-based Reorder: the
      // call plus one materialization of its output
      assert(jobs <= 9, s"$jobs Spark jobs for one trigger")
    }
  }
}
